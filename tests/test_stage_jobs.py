"""The three stage jobs, run as spark-submit runs them: jobs/extract.py →
jobs/enrich.py → jobs/load.py chained through parquet over one
transcript table must write the same six graph tables as the
one-command jobs/build_kg.py over that table."""

from __future__ import annotations

import runpy
import sys


def _rows(df):
    return sorted(map(repr, df.collect()))


def _run(monkeypatch, job, *args):
    monkeypatch.setattr(sys, "argv", [job, *map(str, args)])
    runpy.run_path(f"jobs/{job}", run_name="__main__")


def test_stage_jobs_match_build_kg(spark, tmp_path, monkeypatch, capsys):
    from pyspark.sql import SparkSession

    from dstlr_spark.sources.fixtures import facts, property_relation
    from dstlr_spark.sources.transcripts import generate_transcripts

    transcripts, facts_dir = tmp_path / "transcripts", tmp_path / "facts"
    mapping = tmp_path / "mapping.csv"
    generate_transcripts(spark, n_convs=8).write.parquet(str(transcripts))
    facts(spark).write.parquet(str(facts_dir))
    property_relation(spark).toPandas().to_csv(mapping, index=False)
    # the jobs call spark.stop(); neuter it so the shared fixture survives
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    kg = tmp_path / "kg"
    _run(
        monkeypatch, "build_kg.py", "--input", transcripts, "--output", kg,
        "--facts", facts_dir, "--mapping", mapping, "--n-buckets", 4,
        "--partitions", 4,
    )

    stages = tmp_path / "stages"
    _run(
        monkeypatch, "extract.py", "--input", transcripts,
        "--output", stages / "triples", "--ledger", stages / "_progress",
        "--n-buckets", 4, "--partitions", 4,
    )
    assert "'processed': 4" in capsys.readouterr().out
    _run(
        monkeypatch, "enrich.py", "--triples", stages / "triples",
        "--facts", facts_dir, "--mapping", mapping,
        "--output", stages / "ground_truth",
    )
    _run(
        monkeypatch, "load.py", "--triples", stages / "triples",
        "--ground-truth", stages / "ground_truth", "--output", stages / "graph",
    )
    assert "fk orphans" in capsys.readouterr().out

    assert spark.read.parquet(str(stages / "ground_truth")).count() > 0
    tables = (
        "mention_nodes", "mentions_edges", "links_to", "relation_edges",
        "fact_edges", "entity_nodes",
    )
    for name in tables:
        want = spark.read.parquet(str(kg / "graph" / name))
        got = spark.read.parquet(str(stages / "graph" / name))
        assert want.count() > 0, name
        assert _rows(got.select(*want.columns)) == _rows(want), name


def test_extract_max_rows_keeps_the_same_rows_in_any_file_order(
    spark, tmp_path, monkeypatch, capsys
):
    """``--max-rows`` caps the input by a top-N in (conv_id, turn_idx,
    text) order: the same transcript rows stored in ascending and in
    descending order give the same ledger lineage."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from dstlr_spark.plans.ledger import read_ledger
    from dstlr_spark.sources.transcripts import SMOKE_SENTENCES

    ts = dt.datetime(2024, 1, 1)
    # ascending (conv_id, turn_idx) order
    rows = [
        {
            "conv_id": f"c{c}", "turn_idx": t, "role": "user",
            "text": SMOKE_SENTENCES[(c + t) % len(SMOKE_SENTENCES)],
            "tool": None, "ts": ts,
        }
        for c in range(4) for t in range(3)
    ]
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    lineage = []
    for name, order in (("asc", rows), ("desc", rows[::-1])):
        src = tmp_path / name
        src.mkdir()
        pq.write_table(pa.Table.from_pylist(order, schema), src / "part-0.parquet")
        out = tmp_path / f"{name}_out"
        _run(
            monkeypatch, "extract.py", "--input", src,
            "--output", out / "triples", "--ledger", out / "_progress",
            "--max-rows", 5, "--n-buckets", 4, "--partitions", 2,
        )
        capsys.readouterr()
        lineage.append(
            sorted(
                tuple(r)
                for r in read_ledger(spark, str(out / "_progress"))
                .select("bucket", "n_input_rows", "input_fingerprint")
                .collect()
            )
        )
    assert lineage[0] == lineage[1]
    assert sum(n for _, n, _ in lineage[0]) == 5
