"""The one-command job, run as spark-submit runs it: jobs/build_kg.py
over a transcript table must write the same graph the in-process
pipeline builds, canonicalize every mention, and resume to a no-op that
leaves the written graph untouched."""

from __future__ import annotations

import runpy
import sys


def _rows(df):
    return sorted(map(repr, df.collect()))


def _files(graph_dir, tables):
    """{table: {(file, mtime_ns)}} of the written graph tables."""
    return {
        t: {(p.name, p.stat().st_mtime_ns) for p in (graph_dir / t).iterdir()}
        for t in tables
    }


def test_build_kg_job_matches_pipeline(spark, tmp_path, monkeypatch, capsys):
    from pyspark.sql import SparkSession

    from dstlr_spark.operators.extract import DEFAULT_SENT_THRESHOLD
    from dstlr_spark.operators.graph import materialize_graph
    from dstlr_spark.plans.pipeline import build_triples
    from dstlr_spark.sources.fixtures import alias_dict, facts, property_relation
    from dstlr_spark.sources.transcripts import generate_transcripts

    transcripts = generate_transcripts(spark, n_convs=8)
    transcripts.write.parquet(str(tmp_path / "transcripts"))
    facts(spark).write.parquet(str(tmp_path / "facts"))
    property_relation(spark).toPandas().to_csv(tmp_path / "mapping.csv", index=False)

    out = tmp_path / "kg"
    monkeypatch.setattr(
        sys, "argv",
        ["build_kg.py", "--input", str(tmp_path / "transcripts"),
         "--output", str(out), "--facts", str(tmp_path / "facts"),
         "--mapping", str(tmp_path / "mapping.csv"), "--n-buckets", "4",
         "--partitions", "4",
         "--sent-length-threshold", str(DEFAULT_SENT_THRESHOLD)],
    )
    # the job calls spark.stop(); neuter it so the shared fixture survives
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    runpy.run_path("jobs/build_kg.py", run_name="__main__")
    first = capsys.readouterr().out
    assert "'processed': 4" in first

    want = materialize_graph(
        build_triples(transcripts, alias_dict(spark), facts(spark), property_relation(spark))
    )
    for name, df in want.items():
        got = spark.read.parquet(str(out / "graph" / name))
        assert _rows(got.select(*df.columns)) == _rows(df), name

    mention_ids = {r[0] for r in want["mention_nodes"].select("mention_id").collect()}
    canonical = {
        r[0]
        for r in spark.read.parquet(str(out / "graph" / "canonical_ids"))
        .select("mention_id").collect()
    }
    assert mention_ids and mention_ids <= canonical

    graph_dir = out / "graph"
    assert (graph_dir / "_COMPLETE").exists()
    tables = [*want, "canonical_ids"]
    written = _files(graph_dir, tables)
    assert all(written[t] for t in tables)

    # a resume with nothing new leaves the graph as it is
    runpy.run_path("jobs/build_kg.py", run_name="__main__")
    second = capsys.readouterr().out
    assert "'processed': 0" in second, second
    assert _files(graph_dir, tables) == written

    # without the marker (a crash mid-graph) the tables are rebuilt
    (graph_dir / "_COMPLETE").unlink()
    runpy.run_path("jobs/build_kg.py", run_name="__main__")
    third = capsys.readouterr().out
    assert "'processed': 0" in third, third
    rebuilt = _files(graph_dir, tables)
    assert all(rebuilt[t] != written[t] for t in tables)
    assert (graph_dir / "_COMPLETE").exists()
