"""IO layer: the dirty-tuple text sink, written by jobs/clean.py and read back."""

from __future__ import annotations


def test_text_sink_roundtrip_via_clean_job(spark, tmp_path, monkeypatch):
    """K4 end-to-end: graph tables on disk → jobs/clean.py → JSON-lines
    dirty-tuple files → read back and match the in-memory query."""
    import glob
    import json
    import runpy
    import sys

    from dstlr_spark.operators.clean import inconsistent_information
    from dstlr_spark.queries.doc_kg import _kg

    graph = _kg(spark, "/root/testdata/sf0.001").graph()
    graph_dir = tmp_path / "graph"
    for name, df in graph.items():
        df.write.mode("overwrite").parquet(str(graph_dir / name))

    out_dir = str(tmp_path / "dirty")
    monkeypatch.setattr(
        sys, "argv",
        ["clean.py", "--graph", str(graph_dir), "--query", "inconsistent",
         "--output", out_dir],
    )
    # the job calls spark.stop(); neuter it so the shared fixture survives
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    runpy.run_path("jobs/clean.py", run_name="__main__")

    files = glob.glob(f"{out_dir}/part-*.json")
    assert files, "text sink produced no part files"
    rows = [json.loads(line) for f in files for line in open(f)]
    expected = inconsistent_information(graph).count()
    assert len(rows) == expected > 0
    assert {"doc_id", "object_span", "fact_value"} <= set(rows[0])
