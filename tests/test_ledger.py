"""Resumable ledger: kill-and-rerun equals one-shot run (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dstlr_spark.operators.assembly import assemble_documents
from dstlr_spark.operators.extract import extract_triples_pattern
from dstlr_spark.plans import ledger as ledger_mod
from dstlr_spark.plans.ledger import (
    bucket_expr,
    read_ledger,
    read_output,
    run_with_ledger,
)
from dstlr_spark.sources.transcripts import generate_transcripts

N_BUCKETS = 4
GROUP_SIZE = 2  # 2 buckets per job: grouped submissions, per-bucket ledger rows


def _pipeline(chunk):
    return extract_triples_pattern(assemble_documents(chunk))


def _triple_set(df):
    return {
        (r["doc"], r["subjectValue"], r["relation"], r["objectValue"])
        for r in df.collect()
    }


def test_one_shot_run_and_metrics(spark, tmp_path):
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": N_BUCKETS, "skipped": 0}

    ledger = read_ledger(spark, led).collect()
    assert len(ledger) == N_BUCKETS
    assert all(r["wall_sec"] > 0 and r["finished_ts"] is not None for r in ledger)
    # lineage: non-empty buckets carry a content fingerprint, and the
    # fingerprint is deterministic (re-derivable from the same input)
    nonempty = [r for r in ledger if r["n_input_rows"] > 0]
    assert all(r["input_fingerprint"] is not None for r in nonempty)
    # metrics lineage: ledger triple counts equal actual bucket outputs
    assert sum(r["n_triples"] for r in ledger) == read_output(spark, out).count()
    # ... bucket by bucket: the counts observed on the write
    written = read_output(spark, out).groupBy("bucket").count().collect()
    per_bucket = {r["bucket"]: r["count"] for r in written}
    assert {r["bucket"]: r["n_triples"] for r in ledger} == {
        b: per_bucket.get(b, 0) for b in range(N_BUCKETS)
    }

    # result equals the unledgered pipeline
    direct = _pipeline(tr)
    assert _triple_set(read_output(spark, out)) == _triple_set(direct)


def test_crash_resume_equals_one_shot(spark, tmp_path):
    """Kill after the first 2-bucket group → rerun → identical to an uninterrupted run."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")

    calls = {"n": 0}

    def flaky(chunk):
        # pipeline_fn runs once per GROUP (group_size=2): crash on the
        # second group, after the first group's 2 buckets committed
        if calls["n"] == 1:
            raise RuntimeError("synthetic crash")
        calls["n"] += 1
        return _pipeline(chunk)

    with pytest.raises(RuntimeError):
        run_with_ledger(tr, out, led, flaky, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert read_ledger(spark, led).count() == 2

    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": N_BUCKETS - 2, "skipped": 2}

    direct = _pipeline(tr)
    assert _triple_set(read_output(spark, out)) == _triple_set(direct)


def test_rerun_is_noop(spark, tmp_path):
    tr = generate_transcripts(spark, n_convs=6)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": 0, "skipped": N_BUCKETS}


def test_bucketing_keeps_conversations_whole(spark, tmp_path):
    """A conversation's turns never split across buckets — assembly inside
    a bucket sees every turn (per-turn equality invariant)."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    # doc ids in output are unique per bucket dir
    per_doc = (
        read_output(spark, out)
        .select("doc", "bucket")
        .distinct()
        .groupBy("doc")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert per_doc == 0


def test_zero_triple_bucket_still_gets_ledger_row(spark, tmp_path):
    """A bucket whose input produces no triples (or no input at all)
    must still commit its ledger row — otherwise resume re-runs it
    forever — with the 0 triples its write observed."""
    tr = generate_transcripts(spark, n_convs=3)  # sparse: some buckets empty
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")

    def empty_pipeline(chunk):
        return _pipeline(chunk).limit(0)

    stats = run_with_ledger(
        tr, out, led, empty_pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE
    )
    assert stats == {"processed": N_BUCKETS, "skipped": 0}
    ledger = read_ledger(spark, led).collect()
    assert len(ledger) == N_BUCKETS
    assert all(r["n_triples"] == 0 for r in ledger)


def _lineage(spark, led):
    return {
        r["bucket"]: (r["n_input_rows"], r["input_fingerprint"], r["n_triples"])
        for r in read_ledger(spark, led).collect()
    }


def _backfill(tr, conv="smoke-1"):
    """One conversation's text rewritten upstream → (new input, its bucket)."""
    tr2 = tr.withColumn(
        "text",
        F.when(
            F.col("conv_id") == conv,
            F.lit("Good Technology is a company based in Sunnyvale."),
        ).otherwise(F.col("text")),
    )
    bucket = (
        tr2.where(F.col("conv_id") == conv)
        .select(bucket_expr("conv_id", N_BUCKETS).alias("b"))
        .first()["b"]
    )
    return tr2, bucket


def test_lineage_recheck_reruns_changed_bucket(spark, tmp_path):
    """Upstream data changes after a bucket commits → recheck_lineage
    re-runs exactly that bucket, the other ledger rows stay as they
    were, and the output and ledger equal a fresh run over the new
    input."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    # an unchanged input re-runs nothing
    assert run_with_ledger(
        tr, out, led, _pipeline,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE, recheck_lineage=True,
    ) == {"processed": 0, "skipped": N_BUCKETS}
    before = {r["bucket"]: r for r in read_ledger(spark, led).collect()}

    tr2, changed_bucket = _backfill(tr)

    # plain rerun skips everything (the blind-spot this feature closes)
    assert run_with_ledger(
        tr2, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE
    )["processed"] == 0

    ran = []

    def recording(chunk):
        ran.append(
            {r["b"] for r in chunk.select(bucket_expr("conv_id", N_BUCKETS).alias("b"))
             .distinct().collect()}
        )
        return _pipeline(chunk)

    stats = run_with_ledger(
        tr2, out, led, recording,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE, recheck_lineage=True,
    )
    assert stats == {"processed": 1, "skipped": N_BUCKETS - 1}
    assert ran == [{changed_bucket}]
    after = {r["bucket"]: r for r in read_ledger(spark, led).collect()}
    assert set(after) == set(range(N_BUCKETS))
    # the untouched buckets keep their committed rows, timestamps included
    assert {b: r for b, r in after.items() if b != changed_bucket} == {
        b: r for b, r in before.items() if b != changed_bucket
    }
    assert after[changed_bucket]["input_fingerprint"] != (
        before[changed_bucket]["input_fingerprint"]
    )

    fresh_out, fresh_led = str(tmp_path / "fresh"), str(tmp_path / "fresh_ledger")
    run_with_ledger(
        tr2, fresh_out, fresh_led, _pipeline,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
    )
    assert _triple_set(read_output(spark, out)) == _triple_set(
        read_output(spark, fresh_out)
    )
    assert _lineage(spark, led) == _lineage(spark, fresh_led)


def test_recheck_reads_ledger_once_and_never_reads_output(spark, tmp_path, monkeypatch):
    """The bookkeeping of a run reads the ledger once — the lineage
    recheck, the invalidation and the resume all work off that one read
    — and counts triples on the write, so the output is never read
    back."""
    from pyspark.sql.readwriter import DataFrameReader

    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    tr2, _ = _backfill(tr)

    reads, paths = [], []
    real_read_ledger, real_parquet = ledger_mod.read_ledger, DataFrameReader.parquet

    def counting_read_ledger(*args, **kwargs):
        reads.append(args)
        return real_read_ledger(*args, **kwargs)

    def recording_parquet(self, *ps, **kwargs):
        paths.extend(ps)
        return real_parquet(self, *ps, **kwargs)

    monkeypatch.setattr(ledger_mod, "read_ledger", counting_read_ledger)
    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    stats = run_with_ledger(
        tr2, out, led, _pipeline,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE, recheck_lineage=True,
    )
    assert stats["processed"] == 1
    assert len(reads) == 1
    assert paths and not [p for p in paths if str(p).startswith(out)]


def test_absent_ledger_runs_no_job(spark, tmp_path):
    """A first run has no ledger yet: the resume bookkeeping answers
    "nothing committed" without starting a Spark job (an empty
    ``createDataFrame`` collect was a Python-task job of its own)."""
    sc = spark.sparkContext
    missing = str(tmp_path / "no_ledger")
    group = "test_absent_ledger_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        assert ledger_mod._committed(spark, missing) == {}
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
