"""Structured Streaming: windowed mention rates, watermarked dedup,
checkpoint resume and the registry's stream gates (SURVEY.md §2.9 —
engine addition; the reference is batch-only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.schemas import TRANSCRIPT_SCHEMA
from dstlr_spark.sources.transcripts import generate_transcripts
from dstlr_spark.streaming.transcripts_stream import (
    dedup_turns_stream,
    mention_rate_stream,
)


def stream_transcripts(spark, input_dir):
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def _write_input(spark, tmp_path, n_convs=8):
    path = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=n_convs).write.parquet(path)
    return path


def _run_to_memory(df, name, mode="complete"):
    """complete mode: append only emits watermark-closed windows, so the
    final window would be withheld in a finite test stream."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_mention_rate_stream(spark, tmp_path):
    path = _write_input(spark, tmp_path)
    stream = stream_transcripts(spark, path)
    rates = mention_rate_stream(stream, ["Apple", "Paris"], watermark="0 seconds")
    _run_to_memory(rates, "rates")
    got = spark.sql("SELECT * FROM rates").collect()
    # batch ground truth
    batch = (
        spark.read.parquet(path)
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("t"))
        .select(F.regexp_replace("t", r"[.?,:;'\"!]", "").alias("t"))
        .where(F.col("t").isin(["Apple", "Paris"]))
        .count()
    )
    assert sum(r["n_mentions"] for r in got) == batch
    assert all(r["window_start"] is not None for r in got)


def test_streaming_dedup_drops_redelivered_turns(spark, tmp_path):
    """Exactly-once-style dedup: duplicated input rows survive once."""
    path = str(tmp_path / "in")
    tr = generate_transcripts(spark, n_convs=4)
    tr.unionByName(tr).write.parquet(path)  # every turn delivered twice
    dedup = dedup_turns_stream(stream_transcripts(spark, path))
    _run_to_memory(dedup, "dedup", mode="append")
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT conv_id || '#' || turn_idx) AS d "
        "FROM dedup"
    ).first()
    want = tr.where(
        F.col("conv_id").isNotNull() & F.col("ts").isNotNull()
    ).select("conv_id", "turn_idx").distinct().count()
    assert got["n"] == got["d"] == want


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """§2.9 exactly-once: a file-sink stream stopped after batch 1 and
    RESTARTED from its checkpoint over a grown source directory emits
    each input row exactly once — the union of the two runs' outputs
    equals one uninterrupted run, no duplicates, no gaps."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = generate_transcripts(spark, n_convs=4)
    first.write.parquet(src)

    def run_once():
        q = (
            stream_transcripts(spark, src)
            .select("conv_id", "turn_idx", "text")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    # grow the source (a second arrival batch), restart from checkpoint
    more = generate_transcripts(spark, n_convs=9).where(
        ~F.col("conv_id").isin([r["conv_id"] for r in first.select("conv_id").distinct().collect()])
    )
    more.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out)
    assert got.count() == first.count() + more.count()  # no dupes, no gaps
    assert got.select("conv_id", "turn_idx").distinct().count() == got.count()


def test_sft_pairs_stream_state_across_batches(spark, tmp_path):
    """The one-row state must splice pairs across micro-batch
    boundaries: with ONE file per turn and maxFilesPerTrigger=1, every
    user→assistant adjacency straddles a batch boundary, so a correct
    result proves the state carry, not just within-batch shift()."""
    import time

    from dstlr_spark.streaming.transcripts_stream import sft_pairs_stream

    turns = [
        (0, "user", "hello there"),
        (1, "assistant", "hi friend"),
        (2, "user", "lone question"),
        (3, "tool", "tool output"),
        (4, "user", "next question"),
        (5, "assistant", "an answer"),
    ]
    path = str(tmp_path / "sft_in")
    for idx, role, text in turns:
        spark.createDataFrame(
            [("c1", idx, role, text)],
            "conv_id string, turn_idx int, role string, text string",
        ).coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.2)  # distinct mod-times → deterministic file order
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        sft_pairs_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sftp_x")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["prompt_idx"], r["prompt"], r["response"], r["n_prompt_toks"])
        for r in spark.sql("SELECT * FROM sftp_x").collect()
    }
    assert got == {
        (0, "hello there", "hi friend", 2),
        (4, "next question", "an answer", 2),
    }


def test_scd2_stream_equals_batch_closed_versions(spark, tmp_path):
    """Batch↔stream parity on a hand CDC stream (the events_scd2 unit
    fixture): the drained scd2_stream output must equal the batch SCD2
    table restricted to closed versions — same rows, and the open
    (is_current) version of each key absent, because it is state, not
    output."""
    import datetime

    from pyspark.sql import functions as F

    from dstlr_spark.queries.relational import q_events_scd2
    from dstlr_spark.streaming.events_stream import scd2_stream

    t0 = datetime.datetime(2024, 1, 1)

    def at(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        (1, at(0), 1, "A", 1.0, "{}"),
        (2, at(10), 1, "A", 1.0, "{}"),
        (3, at(20), 1, "B", 1.0, "{}"),
        (4, at(30), 1, "A", 1.0, "{}"),
        (5, at(0), 2, "X", 1.0, "{}"),
        (6, at(5), 2, None, 1.0, "{}"),
        (7, at(0), None, "A", 1.0, "{}"),
        (8, None, 3, "A", 1.0, "{}"),
    ]
    d = str(tmp_path / "scd_stream")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    batch_closed = {
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in q_events_scd2(spark, d).where(F.col("is_current") == 0).collect()
    }

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(f"{d}/events.parquet")
    q = (
        scd2_stream(ev)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("scd2_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in spark.table("scd2_parity").collect()
    }
    assert streamed == batch_closed
    assert len(streamed) == 3  # u1: A,B closed; u2: X closed; opens absent


def test_stream_sources_see_spark_written_directory_tables(spark, tmp_path):
    """The registered stream queries must see input when the sf tables
    are Spark-written DIRECTORIES of part files, not single files (the
    production layout, and the replicated probe corpora). Regression:
    the symlink shim used to link the directory under a new listing
    root, where the non-recursive file source silently saw ZERO files —
    q_stream_scd2 returned 0 rows on a 4M-event corpus while its batch
    twin returned 3.2M."""
    import datetime

    from pyspark.sql import functions as F

    from dstlr_spark.queries.relational import q_events_scd2
    from dstlr_spark.queries.streamgate import q_stream_scd2

    t0 = datetime.datetime(2024, 1, 1)

    def at(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        (1, at(0), 1, "A", 1.0, "{}"),
        (2, at(10), 1, "B", 1.0, "{}"),
        (3, at(20), 1, "C", 1.0, "{}"),
        (4, at(0), 2, "X", 1.0, "{}"),
        (5, at(10), 2, "Y", 1.0, "{}"),
    ]
    d = str(tmp_path / "sf_dirlayout")
    # repartition(2): a genuine multi-part directory, the layout the
    # single-file symlink shim could not stream
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).repartition(2).write.parquet(f"{d}/events.parquet")

    batch_closed = {
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in q_events_scd2(spark, d).where(F.col("is_current") == 0).collect()
    }
    streamed = {
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in q_stream_scd2(spark, d).collect()
    }
    assert streamed == batch_closed
    assert len(streamed) == 3  # u1: A,B closed; u2: X closed


def test_docs_stream_sees_directory_layout(spark, tmp_path):
    """Same directory-layout regression for the documents stream shim:
    q_stream_curate_decision over a Spark-written multi-part documents
    table must reproduce the batch curation decisions, not silently
    stream zero input."""
    from dstlr_spark.queries.curation import curation_decision_frame
    from dstlr_spark.queries.streamgate import q_stream_curate_decision

    rows = [
        (1, "a perfectly ordinary sentence about spark tables.", "en", "web", 49),
        (2, "short", "en", "web", 5),
        (3, "another document with several plain words inside it.", "en", "web", 52),
        (4, "x " * 40, "en", "web", 80),
    ]
    d = str(tmp_path / "sf_docs_dirlayout")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(2).write.parquet(f"{d}/documents.parquet")

    from pyspark.sql import functions as F

    batch = {
        tuple(r)
        for r in curation_decision_frame(
            spark.read.parquet(f"{d}/documents.parquet").select(
                F.col("doc_id").cast("string").alias("doc_id"), "text"
            )
        ).collect()
    }
    streamed = {tuple(r) for r in q_stream_curate_decision(spark, d).collect()}
    assert streamed == batch
    assert len(streamed) == 4
