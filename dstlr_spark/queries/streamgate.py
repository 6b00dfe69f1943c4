"""Driver-gated Structured Streaming queries (SURVEY.md §2.9 additions).

The streaming operators in :mod:`dstlr_spark.streaming` were previously
pytest-only; these queries put the same operator classes — watermarked
tumbling-window aggregation, within-watermark dedup, watermarked
stream-stream interval join, session windows — under the driver's DuckDB
value oracle by running them as ``availableNow`` micro-batch jobs over
the sf ``events`` parquet and comparing the materialized result to the
batch-equivalent SQL.

Determinism: ``availableNow`` over a static source drains everything;
windowed/session aggregations run in *complete* mode (output equals the
batch aggregation regardless of micro-batch boundaries), the
stream-stream inner join and dedup in *append* mode project only key
columns (first-seen row choice can't leak). Watermarks are present on
every stateful operator — at 10^12-turn scale they are what bounds the
state store; they do not affect these drained results.

Timestamps are emitted as formatted strings (never raw) per the oracle
portability rules.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstlr_spark.queries._memo import staged
from dstlr_spark.sources.transcripts import TURN_WORDS

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SESSION_GAP_SEC = 1800

_SINK_SEQ = itertools.count()


def _stream_dir(spark: SparkSession, sf_dir: str, table: str) -> str:
    """The file-stream source lists a DIRECTORY; the sf tables are single
    read-only files. Stage a temp directory containing a symlink to the
    table's parquet once per (application, sf_dir) (a production
    deployment streams from the table's real directory/Iceberg location
    — this shim exists only for the single-file sandbox layout). When
    the table IS already a directory of part files (any Spark-written
    table, e.g. the replicated probe corpora), stream it directly —
    symlinking a directory under a listing root would hide its files
    from the non-recursive file source (the stream silently sees zero
    input)."""

    def build() -> str:
        import os
        import shutil
        import tempfile

        src = f"{sf_dir}/{table}.parquet"
        if os.path.isdir(src):
            return src
        d = tempfile.mkdtemp(prefix=f"dstlr_stream_{table}_")
        dst = os.path.join(d, f"{table}.parquet")
        try:
            os.symlink(src, dst)
        except OSError:
            shutil.copy(src, dst)
        return d

    return staged(spark, ("stream_dir", table, sf_dir), build)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the sf events parquet (explicit schema —
    streaming sources never infer)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _stream_dir(spark, sf_dir, "events")
    )


def _drain(df: DataFrame, mode: str) -> DataFrame:
    """Run ``df`` to completion with an ``availableNow`` trigger into a
    uniquely named in-memory sink; return the materialized table. The
    unique name keeps repeated invocations (bench best-of-N) isolated."""
    name = f"streamgate_{next(_SINK_SEQ)}"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hourly``: watermarked tumbling 1-hour
    window counts + exact decimal value sums per event type, drained in
    complete mode — the result must value-match the batch aggregation."""
    ev = _events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("win")["start"], "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, "complete")


def q_stream_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming re-delivery dedup (``dropDuplicatesWithinWatermark``,
    the watermark-bounded state form of ``dropDuplicates``): first event
    per (user_id, event_type) within the horizon; projecting only the
    key columns makes the drained result exactly the distinct key set."""
    ev = _events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    dd = (
        ev.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain(dd, "append")


def q_stream_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_range_join``: watermarked stream-stream
    INNER join of purchases to same-user signup windows with the
    event-time range condition carried in the join (what lets Spark
    expire join state at scale). Inner-join matches are emitted as they
    arrive, so the drained append-mode result equals the batch join."""
    purchases = (
        _events_stream(spark, sf_dir)
        .where((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    signups = (
        _events_stream(spark, sf_dir)
        .where((F.col("event_type") == "signup") & F.col("ts").isNotNull())
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("user_id_r"),
            F.col("ts").alias("win_start"),
        )
        .withWatermark("win_start", "2 hours")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("user_id_r"))
        & (F.col("ts") >= F.col("win_start"))
        & (F.col("ts") < F.col("win_start") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "event_id",
        "user_id",
        "signup_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )
    return _drain(joined, "append")


def q_stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows per user (30-minute silence gap) in
    complete mode: one row per closed session with its extent and event
    count — the per-session grain under the full value oracle (the batch
    twin ``events_sessions`` checks per-user session counts only)."""
    ev = _events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    sess = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("win"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("win")["start"], "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("win")["end"], "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    return _drain(sess, "complete")


def _transcripts_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the document-derived transcripts as a streamable parquet
    directory once per (application, sf_dir) (a production deployment streams the real
    transcripts table's directory/Iceberg location; the sandbox derives
    it from ``documents`` exactly like the batch KG pipeline does)."""

    def build() -> str:
        import tempfile

        from dstlr_spark.plans.partitioning import fan_out
        from dstlr_spark.sources.transcripts import derive_transcripts

        d = tempfile.mkdtemp(prefix="dstlr_stream_transcripts_")
        docs = fan_out(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                F.col("doc_id").cast("string").alias("doc_id"), "text"
            )
        )
        derive_transcripts(docs).coalesce(4).write.mode("overwrite").parquet(d)
        return d

    return staged(spark, ("transcripts_stream", sf_dir), build)


def _transcripts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.schemas import TRANSCRIPT_SCHEMA

    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(
        _transcripts_stream_dir(spark, sf_dir)
    )


DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the sf documents parquet (the same
    :func:`_stream_dir` shim as the events stream)."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(
        _stream_dir(spark, sf_dir, "documents")
    )


def q_stream_curate_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``curate_decision`` — the filter-on-ingest
    path: the composite verdict is STATELESS column expressions
    (:func:`dstlr_spark.queries.curation.curation_decision_frame`), so
    it runs in append mode with NO state store at all; per-micro-batch
    results concatenate to exactly the batch answer, which the shared
    batch oracle pins."""
    from dstlr_spark.queries.curation import curation_decision_frame

    d = _docs_stream(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return _drain(curation_decision_frame(d), "append")


MENTION_TERMS = ["spark", "table", "hash"]
MENTION_WINDOW_SEC = 5


def q_stream_mention_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG-side streaming monitor under the value oracle: gazetteer-
    term mention counts per tumbling 5 s window over the transcript
    stream (:func:`dstlr_spark.streaming.transcripts_stream.
    mention_rate_stream`, previously pytest-only), drained in complete
    mode. Turn timestamps are epoch + turn_idx, so windows slice
    conversations deterministically."""
    from dstlr_spark.streaming.transcripts_stream import mention_rate_stream

    tr = _transcripts_stream(spark, sf_dir)
    agg = mention_rate_stream(
        tr,
        MENTION_TERMS,
        window=f"{MENTION_WINDOW_SEC} seconds",
        watermark="1 minute",
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "term",
        "n_mentions",
    )
    return _drain(agg, "complete")


def q_stream_dedup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact turn dedup under the value oracle
    (:func:`dstlr_spark.streaming.transcripts_stream.dedup_turns_stream`,
    previously pytest-only): re-delivered turns are dropped within the
    watermark horizon; projecting the key columns makes the drained
    append result exactly the distinct (conv_id, turn_idx, text_hash)
    set."""
    from dstlr_spark.streaming.transcripts_stream import dedup_turns_stream

    tr = _transcripts_stream(spark, sf_dir)
    dd = dedup_turns_stream(tr).select("conv_id", "turn_idx", "text_hash")
    return _drain(dd, "append")


#: DuckDB twin of sources.transcripts.derive_transcripts (TURN_WORDS,
#: lone-empty-tail fold) ending in turns(conv_id, turn_idx, text) —
#: DuckDB list slices are 1-based and inclusive.
_SHRED_SQL = f"""t AS (
  SELECT CAST(doc_id AS VARCHAR) AS conv_id,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS s
  FROM documents),
nt AS (
  SELECT conv_id, toks, s,
         CAST(CEIL(s / {TURN_WORDS}.0) AS INT)
           - CASE WHEN s % {TURN_WORDS} = 1 AND s > 1 AND toks[s] = ''
                  THEN 1 ELSE 0 END AS n_turns
  FROM t),
x AS (
  SELECT conv_id, toks, n_turns, unnest(range(n_turns)) AS turn_idx
  FROM nt),
turns AS (
  SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
         array_to_string(
           CASE WHEN turn_idx = n_turns - 1
                THEN toks[turn_idx * {TURN_WORDS} + 1 : turn_idx * {TURN_WORDS} + {TURN_WORDS + 1}]
                ELSE toks[turn_idx * {TURN_WORDS} + 1 : turn_idx * {TURN_WORDS} + {TURN_WORDS}] END,
           ' ') AS text
  FROM x)"""


def q_stream_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SFT-pair extraction under the value oracle: the
    drained update-mode output must equal the BATCH lead-window
    extraction exactly (shared oracle text with ``conv_sft_pairs``) —
    training-data extraction as a continuous process, verified against
    its batch twin. Roles are re-derived with the shared enrichment
    (pure function of turn_idx) so stream and batch cannot fork."""
    from dstlr_spark.queries.conv import enrich_turns
    from dstlr_spark.streaming.transcripts_stream import sft_pairs_stream

    tr = _transcripts_stream(spark, sf_dir)
    return _drain(sft_pairs_stream(enrich_turns(tr)), "update")


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-2 under the value oracle: the drained
    update-mode output of :func:`dstlr_spark.streaming.events_stream.
    scd2_stream` must equal the batch CDC merge (`events_scd2`)
    restricted to CLOSED versions — the open version of each key is
    state, not output, exactly as an open session is. Continuous
    dimension maintenance verified against its batch twin."""
    from dstlr_spark.streaming.events_stream import scd2_stream

    ev = _events_stream(spark, sf_dir)
    return _drain(scd2_stream(ev), "update")


QUERIES = {
    "stream_sft_pairs": q_stream_sft_pairs,
    "stream_events_hourly": q_stream_events_hourly,
    "stream_events_dedup": q_stream_events_dedup,
    "stream_events_range_join": q_stream_events_range_join,
    "stream_events_sessions": q_stream_events_sessions,
    "stream_mention_rate": q_stream_mention_rate,
    "stream_dedup_turns": q_stream_dedup_turns,
    "stream_curate_decision": q_stream_curate_decision,
    "stream_scd2": q_stream_scd2,
}

ORACLES = {
    # identical to the batch events_hourly oracle — the stream must
    # reproduce the batch aggregation exactly
    "stream_events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""",
    "stream_events_dedup": """
SELECT DISTINCT user_id, event_type
FROM events WHERE ts IS NOT NULL""",
    # identical to the batch events_range_join oracle
    "stream_events_range_join": """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
windows AS (
  SELECT user_id, ts AS win_start, ts + INTERVAL 1 HOUR AS win_end,
         event_id AS signup_id
  FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id, w.signup_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM purchases p JOIN windows w
  ON p.user_id = w.user_id
 AND w.win_start <= p.ts AND p.ts < w.win_end""",
    # island detection: a session breaks when the gap is >= 1800 s
    # (Spark's session_window end is exclusive: ts == prev + gap starts
    # a new session); session_end = last event + gap
    "stream_events_sessions": f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(epoch(ts) AS BIGINT)
                   - LAG(CAST(epoch(ts) AS BIGINT), 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                   >= {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL {SESSION_GAP_SEC} SECOND,
                '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid""",
    # turn ts = 1704067200 + turn_idx (epoch-aligned to the 5 s grid),
    # so window_start = 1704067200 + (turn_idx // 15) * 15
    "stream_mention_rate": f"""
WITH {_SHRED_SQL},
tok AS (
  SELECT conv_id, turn_idx,
         regexp_replace(unnest(regexp_split_to_array(text, '\\s+')),
                        '[.?,:;''"!]', '', 'g') AS term
  FROM turns)
SELECT strftime(make_timestamp(
         (1704067200 + (turn_idx // {MENTION_WINDOW_SEC}) * {MENTION_WINDOW_SEC})
         * CAST(1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(make_timestamp(
         (1704067200 + (turn_idx // {MENTION_WINDOW_SEC}) * {MENTION_WINDOW_SEC}
          + {MENTION_WINDOW_SEC}) * CAST(1000000 AS BIGINT)),
         '%Y-%m-%d %H:%M:%S') AS window_end,
       term,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM tok
WHERE term IN ({", ".join(f"'{t}'" for t in MENTION_TERMS)})
GROUP BY 1, 2, 3""",
    "stream_dedup_turns": f"""
WITH {_SHRED_SQL}
SELECT DISTINCT conv_id, turn_idx, md5(text) AS text_hash
FROM turns""",
}


# the streamed verdict must reproduce the batch verdict exactly — share
# the oracle text so the two gates can never drift apart
from dstlr_spark.queries import curation as _curation  # noqa: E402

ORACLES["stream_curate_decision"] = _curation.ORACLES["curate_decision"]

ORACLES["stream_scd2"] = """
WITH base AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
m AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS prev_type,
         ROW_NUMBER() OVER w AS rn
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
chg AS (
  SELECT user_id, ts, event_id, event_type FROM m
  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type),
v AS (
  SELECT user_id, event_type AS state,
         CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to
  FROM chg
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, state, version, valid_from, valid_to
FROM v WHERE valid_to IS NOT NULL"""


# "stream_sft_pairs" shares the batch conv_sft_pairs oracle text, which
# lives in conv.py (it is built from conv's _ENRICH_SQL); conv registers
# it into this dict at ITS module bottom. Import conv here so the
# registration also happens when a consumer imports streamgate alone —
# QUERIES and ORACLES stay in lockstep regardless of import order. The
# two-way import is cycle-safe in both orders because each side's
# cross-import is a plain module import at module BOTTOM (everything
# either side reads from the other is already bound by then).
import dstlr_spark.queries.conv  # noqa: E402,F401
