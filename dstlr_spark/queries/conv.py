"""Conversation-analytics queries over the transcript shape.

The engine's primary input is an Iceberg table of multi-turn agent
transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` — these
queries are the operational analytics a transcript corpus owner runs
before/alongside KG construction: turn-taking structure (role
transition matrix), per-conversation shape stats, tool-call usage, and
batch sessionization on timestamp gaps.

Input derivation: the sandbox's checkable corpus is ``documents``, so
each query derives the transcript frame with
:func:`dstlr_spark.sources.transcripts.derive_transcripts` (the
shred whose reassembly round-trips byte-for-byte — gate query
``kg_assembly_roundtrip``) and then ENRICHES it with deterministic
role / tool / timestamp columns that are pure integer functions of
``turn_idx`` (:func:`enrich_turns`), reproduced exactly in the DuckDB
oracles. On a real corpus the enrichment is dropped and the same
queries run over the native columns — the analytics are written
against the enriched schema only.

Scale notes (100 TB / 10^12 turns): every window here is partitioned
by ``conv_id`` and ordered by ``turn_idx`` — per-conversation state
only, never a corpus-wide window (asserted registry-wide by
tests/test_plans.py). Long-conversation skew is the same skew the
extraction pipeline already defuses with salted repartitioning
(operators/assembly.py P1); a single conversation's turns always fit
one task. The aggregates are plain hash aggregates with map-side
partials on low-cardinality keys (role pairs, tools) or on conv_id
(conversation-sized output — the natural shape at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dstlr_spark.queries.streamgate import _SHRED_SQL
from dstlr_spark.sources.transcripts import derive_transcripts

#: sessionization gap threshold (seconds) — a new session starts when
#: consecutive turns are further apart than this
SESSION_GAP_S = 1800

#: epoch for the derived per-turn timestamps (2024-01-01 UTC), as in
#: sources/transcripts.py
_EPOCH_S = 1_704_067_200


def enrich_turns(turns: DataFrame) -> DataFrame:
    """Add deterministic (role, tool, ts_s) to shredded turns.

    Pure integer functions of ``turn_idx`` so the DuckDB oracle twin
    (:data:`_ENRICH_SQL`) is exact:

    - role: every 7th turn (idx % 7 == 3) is a tool turn; otherwise
      user/assistant alternate — mirroring the fixture generator's
      role rule (sources/transcripts.py);
    - tool: 'search' / 'code' alternating between tool turns;
    - ts_s: epoch + 17 s per turn, plus a one-hour jump every 10
      turns — the jump makes gap-based sessionization non-trivial
      while staying a pure integer column (BIGINT seconds, not a
      timestamp, so value-hash parity never touches timezone or
      micro/second rendering differences between engines).
    """
    i = F.col("turn_idx").cast("long")
    role = (
        F.when(i % 7 == 3, F.lit("tool"))
        .when(i % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(
        i % 7 == 3, F.when(i % 14 == 3, F.lit("search")).otherwise(F.lit("code"))
    )
    ts_s = F.expr(
        f"{_EPOCH_S}L + CAST(turn_idx AS LONG) * 17"
        " + (CAST(turn_idx AS LONG) DIV 10) * 3600"
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        "text",
        tool.alias("tool"),
        ts_s.cast("long").alias("ts_s"),
    )


#: DuckDB twin of enrich_turns over the ``turns`` CTE from _SHRED_SQL
_ENRICH_SQL = f"""e AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx % 7 = 3 THEN 'tool'
              WHEN turn_idx % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role,
         text,
         CASE WHEN turn_idx % 7 = 3
              THEN CASE WHEN turn_idx % 14 = 3 THEN 'search' ELSE 'code' END
              END AS tool,
         CAST({_EPOCH_S} + turn_idx * 17
              + (turn_idx // 10) * 3600 AS BIGINT) AS ts_s
  FROM turns)"""


def _turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.plans.partitioning import fan_out

    # fan_out: single-row-group input — the shred (split + posexplode)
    # would otherwise run in one task before the first window shuffle
    docs = fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    return enrich_turns(derive_transcripts(docs))


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role→role transition matrix — turn-taking structure over the
    whole corpus (conversation-start modeled as prev_role='START').

    One conv-partitioned lag + one hash aggregate on a ≤ (R+1)·R-row
    key space — both map-side-combining; nothing corpus-wide."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce(F.lag("role").over(w), F.lit("START")).alias("prev_role"),
    )
    return t.groupBy("prev_role", "role").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation shape stats: turn counts by kind, token volume,
    mean turn length (ppm int), closing role — the per-conversation
    profile table (conversation-sized output, one hash agg)."""
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
        .cast("long")
        .alias("n_tool_turns"),
        F.sum("n_toks").alias("total_tokens"),
        F.expr("sum(n_toks) * 1000000 DIV count(1)").alias("mean_turn_tokens_ppm"),
        F.max_by("role", "turn_idx").alias("last_role"),
    )


def q_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool usage: call count, distinct conversations, token volume
    of tool turns. distinct-conv is an exact distinct inside a
    tool-keyed hash agg — at 10^12 turns swap for approx_count_distinct
    or the HLL-register operator (q_hll_registers) if exactness can be
    relaxed; kept exact here because the oracle must match."""
    t = _turns(spark, sf_dir).where(F.col("tool").isNotNull())
    return t.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("n_calls"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("tool_turn_tokens"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts at each > 30-min gap
    between consecutive turns of a conversation; emits per-session turn
    count, duration, and tool-call count.

    The streaming twin is ``stream_events_sessions``
    (applyInPandasWithState); this is the backfill shape — two
    conv-partitioned window passes (lag, running sum) then one hash
    aggregate on (conv_id, session_idx)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "tool",
        "ts_s",
        F.when(
            F.col("ts_s") - F.lag("ts_s").over(w) > SESSION_GAP_S, 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    t = t.select(
        "conv_id",
        "tool",
        "ts_s",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_idx"),
    )
    return t.groupBy("conv_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        (F.max("ts_s") - F.min("ts_s")).cast("long").alias("duration_s"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_tool_calls"),
    )


def q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair extraction: every USER turn immediately
    followed by an ASSISTANT turn becomes a (prompt, response) example
    — THE conversion step from a transcript corpus to SFT training
    data. Adjacency is strict (an intervening tool turn breaks the
    pair — those exchanges belong to an agentic-trajectory format, not
    plain SFT), and both sides' token counts ride along for downstream
    length filtering and packing (`text_packing`).

    One conv-partitioned lead window (per-conversation state only)
    then a map-side filter; output is pair-sized. The same plan at
    10^12 turns — sessions are independent, so this parallelizes
    perfectly across conversations."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lead("role").over(w).alias("next_role"),
        F.lead("text").over(w).alias("next_text"),
        F.lead("turn_idx").over(w).alias("next_idx"),
    )
    return (
        t.where(
            (F.col("role") == "user")
            & (F.col("next_role") == "assistant")
            # strict INDEX adjacency, not just positional: keeps the
            # contract identical to the streaming twin's
            # turn_idx == prev_idx + 1 mask on sparse/renumbered indices
            & (F.col("next_idx") == F.col("turn_idx") + 1)
        )
        .select(
            "conv_id",
            F.col("turn_idx").alias("prompt_idx"),
            F.col("text").alias("prompt"),
            F.col("next_text").alias("response"),
            F.size(F.split("text", " ")).cast("long").alias("n_prompt_toks"),
            F.size(F.split("next_text", " ")).cast("long").alias("n_response_toks"),
        )
    )


def q_tool_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-behavior mining: the ordered tool-call sequence of each
    conversation (e.g. ``search>code>search``), rolled up corpus-wide
    into (tool_seq, n_convs, n_calls) — the trajectory-pattern table
    that surfaces dominant tool-use strategies and degenerate loops in
    an agent-transcript corpus.

    Determinism: ``collect_list`` alone has no order guarantee, so the
    list is gathered as (turn_idx, tool) structs and ``array_sort``-ed
    before joining — bit-identical across retries/partitionings. One
    conv-keyed hash aggregate over tool turns only, then one hash
    aggregate on the sequence key; per-conversation state is bounded by
    the turn count (the same bound every conv window here carries)."""
    t = _turns(spark, sf_dir).where(F.col("tool").isNotNull())
    per = t.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "tool"))),
                lambda s: s["tool"],
            ),
            ">",
        ).alias("tool_seq"),
        F.count(F.lit(1)).cast("long").alias("n_calls"),
    )
    return per.groupBy("tool_seq", "n_calls").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs")
    )


LOOP_MAX_PERIOD = 3  # detect 1-, 2-, and 3-gram tool cycles
LOOP_MIN_REPEATS = 3  # a k-gram must occur ≥3 times consecutively


def q_agent_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate agent-loop detection — the trajectory-quality filter
    an agent-transcript curation pipeline runs before training: a
    conversation whose turn-signature sequence contains a short cycle
    repeated many times (user>assistant>user>assistant with no tool
    progress, or search>code>search>code — the agent is stuck) is a
    low-quality trajectory. `conv_tool_sequences` mines WHICH tool
    sequences dominate; this query measures HOW LOOPY each
    conversation is: over the turn-signature alphabet (the role, or
    ``tool:<name>`` for tool turns — the per-turn action label a
    trajectory miner keys on), for every period p ≤ LOOP_MAX_PERIOD,
    the maximum number of consecutive occurrences of any p-gram,
    reported where it reaches LOOP_MIN_REPEATS.

    Detection is the classic self-lag trick: position i continues a
    period-p cycle iff sig_i = sig_{i−p}; a maximal run of L such
    matches means the p-gram occurred L DIV p + 1 times. Runs are
    delimited with a gaps-and-islands cumulative sum — all
    conv-partitioned windows.

    Scale shape: ONE shuffle on conv_id; two window passes (matches
    for all periods in one pass, island ids in the next), a 3-way
    struct explode, and two hash aggregates on (conv, period[,
    island]) keys. Per-conversation state bounded by turn count;
    embarrassingly parallel at 10^12 turns."""
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.when(
            F.col("tool").isNotNull(), F.concat(F.lit("tool:"), F.col("tool"))
        )
        .otherwise(F.col("role"))
        .alias("sig"),
    )
    return detect_cycles(t)


def detect_cycles(t: DataFrame) -> DataFrame:
    """Cycle-detection core over (conv_id, turn_idx, sig) — see
    :func:`q_agent_loops` for semantics and the scale shape."""
    periods = range(1, LOOP_MAX_PERIOD + 1)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    ms = t.select(
        "conv_id",
        "turn_idx",
        *[
            F.when(F.col("sig") == F.lag("sig", p).over(w), F.lit(1))
            .otherwise(F.lit(0))
            .alias(f"m{p}")
            for p in periods
        ],
    )
    isl = ms.select(
        "conv_id",
        *[F.col(f"m{p}") for p in periods],
        *[
            F.sum(F.lit(1) - F.col(f"m{p}")).over(wc).alias(f"i{p}")
            for p in periods
        ],
    )
    stacked = isl.select(
        "conv_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("period"),
                        F.col(f"m{p}").alias("m"),
                        F.col(f"i{p}").alias("isl"),
                    )
                    for p in periods
                ]
            )
        ).alias("s"),
    ).select("conv_id", "s.period", "s.m", "s.isl")
    runs = (
        stacked.where(F.col("m") == 1)
        .groupBy("conv_id", "period", "isl")
        .agg(F.count(F.lit(1)).alias("l"))
    )
    return (
        runs.groupBy("conv_id", "period")
        .agg(F.max("l").alias("maxl"))
        .select(
            "conv_id",
            F.col("period").cast("int").alias("period"),
            F.expr("CAST(maxl DIV period + 1 AS BIGINT)").alias("repeats"),
        )
        .where(F.col("repeats") >= LOOP_MIN_REPEATS)
    )


def q_reply_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant reply-latency distribution: for every strict
    user→assistant adjacency (the same rule as ``conv_sft_pairs``),
    the timestamp delta, rolled up corpus-wide into (latency_s,
    n_replies) — the operational SLA histogram of an agent-transcript
    corpus, and a data-quality screen (replies that took hours usually
    mark resumed sessions, not live exchanges).

    One conv-partitioned lead window, then one hash aggregate on a
    value-bounded key (distinct latencies) — map-side partials carry
    it at any corpus size."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "ts_s",
        F.lead("role").over(w).alias("next_role"),
        F.lead("ts_s").over(w).alias("next_ts"),
        F.lead("turn_idx").over(w).alias("next_idx"),
    )
    return (
        t.where(
            (F.col("role") == "user")
            & (F.col("next_role") == "assistant")
            & (F.col("next_idx") == F.col("turn_idx") + 1)
        )
        .select((F.col("next_ts") - F.col("ts_s")).cast("long").alias("latency_s"))
        .groupBy("latency_s")
        .agg(F.count(F.lit(1)).cast("long").alias("n_replies"))
    )


def q_assistant_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-echo score per conversation: for every strict
    user→assistant adjacency (the ``conv_sft_pairs`` rule), the token
    Jaccard between the user turn and the assistant reply in floor
    ppm, rolled up per conversation (pair count, mean, max). High echo
    marks parroting/template replies — a standard screen that demotes
    low-signal SFT pairs before training.

    Exact-integer parity: both engines compute distinct-token set
    sizes (|A|, |B|, |A∪B|) and derive the intersection as
    |A|+|B|-|A∪B| — sidestepping any engine difference in intersect
    semantics; ppm is floor DIV of longs. The empty-string edge is
    identical too (both engines split '' to ['']; |A∪B| ≥ 1 so the
    division is total).

    Scale shape: one conv-partitioned lag window (per-conversation
    state only), per-row array expressions inside codegen, then one
    hash aggregate on conv_id — embarrassingly parallel at 10^12
    turns; output is conversation-sized."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lag("role").over(w).alias("prev_role"),
        F.lag("text").over(w).alias("prev_text"),
        F.lag("turn_idx").over(w).alias("prev_idx"),
    )
    pairs = t.where(
        (F.col("role") == "assistant")
        & (F.col("prev_role") == "user")
        & (F.col("prev_idx") == F.col("turn_idx") - 1)
    ).select(
        "conv_id",
        F.size(F.array_distinct(F.split("prev_text", " "))).cast("long").alias("na"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("nb"),
        F.size(
            F.array_union(
                F.array_distinct(F.split("prev_text", " ")),
                F.array_distinct(F.split("text", " ")),
            )
        )
        .cast("long")
        .alias("nu"),
    )
    echo = pairs.select(
        "conv_id",
        F.expr("(na + nb - nu) * 1000000 DIV nu").cast("long").alias("echo_ppm"),
    )
    return echo.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(echo_ppm) DIV count(*) AS BIGINT)").alias("mean_echo_ppm"),
        F.max("echo_ppm").cast("long").alias("max_echo_ppm"),
    )


#: context-window token budget for :func:`q_context_pack`. Production
#: sets this to the model context (e.g. 8192); the synthetic corpus'
#: conversations run ~55 whitespace tokens over ~7 turns, so 32
#: exercises the truncation path while leaving short conversations
#: whole.
CONTEXT_BUDGET_TOKS = 32


def context_pack(turns: DataFrame, budget: int) -> DataFrame:
    """Context-window packing core over a ``(conv_id, turn_idx,
    n_toks)`` frame: keep the longest SUFFIX of turns whose total token
    count fits ``budget`` — truncate-left, the standard multi-turn SFT
    preprocessing step (the most recent turns carry the training
    signal; the oldest spill). The FINAL turn is always kept even when
    it alone exceeds the budget: a training example must contain its
    target.

    One conv-partitioned window (reverse running token sum + reverse
    row number share the sort) then one conv-keyed hash aggregate —
    per-conversation state only, embarrassingly parallel at 10^12
    turns; output is conversation-sized."""
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    t = turns.select(
        "conv_id",
        "turn_idx",
        "n_toks",
        F.sum("n_toks")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_from_end"),
        F.row_number().over(w).alias("rn_from_end"),
    )
    kept = (F.col("cum_from_end") <= budget) | (F.col("rn_from_end") == 1)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns_total"),
        F.sum("n_toks").cast("long").alias("toks_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_turns_kept"),
        F.sum(F.when(kept, F.col("n_toks"))).cast("long").alias("toks_kept"),
        F.min(F.when(kept, F.col("turn_idx"))).cast("int").alias("first_kept_idx"),
        F.max(F.when(kept, F.lit(0)).otherwise(1)).cast("int").alias("truncated"),
    )


def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation context-budget truncation report: how many
    turns/tokens survive a truncate-left pack to
    :data:`CONTEXT_BUDGET_TOKS` — the sizing table that decides chat
    template budgets before SFT conversion (see :func:`context_pack`
    for semantics and the scale shape)."""
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    return context_pack(t, CONTEXT_BUDGET_TOKS)


#: adjacent-turn token-Jaccard (ppm) below which a topic boundary is
#: declared. Calibrated on the synthetic corpus: the adjacency Jaccard
#: distribution has p25 ≈ 71k / median ≈ 143k ppm, so 100k splits
#: conversations at roughly the bottom-quartile cohesion dips without
#: shattering them.
TOPIC_BOUNDARY_PPM = 100_000


def q_topic_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-lite topic segmentation: a conversation is cut where
    the token Jaccard between adjacent turns drops below
    :data:`TOPIC_BOUNDARY_PPM` — the chunking step a training-data
    pipeline runs on long multi-topic transcripts before packing
    (topic-coherent chunks beat arbitrary windows for RAG and SFT).
    One row per (conversation, segment): turn span, turn count, token
    count.

    Exact-integer parity: Jaccard via the |A|+|B|-|A∪B| identity in
    floor ppm, same rule as ``conv_assistant_echo``; segment ids are a
    running sum of boundary flags (first turn is never a boundary).

    Scale shape: two windows sharing one (conv_id, turn_idx) sort
    (lag + running sum — one Exchange, one Sort) then a hash aggregate
    on (conv_id, segment_id). Per-conversation state only; output is
    segment-sized. Embarrassingly parallel at 10^12 turns."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "text",
        F.lag("text").over(w).alias("prev_text"),
    )
    jac = t.select(
        "conv_id",
        "turn_idx",
        "text",
        F.when(
            F.col("prev_text").isNull(), F.lit(0)
        )
        .otherwise(
            F.when(
                F.expr(
                    # sizes cast to BIGINT before *1000000: int32 wraps
                    # silently in non-ANSI mode once adjacent turns share
                    # >=~2148 distinct tokens (same rule as
                    # conv_assistant_echo's long-cast sizes)
                    "(CAST(size(array_distinct(split(prev_text, ' '))) AS BIGINT)"
                    " + CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
                    " - CAST(size(array_union(array_distinct(split(prev_text, ' ')),"
                    "                    array_distinct(split(text, ' ')))) AS BIGINT))"
                    " * 1000000"
                    " DIV CAST(size(array_union(array_distinct(split(prev_text, ' ')),"
                    "                      array_distinct(split(text, ' ')))) AS BIGINT)"
                    f" < {TOPIC_BOUNDARY_PPM}"
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .alias("boundary"),
    )
    seg = jac.select(
        "conv_id",
        "turn_idx",
        "text",
        F.sum("boundary")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("segment_id"),
    )
    return seg.groupBy("conv_id", "segment_id").agg(
        F.min("turn_idx").cast("int").alias("first_idx"),
        F.max("turn_idx").cast("int").alias("last_idx"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_toks"),
    )


QUERIES = {
    "conv_topic_segments": q_topic_segments,
    "conv_assistant_echo": q_assistant_echo,
    "conv_context_pack": q_context_pack,
    "conv_reply_latency": q_reply_latency,
    "conv_tool_sequences": q_tool_sequences,
    "conv_sft_pairs": q_sft_pairs,
    "conv_role_transitions": q_role_transitions,
    "conv_turn_stats": q_turn_stats,
    "conv_tool_stats": q_tool_stats,
    "conv_sessionize": q_sessionize,
    # registry-tail placement: keeps the staged round-5 gate window
    # (46 head entries + already-gated filler) byte-identical
    "conv_agent_loops": q_agent_loops,
}

ORACLES = {
    "conv_topic_segments": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT conv_id, turn_idx, text,
         LAG(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_text
  FROM e),
b AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN prev_text IS NULL THEN 0
              WHEN (len(list_distinct(string_split(prev_text, ' ')))
                    + len(list_distinct(string_split(text, ' ')))
                    - len(list_distinct(list_concat(
                          list_distinct(string_split(prev_text, ' ')),
                          list_distinct(string_split(text, ' '))))))
                   * 1000000
                   // len(list_distinct(list_concat(
                          list_distinct(string_split(prev_text, ' ')),
                          list_distinct(string_split(text, ' ')))))
                   < {TOPIC_BOUNDARY_PPM} THEN 1
              ELSE 0 END AS boundary
  FROM p),
s AS (
  SELECT conv_id, turn_idx, text,
         CAST(SUM(boundary) OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS segment_id
  FROM b)
SELECT conv_id, segment_id,
       CAST(MIN(turn_idx) AS INT) AS first_idx,
       CAST(MAX(turn_idx) AS INT) AS last_idx,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks
FROM s GROUP BY conv_id, segment_id""",
    "conv_assistant_echo": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT conv_id, turn_idx, role, text,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_role,
         LAG(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_text,
         LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_idx
  FROM e),
sz AS (
  SELECT conv_id,
         CAST(len(list_distinct(string_split(prev_text, ' '))) AS BIGINT)
             AS na,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nb,
         CAST(len(list_distinct(list_concat(
             list_distinct(string_split(prev_text, ' ')),
             list_distinct(string_split(text, ' '))))) AS BIGINT) AS nu
  FROM p
  WHERE role = 'assistant' AND prev_role = 'user'
    AND prev_idx = turn_idx - 1),
ec AS (
  SELECT conv_id,
         CAST((na + nb - nu) * 1000000 // nu AS BIGINT) AS echo_ppm
  FROM sz)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(echo_ppm) // COUNT(*) AS BIGINT) AS mean_echo_ppm,
       CAST(MAX(echo_ppm) AS BIGINT) AS max_echo_ppm
FROM ec GROUP BY conv_id""",
    "conv_tool_sequences": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
per AS (
  SELECT conv_id,
         string_agg(tool, '>' ORDER BY turn_idx) AS tool_seq,
         CAST(COUNT(*) AS BIGINT) AS n_calls
  FROM e WHERE tool IS NOT NULL
  GROUP BY conv_id)
SELECT tool_seq, n_calls, CAST(COUNT(*) AS BIGINT) AS n_convs
FROM per GROUP BY tool_seq, n_calls""",
    "conv_agent_loops": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
tt AS (SELECT conv_id, turn_idx,
              CASE WHEN tool IS NOT NULL THEN 'tool:' || tool
                   ELSE role END AS sig
       FROM e),
m AS (
  SELECT conv_id, turn_idx,
         CASE WHEN sig = LAG(sig, 1) OVER w THEN 1 ELSE 0 END AS m1,
         CASE WHEN sig = LAG(sig, 2) OVER w THEN 1 ELSE 0 END AS m2,
         CASE WHEN sig = LAG(sig, 3) OVER w THEN 1 ELSE 0 END AS m3
  FROM tt WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
c AS (
  SELECT conv_id, m1, m2, m3,
         SUM(1 - m1) OVER w2 AS i1,
         SUM(1 - m2) OVER w2 AS i2,
         SUM(1 - m3) OVER w2 AS i3
  FROM m WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
u AS (
  SELECT conv_id, 1 AS period, m1 AS m, i1 AS isl FROM c
  UNION ALL SELECT conv_id, 2, m2, i2 FROM c
  UNION ALL SELECT conv_id, 3, m3, i3 FROM c),
runs AS (
  SELECT conv_id, period, isl, COUNT(*) AS l
  FROM u WHERE m = 1 GROUP BY conv_id, period, isl),
best AS (
  SELECT conv_id, period, MAX(l) AS maxl
  FROM runs GROUP BY conv_id, period)
SELECT conv_id, CAST(period AS INT) AS period,
       CAST(maxl // period + 1 AS BIGINT) AS repeats
FROM best WHERE maxl // period + 1 >= {LOOP_MIN_REPEATS}""",
    "conv_reply_latency": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT conv_id, turn_idx, role, ts_s,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_role,
         LEAD(ts_s) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_ts,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_idx
  FROM e)
SELECT CAST(next_ts - ts_s AS BIGINT) AS latency_s,
       CAST(COUNT(*) AS BIGINT) AS n_replies
FROM p
WHERE role = 'user' AND next_role = 'assistant'
  AND next_idx = turn_idx + 1
GROUP BY latency_s""",
    "conv_context_pack": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT conv_id, turn_idx,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_from_end,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
             AS rn_from_end
  FROM e),
k AS (
  SELECT conv_id, turn_idx, n_toks,
         CASE WHEN cum_from_end <= {CONTEXT_BUDGET_TOKS}
                OR rn_from_end = 1 THEN 1 ELSE 0 END AS kept
  FROM p)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns_total,
       CAST(SUM(n_toks) AS BIGINT) AS toks_total,
       CAST(SUM(kept) AS BIGINT) AS n_turns_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN n_toks END) AS BIGINT) AS toks_kept,
       CAST(MIN(CASE WHEN kept = 1 THEN turn_idx END) AS INT)
           AS first_kept_idx,
       CAST(MAX(1 - kept) AS INT) AS truncated
FROM k GROUP BY conv_id""",
    "conv_sft_pairs": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT conv_id, turn_idx, role, text,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_role,
         LEAD(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_text,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_idx
  FROM e)
SELECT conv_id, turn_idx AS prompt_idx, text AS prompt,
       next_text AS response,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_prompt_toks,
       CAST(len(string_split(next_text, ' ')) AS BIGINT) AS n_response_toks
FROM p WHERE role = 'user' AND next_role = 'assistant'
        AND next_idx = turn_idx + 1""",
    "conv_role_transitions": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
p AS (
  SELECT role,
         COALESCE(LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  'START') AS prev_role
  FROM e)
SELECT prev_role, role, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY prev_role, role""",
    "conv_turn_stats": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
s AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM e)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_toks) * 1000000 // COUNT(*) AS BIGINT)
         AS mean_turn_tokens_ppm,
       arg_max(role, turn_idx) AS last_role
FROM s GROUP BY conv_id""",
    "conv_tool_stats": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL}
SELECT tool,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tool_turn_tokens
FROM e WHERE tool IS NOT NULL GROUP BY tool""",
    "conv_sessionize": f"""WITH {_SHRED_SQL}, {_ENRICH_SQL},
g AS (
  SELECT conv_id, turn_idx, tool, ts_s,
         CASE WHEN ts_s - LAG(ts_s) OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx)
                   > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM e),
s AS (
  SELECT conv_id, tool, ts_s,
         CAST(SUM(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM g)
SELECT conv_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(MAX(ts_s) - MIN(ts_s) AS BIGINT) AS duration_s,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_calls
FROM s GROUP BY conv_id, session_idx""",
}


# the streamed SFT pairs (streamgate.q_stream_sft_pairs) must reproduce
# the batch lead-window pairs exactly — push the shared oracle text into
# streamgate's dict from here (conv imports streamgate for _SHRED_SQL,
# so the share must flow in this direction to avoid an import cycle)
from dstlr_spark.queries import streamgate as _streamgate  # noqa: E402

_streamgate.ORACLES["stream_sft_pairs"] = ORACLES["conv_sft_pairs"]
