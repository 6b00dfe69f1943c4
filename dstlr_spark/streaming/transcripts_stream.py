"""Streaming ingest of transcripts: the continuous-arrival variant.

The reference is batch-only (SURVEY.md §2.9); at 10^12-turn scale new
transcript turns arrive continuously, so the engine also exposes the
pipeline's front half as Structured Streaming:

- :func:`stream_transcripts`    — file-source stream with the pinned schema
- :func:`mention_rate_stream`   — watermarked tumbling-window mention counts
  (the streaming twin of the batch ``events_hourly`` / mention stats)
- :func:`conversation_sessions_stream` — stateful per-conversation
  aggregation with ``applyInPandasWithState`` (turn counts + last role,
  emitted when a conversation goes quiet) — the custom-stateful-operator
  slot for anything batch ``groupBy`` can't express incrementally.
- :func:`write_triples_stream`  — ``foreachBatch`` sink running the batch
  extraction pipeline per micro-batch and appending to the triples table
  with the epoch id as the idempotency key (exactly-once effective).

Full document assembly needs a conversation-complete signal, so the
batch path stays the source of truth for final triples; streaming
covers monitoring and incremental pre-extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstlr_spark.schemas import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def mention_rate_stream(
    transcripts: DataFrame,
    gazetteer_terms: list[str],
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count of gazetteer-term occurrences per term.

    Pure column expressions over the turn text (no assembly needed for a
    rate monitor); watermark bounds state for late turns.
    """
    toks = F.split(F.col("text"), r"\s+")
    hits = F.filter(
        F.transform(toks, lambda t: F.regexp_replace(t, r"[.?,:;'\"!]", "")),
        lambda t: t.isin(gazetteer_terms),
    )
    return (
        transcripts.where(F.col("text").isNotNull() & F.col("ts").isNotNull())
        .withColumn("term", F.explode(hits))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "term")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win")["start"].alias("window_start"),
            F.col("win")["end"].alias("window_end"),
            "term",
            "n_mentions",
        )
    )


def turn_triples_stream(
    transcripts: DataFrame,
    gazetteer: list[tuple[str, str]],
    cooccur_window: int,
) -> DataFrame:
    """Streaming triple extraction over raw turns (conv_id, turn_idx,
    text): tokenize, lemma-key (C2), match the broadcast-sized
    gazetteer (inlined map literal — the streaming analog of a
    broadcast dimension join), emit window-bounded TURN-LOCAL
    co-occurrence pairs. Stateless — pure higher-order Column
    expressions in one codegen stage, then an explode; no watermark,
    no state store, no shuffle. Gated via ``stream_turn_triples``
    (`queries/doc_kg.py::q_stream_turn_triples`); throughput/scaling
    figures in BENCH/BASELINE.md."""
    from dstlr_spark.functions.text import PUNCT_RE, lemma_token

    gmap = F.create_map(
        *[F.lit(x) for term, cls in gazetteer for x in (term, cls)]
    )
    keys = F.transform(
        F.split(F.col("text"), " "),
        lambda t: lemma_token(F.regexp_replace(t, PUNCT_RE, "")),
    )
    ments = F.filter(
        F.transform(
            keys,
            lambda k, i: F.struct(
                i.cast("int").alias("pos"),
                k.alias("key"),
                F.element_at(gmap, k).alias("cls"),
            ),
        ),
        lambda s: s["cls"].isNotNull(),
    )
    t = transcripts.select("conv_id", "turn_idx", ments.alias("m"))
    pairs = F.flatten(
        F.transform(
            F.col("m"),
            lambda a: F.transform(
                F.filter(
                    F.col("m"),
                    lambda b: (b["pos"] > a["pos"])
                    & (b["pos"] <= a["pos"] + cooccur_window)
                    & (b["key"] != a["key"]),
                ),
                lambda b: F.struct(
                    a["key"].alias("subj_key"),
                    F.concat(
                        F.lit("COOCCURS_"), a["cls"], F.lit("_"), b["cls"]
                    ).alias("relation"),
                    b["key"].alias("obj_key"),
                    a["pos"].alias("a_pos"),
                    b["pos"].alias("b_pos"),
                ),
            ),
        )
    )
    return t.select("conv_id", "turn_idx", F.explode(pairs).alias("p")).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("p.subj_key").alias("subj_key"),
        F.col("p.relation").alias("relation"),
        F.col("p.obj_key").alias("obj_key"),
        F.col("p.a_pos").alias("a_pos"),
        F.col("p.b_pos").alias("b_pos"),
    )


def conversation_sessions_stream(transcripts: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-conversation session aggregation via ``session_window``:
    a conversation 'session' closes after ``gap`` of turn silence —
    the streaming analog of the batch sessionization query."""
    return (
        transcripts.where(F.col("conv_id").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap).alias("win"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("win")["start"].alias("session_start"),
            F.col("win")["end"].alias("session_end"),
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )


def dedup_turns_stream(transcripts: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop re-delivered turns (same conv_id,
    turn_idx, text-hash) within the watermark horizon — the streaming
    twin of ``dedup_exact``, with state bounded by the watermark so the
    dedup map cannot grow unboundedly at 10^12-turn scale."""
    keyed = transcripts.where(
        F.col("conv_id").isNotNull() & F.col("ts").isNotNull()
    ).withColumn("text_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx", "text_hash"]
    )


def sft_pairs_stream(turns: DataFrame) -> DataFrame:
    """Streaming SFT-pair extraction: the stateful twin of the batch
    ``conv_sft_pairs`` lead-window — every user turn immediately
    followed (turn_idx + 1) by an assistant turn is emitted as a
    (prompt, response) example the moment the response arrives.
    Training-data extraction as a CONTINUOUS process: new transcripts
    stream in, SFT examples stream out.

    State per conversation is ONE row (the last-seen turn) — bounded
    regardless of conversation length; the within-batch pairing is
    vectorized (pandas shift), so the only per-key Python work is the
    one-row state splice. Input: enriched turns
    (conv_id, turn_idx, role, text).

    Ordering contract: turns of a conversation must arrive in
    turn_idx order ACROSS micro-batches (append-ordered ingestion —
    the natural property of a transcript log); within a micro-batch
    they are sorted explicitly. Out-of-order delivery needs the
    watermark-buffered variant, not this one-row-state operator
    (pinned by ``test_sft_pairs_stream_state_across_batches``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "conv_id string, prompt_idx int, prompt string, response string, "
        "n_prompt_toks long, n_response_toks long"
    )
    state_schema = "last_idx int, last_role string, last_text string"

    def update(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update(tuple(state.get))
            return
        p = pd.concat(chunks).sort_values("turn_idx")
        if state.exists:
            li, lr, lt = state.get
            head = pd.DataFrame(
                {"turn_idx": [li], "role": [lr], "text": [lt]}
            )
            p = pd.concat([head, p[["turn_idx", "role", "text"]]])
        else:
            p = p[["turn_idx", "role", "text"]]
        prev_idx = p["turn_idx"].shift()
        prev_role = p["role"].shift()
        prev_text = p["text"].shift()
        m = (
            (prev_role == "user")
            & (p["role"] == "assistant")
            & (p["turn_idx"] == prev_idx + 1)
        )
        hit = p[m]
        last = p.iloc[-1]
        state.update((int(last["turn_idx"]), str(last["role"]), str(last["text"])))
        if len(hit):
            yield pd.DataFrame(
                {
                    "conv_id": key[0],
                    "prompt_idx": prev_idx[m].astype("int32"),
                    "prompt": prev_text[m],
                    "response": hit["text"],
                    "n_prompt_toks": prev_text[m]
                    .str.split(" ")
                    .str.len()
                    .astype("int64"),
                    "n_response_toks": hit["text"]
                    .str.split(" ")
                    .str.len()
                    .astype("int64"),
                }
            )

    return (
        turns.where(F.col("conv_id").isNotNull() & F.col("text").isNotNull())
        .select("conv_id", "turn_idx", "role", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def conversation_progress_stream(transcripts: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: tracks
    per-conversation running state (turn count, max turn_idx, char sum)
    across micro-batches and emits one updated row per conversation per
    batch — the slot for stateful logic that ``groupBy`` can't express
    incrementally (e.g. conversation-completeness heuristics deciding
    when a conversation is ready for extraction).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, n_turns long, max_turn int, n_chars long"
    state_schema = "n_turns long, max_turn int, n_chars long"

    def update(key, pdfs, state):
        n_turns, max_turn, n_chars = (
            state.get if state.exists else (0, -1, 0)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            if len(pdf):
                max_turn = max(max_turn, int(pdf["turn_idx"].max()))
                n_chars += int(pdf["text"].str.len().sum())
        state.update((n_turns, max_turn, n_chars))
        import pandas as pd

        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n_turns],
             "max_turn": [max_turn], "n_chars": [n_chars]}
        )

    return (
        transcripts.where(F.col("conv_id").isNotNull() & F.col("text").isNotNull())
        .select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def conversation_progress_tws(transcripts: DataFrame) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` twin of
    :func:`conversation_progress_stream`: identical per-conversation
    running state, expressed as a ``StatefulProcessor`` with a named
    ``ValueState`` — the successor API (multiple named states, timers,
    TTL, initial-state bootstrap) the applyInPandasWithState operator
    migrates to.

    ENVIRONMENT-GATED: the TWS driver worker needs working
    ``google.protobuf`` bindings (absent in this container — the
    operator raises ImportError up front rather than crashing the
    stream mid-query; the applyInPandasWithState twin above is the
    portable path and carries the parity test). Requires the RocksDB
    state-store provider (set
    ``spark.sql.streaming.stateStore.providerClass``)."""
    from google.protobuf import descriptor  # noqa: F401 — runtime gate

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Progress(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "progress", "n_turns long, max_turn int, n_chars long"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n_turns, max_turn, n_chars = self._state.get()
            else:
                n_turns, max_turn, n_chars = 0, -1, 0
            for pdf in rows:
                n_turns += len(pdf)
                if len(pdf):
                    max_turn = max(max_turn, int(pdf["turn_idx"].max()))
                    n_chars += int(pdf["text"].str.len().sum())
            self._state.update((n_turns, max_turn, n_chars))
            yield pd.DataFrame(
                {"conv_id": [key[0]], "n_turns": [n_turns],
                 "max_turn": [max_turn], "n_chars": [n_chars]}
            )

        def close(self) -> None:
            pass  # required StatefulProcessor override; no resources held

    return (
        transcripts.where(F.col("conv_id").isNotNull() & F.col("text").isNotNull())
        .select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .transformWithStateInPandas(
            statefulProcessor=Progress(),
            outputStructType="conv_id string, n_turns long, max_turn int, n_chars long",
            outputMode="Update",
            timeMode="None",
        )
    )


def reply_latency_stream(
    transcripts: DataFrame,
    max_delay: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    'tool' turn joined to the same conversation's 'assistant' turns that
    arrive within ``max_delay`` — tool-call reply latency, continuously.

    Both sides are watermarked and the join condition carries the time
    bound, so Spark can expire join state (without the bound the state
    store grows forever at 10^12-turn scale). The batch twin is a plain
    range join (see operators/rangejoin.py); parity pinned by test.
    """
    tool = (
        transcripts.where((F.col("role") == "tool") & F.col("ts").isNotNull())
        .select(
            F.col("conv_id"),
            F.col("turn_idx").alias("tool_idx"),
            F.col("ts").alias("tool_ts"),
        )
        .withWatermark("tool_ts", watermark)
    )
    asst = (
        transcripts.where((F.col("role") == "assistant") & F.col("ts").isNotNull())
        .select(
            F.col("conv_id").alias("conv_id_r"),
            F.col("turn_idx").alias("reply_idx"),
            F.col("ts").alias("reply_ts"),
        )
        .withWatermark("reply_ts", watermark)
    )
    joined = tool.join(
        asst,
        (F.col("conv_id") == F.col("conv_id_r"))
        & (F.col("reply_ts") >= F.col("tool_ts"))
        & (F.col("reply_ts") <= F.col("tool_ts") + F.expr(f"INTERVAL {max_delay}"))
        & (F.col("reply_idx") > F.col("tool_idx")),
    )
    return joined.select(
        "conv_id",
        "tool_idx",
        "reply_idx",
        (
            F.col("reply_ts").cast("timestamp").cast("long")
            - F.col("tool_ts").cast("timestamp").cast("long")
        ).alias("latency_sec"),
    )


def write_triples_stream(
    transcripts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    pipeline_fn,
):
    """foreachBatch sink: run the batch extraction pipeline per
    micro-batch, writing each epoch to its own subdirectory — an
    idempotent commit (epoch re-delivery overwrites, never duplicates),
    mirroring the batch ledger's bucket semantics."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples = pipeline_fn(batch_df)
        triples.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        transcripts.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
