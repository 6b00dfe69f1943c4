"""Streaming operators over transcript turns: the continuous-arrival
variant.

The reference is batch-only (SURVEY.md §2.9); at 10^12-turn scale new
transcript turns arrive continuously, so the engine also exposes
incremental operators over a turn stream. Each one is reached through a
``stream_*`` registry query (``queries/streamgate.py``,
``queries/doc_kg.py``), which drains it over a file-source stream:

- :func:`mention_rate_stream`   — watermarked tumbling-window mention counts
  (the streaming twin of the batch ``events_hourly`` / mention stats)
- :func:`turn_triples_stream`   — stateless turn-local co-occurrence triples
- :func:`dedup_turns_stream`    — watermark-bounded exact dedup of
  re-delivered turns
- :func:`sft_pairs_stream`      — ``applyInPandasWithState`` (prompt,
  response) pairs with one row of state per conversation

Full document assembly needs a conversation-complete signal, so the
batch path stays the source of truth for final triples; streaming
covers monitoring and incremental pre-extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def dedup_turns_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop re-delivered turns (same conv_id,
    turn_idx, text-hash) within a one-hour watermark horizon — the streaming
    twin of ``dedup_exact``, with state bounded by the watermark so the
    dedup map cannot grow unboundedly at 10^12-turn scale."""
    keyed = transcripts.where(
        F.col("conv_id").isNotNull() & F.col("ts").isNotNull()
    ).withColumn("text_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    return keyed.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
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
