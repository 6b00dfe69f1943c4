"""Deterministic transcript fixtures + document-derived transcripts.

Two ways to obtain the engine's primary input table
``transcripts(conv_id, turn_idx, role, text, tool, ts)`` (FIXTURES.md §1):

1. :func:`generate_transcripts` — a seeded, pure-function-of-(seed, scale)
   synthetic corpus with Zipf-skewed conversation lengths, the
   reference's 5 smoke sentences (ExtractTriples.scala:162) as fixed
   single-turn conversations, and pathological rows exercising filters
   F1/F2/F3 and the 1024-byte span truncation (C9).

2. :func:`derive_transcripts` — deterministically shreds the driver's
   ``documents`` table into fixed-width turns so that document assembly
   round-trips exactly (``assemble(derive(docs)) == docs``). This is the
   oracle-checkable path: both shred and reassembly are pure built-in
   column expressions, so DuckDB can verify the identity.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstlr_spark.schemas import TRANSCRIPT_SCHEMA

# The reference's embedded smoke corpus, verbatim (ExtractTriples.scala:162),
# plus two sentences exercising the non-DATE temporal classes the reference
# normalizes via SUTime (TIME / DURATION / SET, ExtractTriples.scala:209-211).
SMOKE_SENTENCES = [
    "Barack Obama was born on August 4th, 1961.",
    "Apple is based in Cupertino.",
    "Good Technology is a company based in Sunnyvale.",
    "Isetan is a company based in Paris.",
    "The International Arctic Research Center is located in Fairbanks, Alaska.",
    "Barack Obama spoke for three hours at 9:30 AM.",
    "Isetan announces a sale every month.",
]

_ROLES = ["user", "assistant", "system", "tool"]
_WORDS = (
    "alpha beta gamma delta epsilon lambda sigma omega vector tensor "
    "query plan shuffle join filter scan merge sort hash spill"
).split()
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _zipf_len(rng: random.Random) -> int:
    """Skewed conversation length: mostly 2-10 turns, rare 100-1000."""
    r = rng.random()
    if r < 0.005:
        return rng.randint(100, 1000)
    if r < 0.05:
        return rng.randint(20, 100)
    return rng.randint(2, 10)


def generate_transcript_rows(
    seed: int = 42, n_convs: int = 50, include_pathological: bool = True
) -> list[tuple]:
    """Pure-Python row list (deterministic) — reused by tests and jobs."""
    rng = random.Random(seed)
    rows: list[tuple] = []

    # Smoke conversations: fixed ids, single turn each.
    for i, sent in enumerate(SMOKE_SENTENCES):
        rows.append(
            (f"smoke-{i}", 0, "user", sent, None, _EPOCH + dt.timedelta(seconds=i))
        )

    # Bulk synthetic conversations with skewed lengths.
    for c in range(n_convs):
        conv_id = f"conv-{seed}-{c:05d}"
        n_turns = _zipf_len(rng)
        t0 = _EPOCH + dt.timedelta(minutes=c)
        for t in range(n_turns):
            words = [rng.choice(_WORDS) for _ in range(rng.randint(3, 12))]
            # Sprinkle smoke-entity sentences into bulk convs for linking work.
            if rng.random() < 0.05:
                text = rng.choice(SMOKE_SENTENCES)
            else:
                text = " ".join(words) + "."
            role = _ROLES[t % 2] if t % 7 else "tool"
            tool = "search" if role == "tool" else None
            rows.append((conv_id, t, role, text, tool, t0 + dt.timedelta(seconds=t)))

    if include_pathological:
        # F1: null / empty conv_id.
        rows.append((None, 0, "user", "orphan text", None, _EPOCH))
        rows.append(("", 0, "user", "empty-conv text", None, _EPOCH))
        # F2: null / empty text.
        rows.append(("conv-nulltext", 0, "user", None, None, _EPOCH))
        rows.append(("conv-emptytext", 0, "user", "", None, _EPOCH))
        # F3: one conversation containing a sentence longer than the
        # sentence-length threshold (whole doc must be dropped).
        long_sent = " ".join(f"tok{i}" for i in range(300)) + "."
        rows.append(("conv-longsent", 0, "user", long_sent, None, _EPOCH))
        rows.append(("conv-longsent", 1, "assistant", "short reply.", None, _EPOCH))
        # C9: non-ASCII span longer than 1024 UTF-8 bytes.
        rows.append(("conv-widechar", 0, "user", "日" * 600 + ".", None, _EPOCH))
    return rows


def generate_transcripts(
    spark: SparkSession,
    seed: int = 42,
    n_convs: int = 50,
    include_pathological: bool = True,
) -> DataFrame:
    rows = generate_transcript_rows(seed, n_convs, include_pathological)
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


#: tokens per derived turn; ``streamgate._SHRED_SQL`` shreds with the same width
TURN_WORDS = 8


def derive_transcripts(documents: DataFrame) -> DataFrame:
    """Shred ``documents(doc_id, text)`` into TURN_WORDS-token turns.

    Pure column expressions (split → sequence → transform → posexplode),
    fully Catalyst-visible, no UDF. Reassembly with
    :func:`dstlr_spark.operators.assembly.assemble_documents` restores the
    original text byte-for-byte — the round-trip is the per-turn-equality
    invariant check (input_hint).

    Edge case: when the token count is ≡ 1 (mod TURN_WORDS) and the
    final token is the empty string (text ends in a trailing space), the
    final slice would be a lone ``""`` turn — which assembly's F2 filter
    drops, breaking the round-trip. That slice is folded into the
    previous turn instead (its join re-adds the trailing space).
    Documents whose text is entirely empty still shred to one empty turn
    and are dropped by F1/F2 — empty contents are invalid input by the
    reference's own filters (ExtractTriples.scala:64-65).
    """
    # materialize the token array before the per-turn lambda slices it:
    # a lambda body re-evaluates embedded expressions per element, so
    # slicing a raw split() would re-split the text per turn (O(n²/w)
    # per doc); slicing the projected column is O(w) per turn
    documents = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    toks = F.col("__toks")
    s = F.size(toks)
    base = F.ceil(s / F.lit(TURN_WORDS)).cast("int")
    lone_empty_tail = (
        (s % TURN_WORDS == 1) & (F.element_at(toks, -1) == "") & (s > 1)
    )
    n_turns = F.when(lone_empty_tail, base - 1).otherwise(base)
    turns = F.transform(
        F.sequence(F.lit(0), n_turns - 1),
        lambda i: F.array_join(
            # the last turn takes the remainder (at most TURN_WORDS + 1
            # tokens — the folded empty tail), earlier turns exactly TURN_WORDS
            F.when(
                i == n_turns - 1,
                F.slice(toks, i * TURN_WORDS + 1, TURN_WORDS + 1),
            ).otherwise(F.slice(toks, i * TURN_WORDS + 1, TURN_WORDS)),
            " ",
        ),
    )
    return (
        documents.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.posexplode(turns).alias("turn_idx", "text"),
        )
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            (
                F.timestamp_seconds(
                    F.lit(1704067200) + F.col("turn_idx").cast("long")
                )
            ).alias("ts"),
        )
    )
