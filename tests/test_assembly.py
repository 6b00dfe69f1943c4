"""Document assembly: ordering, filters, round-trip (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.operators.assembly import assemble_documents
from dstlr_spark.schemas import TRANSCRIPT_SCHEMA
from dstlr_spark.sources.transcripts import derive_transcripts, generate_transcripts


def test_stable_turn_ordering(spark):
    """Turns concatenate in turn_idx order regardless of input row order."""
    rows = [
        ("c1", 2, "user", "third", None, None),
        ("c1", 0, "user", "first", None, None),
        ("c1", 1, "assistant", "second", None, None),
    ]
    docs = assemble_documents(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    got = {r["doc_id"]: r["contents"] for r in docs.collect()}
    assert got == {"c1": "first second third"}


def test_null_empty_filters(spark):
    """F1/F2: null/empty conv_id rows and null/empty text turns are dropped."""
    rows = [
        (None, 0, "user", "x", None, None),
        ("", 0, "user", "y", None, None),
        ("c", 0, "user", None, None, None),
        ("c", 1, "user", "", None, None),
        ("c", 2, "user", "kept", None, None),
    ]
    docs = assemble_documents(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    got = {r["doc_id"]: r["contents"] for r in docs.collect()}
    assert got == {"c": "kept"}


def test_derive_assemble_roundtrip(spark):
    """assemble(derive(docs)) == docs — the per-turn-equality invariant."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), F.col("text"))
        .limit(200)
    )
    rebuilt = assemble_documents(derive_transcripts(docs))
    diff = (
        docs.join(rebuilt, docs["doc_id"] == rebuilt["doc_id"], "full")
        .where(
            F.col("text").isNull()
            | F.col("contents").isNull()
            | (F.col("text") != F.col("contents"))
        )
        .count()
    )
    assert diff == 0


def test_generated_corpus_deterministic(spark):
    """Generator is a pure function of (seed, scale)."""
    a = generate_transcripts(spark, seed=7, n_convs=5).collect()
    b = generate_transcripts(spark, seed=7, n_convs=5).collect()
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731 — null-safe sort key
    assert sorted(map(tuple, a), key=key) == sorted(map(tuple, b), key=key)


def test_salted_repartition_is_deterministic(spark):
    """Retry safety: partition assignment must be a pure function of row
    content (no monotonically_increasing_id / rand in the salt), so a
    stage retry re-deals rows identically."""
    from pyspark.sql import functions as F

    from dstlr_spark.operators.assembly import salted_repartition

    docs = assemble_documents(generate_transcripts(spark, n_convs=40))

    def placement(df):
        out = salted_repartition(df, 12).withColumn(
            "pid", F.spark_partition_id()
        )
        return sorted((r["doc_id"], r["pid"]) for r in out.collect())

    first = placement(docs)
    # fresh lineage (re-read the source) → identical placement
    second = placement(assemble_documents(generate_transcripts(spark, n_convs=40)))
    assert first == second
    # and the salt actually spreads one hot key across buckets when the
    # frame carries distinct content per row
    assert len({p for _, p in first}) > 1


def test_roundtrip_trailing_space_fold(spark):
    """A text ending in a trailing space whose token count is ≡ 1 (mod
    turn width) must still round-trip byte-for-byte: the lone empty final
    slice folds into the previous turn instead of being F2-dropped."""
    from dstlr_spark.sources.transcripts import derive_transcripts

    texts = [
        "w1 w2 w3 w4 w5 w6 w7 w8 ",          # 8 words + trailing space → 9 toks
        "a b c",                              # plain short
        "x1 x2 x3 x4 x5 x6 x7 x8 x9 ",        # 10 toks, tail "x9 " (no fold)
        " leading space",                     # leading empty token
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 ",  # 17 toks
    ]
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    rebuilt = assemble_documents(derive_transcripts(docs))
    got = {r["doc_id"]: r["contents"] for r in rebuilt.collect()}
    assert got == {f"d{i}": t for i, t in enumerate(texts)}


def test_roundtrip_property_random_spacing(spark, monkeypatch):
    """Property: ANY non-empty text round-trips through shred+assemble
    byte-for-byte, including runs of spaces, trailing/leading spaces,
    and token counts landing on every modulus of the turn width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dstlr_spark.sources import transcripts
    from dstlr_spark.sources.transcripts import derive_transcripts

    texts_strategy = st.lists(
        st.text(alphabet="ab 日", min_size=0, max_size=30).filter(lambda t: t != ""),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=12, deadline=None)
    @given(texts_strategy)
    def check(texts):
        docs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
        )
        for w in (3, 8):
            monkeypatch.setattr(transcripts, "TURN_WORDS", w)
            rebuilt = {
                r["doc_id"]: r["contents"]
                for r in assemble_documents(derive_transcripts(docs)).collect()
            }
            assert rebuilt == {f"d{i}": t for i, t in enumerate(texts)}

    check()


def test_salted_repartition_tolerates_map_columns(spark):
    """xxhash64 rejects MapType — the salt must hash only hashable
    columns so a TripleRow-shaped frame (meta map) can be salted too."""
    from pyspark.sql import functions as F

    from dstlr_spark.operators.assembly import salted_repartition

    df = spark.createDataFrame(
        [("c1", "x"), ("c2", "y")], "doc_id string, text string"
    ).withColumn("meta", F.create_map(F.lit("k"), F.col("text")))
    out = salted_repartition(df, 4)
    assert out.count() == 2

    only_map = df.select("meta")
    import pytest

    with pytest.raises(ValueError):
        salted_repartition(only_map, 4)
