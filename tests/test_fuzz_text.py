"""Seeded fuzz: the Python annotator twins and the Column implementations
agree on adversarial unicode/punctuation inputs (one batched Spark call,
500 random strings)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from dstlr_spark.functions.text import lemma_key, utf8_truncate_1024
from dstlr_spark.operators.extract import _lemma_key_py

# U+00A0, U+001C and U+0085 are whitespace to Python's ``\s`` but not
# to Java's, which is what Spark's split uses
_ALPHABET = (
    list("abcXYZ019 ") + list(".?,:;'\"!") + list("日本語áéßø€") + ["  ", "\t"]
    + ["\xa0", "\x1c", "\x85"]
)


def _random_strings(n=500, seed=1234):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(0, 40)
        out.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
    return out


def test_lemma_key_fuzz(spark):
    samples = [s for s in _random_strings() if s.strip()]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r["k"] for r in df.select(lemma_key("s").alias("k")).collect()]
    want = [_lemma_key_py(s) for s in samples]
    mismatches = [(s, g, w) for s, g, w in zip(samples, got, want) if g != w]
    assert not mismatches, mismatches[:3]


def _utf8_cap_py(s):
    """The C9 spec: the first 1024 UTF-8 bytes, minus a split code point."""
    return None if s is None else s.encode("utf-8")[:1024].decode("utf-8", "ignore")


def test_utf8_truncate_fuzz(spark):
    samples = [s * 80 for s in _random_strings(100, seed=7)]  # force long strings
    # cut inside (and just after) a 2-, 3- and 4-byte code point: the
    # ASCII pad shifts where byte 1024 falls within the repeated char
    for wide in ("é", "日", "😀"):
        for pad in range(4):
            samples.append("a" * pad + wide * 600)
            samples.append("a" * (1024 - pad) + wide)
    samples += [None, "", "a" * 1024, "a" * 1025]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r["t"] for r in df.select(utf8_truncate_1024("s").alias("t")).collect()]
    bad = [(s, g) for s, g in zip(samples, got) if g != _utf8_cap_py(s)]
    assert not bad, bad[:3]


def test_lemma_rules_three_way_lockstep(spark):
    """C2 lemma rules: Python, Spark column, and DuckDB SQL must agree
    exactly — the oracle recomputes mention keys independently."""
    import duckdb

    from dstlr_spark.functions.text import lemma_token, lemma_token_py, lemma_token_sql

    words = [
        "companies", "company", "tables", "queries", "boxes", "classes",
        "churches", "children", "men", "people", "does", "goes", "houses",
        "was", "this", "its", "as", "yes", "gas", "miss", "bus", "lens",
        "James", "Paris", "Apple", "USA", "1960s", "ties", "cities",
        "indices", "criteria", "scan", "scans", "sorts", "windows", "",
        "日本語", "x", "ss",
    ]
    py = [lemma_token_py(w) for w in words]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    sp = [r["l"] for r in df.select(lemma_token(F.col("w")).alias("l")).collect()]
    values = ", ".join(f"({i}, '{w}')" for i, w in enumerate(words))
    du = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {lemma_token_sql('w')} FROM (VALUES {values}) AS t(i, w) ORDER BY i"
        ).fetchall()
    ]
    assert py == sp == du
    # spot checks: the gap C2 exists to close
    m = dict(zip(words, py))
    assert m["companies"] == "company" and m["tables"] == "table"
    assert m["queries"] == "query" and m["boxes"] == "box"
    assert m["James"] == "James" and m["Paris"] == "Paris"  # proper nouns kept
    assert m["was"] == "was" and m["this"] == "this"  # stopword-ish guarded


def test_lemma_rules_lockstep_fuzz(spark):
    """Seeded-random token fuzz across the three lemma implementations —
    catches regex/boundary divergence the fixed word list misses."""
    import random

    import duckdb

    from dstlr_spark.functions.text import lemma_token, lemma_token_py, lemma_token_sql

    rng = random.Random(20260816)
    alphabet = "abcdefghijklmnopqrsxyz"
    words = []
    for _ in range(250):
        n = rng.randint(1, 9)
        w = "".join(rng.choice(alphabet) for _ in range(n))
        if rng.random() < 0.3:
            w += rng.choice(["s", "es", "ies", "ss", "us", "is"])
        if rng.random() < 0.15:
            w = w.capitalize()
        if rng.random() < 0.1:
            w += str(rng.randint(0, 99))
        words.append(w)
    words = sorted(set(words))

    py = [lemma_token_py(w) for w in words]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    sp = [r["l"] for r in df.select(lemma_token(F.col("w")).alias("l")).collect()]
    values = ", ".join(f"({i}, '{w}')" for i, w in enumerate(words))
    du = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {lemma_token_sql('w')} FROM (VALUES {values}) AS t(i, w) ORDER BY i"
        ).fetchall()
    ]
    assert py == sp == du


def test_winnow_fingerprints_survive_local_edits(spark):
    """The winnowing guarantee: a single-token edit changes only the
    fingerprints of windows overlapping the edit, so near-identical
    documents keep high fingerprint overlap while unrelated documents
    share (essentially) none — the property that makes rolling-hash
    fingerprints a near-dup prefilter where a whole-document hash fails."""
    import random

    from pyspark.sql import functions as F

    from dstlr_spark.queries.textstats import _winnow_fps, _winnow_grams

    rng = random.Random(7)
    words = [f"w{rng.randrange(500)}" for _ in range(200)]
    edited = list(words)
    edited[100] = "EDITED"
    unrelated = [f"u{rng.randrange(500)}" for _ in range(200)]
    df = spark.createDataFrame(
        [("orig", " ".join(words)), ("edit", " ".join(edited)),
         ("other", " ".join(unrelated))],
        "doc_id string, text string",
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", _winnow_fps(_winnow_grams(F.col("text"))).alias("fps")
        ).collect()
    }
    jacc = lambda a, b: len(a & b) / len(a | b)
    assert jacc(fps["orig"], fps["edit"]) > 0.8
    assert jacc(fps["orig"], fps["other"]) < 0.05


def _decision_mask_py(text):
    """Pure-Python twin of curation_decision_frame's reason mask —
    integer arithmetic mirrored expression by expression."""
    from dstlr_spark.queries import curation as C

    if text is None:
        n_tokens = tok_chars = n_stop = n_digit = n_chars = 0
    else:
        toks = text.split(" ")
        n_tokens = len(toks)
        n_chars = len(text)
        tok_chars = n_chars - (n_tokens - 1)
        n_stop = sum(1 for t in toks if t in C._SW)
        n_digit = sum(1 for ch in text if ch.isascii() and ch.isdigit())
    mean_ppm = 0 if n_tokens == 0 else (tok_chars * 1_000_000) // n_tokens
    stop_ppm = 0 if n_tokens == 0 else (n_stop * 1_000_000) // n_tokens
    digit_ppm = 0 if n_chars == 0 else (n_digit * 1_000_000) // n_chars
    mask = 0
    if n_tokens < C.MIN_TOKENS:
        mask += C.REASON_TOO_SHORT
    if n_tokens > C.MAX_TOKENS:
        mask += C.REASON_TOO_LONG
    if mean_ppm < C.MEAN_TOKLEN_PPM_MIN or mean_ppm > C.MEAN_TOKLEN_PPM_MAX:
        mask += C.REASON_TOKLEN
    if stop_ppm < C.STOP_RATIO_PPM_MIN:
        mask += C.REASON_STOPWORDS
    if digit_ppm > C.DIGIT_RATIO_PPM_MAX:
        mask += C.REASON_DIGITS
    return mask


def test_curation_decision_fuzz_lockstep(spark, tmp_path):
    """The curation verdict agrees with an independent pure-Python
    reimplementation on 400 adversarial strings (unicode, digits,
    stopword floods, empty, null)."""
    rng = random.Random(4242)
    vocab = ["the", "of", "and", "to", "in", "word", "data", "42", "x9",
             "日本", "ß", "", "a" * 30]
    samples = [None, "", " ", "the"]
    for _ in range(400):
        k = rng.randint(0, 120)
        samples.append(" ".join(rng.choice(vocab) for _ in range(k)))
    df = spark.createDataFrame(
        [(str(i), s) for i, s in enumerate(samples)], "doc_id string, text string"
    )
    p = str(tmp_path / "documents.parquet")
    df.write.parquet(p)

    from dstlr_spark.queries.curation import q_curation_decision

    got = {
        int(r["doc_id"]): r["reason_mask"]
        for r in q_curation_decision(spark, str(tmp_path)).collect()
    }
    bad = [
        (i, s, got[i], _decision_mask_py(s))
        for i, s in enumerate(samples)
        if got[i] != _decision_mask_py(s)
    ]
    assert not bad, bad[:3]


def test_ngrams_builder_fuzz(spark):
    """The zip_with/slice k-gram builder equals the obvious Python
    sliding window for k in 2..5 over random token arrays (the shape
    every shingle/2-gram/BPE consumer now rides). Callers guard
    size >= k, so only such arrays are fed here."""
    from dstlr_spark.functions.text import ngrams

    rng = random.Random(4242)
    rows = []
    for i in range(300):
        k = rng.randint(2, 5)
        n = rng.randint(k, 30)
        toks = [rng.choice(["a", "bb", "c0", "日本", "x"]) for _ in range(n)]
        rows.append((i, k, toks))
    df = spark.createDataFrame(rows, "i int, k int, toks array<string>")
    for k in range(2, 6):
        sub = df.where(F.col("k") == k)
        got = {
            r["i"]: r["g"]
            for r in sub.select("i", ngrams(F.col("toks"), k).alias("g")).collect()
        }
        want = {
            i: [" ".join(toks[j : j + kk]) for j in range(len(toks) - kk + 1)]
            for i, kk, toks in rows
            if kk == k
        }
        assert got == want, (k, next(iter(got.items())))


def test_dup_segments_fuzz_lockstep(spark, tmp_path):
    """The sorted-run-length dup-char accumulator in q_dup_segments
    equals a Counter-based pure-Python reference on 300 random docs
    with forced segment duplicates (incl. unicode and empty segments)."""
    from collections import Counter

    rng = random.Random(777)
    seg_vocab = ["hello world", "the boiler plate", "日本 text", "", "x",
                 "a b c", "repeat me"]
    samples = []
    for _ in range(300):
        k = rng.randint(1, 20)
        segs = [rng.choice(seg_vocab) for _ in range(k)]
        if rng.random() < 0.5 and k > 2:  # force a heavy duplicate run
            segs += [segs[0]] * rng.randint(1, 5)
        samples.append(".".join(segs))
    df = spark.createDataFrame(
        [(str(i), s, "en", len(s)) for i, s in enumerate(samples)],
        "doc_id string, text string, lang string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    from dstlr_spark.queries.textstats import q_dup_segments

    def want(s):
        c = Counter(s.split("."))
        n = sum(c.values())
        nd = len(c)
        dup = sum(len(k) * v for k, v in c.items() if v > 1)
        tot = sum(len(k) * v for k, v in c.items())
        return (n, nd, (n - nd) * 1000000 // n, dup * 1000000 // max(tot, 1))

    got = {
        int(r["doc_id"]): (
            r["n_segments"], r["n_distinct_segments"],
            r["dup_segment_frac_ppm"], r["dup_char_frac_ppm"],
        )
        for r in q_dup_segments(spark, str(tmp_path)).collect()
    }
    bad = [
        (i, s, got[i], want(s))
        for i, s in enumerate(samples)
        if got[i] != want(s)
    ]
    assert not bad, bad[:3]
