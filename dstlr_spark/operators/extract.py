"""Triple extraction: documents → TripleRow bag (SURVEY.md §2.3 X1-X10).

The reference's heart is one ``mapPartitions → map → flatMap`` over a
per-JVM CoreNLP pipeline (ExtractTriples.scala:67-134). We split the
concern in two:

1. :func:`extract_triples_native` — token-level gazetteer extraction:
   an Arrow-batched ``mapInPandas`` mention scan (tokenize with offsets
   and gazetteer membership inside the worker, no token shuffle), then
   windowed co-occurrence relations as a DataFrame self-join over the
   mention frame. :func:`extract_bag_fused` emits mentions, relations and
   links from one Arrow stage instead; both are oracle-checked against
   DuckDB.

2. :func:`extract_triples_pattern` — an Arrow-batched ``mapInPandas``
   annotator reproducing the reference's CoreNLP *semantics* on its
   embedded smoke corpus (ExtractTriples.scala:162): multi-token
   phrase mentions, SUTime-style date normalization (meta.normalized,
   :209-211), KBP relation patterns with the both-endpoints-are-known-
   mentions gate (:111), per-doc failure isolation (:88,117-119). In
   production the annotator body is swapped for a real model; the
   Spark plumbing (batch shape, schema, failure isolation, per-worker
   singleton) is identical.

Shared semantics (both modes):
- filters F1/F2 happen in assembly; F3 (drop whole doc when any
  sentence exceeds the token threshold, ExtractTriples.scala:66,
  default 128, package.scala:31) happens here — it changes output and
  is part of reference parity.
- mention identity: one id per distinct lemma key per document
  (X5) — content-addressed ``md5(doc ‖ key)`` instead of the
  reference's nondeterministic ``UUID.randomUUID``.
- every mention occurrence emits a MENTIONS row; LINKS_TO rows come
  either from the linking operator (broadcast alias join) or — the
  single-pass shape — from inside the annotator itself when an alias
  dict is supplied (the fused path and ``extract_triples_pattern``'s
  ``alias_dict`` parameter), so the expensive annotator stage never
  runs twice.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dstlr_spark.functions.text import (
    PUNCT_RE,
    lemma_token_py,
    max_sentence_tokens,
)
from dstlr_spark.schemas import TRIPLE_SCHEMA

DEFAULT_SENT_THRESHOLD = 128  # package.scala:31


def apply_sentence_guard(documents: DataFrame, threshold: int = DEFAULT_SENT_THRESHOLD) -> DataFrame:
    """F3: drop the WHOLE document if any sentence exceeds ``threshold``
    tokens (ExtractTriples.scala:66) — a cost guard against superlinear
    parser blowup that intentionally changes output."""
    return documents.where(max_sentence_tokens("contents") <= threshold)


# --------------------------------------------------------------------------
# Native mode: token gazetteer, Arrow mention scan
# --------------------------------------------------------------------------

# translate-table twin of PUNCT_RE (same char class, C-speed strip)
_PUNCT_TABLE = str.maketrans("", "", ".?,:;'\"!")

#: memo bound for the per-task token→lemma-key cache: natural-language
#: vocabularies are Zipfian, so a small dict absorbs nearly every token;
#: the cap keeps a pathological high-entropy corpus from growing worker
#: memory without bound (past it, misses just recompute).
_KEY_CACHE_MAX = 1_000_000


def _token_key_fn():
    """Per-task memoized token → punctuation-stripped lemma key.

    The strip + 4-regex lemma chain costs ~2 µs per call and the
    annotators invoke it once per corpus token; tokens repeat
    Zipf-style, so a dict probe (~50 ns) replaces almost all of the
    work. Build ONE instance per task (inside the batch generator)."""
    cache: dict[str, str] = {}

    def key_of(t: str) -> str:
        k = cache.get(t)
        if k is None:
            k = lemma_token_py(t.translate(_PUNCT_TABLE))
            if len(cache) < _KEY_CACHE_MAX:
                cache[t] = k
        return k

    return key_of


def _bc_value(obj):
    """Unwrap a ``sc.broadcast`` handle (once, at generator start) or pass
    a plain object through — lets every UDF factory accept either."""
    return obj.value if hasattr(obj, "value") else obj


def _broadcast(df: DataFrame, obj):
    """Ship a driver-built dictionary to executors as a broadcast variable
    (once per executor) instead of a task-closure capture (once per task)."""
    return df.sparkSession.sparkContext.broadcast(obj)


def _mention_scan_batches(gaz: dict[str, str]):
    """Build the mapInPandas body for the Arrow mention scanner.

    Per Arrow batch of (doc_id, contents): split on single spaces,
    compute char offsets with a numpy segmented cumsum (O(tokens),
    vectorized), keep only tokens whose punctuation-stripped, LEMMATIZED
    (C2) key is a gazetteer term, and emit the mention frame directly. The token
    stream never leaves the worker — no shuffle, no 20x exchange.

    ``gaz`` may be a plain dict (tests) or a ``sc.broadcast`` handle
    (production path): a 10^7-entry dictionary captured in the closure
    would be re-serialized into EVERY task binary, while a broadcast
    ships once per executor (see :func:`_bc_value`).
    """
    import numpy as np

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_d = _bc_value(gaz)
        key_of = _token_key_fn()
        for pdf in batches:
            doc_ids: list[str] = []
            toks: list[list[str]] = []
            for d, c in zip(pdf["doc_id"], pdf["contents"]):
                if c is None:
                    continue
                doc_ids.append(d)
                toks.append(c.split(" "))
            if not doc_ids:
                yield pd.DataFrame(_EMPTY_MENTIONS)
                continue
            counts = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            flat = np.array([t for ts in toks for t in ts], dtype=object)
            lens = np.fromiter((len(t) for t in flat), dtype=np.int64, count=len(flat))
            # segmented cumsum: global cumsum of (len+1), reset per doc
            csum = np.zeros(len(flat), dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=csum[1:]) if len(flat) > 1 else None
            doc_first = np.zeros(len(toks), dtype=np.int64)
            np.cumsum(counts[:-1], out=doc_first[1:]) if len(toks) > 1 else None
            begin = csum - np.repeat(csum[doc_first], counts)
            pos = np.arange(len(flat)) - np.repeat(doc_first, counts)
            docs_rep = np.repeat(np.array(doc_ids, dtype=object), counts)

            keys = np.array([key_of(t) for t in flat], dtype=object)
            hit = np.fromiter((k in gaz_d for k in keys), dtype=bool, count=len(flat))
            if not hit.any():
                yield pd.DataFrame(_EMPTY_MENTIONS)
                continue
            k, d, b, p = keys[hit], docs_rep[hit], begin[hit], pos[hit]
            tl = lens[hit]
            import hashlib

            out = pd.DataFrame(
                {
                    "doc_id": d,
                    "mention_id": [
                        hashlib.md5(f"{dd}\x1f{kk}".encode()).hexdigest()
                        for dd, kk in zip(d, k)
                    ],
                    "entity_class": [gaz_d[kk] for kk in k],
                    "span": k,
                    "begin": b.astype(np.int32),
                    "end": (b + tl).astype(np.int32),
                    "pos": p.astype(np.int32),
                    "key": k,
                }
            )
            yield out

    return scan


_EMPTY_MENTIONS = {
    "doc_id": pd.Series(dtype="object"),
    "mention_id": pd.Series(dtype="object"),
    "entity_class": pd.Series(dtype="object"),
    "span": pd.Series(dtype="object"),
    "begin": pd.Series(dtype="int32"),
    "end": pd.Series(dtype="int32"),
    "pos": pd.Series(dtype="int32"),
    "key": pd.Series(dtype="object"),
}

_MENTION_DDL = (
    "doc_id string, mention_id string, entity_class string, span string, "
    "begin int, end int, pos int, key string"
)


def extract_mentions_native(documents: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Token-level mention detection (X3).

    Returns (doc_id, mention_id, entity_class, span, begin, end, pos, key).

    Arrow-batched mapInPandas scanner: tokenize + offsets + gazetteer
    membership entirely inside the worker, emitting only mention rows.
    No shuffle. The DuckDB oracles check its output independently.
    """
    gaz = {r["term"]: r["entity_class"] for r in gazetteer.collect()}
    return documents.select("doc_id", "contents").mapInPandas(
        _mention_scan_batches(_broadcast(documents, gaz)), _MENTION_DDL
    )


def mention_triples(m: DataFrame) -> DataFrame:
    """Mention frame → reference-shape MENTIONS rows (X6)."""
    return m.select(
        "doc_id",
        F.lit("Document").alias("subjectType"),
        F.col("doc_id").alias("subjectValue"),
        F.lit("MENTIONS").alias("relation"),
        F.lit("Mention").alias("objectType"),
        F.col("mention_id").alias("objectValue"),
        F.struct(
            F.col("entity_class"),
            F.col("span"),
            F.col("begin"),
            F.col("end"),
            F.lit(None).cast("string").alias("normalized"),
            F.lit(None).cast("double").alias("confidence"),
        ).alias("meta"),
    ).withColumnRenamed("doc_id", "doc")


def relation_triples(m: DataFrame, cooccur_window: int = 8) -> DataFrame:
    """Mention frame → windowed co-occurrence relation rows (X8 analog).

    Two mentions in the same doc within ``cooccur_window`` tokens,
    left-to-right, yield ``COOCCURS_<CLASS1>_<CLASS2>`` with confidence
    ``1/(1+distance)``. The both-endpoints-must-be-mentions gate
    (ExtractTriples.scala:111) holds by construction — the self-join is
    over the mention frame itself.
    """
    a = m.alias("a")
    b = m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + cooccur_window)
            & (F.col("a.key") != F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("doc"),
            F.lit("Mention").alias("subjectType"),
            F.col("a.mention_id").alias("subjectValue"),
            F.concat_ws(
                "_", F.lit("COOCCURS"), F.col("a.entity_class"), F.col("b.entity_class")
            ).alias("relation"),
            F.lit("Mention").alias("objectType"),
            F.col("b.mention_id").alias("objectValue"),
            F.struct(
                F.lit(None).cast("string").alias("entity_class"),
                F.lit(None).cast("string").alias("span"),
                F.lit(None).cast("int").alias("begin"),
                F.lit(None).cast("int").alias("end"),
                F.lit(None).cast("string").alias("normalized"),
                # d ≥ 1 inside the join, but a confidence filter pushed
                # below the join's ordering conjunct may evaluate this at
                # d ≤ 0 — the when() guard keeps ANSI mode happy
                F.when(
                    F.col("b.pos") > F.col("a.pos"),
                    F.lit(1.0) / (F.lit(1.0) + F.col("b.pos") - F.col("a.pos")),
                ).alias("confidence"),
            ).alias("meta"),
        )
    )


def extract_triples_native(
    documents: DataFrame,
    gazetteer: DataFrame,
    cooccur_window: int = 8,
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
) -> DataFrame:
    """Full native extraction → reference-shape TripleRow bag.

    NOTE: the returned plan references the mention frame twice (MENTIONS
    rows + the relation self-join); callers fanning out to multiple
    consumers should persist the mention frame once instead — see
    :class:`dstlr_spark.plans.native_kg.NativeKG`.
    """
    docs = apply_sentence_guard(documents, sent_threshold)
    m = extract_mentions_native(docs, gazetteer)
    return mention_triples(m).unionByName(relation_triples(m, cooccur_window))


# --------------------------------------------------------------------------
# Fused single-pass extraction (the 100 TB path)
# --------------------------------------------------------------------------

def _fused_bag_batches(gaz: dict[str, str], best_entity: dict[str, str], window: int):
    """One Arrow pass: documents in → full triple bag out (mentions +
    windowed co-occurrence relations + LINKS_TO), all computed per-doc
    inside the worker — the reference's own architecture (everything in
    one flatMap, ExtractTriples.scala:67-134) and the zero-shuffle
    answer at scale: no token exchange, no relation self-join, no link
    aggregate. ``best_entity`` is the alias dictionary pre-reduced to
    its arg-max per alias (valid because our link score depends only on
    the span; a context-dependent scorer would move back to the
    aggregate form in operators.linking). Both dictionaries may arrive
    as ``sc.broadcast`` handles (see :func:`_bc_value`).
    """
    import hashlib

    cols = ("doc", "subjectType", "subjectValue", "relation", "objectType",
            "objectValue", "meta")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_d, best_d = _bc_value(gaz), _bc_value(best_entity)
        key_of = _token_key_fn()
        for pdf in batches:
            # columnar accumulation: building millions of per-row dicts
            # dominates the worker profile; lists-of-columns convert to
            # Arrow an order of magnitude cheaper
            c: dict[str, list] = {k: [] for k in cols}

            def emit(doc, st, sv, rel, ot, ov, meta):
                c["doc"].append(doc)
                c["subjectType"].append(st)
                c["subjectValue"].append(sv)
                c["relation"].append(rel)
                c["objectType"].append(ot)
                c["objectValue"].append(ov)
                c["meta"].append(meta)

            for doc_id, contents in zip(pdf["doc_id"], pdf["contents"]):
                if contents is None:
                    continue
                toks = contents.split(" ")
                pos_l, key_l, beg_l = [], [], []
                off = 0
                for i, t in enumerate(toks):
                    k = key_of(t)
                    if k in gaz_d:
                        pos_l.append(i)
                        key_l.append(k)
                        beg_l.append(off)
                    off += len(t) + 1
                if not pos_l:
                    continue
                ids = {}
                for k in key_l:
                    if k not in ids:
                        ids[k] = hashlib.md5(f"{doc_id}\x1f{k}".encode()).hexdigest()
                # MENTIONS rows (one per occurrence, shared per-key id)
                for p, k, b in zip(pos_l, key_l, beg_l):
                    emit(doc_id, "Document", doc_id, "MENTIONS", "Mention", ids[k],
                         dict(entity_class=gaz_d[k], span=k, begin=b,
                              end=b + len(toks[p]), normalized=None, confidence=None))
                # windowed co-occurrence relations (positions ascending)
                for a in range(len(pos_l)):
                    for b2 in range(a + 1, len(pos_l)):
                        d = pos_l[b2] - pos_l[a]
                        if d > window:
                            break
                        if key_l[a] == key_l[b2]:
                            continue
                        emit(doc_id, "Mention", ids[key_l[a]],
                             f"COOCCURS_{gaz_d[key_l[a]]}_{gaz_d[key_l[b2]]}",
                             "Mention", ids[key_l[b2]],
                             dict(entity_class=None, span=None, begin=None,
                                  end=None, normalized=None,
                                  confidence=1.0 / (1.0 + d)))
                # LINKS_TO (one per distinct key; null when unresolvable)
                for k, mid in ids.items():
                    emit(doc_id, "Mention", mid, "LINKS_TO", "Entity",
                         best_d.get(k), None)
            yield pd.DataFrame(c) if c["doc"] else pd.DataFrame(_EMPTY_BATCH)

    return scan


def best_alias_entity(alias_dict: DataFrame) -> dict[str, str]:
    """Reduce the alias dimension to its deterministic arg-max
    (max prior, ties → smallest entity_id) — driver-side, broadcastable.
    Keys are LEMMA-normalized (C2) like the mention keys they are probed
    with, so inflected dictionary entries are not silently dead — in
    lockstep with :func:`~dstlr_spark.operators.linking.resolve_aliases`,
    which lemma-normalizes both join sides."""
    best: dict[str, tuple[float, str]] = {}
    for r in alias_dict.collect():
        key = " ".join(lemma_token_py(t) for t in r["alias"].split(" "))
        cur = best.get(key)
        cand = (-r["prior"], r["entity_id"])
        if cur is None or cand < cur:
            best[key] = cand
    return {a: e for a, (_, e) in best.items()}


def extract_bag_fused(
    documents: DataFrame,
    gazetteer: DataFrame,
    alias_dict: DataFrame,
    cooccur_window: int = 8,
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
) -> DataFrame:
    """documents → full triple bag in one Arrow-batched ``mapInPandas``
    stage (no shuffles).

    Semantically identical to NativeKG's modular bag minus fact rows —
    parity is pinned by tests and the DuckDB oracle suite."""
    docs = apply_sentence_guard(documents, sent_threshold)
    gaz = {r["term"]: r["entity_class"] for r in gazetteer.collect()}
    best = best_alias_entity(alias_dict)
    gaz_b, best_b = _broadcast(documents, gaz), _broadcast(documents, best)
    return docs.select("doc_id", "contents").mapInPandas(
        _fused_bag_batches(gaz_b, best_b, cooccur_window), TRIPLE_SCHEMA
    )


# --------------------------------------------------------------------------
# Pattern mode: mapInPandas annotator (reference CoreNLP semantics)
# --------------------------------------------------------------------------

# Gazetteer of multi-token phrases → entity class, longest-first so
# "Good Technology" wins over a hypothetical "Good" (CoreNLP's greedy
# mention chunking analog).
PATTERN_GAZETTEER: list[tuple[str, str]] = [
    ("International Arctic Research Center", "ORGANIZATION"),
    ("Good Technology", "ORGANIZATION"),
    ("Barack Obama", "PERSON"),
    ("Isetan", "ORGANIZATION"),
    ("Apple", "ORGANIZATION"),
    ("Cupertino", "CITY"),
    ("Sunnyvale", "CITY"),
    ("Fairbanks", "CITY"),
    ("Alaska", "STATE_OR_PROVINCE"),
    ("Paris", "CITY"),
    ("Tokyo", "CITY"),
]

_MONTHS = {
    "January": 1, "February": 2, "March": 3, "April": 4, "May": 5, "June": 6,
    "July": 7, "August": 8, "September": 9, "October": 10, "November": 11,
    "December": 12,
}
_DATE_RE = re.compile(
    r"\b(" + "|".join(_MONTHS) + r") (\d{1,2})(?:st|nd|rd|th)?, (\d{4})\b"
)

# SUTime parity beyond DATE (ExtractTriples.scala:209-211 normalizes all
# four temporal classes): TIME → Thh:mm, DURATION → ISO-8601 P…/PT…,
# SET → TIMEX3 periodic P1<unit>. Deterministic regex stand-ins.
_NUM_WORDS = {
    "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
    "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10,
}
_DUR_UNIT_ISO = {
    "year": "P{n}Y", "month": "P{n}M", "week": "P{n}W", "day": "P{n}D",
    "hour": "PT{n}H", "minute": "PT{n}M",
}
_DURATION_RE = re.compile(
    r"\b(" + "|".join(_NUM_WORDS) + r"|\d{1,3}) "
    r"(year|month|week|day|hour|minute)s?\b",
    re.IGNORECASE,
)
_TIME_RE = re.compile(r"\b(\d{1,2}):(\d{2})(?:\s?([APap])\.?[Mm]\.?)?\b")
_SET_UNIT_ISO = {"year": "P1Y", "month": "P1M", "week": "P1W", "day": "P1D", "hour": "PT1H"}
_SET_RE = re.compile(r"\bevery (year|month|week|day|hour)\b", re.IGNORECASE)


def _normalize_duration(num: str, unit: str) -> str:
    n = _NUM_WORDS.get(num.lower(), None)
    if n is None:
        n = int(num)
    return _DUR_UNIT_ISO[unit.lower()].format(n=n)


def _normalize_time(hh: str, mm: str, ampm: str | None) -> str:
    h = int(hh)
    if ampm is not None:
        ap = ampm.lower()
        if ap == "p" and h != 12:
            h += 12
        elif ap == "a" and h == 12:
            h = 0
    return f"T{h:02d}:{int(mm):02d}"


_SENT_SPLIT_RE = re.compile(r"(?<=[.?!])\s+")

# KBP-style relation patterns: (subject class, cue regex, object class,
# relation name). Mirrors the reference's KBP extractor outputs on the
# smoke corpus (demo.md:12-57); names already in normalized form (C4).
RELATION_PATTERNS: list[tuple[str, str, str, str]] = [
    ("ORGANIZATION", r"\bbased in\b", "CITY", "ORG_CITY_OF_HEADQUARTERS"),
    ("ORGANIZATION", r"\blocated in\b", "CITY", "ORG_CITY_OF_HEADQUARTERS"),
    ("ORGANIZATION", r"\bbased in\b", "STATE_OR_PROVINCE", "ORG_STATEORPROVINCE_OF_HEADQUARTERS"),
    ("ORGANIZATION", r"\blocated in\b", "STATE_OR_PROVINCE", "ORG_STATEORPROVINCE_OF_HEADQUARTERS"),
    ("PERSON", r"\bwas born on\b", "DATE", "PER_DATE_OF_BIRTH"),
    ("PERSON", r"\bborn in\b", "CITY", "PER_CITY_OF_BIRTH"),
]


def _lemma_key_py(text: str) -> str:
    """Python twin of functions.text.lemma_key (kept in lockstep by tests)."""
    toks = [lemma_token_py(re.sub(PUNCT_RE, "", t)) for t in re.split(r"\s+", text)]
    return " ".join(t for t in toks if t)


def _stable_id_py(doc: str, key: str) -> str:
    import hashlib

    return hashlib.md5(f"{doc}\x1f{key}".encode()).hexdigest()


class PatternAnnotator:
    """Deterministic stand-in for the reference's CoreNLP pipeline (X1).

    Instantiated lazily once per Python worker (module-global singleton
    — the analog of the reference's ``@transient lazy val`` per-JVM
    pipeline, ExtractTriples.scala:21-28). A production deployment
    replaces ``annotate`` with a model-backed implementation; everything
    around it stays.
    """

    def __init__(self) -> None:
        alt = "|".join(re.escape(p) for p, _ in PATTERN_GAZETTEER)
        self._gaz_re = re.compile(r"\b(" + alt + r")\b")
        self._classes = dict(PATTERN_GAZETTEER)
        self._rel_patterns = [
            (sc, re.compile(cue), oc, rel) for sc, cue, oc, rel in RELATION_PATTERNS
        ]

    def annotate(
        self, doc_id: str, contents: str, link_best: dict[str, str] | None = None
    ) -> list[dict]:
        """One document → list of TripleRow dicts (X2-X9).

        With ``link_best`` (alias → arg-max entity id), one LINKS_TO row
        per distinct mention key is emitted in the SAME pass — the fused
        shape of ExtractTriples.scala:216-218, so the annotator (model
        inference in production) never runs twice per document. Parity
        with the modular ``link_mentions`` operator is pinned by tests
        (valid because the link score depends only on the surface form,
        and linkable gazetteer spans are punctuation-free, so span ≡
        lemma key for every resolvable mention)."""
        triples: list[dict] = []
        uuids: dict[str, str] = {}  # lemma key → id, per doc (X5)

        # --- mention pass (X3-X6): gazetteer phrases + SUTime-ish dates
        mentions = []  # (key, class, span, begin, end, normalized)
        for mt in self._gaz_re.finditer(contents):
            span = mt.group(1)
            key = _lemma_key_py(span)
            mentions.append((key, self._classes[span], span, mt.start(1), mt.end(1), None))
        for dm in _DATE_RE.finditer(contents):
            month, day, year = dm.group(1), int(dm.group(2)), int(dm.group(3))
            normalized = f"{year:04d}-{_MONTHS[month]:02d}-{day:02d}"
            key = _lemma_key_py(dm.group(0))
            mentions.append((key, "DATE", dm.group(0), dm.start(), dm.end(), normalized))
        # SUTime parity: TIME / DURATION / SET normalized like DATE
        for tm in _TIME_RE.finditer(contents):
            normalized = _normalize_time(tm.group(1), tm.group(2), tm.group(3))
            key = _lemma_key_py(tm.group(0))
            mentions.append((key, "TIME", tm.group(0), tm.start(), tm.end(), normalized))
        for du in _DURATION_RE.finditer(contents):
            normalized = _normalize_duration(du.group(1), du.group(2))
            key = _lemma_key_py(du.group(0))
            mentions.append((key, "DURATION", du.group(0), du.start(), du.end(), normalized))
        for st in _SET_RE.finditer(contents):
            normalized = _SET_UNIT_ISO[st.group(1).lower()]
            key = _lemma_key_py(st.group(0))
            mentions.append((key, "SET", st.group(0), st.start(), st.end(), normalized))

        for key, cls, span, begin, end, normalized in mentions:
            mid = uuids.setdefault(key, _stable_id_py(doc_id, key))
            triples.append(
                dict(
                    doc=doc_id, subjectType="Document", subjectValue=doc_id,
                    relation="MENTIONS", objectType="Mention", objectValue=mid,
                    meta=dict(entity_class=cls, span=span, begin=begin, end=end,
                              normalized=normalized, confidence=None),
                )
            )

        # --- relation pass (X8): per sentence, cue between a subject-class
        # mention and an object-class mention; both endpoints must already
        # carry mention ids (gate, ExtractTriples.scala:111).
        offset = 0
        for sent in _SENT_SPLIT_RE.split(contents):
            s_lo, s_hi = offset, offset + len(sent)
            offset = s_hi + 1
            in_sent = [m for m in mentions if m[3] >= s_lo and m[4] <= s_hi]
            for s_cls, cue_re, o_cls, rel in self._rel_patterns:
                cue = cue_re.search(sent)
                if not cue:
                    continue
                cue_lo = s_lo + cue.start()
                cue_hi = s_lo + cue.end()
                subs = [m for m in in_sent if m[1] == s_cls and m[4] <= cue_lo]
                objs = [m for m in in_sent if m[1] == o_cls and m[3] >= cue_hi]
                for sm in subs:
                    for om in objs:
                        if sm[0] not in uuids or om[0] not in uuids:
                            continue  # gate
                        # deterministic confidence: cue proximity, the
                        # analog of the reference's per-triple
                        # confidenceGloss (ExtractTriples.scala:224) —
                        # endpoints hugging the cue score 1.0, each ten
                        # chars of separation halves the odds once
                        gap = (cue_lo - sm[4]) + (om[3] - cue_hi)
                        conf = 1.0 / (1.0 + gap / 10.0)
                        triples.append(
                            dict(
                                doc=doc_id, subjectType="Mention",
                                subjectValue=uuids[sm[0]], relation=rel,
                                objectType="Mention", objectValue=uuids[om[0]],
                                meta=dict(entity_class=None, span=None, begin=None,
                                          end=None, normalized=None, confidence=conf),
                            )
                        )

        # --- fused linking pass (X7): one LINKS_TO per distinct key
        if link_best is not None:
            for key, mid in uuids.items():
                triples.append(
                    dict(
                        doc=doc_id, subjectType="Mention", subjectValue=mid,
                        relation="LINKS_TO", objectType="Entity",
                        objectValue=link_best.get(key), meta=None,
                    )
                )
        return triples


_ANNOTATOR: PatternAnnotator | None = None


def _get_annotator() -> PatternAnnotator:
    global _ANNOTATOR
    if _ANNOTATOR is None:
        _ANNOTATOR = PatternAnnotator()
    return _ANNOTATOR


_EMPTY_BATCH = {
    "doc": pd.Series(dtype="object"),
    "subjectType": pd.Series(dtype="object"),
    "subjectValue": pd.Series(dtype="object"),
    "relation": pd.Series(dtype="object"),
    "objectType": pd.Series(dtype="object"),
    "objectValue": pd.Series(dtype="object"),
    "meta": pd.Series(dtype="object"),
}


def _extract_batches_factory(link_best=None):
    """mapInPandas body: document batches in, triple batches out (X9 fan-out).

    Per-document try/except mirrors the reference's failure isolation
    (ExtractTriples.scala:88,117-119): a failing document contributes 0
    triples and never kills the job. ``link_best`` (plain dict or
    ``sc.broadcast`` handle) enables the fused linking pass.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        annotator = _get_annotator()
        best = _bc_value(link_best)
        for pdf in batches:
            out: list[dict] = []
            for doc_id, contents in zip(pdf["doc_id"], pdf["contents"]):
                try:
                    out.extend(annotator.annotate(doc_id, contents, best))
                except Exception:
                    continue  # quarantine path: counted via observe upstream
            yield pd.DataFrame(out) if out else pd.DataFrame(_EMPTY_BATCH)

    return extract


# default body kept under the historical name (tests import it)
_extract_batches = _extract_batches_factory()


def extract_triples_pattern(
    documents: DataFrame,
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
    alias_dict: DataFrame | None = None,
) -> DataFrame:
    """Pattern-annotator extraction (reference semantics) → TripleRow bag.

    With ``alias_dict``, LINKS_TO rows are emitted inside the SAME
    annotator pass (arg-max-reduced, broadcast) — the single-pass shape:
    the expensive annotator stage must never be computed twice, which is
    exactly what ``extracted.unionByName(link_mentions(extracted, …))``
    does without a persist."""
    docs = apply_sentence_guard(documents, sent_threshold)
    link_best = (
        _broadcast(documents, best_alias_entity(alias_dict))
        if alias_dict is not None
        else None
    )
    return docs.select("doc_id", "contents").mapInPandas(
        _extract_batches_factory(link_best), TRIPLE_SCHEMA
    )


def with_meta_map(triples: DataFrame) -> DataFrame:
    """Reference-shape compatibility view: typed meta struct →
    ``map<string,string>`` exactly as the reference stores it
    (package.scala:11; stringified ints/doubles, SURVEY.md §1.5)."""
    m = F.col("meta")
    entries = [
        ("class", m["entity_class"]),
        ("span", m["span"]),
        ("begin", m["begin"].cast("string")),
        ("end", m["end"].cast("string")),
        ("normalized", m["normalized"]),
        ("confidence", m["confidence"].cast("string")),
    ]
    pairs = F.array(
        *[
            F.when(v.isNotNull(), F.struct(F.lit(k).alias("key"), v.alias("value")))
            for k, v in entries
        ]
    )
    return triples.withColumn(
        "meta_map",
        F.map_from_entries(F.filter(pairs, lambda e: e.isNotNull())),
    )
