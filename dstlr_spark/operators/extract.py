"""Triple extraction: documents → TripleRow bag (SURVEY.md §2.3 X1-X10).

The reference's heart is one ``mapPartitions → map → flatMap`` over a
per-JVM CoreNLP pipeline (ExtractTriples.scala:67-134). We split the
concern in two:

1. :func:`extract_mentions_native` — token-level gazetteer extraction:
   an Arrow-batched ``mapInPandas`` mention scan (tokenize with offsets
   and gazetteer membership inside the worker, no token shuffle).
   :func:`mention_triples` and :func:`relation_triples` turn the mention
   frame into MENTIONS rows and windowed co-occurrence relations (a
   DataFrame self-join), as ``NativeKG`` composes them.
   :func:`extract_bag_fused` emits mentions, relations and links from
   one Arrow stage instead; both are oracle-checked against DuckDB.

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
- every mention occurrence emits a MENTIONS row; every link is resolved
  inside the scan or annotator itself against one arg-max dictionary
  (:func:`best_alias_entity`): the mention scan tags each row with its
  ``entity_id`` when given aliases (``NativeKG``), the fused bag and
  ``extract_triples_pattern``'s ``alias_dict`` parameter emit LINKS_TO
  rows, so the expensive annotator stage never runs twice. The modular
  broadcast-join operator (``operators.linking``) is the reference the
  tests compare them against.

All three ``mapInPandas`` bodies share one kernel: one tokenizer
(:func:`_gazetteer_hits`), one mention id (:func:`_stable_id_py`, via
:func:`_mention_ids`) and one columnar triple emitter (:class:`_Triples`).
"""

from __future__ import annotations

import hashlib
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
# Shared kernel: tokenizer, mention id, triple emitter (all three bodies)
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


def _gazetteer_hits(contents: str, gaz, key_of) -> list[tuple[int, str, int, int]]:
    """Split ``contents`` on single spaces, tracking char offsets, and
    return ``(pos, key, begin, end)`` for every token whose
    punctuation-stripped, LEMMATIZED (C2) key is a gazetteer term."""
    hits = []
    off = 0
    for i, t in enumerate(contents.split(" ")):
        k = key_of(t)
        n = len(t)
        if k in gaz:
            hits.append((i, k, off, off + n))
        off += n + 1
    return hits


def _stable_id_py(doc: str, key: str) -> str:
    """Deterministic per-document mention id (SURVEY.md X5/C11):
    ``md5(doc ‖ 0x1f ‖ lemma_key)`` replaces the reference's
    ``UUID.randomUUID()``, so ids survive retries and resume. md5, not
    sha1, because the DuckDB oracles must reproduce it and DuckDB has no
    sha1."""
    return hashlib.md5(f"{doc}\x1f{key}".encode()).hexdigest()


def _mention_ids(doc: str, keys) -> dict[str, str]:
    """One stable id per distinct lemma key of a document (X5), in
    first-occurrence order; hashes once per key, not per occurrence."""
    return {k: _stable_id_py(doc, k) for k in dict.fromkeys(keys)}


def _frame(columns: dict[str, list]) -> pd.DataFrame:
    """Lists-of-columns → batch frame. ``object`` dtype throughout: a
    frame of empty lists would otherwise be float64, which Arrow rejects
    for struct and string columns."""
    return pd.DataFrame(columns, dtype=object)


class _Triples:
    """Columnar TripleRow accumulator — the one Python spelling of the
    MENTIONS, relation and LINKS_TO row shapes.

    Building per-row dicts dominates the worker profile;
    lists-of-columns convert to Arrow an order of magnitude cheaper.
    Each column keeps one bound ``append``. ``truncate`` rolls a failed
    document back to the ``size`` mark taken before it."""

    __slots__ = ("_cols", "_doc", "_st", "_sv", "_rel", "_ot", "_ov", "_meta")

    def __init__(self) -> None:
        self._cols = tuple([] for _ in TRIPLE_SCHEMA.names)
        (self._doc, self._st, self._sv, self._rel, self._ot, self._ov,
         self._meta) = (c.append for c in self._cols)

    def mention(self, doc, mid, cls, span, begin, end, normalized=None) -> None:
        self._doc(doc)
        self._st("Document")
        self._sv(doc)
        self._rel("MENTIONS")
        self._ot("Mention")
        self._ov(mid)
        self._meta({"entity_class": cls, "span": span, "begin": begin, "end": end,
                    "normalized": normalized, "confidence": None})

    def relation(self, doc, subj, rel, obj, confidence) -> None:
        self._doc(doc)
        self._st("Mention")
        self._sv(subj)
        self._rel(rel)
        self._ot("Mention")
        self._ov(obj)
        self._meta({"entity_class": None, "span": None, "begin": None, "end": None,
                    "normalized": None, "confidence": confidence})

    def links(self, doc, ids: dict[str, str], best: dict[str, str]) -> None:
        """One LINKS_TO per distinct key; null entity when unresolvable."""
        for k, mid in ids.items():
            self._doc(doc)
            self._st("Mention")
            self._sv(mid)
            self._rel("LINKS_TO")
            self._ot("Entity")
            self._ov(best.get(k))
            self._meta(None)

    def size(self) -> int:
        return len(self._cols[0])

    def truncate(self, n: int) -> None:
        for c in self._cols:
            del c[n:]

    def rows(self) -> list[dict]:
        return [dict(zip(TRIPLE_SCHEMA.names, r)) for r in zip(*self._cols)]

    def frame(self) -> pd.DataFrame:
        return _frame(dict(zip(TRIPLE_SCHEMA.names, self._cols)))


# --------------------------------------------------------------------------
# Native mode: token gazetteer, Arrow mention scan
# --------------------------------------------------------------------------

_MENTION_DDL = (
    "doc_id string, mention_id string, entity_class string, span string, "
    "begin int, end int, pos int, key string, entity_id string"
)
_MENTION_COLUMNS = [f.split()[0] for f in _MENTION_DDL.split(", ")]


def _mention_scan_batches(gaz: dict[str, str], best_entity: dict[str, str]):
    """Build the mapInPandas body for the Arrow mention scanner.

    Per Arrow batch of (doc_id, contents): tokenize with offsets and keep
    only gazetteer hits (:func:`_gazetteer_hits`), emitting the mention
    frame directly. The token stream never leaves the worker — no
    shuffle, no 20x exchange. Each row also carries its resolved
    ``entity_id`` from ``best_entity`` (alias key → arg-max entity id,
    :func:`best_alias_entity`; null when unresolvable), the same
    ``best_entity.get(key)`` the fused bag's LINKS_TO rows use.

    Both dictionaries may be plain dicts (tests) or ``sc.broadcast``
    handles (production path): a 10^7-entry dictionary captured in the
    closure would be re-serialized into EVERY task binary, while a
    broadcast ships once per executor (see :func:`_bc_value`).
    """
    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_d = _bc_value(gaz)
        best_d = _bc_value(best_entity)
        key_of = _token_key_fn()
        for pdf in batches:
            cols = {n: [] for n in _MENTION_COLUMNS}
            doc, mid, cls, span, begin, end, pos, key, ent = (
                cols[n].append for n in _MENTION_COLUMNS
            )
            for doc_id, contents in zip(pdf["doc_id"], pdf["contents"]):
                if contents is None:
                    continue
                hits = _gazetteer_hits(contents, gaz_d, key_of)
                ids = _mention_ids(doc_id, [h[1] for h in hits])
                for p, k, b, e in hits:
                    doc(doc_id)
                    mid(ids[k])
                    cls(gaz_d[k])
                    span(k)
                    begin(b)
                    end(e)
                    pos(p)
                    key(k)
                    ent(best_d.get(k))
            yield _frame(cols)

    return scan


def extract_mentions_native(
    documents: DataFrame, gazetteer: DataFrame, aliases: DataFrame
) -> DataFrame:
    """Token-level mention detection (X3).

    Returns (doc_id, mention_id, entity_class, span, begin, end, pos,
    key, entity_id): ``entity_id`` is each mention's link (X7), resolved
    inside the scan against the alias dictionary reduced by
    :func:`best_alias_entity` — the reference's in-annotator
    ``mention.entity()`` (ExtractTriples.scala:105,216-218).

    Arrow-batched mapInPandas scanner: tokenize + offsets + gazetteer
    membership entirely inside the worker, emitting only mention rows.
    No shuffle. The DuckDB oracles check its output independently.
    """
    gaz = _broadcast(
        documents, {r["term"]: r["entity_class"] for r in gazetteer.collect()}
    )
    best = _broadcast(documents, best_alias_entity(aliases))
    return documents.select("doc_id", "contents").mapInPandas(
        _mention_scan_batches(gaz, best), _MENTION_DDL
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

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_d, best_d = _bc_value(gaz), _bc_value(best_entity)
        key_of = _token_key_fn()
        for pdf in batches:
            out = _Triples()
            for doc_id, contents in zip(pdf["doc_id"], pdf["contents"]):
                if contents is None:
                    continue
                hits = _gazetteer_hits(contents, gaz_d, key_of)
                if not hits:
                    continue
                ids = _mention_ids(doc_id, [h[1] for h in hits])
                # MENTIONS rows (one per occurrence, shared per-key id)
                for _, k, b, e in hits:
                    out.mention(doc_id, ids[k], gaz_d[k], k, b, e)
                # windowed co-occurrence relations (positions ascending)
                for a in range(len(hits)):
                    p0, k0 = hits[a][0], hits[a][1]
                    for j in range(a + 1, len(hits)):
                        p1, k1 = hits[j][0], hits[j][1]
                        d = p1 - p0
                        if d > window:
                            break
                        if k0 == k1:
                            continue
                        out.relation(doc_id, ids[k0], f"COOCCURS_{gaz_d[k0]}_{gaz_d[k1]}",
                                     ids[k1], 1.0 / (1.0 + d))
                out.links(doc_id, ids, best_d)
            yield out.frame()

    return scan


def best_alias_entity(alias_dict: DataFrame) -> dict[str, str]:
    """Reduce the alias dimension to its deterministic arg-max
    (max prior, ties → smallest entity_id) — driver-side, broadcastable.
    Keys are the alias's single-space tokens, each LEMMA-normalized (C2)
    like the mention keys they are probed with, so inflected dictionary
    entries are not silently dead. The DuckDB ``kg_links`` oracle keys
    its alias side the same way. One dictionary serves every linking
    path: the mention scan (``NativeKG``), the fused bag and the
    pattern annotator."""
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


#: Java's ``\s`` (what Spark's ``split(c, "\\s+")`` splits on); Python's
#: Unicode ``\s`` would also split on e.g. U+00A0, U+001C and U+0085
_JAVA_SPACE_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _lemma_key_py(text: str) -> str:
    """Python twin of functions.text.lemma_key (kept in lockstep by tests)."""
    toks = [lemma_token_py(re.sub(PUNCT_RE, "", t)) for t in _JAVA_SPACE_RE.split(text)]
    return " ".join(t for t in toks if t)


class PatternAnnotator:
    """Deterministic stand-in for the reference's CoreNLP pipeline (X1).

    Instantiated lazily once per Python worker (module-global singleton
    — the analog of the reference's ``@transient lazy val`` per-JVM
    pipeline, ExtractTriples.scala:21-28). A production deployment
    replaces ``emit`` with a model-backed implementation; everything
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
        """One document → list of TripleRow dicts (X2-X9); see :meth:`emit`."""
        out = _Triples()
        self.emit(out, doc_id, contents, link_best)
        return out.rows()

    def emit(
        self, out: _Triples, doc_id: str, contents: str,
        link_best: dict[str, str] | None = None,
    ) -> None:
        """One document → its TripleRows, appended to ``out`` (X2-X9).

        With ``link_best`` (alias → arg-max entity id), one LINKS_TO row
        per distinct mention key is emitted in the SAME pass — the fused
        shape of ExtractTriples.scala:216-218, so the annotator (model
        inference in production) never runs twice per document. Parity
        with the modular ``link_mentions`` operator is pinned by tests
        (valid because the link score depends only on the surface form,
        and linkable gazetteer spans are punctuation-free, so span ≡
        lemma key for every resolvable mention)."""
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

        uuids = _mention_ids(doc_id, [m[0] for m in mentions])  # key → id (X5)
        for key, cls, span, begin, end, normalized in mentions:
            out.mention(doc_id, uuids[key], cls, span, begin, end, normalized)

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
                        out.relation(doc_id, uuids[sm[0]], rel, uuids[om[0]], conf)

        # --- fused linking pass (X7): one LINKS_TO per distinct key
        if link_best is not None:
            out.links(doc_id, uuids, link_best)


_ANNOTATOR: PatternAnnotator | None = None


def _get_annotator() -> PatternAnnotator:
    global _ANNOTATOR
    if _ANNOTATOR is None:
        _ANNOTATOR = PatternAnnotator()
    return _ANNOTATOR


def _extract_batches_factory(link_best=None):
    """mapInPandas body: document batches in, triple batches out (X9 fan-out).

    Per-document try/except mirrors the reference's failure isolation
    (ExtractTriples.scala:88,117-119): a failing document contributes 0
    triples (its partial output is truncated away) and never kills the
    job. ``link_best`` (plain dict or ``sc.broadcast`` handle) enables
    the fused linking pass.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        annotator = _get_annotator()
        best = _bc_value(link_best)
        for pdf in batches:
            out = _Triples()
            for doc_id, contents in zip(pdf["doc_id"], pdf["contents"]):
                mark = out.size()
                try:
                    annotator.emit(out, doc_id, contents, best)
                except Exception:
                    # quarantine path (counted via observe upstream): drop
                    # whatever the failing document had already emitted
                    out.truncate(mark)
            yield out.frame()

    return extract


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
