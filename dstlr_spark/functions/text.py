"""Scalar text functions (SURVEY.md §2.7 C1-C12).

Every function here returns a Column built from pyspark.sql.functions —
JVM-side, whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: POS-tag-punctuation class the reference drops from lemma keys
#: (ExtractTriples.scala:192). We apply it to surface tokens.
PUNCT_RE = r"[.?,:;'\"!]"


# --- C2: lemma fallback -----------------------------------------------------
# The reference keys mention identity on CoreNLP lemmas with a surface-form
# fallback (``if (lemma == null) word else lemma``, ExtractTriples.scala:193).
# No statistical lemmatizer exists in this sandbox; this exception-table +
# suffix-rule lemmatizer recovers the high-frequency coreference cases
# ("companies" ~ "company", "tables" ~ "table") deterministically. The SAME
# spec is implemented three ways — Python (:func:`lemma_token_py`), Spark
# column (:func:`lemma_token`), DuckDB SQL (:func:`lemma_token_sql`) — and
# pinned in lockstep by tests. Rules apply only to all-lowercase tokens so
# proper nouns ("James", "Paris") are never mangled.

LEMMA_IRREGULARS: dict[str, str] = {
    "children": "child", "men": "man", "women": "woman", "mice": "mouse",
    "feet": "foot", "teeth": "tooth", "geese": "goose", "people": "person",
    "does": "do", "goes": "go", "indices": "index", "criteria": "criterion",
}

_IES_RE = r"[a-z]ies$"        # companies → company (len ≥ 6)
_SIBILANT_ES_RE = r"(ch|sh|ss|x|z)es$"  # boxes/classes/churches → strip es
_PLAIN_S_RE = r"[a-z]s$"      # tables → table (len ≥ 4, not ss/us/is)
_S_EXCL_RE = r"(ss|us|is)$"


def lemma_token_py(tok: str) -> str:
    """Python implementation of the C2 lemma rules (one cleaned token)."""
    import re as _re

    if tok != tok.lower():
        return tok
    if tok in LEMMA_IRREGULARS:
        return LEMMA_IRREGULARS[tok]
    if len(tok) >= 6 and _re.search(_IES_RE, tok):
        return tok[:-3] + "y"
    if _re.search(_SIBILANT_ES_RE, tok):
        return tok[:-2]
    if len(tok) >= 4 and _re.search(_PLAIN_S_RE, tok) and not _re.search(_S_EXCL_RE, tok):
        return tok[:-1]
    return tok


def lemma_token(t: Column) -> Column:
    """Spark-column implementation of the C2 lemma rules. Java's ``$``
    also matches before a final line terminator (U+0085, U+2028, …), so
    every rule is anchored at the true end, ``\\z``."""
    irr = F.element_at(
        F.create_map(*[F.lit(x) for kv in LEMMA_IRREGULARS.items() for x in kv]), t
    )

    def rx(pattern: str) -> str:
        return pattern.replace("$", r"\z")

    return (
        F.when(t != F.lower(t), t)
        .when(irr.isNotNull(), irr)
        .when((F.length(t) >= 6) & t.rlike(rx(_IES_RE)), F.regexp_replace(t, rx("ies$"), "y"))
        .when(t.rlike(rx(_SIBILANT_ES_RE)), F.regexp_replace(t, rx("es$"), ""))
        .when(
            (F.length(t) >= 4) & t.rlike(rx(_PLAIN_S_RE)) & ~t.rlike(rx(_S_EXCL_RE)),
            F.regexp_replace(t, rx("s$"), ""),
        )
        .otherwise(t)
    )


def lemma_token_sql(expr: str) -> str:
    """DuckDB-SQL implementation of the C2 lemma rules (oracle twin)."""
    irr_cases = " ".join(
        f"WHEN {expr} = '{k}' THEN '{v}'" for k, v in LEMMA_IRREGULARS.items()
    )
    return f"""(CASE
 WHEN {expr} <> lower({expr}) THEN {expr}
 {irr_cases}
 WHEN length({expr}) >= 6 AND regexp_matches({expr}, '{_IES_RE}')
   THEN regexp_replace({expr}, 'ies$', 'y')
 WHEN regexp_matches({expr}, '{_SIBILANT_ES_RE}')
   THEN regexp_replace({expr}, 'es$', '')
 WHEN length({expr}) >= 4 AND regexp_matches({expr}, '{_PLAIN_S_RE}')
      AND NOT regexp_matches({expr}, '{_S_EXCL_RE}')
   THEN regexp_replace({expr}, 's$', '')
 ELSE {expr} END)"""


def lemma_key(col: Column | str) -> Column:
    """Mention identity key ≈ reference ``toLemmaString``
    (ExtractTriples.scala:190-195): tokens minus pure-punctuation tokens,
    with trailing punctuation stripped, LEMMATIZED (C2 rules above),
    space-joined — a pure function, exactly what X5's content-addressed
    ids need.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, r"\s+")
    cleaned = F.transform(
        toks, lambda t: lemma_token(F.regexp_replace(t, PUNCT_RE, ""))
    )
    nonempty = F.filter(cleaned, lambda t: t != "")
    return F.array_join(nonempty, " ")


def reformat_sparql_date(col: Column | str) -> Column:
    """``yyyy-MM-dd'T'HH:mm:ss'Z'`` → ``yyyy-MM-dd`` (C6,
    EnrichTriples.scala:57-58,67). Non-date values pass through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))
    return F.when(parsed.isNotNull(), F.date_format(parsed, "yyyy-MM-dd")).otherwise(c)


def span_index_label(begin: Column | str, end: Column | str) -> Column:
    """``"begin-end"`` index label (C10, LoadTriples.scala:67)."""
    b = F.col(begin) if isinstance(begin, str) else begin
    e = F.col(end) if isinstance(end, str) else end
    return F.concat_ws("-", b.cast("string"), e.cast("string"))


def utf8_truncate_1024(col: Column | str) -> Column:
    """Cap a string at 1024 UTF-8 **bytes** (C9, LoadTriples.scala:16-17,55-59).

    The reference byte-slices and can split a multi-byte code point; we
    drop the split code point, so the result is always valid UTF-8 and
    equals ``s.encode()[:1024].decode("utf-8", "ignore")`` — a
    documented, deliberate divergence (SURVEY.md C9). The cut is made on
    the bytes: the code point the cut splits starts at a lead byte in
    position 1024, a 3- or 4-byte lead byte in position 1023, or a
    4-byte lead byte in position 1022 (continuation bytes after it).
    Spans that already fit short-circuit in the ``CASE``.
    """
    c = F.col(col) if isinstance(col, str) else col
    b = c.cast("binary")

    def byte(i: int) -> Column:  # one-byte binary; compares unsigned
        return F.substring(b, i, 1)

    split = (
        F.when(byte(1024) >= F.lit(b"\xc0"), 1)
        .when(byte(1024) < F.lit(b"\x80"), 0)
        .when(byte(1023) >= F.lit(b"\xe0"), 2)
        .when(byte(1023) >= F.lit(b"\xc0"), 0)
        .when(byte(1022) >= F.lit(b"\xf0"), 3)
        .otherwise(0)
    )
    return F.when(F.octet_length(c) <= 1024, c).otherwise(
        F.substring(b, F.lit(1), F.lit(1024) - split).cast("string")
    )


def max_sentence_tokens(contents: Column | str) -> Column:
    """Longest-sentence token count for the F3 cost guard
    (ExtractTriples.scala:66): sentences split on terminal punctuation +
    whitespace, tokens on whitespace. Pure column expressions."""
    c = F.col(contents) if isinstance(contents, str) else contents
    sentences = F.split(c, r"(?<=[.?!])\s+")
    counts = F.transform(
        sentences, lambda s: F.size(F.filter(F.split(F.trim(s), r"\s+"), lambda t: t != ""))
    )
    return F.coalesce(F.array_max(counts), F.lit(0))


def url_escape_entity(col: Column | str) -> Column:
    """C7 (EnrichTriples.scala:104): escape ``"`` → ``%22`` and `` ` `` →
    ``%60`` in an entity name when building its Wikipedia-URL key — the
    two characters the reference hand-escapes for its SPARQL lookup.
    Kept for parity with URL-keyed alias dictionaries; our default alias
    dictionary is name-keyed, so the engine itself never needs it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, '"', "%22"), "`", "%60")


def strip_html(col: Column | str) -> Column:
    """S3 sub-semantic (ExtractTriples.scala:151-159, the WaPo JSONL
    source's ``Jsoup.parse(content).text()``): strip markup from a
    sanitized-HTML paragraph, keeping its visible text. Vectorized
    column-expression analog of jsoup's ``.text()``:

      1. BLOCK-level tags (p/div/br/li/h1-6/…) → a single space
         (``<p>a</p><p>b</p>`` must not weld ``ab``; jsoup separates
         block elements), then remaining INLINE tags removed outright
         (``Second <i>para</i>.`` → ``Second para.`` — jsoup adds no
         whitespace at inline boundaries);
      2. the five XML entities + ``&nbsp;``/``&#160;``/``&#39;``
         decoded, ``&amp;`` LAST so ``&amp;lt;`` decodes once to
         ``&lt;`` and never double-unescapes — jsoup's one-pass rule;
      3. whitespace (incl. the decoded NBSPs) collapsed to single
         spaces and trimmed — jsoup normalizes text whitespace.

    The reference ships this path commented out (its own test source is
    plain strings), so an exhaustive HTML5 entity table is deliberately
    out of scope; sanitized_html paragraphs contain only markup-safe
    escapes by construction."""
    c = F.col(col) if isinstance(col, str) else col
    block = (
        r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|table|tr|td|th|blockquote|pre|"
        r"hr|section|article|header|footer|figure|figcaption)\b[^>]*>"
    )
    c = F.regexp_replace(c, block, " ")
    c = F.regexp_replace(c, r"<[^>]*>", "")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&#160;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),  # last — never double-unescape
    ):
        c = F.regexp_replace(c, ent, rep)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def ngrams(toks: Column, k: int, sep: str = " ") -> Column:
    """Space-joined token k-grams of an array Column, O(n·k) per row.

    Built as k-1 ``zip_with`` passes over one-time ``slice`` shifts, so
    every subexpression sits in ARGUMENT position — evaluated once per
    row. This is the load-bearing constraint: an expression referenced
    inside a higher-order-function LAMBDA BODY is re-evaluated per
    element (measured: the round-3 ``transform(sequence(…), i ->
    slice(split(text), i, 2))`` shape re-split the whole text per gram —
    O(n²), 22 s for ONE 16k-token document; this shape is 0.2 s and
    linear). Trailing zip_with null-pads become null grams; the final
    slice trims them. Callers must guard ``size(toks) >= k`` (a
    negative slice length throws) — exactly the guard they already
    need for their own short-doc semantics.
    """
    sz = F.size(toks)
    g = toks
    for j in range(1, k):
        g = F.zip_with(
            g,
            F.slice(toks, j + 1, sz - j),
            lambda a, b: F.concat(a, F.lit(sep), b),
        )
    return F.slice(g, 1, sz - (k - 1)) if k > 1 else g
