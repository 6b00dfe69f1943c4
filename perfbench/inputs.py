"""Seeded input generators. The same seed always writes the same files.

- :func:`write_documents` writes a ``documents.parquet`` shaped like the
  sf0.1 test corpus (``doc_id, text, lang, source, n_chars``): every text is
  a space-separated word stream drawn uniformly from the corpus' 30-word
  vocabulary, which holds every ``DOC_GAZETTEER`` term.
- :func:`write_transcripts` writes ``transcripts.parquet`` from the
  program's own ``generate_transcript_rows`` (Zipf conversation lengths,
  the smoke conversations and the pathological rows).
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

#: the sf0.1 ``documents`` vocabulary (its near-duplicate marker excluded)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_MIN_WORDS, DOC_MAX_WORDS = 8, 100
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

TRANSCRIPT_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def document_texts(seed: int, n_docs: int) -> list[str]:
    rng = random.Random(seed)
    return [
        " ".join(rng.choices(DOC_VOCAB, k=rng.randint(DOC_MIN_WORDS, DOC_MAX_WORDS)))
        for _ in range(n_docs)
    ]


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """Write ``n_docs`` documents to ``path``."""
    texts = document_texts(seed, n_docs)
    rng = random.Random(seed + 1)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_transcripts(path: str, seed: int, n_convs: int) -> list[tuple]:
    """Write the program's seeded transcript corpus; returns its rows."""
    from dstlr_spark.sources.transcripts import generate_transcript_rows

    rows = generate_transcript_rows(seed, n_convs)
    names = TRANSCRIPT_ARROW_SCHEMA.names
    columns = list(zip(*rows))
    table = pa.table(
        {n: pa.array(list(c), TRANSCRIPT_ARROW_SCHEMA.field(n).type) for n, c in zip(names, columns)}
    )
    pq.write_table(table, path)
    return rows
