"""Explicit schemas — never inferred (SURVEY.md §1.5).

The universal triple row is a typed upgrade of the reference's
``TripleRow`` (package.scala:11): the opaque ``Map[String,String]`` meta
bag becomes a typed struct so Catalyst can prune/filter it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input: multi-turn transcripts (BASELINE.json input_hint) -------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# --- assembled document (reference DocumentRow, package.scala:8) ----------
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("contents", T.StringType(), True),
    ]
)

# --- universal triple row (reference package.scala:11, typed meta) --------
META_SCHEMA = T.StructType(
    [
        T.StructField("entity_class", T.StringType(), True),
        T.StructField("span", T.StringType(), True),
        T.StructField("begin", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("normalized", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.StringType(), True),
        T.StructField("subjectType", T.StringType(), True),
        T.StructField("subjectValue", T.StringType(), True),
        T.StructField("relation", T.StringType(), True),
        T.StructField("objectType", T.StringType(), True),
        T.StructField("objectValue", T.StringType(), True),
        T.StructField("meta", META_SCHEMA, True),
    ]
)

# --- dimension tables (FIXTURES.md §2-4) ----------------------------------
ALIAS_DICT_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("prior", T.DoubleType(), False),
    ]
)

PROPERTY_RELATION_SCHEMA = T.StructType(
    [
        T.StructField("property", T.StringType(), True),
        T.StructField("relation", T.StringType(), False),
    ]
)

FACTS_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("property", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)
