"""Driver-contract registry sanity (full oracle equivalence is exercised
by scripts/check_oracles.py, which the driver mirrors at sf0.01)."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_registry_consistency():
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # every query family is represented
    fams = {n.split("_")[0] for n in qs}
    assert {"kg", "rel", "events", "text", "dedup", "sim", "stream", "mm"} <= fams


@pytest.mark.parametrize(
    "name",
    ["kg_mentions", "rel_pricing_summary", "text_token_stats", "dedup_exact",
     "sim_topk_cosine", "events_sessions", "stream_events_hourly"],
)
def test_queries_execute(spark, name):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() > 0


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "doc", "subjectType", "subjectValue", "relation", "objectType",
        "objectValue", "meta",
    ]


def test_kg_cache_keyed_by_application_and_evicts_stale(spark):
    """The document KG lives in the shared session memo (_memo._CACHE):
    keyed on applicationId (id(spark) is reusable after GC), with
    entries of other (stopped) applications dropped on miss."""
    from dstlr_spark.queries import _memo, doc_kg

    sf = "/root/testdata/sf0.001"
    kg1 = doc_kg._kg(spark, sf)
    assert doc_kg._kg(spark, sf) is kg1  # memoized
    app = spark.sparkContext.applicationId
    assert _memo._CACHE[(app, "kg", sf)] is kg1
    # plant a stale entry from a "previous" application: a cache miss
    # for the live app must evict it
    _memo._CACHE[("dead-app", "kg", sf)] = kg1
    doc_kg._kg(spark, sf + "/../sf0.001")  # different key string, same app
    assert ("dead-app", "kg", sf) not in _memo._CACHE
    assert (app, "kg", sf) in _memo._CACHE


def test_memo_staged_memoizes_and_evicts(spark):
    """staged() must hand every same-key caller the one materialized
    frame, and drop entries of other (stopped) applications on first
    touch by a live one."""
    from dstlr_spark.queries import _memo

    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    key = ("memo-test", "frame")
    a = _memo.staged(spark, key, build)
    b = _memo.staged(spark, key, build)
    assert a is b and len(calls) == 1 and a.count() == 3

    dead = ("stopped-app-id", "memo-test", "frame")
    _memo._CACHE[dead] = a
    # eviction happens on the next MISS (a new frame build), not on hits
    _memo.staged(spark, ("memo-test", "other"), lambda: spark.range(1))
    assert dead not in _memo._CACHE and len(calls) == 1
