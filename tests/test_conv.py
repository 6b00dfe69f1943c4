"""Conversation-analytics queries: semantics pins the oracle can't give.

The DuckDB gate proves Spark==SQL; these tests pin the SEMANTICS both
engines share — session boundaries land exactly on the >30-min gaps,
the role rule emits every role, transition counts conserve turns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dstlr_spark.queries.conv import (
    SESSION_GAP_S,
    enrich_turns,
    q_role_transitions,
    q_sessionize,
    q_turn_stats,
)

SF = "/root/testdata/sf0.001"


def _mk_turns(spark, n_turns: int, conv_id: str = "c0"):
    rows = [(conv_id, i, f"tok{i}") for i in range(n_turns)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_enrich_roles_and_sessions_rule(spark):
    e = enrich_turns(_mk_turns(spark, 25)).orderBy("turn_idx").collect()
    # role rule: idx%7==3 → tool, else parity
    assert e[3].role == "tool" and e[3].tool == "search"
    assert e[10].role == "tool" and e[10].tool == "code"
    assert e[0].role == "user" and e[0].tool is None
    assert e[1].role == "assistant"
    # ts rule: 17 s per turn, +1 h jump at each multiple of 10
    assert e[1].ts_s - e[0].ts_s == 17
    assert e[10].ts_s - e[9].ts_s == 17 + 3600
    assert e[20].ts_s - e[19].ts_s == 17 + 3600


def test_sessionize_splits_exactly_on_gap(spark):
    # 25 turns → hour jumps before idx 10 and 20 → exactly 3 sessions.
    # q_sessionize shreds documents from sf_dir, so the gap rule is
    # pinned here on a hand-built turn frame through the same window
    # math the query uses.
    t = enrich_turns(_mk_turns(spark, 25))
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    s = (
        t.select(
            "conv_id",
            "turn_idx",
            F.when(F.col("ts_s") - F.lag("ts_s").over(w) > SESSION_GAP_S, 1)
            .otherwise(0)
            .alias("is_new"),
        )
        .select(
            "conv_id",
            F.sum("is_new")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_idx"),
        )
        .groupBy("conv_id", "session_idx")
        .count()
        .orderBy("session_idx")
        .collect()
    )
    assert [r["count"] for r in s] == [10, 10, 5]


def test_transitions_conserve_turns(spark):
    tr = q_role_transitions(spark, SF)
    total = tr.agg(F.sum("n")).first()[0]
    n_turns = q_turn_stats(spark, SF).agg(F.sum("n_turns")).first()[0]
    assert total == n_turns  # every turn is the target of exactly one edge
    starts = tr.where(F.col("prev_role") == "START").agg(F.sum("n")).first()[0]
    n_convs = q_turn_stats(spark, SF).count()
    assert starts == n_convs  # one START edge per conversation


def test_sessionize_durations_non_negative(spark):
    s = q_sessionize(spark, SF)
    assert s.where(F.col("duration_s") < 0).count() == 0
    assert s.where(F.col("n_turns") <= 0).count() == 0


def test_context_pack_keeps_exact_suffix_and_final_turn(spark):
    from dstlr_spark.queries.conv import context_pack

    # conv A: tokens 10,10,10,10 from the end with budget 25 → the last
    # two turns fit (20), three would be 30 → kept suffix = turns 2,3.
    # conv B: single 40-token turn over budget → ALWAYS kept, flagged
    # truncated=0 (nothing was dropped).
    # conv C: last turn alone is 30 > 25 → kept (target must survive),
    # the earlier turn drops → truncated=1, toks_kept 30 > budget.
    rows = [
        ("A", 0, 10), ("A", 1, 10), ("A", 2, 10), ("A", 3, 10),
        ("B", 0, 40),
        ("C", 0, 5), ("C", 1, 30),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_toks long")
    out = {r.conv_id: r for r in context_pack(t, 25).collect()}
    assert out["A"].n_turns_kept == 2 and out["A"].first_kept_idx == 2
    assert out["A"].toks_kept == 20 and out["A"].truncated == 1
    assert out["B"].n_turns_kept == 1 and out["B"].truncated == 0
    assert out["B"].toks_kept == 40
    assert out["C"].n_turns_kept == 1 and out["C"].first_kept_idx == 1
    assert out["C"].toks_kept == 30 and out["C"].truncated == 1


def test_context_pack_budget_truncates_some_convs_on_corpus(spark):
    from dstlr_spark.queries.conv import q_context_pack

    out = q_context_pack(spark, SF)
    n_trunc = out.where(F.col("truncated") == 1).count()
    n_whole = out.where(F.col("truncated") == 0).count()
    # the 32-token budget must exercise BOTH paths on the sf corpus
    assert n_trunc > 0 and n_whole > 0
    # kept is a suffix: kept turns ∈ [first_kept_idx, last], so kept
    # count == total - first_kept_idx always
    bad = out.where(
        F.col("n_turns_kept") != F.col("n_turns_total") - F.col("first_kept_idx")
    )
    assert bad.count() == 0


def test_assistant_echo_bounds_and_pair_conservation(spark):
    """conv_assistant_echo: Jaccard ppm stays in [0, 10^6] with
    mean ≤ max, and the total pair count equals the SFT extraction's
    (same strict user→assistant adjacency rule)."""
    from dstlr_spark.queries.conv import q_assistant_echo, q_sft_pairs

    rows = q_assistant_echo(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_pairs"] >= 1
        assert 0 <= r["mean_echo_ppm"] <= r["max_echo_ppm"] <= 1_000_000
    total_pairs = sum(r["n_pairs"] for r in rows)
    assert total_pairs == q_sft_pairs(spark, SF).count()


def test_detect_cycles_on_hand_sequences(spark, monkeypatch):
    """Loop-detector spec pins: AAAA → period-1 ×4; ABABAB → period-2
    ×3 (and period-1 never); ABCABCABC → period-3 ×3; a broken run
    (ABAB X ABAB) maxes at 2 repeats per fragment and is filtered by
    the ≥3 threshold; a fresh conversation with <period+1 turns emits
    nothing."""
    from dstlr_spark.queries import conv
    from dstlr_spark.queries.conv import detect_cycles

    def frame(seqs):
        rows = [
            (cid, i, s)
            for cid, seq in seqs.items()
            for i, s in enumerate(seq)
        ]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, sig string"
        )

    t = frame(
        {
            "aaaa": list("AAAA"),
            "abab": list("ABABAB"),
            "abc3": list("ABCABCABC"),
            "broken": list("ABAB") + ["X"] + list("ABAB"),
            "tiny": list("AB"),
        }
    )
    got = {(r.conv_id, r.period): r.repeats for r in detect_cycles(t).collect()}
    assert got == {
        ("aaaa", 1): 4,
        ("abab", 2): 3,
        ("abc3", 3): 3,
        # ABCABCABC also matches period... no: sig_i == sig_{i-1}/{i-2}
        # never holds for distinct A,B,C — only the period-3 row exists
    }
    # sanity on thresholds: broken ABAB|X|ABAB has max period-2 run of
    # length 2 (repeats 2 < 3) on each side of X; tiny has no run
    monkeypatch.setattr(conv, "LOOP_MIN_REPEATS", 2)
    low = {
        (r.conv_id, r.period): r.repeats
        for r in detect_cycles(t).collect()
    }
    assert low[("broken", 2)] == 2
    assert ("tiny", 1) not in low and ("tiny", 2) not in low


def test_trajectory_report_job_tables(spark, tmp_path):
    """jobs/trajectory_report.py: the eleven conversation-layer release
    tables materialize with the same shapes their oracle-gated
    operators produce."""
    import os
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "jobs/trajectory_report.py", "--sf-dir",
         "/root/testdata/sf0.001", "--output", str(tmp_path / "traj")],
        capture_output=True, text=True, cwd="/root/repo",
        env={**os.environ, "PYTHONPATH": "/root/repo"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    for table in ("transitions", "turns", "tools", "sessions", "sft_pairs",
                  "latency", "packing", "echo", "segments", "sequences",
                  "loops"):
        assert f"{table}:" in out.stdout
    pairs = spark.read.parquet(str(tmp_path / "traj/sft_pairs"))
    assert pairs.count() > 0
    assert {"conv_id", "prompt", "response"} <= set(pairs.columns)
    packs = spark.read.parquet(str(tmp_path / "traj/packing"))
    assert packs.count() > 0 and "n_turns_kept" in packs.columns
