#!/usr/bin/env python3
"""Self-tests of the benchmark, at smoke size.

    python3 perfbench/selftest.py

Run from the root of a source checkout. The tests:

- parse a tiny recorded event log and check the per-group sums;
- show that each output check is live: it passes on a correct output
  and fails once that output is corrupted (docs graph tables, the
  transcripts bag, a clean-query reply);
- run each workload end to end at smoke size, untraced and traced.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(Path.cwd()))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
from eventlog import summarize  # noqa: E402
from golden import GROUND_TRUTH_FACTS  # noqa: E402
from inputs import write_documents, write_transcripts  # noqa: E402

META = pa.struct([
    ("entity_class", pa.string()), ("span", pa.string()), ("begin", pa.int32()),
    ("end", pa.int32()), ("normalized", pa.string()), ("confidence", pa.float64()),
])
TRIPLES = pa.schema([
    ("doc", pa.string()), ("subjectType", pa.string()), ("subjectValue", pa.string()),
    ("relation", pa.string()), ("objectType", pa.string()), ("objectValue", pa.string()),
    ("meta", META),
])


def test_eventlog() -> None:
    groups = summarize(str(HERE / "testdata"))
    ext, app = groups["extract"], groups["*"]
    assert len(ext.jobs) == 2 and len(app.jobs) == 4, (ext.jobs, app.jobs)
    assert ext.sums["tasks"] == 3 and app.sums["tasks"] == 6
    assert ext.sums["records_read"] == 1000
    assert ext.sums["bytes_to_py"] == 8608 and ext.sums["bytes_from_py"] == 16448
    # Python worker times are millisecond SQL metrics: 1754 + 1766 ms
    assert abs(ext.sums["py_start_s"] - 3.52) < 1e-9, ext.sums["py_start_s"]
    assert ext.stages_where("bytes_to_py") and groups[""].sums["bytes_to_py"] == 0
    assert 0 < ext.stage_wall_s() <= app.stage_wall_s()


def _copy(con, sql: str, path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def test_docs_checks_are_live(tmp: Path) -> None:
    docs = str(tmp / "documents.parquet")
    write_documents(docs, 7, 200)
    con = checks.connect()
    oracles = checks.DocOracles(con, docs)
    g = tmp / "graph"
    _copy(con, 'SELECT doc AS doc_id, mention_id, begin_ofs AS "begin", end_ofs AS "end" '
          f"FROM ({oracles.sql('kg_mentions')})", g / "mentions_edges")
    rels = ("SELECT doc AS doc_id, subject_mention_id, relation AS type, confidence, "
            f"object_mention_id FROM ({oracles.sql('kg_relations')})")
    _copy(con, rels, g / "relation_edges")
    _copy(con, "SELECT DISTINCT mention_id, entity_id FROM "
          f"({oracles.sql('kg_links')}) WHERE entity_id IS NOT NULL", g / "links_to")
    failures, counts = checks.check_docs_graph(con, oracles, str(g))
    assert failures == [] and counts["relations"] > 0, failures
    # corrupt: one relation's confidence changes
    shutil.rmtree(g / "relation_edges")
    _copy(con, f"SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN confidence / 2 "
          f"ELSE confidence END AS confidence) FROM ({rels})", g / "relation_edges")
    failures, _ = checks.check_docs_graph(con, oracles, str(g))
    assert len(failures) == 1 and "relation_edges" in failures[0], failures
    con.close()


def test_clean_check_is_live(tmp: Path) -> None:
    docs = str(tmp / "documents.parquet")
    write_documents(docs, 8, 200)
    oracle = checks.Oracle(
        {"workload": "docs_build", "docs_path": docs}, str(tmp), ("supporting", "missing")
    )
    reply = oracle.con.execute("FROM want_missing").arrow()
    assert reply.num_rows > 1 and oracle.clean_diff("missing", reply) is None
    assert "missing" in oracle.clean_diff("missing", reply.slice(1))
    assert oracle.clean_diff("supporting", reply) is not None
    oracle.close()


class _AliasRows:
    """Stands in for the alias DataFrame ``best_alias_entity`` collects."""

    def collect(self):
        from dstlr_spark.sources.fixtures import ALIAS_ROWS

        return [dict(alias=a, entity_id=e, prior=p) for a, e, p in ALIAS_ROWS]


def _write_bag(out: Path, triples: list[dict]) -> None:
    d = out / "triples" / "bucket=0"
    shutil.rmtree(out / "triples", ignore_errors=True)
    d.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(triples, schema=TRIPLES), d / "part-0.parquet")


def test_transcripts_checks_are_live(tmp: Path) -> None:
    from dstlr_spark.operators.extract import PatternAnnotator, best_alias_entity

    path = str(tmp / "transcripts.parquet")
    rows = write_transcripts(path, 5, 20)
    best = best_alias_entity(_AliasRows())
    convs: dict[str, list] = {}
    for conv, idx, _, text, _, _ in rows:
        if conv and text:
            convs.setdefault(conv, []).append((idx, text))
    ann = PatternAnnotator()
    bag = []
    for conv, turns in convs.items():
        text = " ".join(t for _, t in sorted(turns))
        if checks._max_sentence_tokens(text) <= 128:
            bag.extend(ann.annotate(conv, text, best))
    out, g = tmp / "out", tmp / "out" / "graph"
    _write_bag(out, bag)
    for name, table in {
        "fact_edges": pa.Table.from_pylist(
            [dict(entity_id=e, relation=r, value=v) for e, r, v in GROUND_TRUTH_FACTS]
        ),
        "canonical_ids": pa.table({"mention_id": ["m"], "canonical_id": ["m"]}),
    }.items():
        (g / name).mkdir(parents=True)
        pq.write_table(table, g / name / "part-0.parquet")
    cfg = {"out": str(out), "seed": 5, "n_convs": 20, "transcripts_path": path}
    con = checks.connect()
    failures, counts = checks.check_transcripts(con, cfg, str(g), best)
    assert failures == [] and counts["sample_triples"] > 0, failures
    # corrupt: lose one golden smoke triple
    lost = next(i for i, t in enumerate(bag) if t["doc"] == "smoke-1")
    _write_bag(out, bag[:lost] + bag[lost + 1:])
    failures, _ = checks.check_transcripts(con, cfg, str(g), best)
    assert any("smoke triples" in f for f in failures), failures
    # corrupt: shift one sampled mention's offsets
    sampled = next(
        i for i, t in enumerate(bag)
        if t["doc"].startswith("conv-") and t["relation"] == "MENTIONS"
    )
    bad = [dict(t) for t in bag]
    bad[sampled]["meta"] = dict(bad[sampled]["meta"], begin=bad[sampled]["meta"]["begin"] + 1)
    _write_bag(out, bad)
    failures, _ = checks.check_transcripts(con, cfg, str(g), best)
    assert any("PatternAnnotator" in f for f in failures), failures
    con.close()


SMOKE = {"docs_build": ("N_DOCS", 300), "transcripts_build": ("N_CONVS", 30)}


def test_end_to_end() -> None:
    """Each workload at smoke size, untraced then traced, in fresh processes."""
    for workload, (const, n) in SMOKE.items():
        for trace in ("0", "1"):
            code = (
                "import sys, run; "
                f"run.{const} = {n}; "
                f"sys.exit(run.main(['--workload', '{workload}', '--seed', '3', "
                f"'--seconds', '1', '--trace', '{trace}']))"
            )
            p = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True,
                env={**os.environ, "PYTHONPATH": str(HERE)}, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-3000:]
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert result["correct"] and result["failed"] == 0, result
            want = 63 if trace == "1" else 4
            assert len(result["metrics"]) == want, sorted(result["metrics"])
            print(f"  {workload} trace={trace}: {result['attempted']} operations ok")


def main() -> int:
    tests = [
        ("eventlog parser", test_eventlog, False),
        ("docs graph checks are live", test_docs_checks_are_live, True),
        ("clean reply check is live", test_clean_check_is_live, True),
        ("transcripts checks are live", test_transcripts_checks_are_live, True),
        ("end to end at smoke size", test_end_to_end, False),
    ]
    for name, fn, needs_tmp in tests:
        if needs_tmp:
            with tempfile.TemporaryDirectory(dir=Path.cwd() / ".perfbench_work") as tmp:
                fn(Path(tmp))
        else:
            fn()
        print(f"ok: {name}", flush=True)
    return 0


if __name__ == "__main__":
    (Path.cwd() / ".perfbench_work").mkdir(exist_ok=True)
    sys.exit(main())
