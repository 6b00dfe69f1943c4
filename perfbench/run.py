#!/usr/bin/env python3
"""Cold-path KG-construction benchmark.

    python3 perfbench/run.py --workload docs_build --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. Each run makes its inputs from
``--seed`` under ``.perfbench_work/``, starts one fresh Spark process with
the program's shipped session defaults (``SPARK_GRAFT_CPUS`` = the host's
cores is the only program setting), builds the knowledge graph cold,
then lets one closed-loop client send rounds of the five clean queries
against the tables it wrote (one round, and more until ``--seconds``
have passed). Every output is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics of a separate traced session).

A traced run's overhead is its build time minus the median untraced
build time of the earlier runs in this checkout, which each untraced run
records under ``.perfbench_work/``; with none recorded, the traced run
first runs an untraced build of its own. ``perfbench/selftest.py`` holds
the benchmark's self-tests.

Workloads:

- ``docs_build``: word-stream documents shaped like the sf0.1 test corpus,
  built by ``NativeKG`` (native Arrow mention scan, alias linking, graph
  tables); clean queries checked against the registry's DuckDB oracles.
- ``transcripts_build``: the program's seeded transcript corpus through
  the ``jobs/build_kg.py`` composition (ledger, assembly, pattern
  annotator with fused linking, enrichment, graph tables, canonical ids).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from sampler import PeakSampler, session_pids  # noqa: E402

WORKLOADS = ("docs_build", "transcripts_build")
N_DOCS = 3_000
N_CONVS = 5_000
#: every run (both sessions of a traced run) ends within this
RUN_LIMIT_S = 170.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def child_env(work: Path) -> dict[str, str]:
    """The program's defaults plus ``SPARK_GRAFT_CPUS``. The temp,
    Spark-local and JVM temp paths point into the run's work
    directory so the run writes nothing outside the checkout."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(Path.cwd()), env.get("PYTHONPATH", "")) if p
    )
    return env


def run_session(cfg: dict, work: Path, deadline: float) -> tuple[dict, PeakSampler]:
    """Start ``worker.py`` as a fresh process, sample it, wait for it."""
    tag = "traced" if cfg["trace"] else ("build" if cfg.get("build_only") else "plain")
    cfg = dict(cfg, result=str(work / f"result-{tag}.json"))
    cfg_path = work / f"config-{tag}.json"
    local = work / "spark-local"
    for d in (local, work / "tmp", Path(cfg["out"]).parent):
        d.mkdir(parents=True, exist_ok=True)
    log = open(work / f"session-{tag}.log", "wb")
    cfg["t0"] = time.time()
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(cfg_path)],
        cwd=work, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    sampler = PeakSampler(proc.pid, str(local)).start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        kill_session(proc)
        raise RuntimeError(f"{tag} session exceeded the run limit")
    except BaseException:  # interrupted or terminated: take the session down too
        kill_session(proc)
        raise
    finally:
        sampler.stop()
        log.close()
        reap(proc)
    res_path = Path(cfg["result"])
    if not res_path.exists():
        raise RuntimeError(f"{tag} session exited {proc.returncode} without a result")
    res = json.loads(res_path.read_text())
    res["session_s"] = time.time() - cfg["t0"]
    sys.stderr.write("[perfbench] %s session: %s\n" % (tag, {
        k: round(res[k], 2) for k in ("session_s", "setup_s", "build_s", "oracle_s", "checks_s", "stop_s")
        if k in res} | {"query_s": [round(q.get("s", 0), 2) for q in res["queries"]]}))
    if res.get("errors"):
        sys.stderr.write(f"[perfbench] {tag} session errors:\n" + "\n".join(res["errors"]) + "\n")
    return res, sampler


def kill_session(proc: subprocess.Popen) -> None:
    """SIGKILL every process of the session and wait until each has ended."""
    end = time.time() + 30
    while True:
        left = session_pids(proc.pid)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        if not left or time.time() > end:
            return
        time.sleep(0.05)


def reap(proc: subprocess.Popen) -> None:
    """Wait until the session's JVM and Python workers have exited too.
    ``worker.py`` exits first; its JVM, re-parented to init, shuts down
    after it. Both keep the session id, which ``start_new_session`` made
    the worker's pid, so the whole session is waited for."""
    end = time.time() + 10
    while time.time() < end:
        if proc.poll() is not None and not session_pids(proc.pid):
            return
        time.sleep(0.1)
    kill_session(proc)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, work: Path) -> dict:
    from inputs import write_documents, write_transcripts

    inp = work / "input"
    inp.mkdir(parents=True)
    if workload == "docs_build":
        path = str(inp / "documents.parquet")
        write_documents(path, seed, N_DOCS)
        return {"docs_path": path, "docs_in": N_DOCS}
    path = str(inp / "transcripts.parquet")
    rows = write_transcripts(path, seed, N_CONVS)
    docs = {r[0] for r in rows if r[0] and r[3]}  # F1/F2 survivors
    return {"transcripts_path": path, "n_convs": N_CONVS, "docs_in": len(docs)}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def outcome(res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): the build and each query is one
    operation; a build whose output check fails counts as failed."""
    msgs = list(res.get("errors", ()))
    build_failed = not res.get("build_ok")
    checks = res.get("checks")
    if checks is None and not build_failed:
        msgs.append("output checks did not run")
        build_failed = True
    elif checks and checks["failures"]:
        msgs.extend(checks["failures"])
        build_failed = True
    queries = res.get("queries", [])
    bad = [q for q in queries if q.get("error")]
    msgs.extend(q["error"] for q in bad)
    return 1 + len(queries), int(build_failed) + len(bad), msgs


def end_to_end(res: dict, inputs: dict) -> dict:
    c = res["checks"]["counts"]
    triples = sum(
        c[f"rows.{t}"] for t in ("mentions_edges", "relation_edges", "links_to", "fact_edges")
    )
    build = res["build_s"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "build_s": (build, "s"),
        "docs_per_s": (inputs["docs_in"] / build, "docs/s"),
        "triples_per_s": (triples / build, "triples/s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = Path.cwd()
    if not (root / "dstlr_spark" / "__init__.py").is_file():
        sys.stderr.write("perfbench: run from a source checkout (dstlr_spark/ not found)\n")
        return 2
    sys.path.insert(0, str(root))
    state = root / ".perfbench_work"
    work = state / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    # untraced build times of earlier runs in this checkout: the traced
    # run's overhead baseline (without one it runs an untraced build first)
    size = N_DOCS if args.workload == "docs_build" else N_CONVS
    baseline_path = state / f"untraced-build-s-{args.workload}-{size}.json"
    baseline = json.loads(baseline_path.read_text()) if baseline_path.exists() else []
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        inputs = make_inputs(args.workload, args.seed, work)
        cfg = dict(
            inputs, workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=False, out=str(work / "out" / "plain"),
        )
        deadline = started + RUN_LIMIT_S
        if args.trace:
            from layers import traced_metrics

            untraced = statistics.median(baseline) if baseline else None
            if untraced is None:
                base, _ = run_session(
                    dict(cfg, build_only=True, out=str(work / "out" / "build")), work, deadline
                )
                if not base.get("build_ok"):
                    raise RuntimeError("untraced build failed:\n" + "\n".join(base["errors"]))
                untraced = base["build_s"]
            cfg.update(trace=True, out=str(work / "out" / "traced"),
                       eventlog_dir=str(work / "eventlog"))
            (work / "eventlog").mkdir()
            res, sampler = run_session(cfg, work, deadline)
            attempted, failed, msgs = outcome(res)
            metrics = (
                traced_metrics(res, sampler, untraced, cfg["eventlog_dir"])
                if not failed else {}
            )
        else:
            res, _ = run_session(cfg, work, deadline)
            attempted, failed, msgs = outcome(res)
            metrics = end_to_end(res, inputs) if not failed else {}
            if not failed:
                baseline_path.write_text(json.dumps((baseline + [res["build_s"]])[-20:]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in msgs:
        sys.stderr.write(f"[perfbench] FAILED: {m}\n")
    print(
        f"[perfbench] {args.workload} seed={args.seed} trace={args.trace}: "
        f"{attempted} operations, {failed} failed, {time.time() - started:.1f} s",
        flush=True,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
