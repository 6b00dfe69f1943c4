"""Per-layer metrics of a traced session.

Sources: the benchmark-side spans (one per layer call, named after the
layer, with its parent), the counts the session took at layer
boundaries, and the Spark event log summed per job group. Each layer
call ran under ``setJobGroup(<span name>)``.

A layer's time is its spans' self time: span durations minus the part
covered by child spans.
"""

from __future__ import annotations

import math
import statistics

from eventlog import GroupStats, merged, summarize, union_s

MB = 1024 * 1024

#: name → unit, in report order; every traced run reports all of them.
#: Layers a workload bypasses report 0.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.local_dir_peak_mb": "MB",
    "sources.s": "s",
    "sources.rows": "count",
    "sources.bytes_read": "bytes",
    "assembly.s": "s",
    "assembly.shuffle_bytes": "bytes",
    "assembly.task_skew": "ratio",
    "assembly.docs": "count",
    "extract.s": "s",
    "extract.cpu_s": "s",
    "extract.py_start_s": "s",
    "extract.py_init_s": "s",
    "extract.py_run_s": "s",
    "extract.bytes_to_py": "bytes",
    "extract.bytes_from_py": "bytes",
    "extract.docs_dropped": "count",
    "extract.mentions": "count",
    "extract.relations": "count",
    "native_kg.probe_jobs": "count",
    "native_kg.probe_s": "s",
    "native_kg.fill_s": "s",
    "native_kg.cache_bytes": "bytes",
    "linking.s": "s",
    "linking.links": "count",
    "linking.link_ratio": "ratio",
    "enrich.s": "s",
    "enrich.facts": "count",
    "graph.s": "s",
    "graph.jobs": "count",
    "graph.shuffle_bytes": "bytes",
    "graph.spill_bytes": "bytes",
    "graph.bytes_written": "bytes",
    "graph.fk_orphans": "count",
    "ledger.s": "s",
    "ledger.groups": "count",
    "ledger.jobs": "count",
    "ledger.commit_s": "s",
    "canonicalize.s": "s",
    "canonicalize.jobs": "count",
    "canonicalize.components": "count",
    "clean.supporting.s": "s",
    "clean.inconsistent.s": "s",
    "clean.missing.s": "s",
    "clean.supporting_anchored.s": "s",
    "clean.supporting_confident.s": "s",
    "clean.p50_s": "s",
    "clean.p90_s": "s",
    "clean.jobs_per_query": "count",
    "clean.smj": "count",
    "clean.bhj": "count",
    "clean.shuffle_bytes": "bytes",
    "clean.rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span name → summed self time (duration minus child coverage)."""
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for j, c in enumerate(spans)
            if j != i and c["parent"] == s["name"]
            and c["start"] < s["end"] and c["end"] > s["start"]
        ]
        own = (s["end"] - s["start"]) - union_s(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def traced_metrics(res: dict, sampler, untraced_build_s: float, log_dir: str) -> dict:
    groups = summarize(log_dir)
    spans = res["spans"]
    own = self_times(spans)
    info = res["build_info"]
    counts = res["checks"]["counts"]
    docs_path = "native_kg.fill" in own

    def g(name: str) -> GroupStats:
        return groups.get(name) or GroupStats()

    def span_s(prefix: str) -> float:
        return sum(v for k, v in own.items() if k == prefix or k.startswith(prefix + "."))

    m: dict[str, float] = {
        "session.start_s": res["setup_s"],
        "session.peak_rss_mb": sampler.peak_rss / MB,
        "session.local_dir_peak_mb": sampler.peak_dir / MB,
        "sources.s": own.get("sources", 0.0),
        "sources.rows": g("sources").sums["records_read"],
        "sources.bytes_read": g("sources").sums["bytes_read"],
    }

    asm = g("assembly")
    m.update({
        "assembly.s": own.get("assembly", 0.0),
        "assembly.shuffle_bytes": asm.sums["shuffle_write_bytes"],
        "assembly.task_skew": asm.task_skew(),
        "assembly.docs": info.get("docs", 0),
    })

    # the docs path runs its mention scan inside the NativeKG cache fill:
    # its extraction is the fill's stages that ran Python workers
    ext = g("native_kg.fill") if docs_path else g("extract")
    ext_stages = ext.stages_where("bytes_to_py") if docs_path else set(ext.stage_sums)
    m.update({
        "extract.s": ext.stage_wall_s(ext_stages) if docs_path else own.get("extract", 0.0),
        "extract.cpu_s": ext.sum_over("cpu_s", ext_stages),
        "extract.py_start_s": ext.sum_over("py_start_s", ext_stages),
        "extract.py_init_s": ext.sum_over("py_init_s", ext_stages),
        "extract.py_run_s": ext.sum_over("py_run_s", ext_stages),
        "extract.bytes_to_py": ext.sum_over("bytes_to_py", ext_stages),
        "extract.bytes_from_py": ext.sum_over("bytes_from_py", ext_stages),
        "extract.docs_dropped": info.get("docs_dropped", 0),
        "extract.mentions": counts.get("bag.mentions", counts["rows.mentions_edges"]),
        "extract.relations": counts.get("bag.relations", counts["rows.relation_edges"]),
    })

    m.update({
        "native_kg.probe_jobs": len(g("native_kg.probe").jobs),
        "native_kg.probe_s": own.get("native_kg.probe", 0.0),
        "native_kg.fill_s": own.get("native_kg.fill", 0.0),
        "native_kg.cache_bytes": info.get("cache_bytes", 0),
        "linking.s": own.get("linking", 0.0),
        "linking.links": counts["rows.links_to"],
        "linking.link_ratio": counts["rows.links_to"] / max(counts["rows.mention_nodes"], 1),
        "enrich.s": own.get("enrich", 0.0),
        "enrich.facts": info.get("facts", 0),
    })

    gr = merged(groups, lambda n: n.startswith("graph."))
    m.update({
        "graph.s": span_s("graph"),
        "graph.jobs": len(gr.jobs),
        "graph.shuffle_bytes": gr.sums["shuffle_write_bytes"],
        "graph.spill_bytes": gr.sums["spill_bytes"],
        "graph.bytes_written": gr.sums["bytes_written"],
        "graph.fk_orphans": counts["fk_orphans"],
    })

    led = g("ledger")
    m.update({
        "ledger.s": own.get("ledger", 0.0),
        "ledger.groups": info.get("groups", 0),
        "ledger.jobs": len(led.jobs),
        "ledger.commit_s": led.stage_wall_s(led.stages_where("bytes_written")),
        "canonicalize.s": own.get("canonicalize", 0.0),
        "canonicalize.jobs": len(g("canonicalize").jobs),
        "canonicalize.components": counts.get("components", 0),
    })

    cl = merged(groups, lambda n: n.startswith("clean."))
    queries = res["queries"]
    for q in ("supporting", "inconsistent", "missing", "supporting_anchored", "supporting_confident"):
        m[f"clean.{q}.s"] = statistics.median(x["s"] for x in queries if x["query"] == q)
    lat = sorted(q["s"] for q in queries)
    m.update({
        "clean.p50_s": statistics.median(lat),
        "clean.p90_s": lat[math.ceil(0.9 * len(lat)) - 1],  # nearest rank
        # jobs and shuffle bytes per query
        "clean.jobs_per_query": len(cl.jobs) / max(len(queries), 1),
        "clean.shuffle_bytes": cl.sums["shuffle_write_bytes"] / max(len(queries), 1),
        # plan shape and reply size of one round of the five queries
        "clean.smj": sum(q["smj"] for q in queries[:5]),
        "clean.bhj": sum(q["bhj"] for q in queries[:5]),
        "clean.rows": sum(q["rows"] for q in queries[:5]),
    })

    app = g("*")
    window = (res["trace_start"], res["build_end"])
    stage_spans = [
        (max(lo, window[0]), min(hi, window[1]))
        for lo, hi in app.stages.values() if hi > window[0] and lo < window[1]
    ]
    top = [(s["start"], s["end"]) for s in spans if s["parent"] is None and s["end"] <= res["build_end"]]
    m.update({
        "spark.jobs": len(app.jobs),
        "spark.stages": len(app.stages),
        "spark.tasks": app.sums["tasks"],
        "spark.task_run_s": app.sums["run_s"],
        "spark.cpu_s": app.sums["cpu_s"],
        "spark.gc_s": app.sums["gc_s"],
        # build wall time during which no stage ran
        "spark.driver_s": (window[1] - window[0]) - union_s(stage_spans),
        "trace.overhead_s": res["build_s"] - untraced_build_s,
        "trace.span_coverage": union_s(top) / res["build_s"],
    })
    return {k: (float(m[k]), unit) for k, unit in PER_LAYER.items()}
