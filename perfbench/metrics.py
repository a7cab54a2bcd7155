"""Turn one run's raw measurements into the reported metrics.

End-to-end metrics (``--trace 0``) are what a user of the engine sees;
per-layer metrics (``--trace 1``) attribute them to the engine's
modules. Every name here is listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import statistics
from typing import Dict, List, Tuple

import numpy as np

from .gen import SHAPES
from .workloads import Run

# the phase of single-client reads behind query_cpu_ms and query_p50_ms
READ_PHASE = {"serve": "A", "live_ingest": "R"}
# save(timings=) keys -> per-layer names
BUILD_TIMINGS = {
    "ingest_wall_sec": "build.ingest_wall_s",
    "cluster_wall_sec": "build.cluster_wall_s",
    "tail_wall_sec": "build.tail_wall_s",
    "ingest_cpu_sec": "build.ingest_cpu_s",
    "cluster_cpu_sec": "build.cluster_cpu_s",
    "tail_cpu_sec": "build.tail_cpu_s",
    "postings_write_sec": "build.postings_write_s",
    "positions_write_sec": "build.positions_write_s",
    "stats_write_sec": "build.stats_write_s",
    "ordinals_wall_sec": "build.ordinals_wall_s",
    "segments_write_sec": "build.segments_write_s",
}
# span names whose self time is reported as self.<name>_ms (p50)
SELF_SPANS = ("op.build", "build.add_documents", "build.save", "op.setup",
              "op.query", "dsl.search", "search.collect", "op.commit",
              "deltas.save_delta", "op.reopen", "deltas.load",
              "op.compaction", "deltas.compact_tiered")

END_TO_END: List[Tuple[str, str]] = [
    ("setup_s", "s"),
    ("build_cpu_ms_per_turn", "ms"),
    ("index_bytes_per_text_byte", "ratio"),
    ("peak_rss_mb", "MB"),
    ("query_cpu_ms", "ms"),
    ("concurrent_cpu_ms", "ms"),
    ("commit_cpu_ms", "ms"),
]
# wall-clock user metrics; on a host whose CPU steal swings between runs
# they spread too widely to bound, so they are reported per layer
WALL: List[Tuple[str, str]] = [
    ("setup_s", "s"),
    ("build_turns_per_s", "turns/s"),
    ("query_p50_ms", "ms"),
    ("query_p90_ms", "ms"),
    ("throughput_qps", "1/s"),
    ("commit_p50_ms", "ms"),
    ("visible_p50_ms", "ms"),
    ("ingest_turns_per_s", "turns/s"),
]


def _p50(xs: List[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def pct(values: List[float], q: float) -> float:
    """``q``-quantile by linear interpolation (numpy's default)."""
    return float(np.percentile(values, q * 100)) if values else float("nan")


def shape_geomean(queries: List[dict], key: str) -> float:
    """Geometric mean over query shapes of each shape's median ``key``:
    every shape weighs the same whatever its cost, so a run's value does
    not jump with which expensive shapes its few samples hold."""
    by_shape: Dict[str, List[float]] = {}
    for q in queries:
        by_shape.setdefault(q["shape"], []).append(q[key])
    meds = [statistics.median(v) for v in by_shape.values()]
    return statistics.geometric_mean(meds) if meds else float("nan")


def routed_fracs(queries: List[dict]) -> Dict[str, float]:
    """Share of the queries, and of the match_or queries, that ran on
    block-max WAND."""
    mor = [q["routed"] for q in queries if q["shape"] == "match_or"]
    return {"search.routed_frac": (sum(q["routed"] for q in queries)
                                   / max(len(queries), 1)),
            "search.match_or_routed_frac": sum(mor) / max(len(mor), 1)}


def end_to_end(run: Run, workload: str,
               peak_rss_mb: float) -> Dict[str, float]:
    reads = [q for q in run.queries if q["phase"] == READ_PHASE[workload]]
    return {
        "setup_s": run.m["setup_s"],
        "build_cpu_ms_per_turn": run.m["build_cpu_s"] * 1e3 / run.m["turns"],
        "index_bytes_per_text_byte": run.m["index_bytes_per_text_byte"],
        "peak_rss_mb": peak_rss_mb,
        "query_cpu_ms": shape_geomean(reads, "cpu_ms"),
        "concurrent_cpu_ms": run.m["concurrent_cpu_ms"],
        "commit_cpu_ms": _p50([c["cpu_s"] * 1e3 for c in run.commits]),
    }


def wall(run: Run, workload: str) -> Dict[str, float]:
    reads = [q["ms"] for q in run.queries
             if q["phase"] == READ_PHASE[workload]]
    turns = sum(c["turns"] for c in run.commits)
    write_ms = sum(c["commit_ms"] for c in run.commits)
    return {
        "setup_s": run.m["setup_wall_s"],
        "build_turns_per_s": run.m["turns"] / run.m["build_s"],
        "query_p50_ms": pct(reads, 0.5),
        "query_p90_ms": pct(reads, 0.9),
        "throughput_qps": run.m["throughput_qps"],
        "commit_p50_ms": _p50([c["commit_ms"] for c in run.commits]),
        "visible_p50_ms": _p50([c["visible_ms"] for c in run.commits]),
        "ingest_turns_per_s": turns / write_ms * 1e3,
    }


PER_LAYER: List[Tuple[str, str]] = (
    [("analysis.turns_per_s", "turns/s")]
    + [(v, "s") for v in BUILD_TIMINGS.values()]
    + [("bytes.%s_per_text_byte" % t, "ratio")
       for t in ("postings", "positions", "segments", "ordinals", "stats")]
    + [("deltas.save_delta_ms", "ms"), ("deltas.load_ms_first_gen", "ms"),
       ("deltas.load_ms_last_gen", "ms"), ("deltas.compact_tiered_ms", "ms"),
       ("deltas.generations_max", "count"),
       ("deltas.bytes_written_per_commit", "bytes")]
    + [("dsl.plan_ms", "ms"), ("search.exec_ms", "ms")]
    + [("search.%s_ms" % s, "ms") for s in SHAPES]
    + [("search.cold_term_p50_ms", "ms"), ("search.warm_term_p50_ms", "ms"),
       ("search.cold_term_frac", "fraction"),
       ("search.routed_frac", "fraction"),
       ("search.match_or_routed_frac", "fraction")]
    + [("spark.jobs_per_query", "count"), ("spark.stages_per_query", "count"),
       ("spark.tasks_per_query", "count"), ("spark.jobs_per_commit", "count")]
    + [("host.busy_frac", "fraction"), ("host.steal_frac", "fraction")]
    + [("self.%s_ms" % n, "ms") for n in SELF_SPANS]
    + [("referee.oracle_bm25_rate", "fraction"),
       ("referee.oracle_elasticlunr_rate", "fraction"),
       ("referee.error_rate", "fraction"),
       ("referee.query_samples", "count"),
       ("referee.routed_checked", "count")]
    + [("wall.%s" % n, u) for n, u in WALL]
    + [("traced.%s" % n, u) for n, u in END_TO_END]
)


def per_layer(run: Run, workload: str, e2e: Dict[str, float],
              oracle: Dict[str, float]) -> Dict[str, float]:
    tr = run.tracer
    out: Dict[str, float] = {"analysis.turns_per_s":
                             run.m["analysis_turns_per_s"]}
    timings = run.m["build_timings"]
    for k, name in BUILD_TIMINGS.items():
        out[name] = timings[k]
    for fam, b in run.m["table_bytes"].items():
        out["bytes.%s_per_text_byte" % fam] = b / run.m["text_bytes"]
    loads = run.loads
    lo = min(ld["gens"] for ld in loads)
    hi = max(ld["gens"] for ld in loads)
    out.update({
        "deltas.save_delta_ms": _p50(tr.durations("deltas.save_delta")),
        "deltas.load_ms_first_gen": _p50([ld["ms"] for ld in loads
                                          if ld["gens"] == lo]),
        "deltas.load_ms_last_gen": _p50([ld["ms"] for ld in loads
                                         if ld["gens"] == hi]),
        "deltas.compact_tiered_ms": _p50(run.compactions),
        "deltas.generations_max": hi,
        "deltas.bytes_written_per_commit": _p50(run.delta_bytes),
        "dsl.plan_ms": _p50(tr.durations("dsl.search")),
        "search.exec_ms": _p50(tr.durations("search.collect")),
    })
    reads = [q for q in run.queries if q["phase"] != "warm"]
    for s in SHAPES:
        out["search.%s_ms" % s] = _p50([q["ms"] for q in reads
                                        if q["shape"] == s])
    cold = [q["ms"] for q in reads if q["cold"]]
    warm = [q["ms"] for q in reads if not q["cold"]]
    out["search.cold_term_p50_ms"] = _p50(cold)
    out["search.warm_term_p50_ms"] = _p50(warm)
    out["search.cold_term_frac"] = len(cold) / max(len(reads), 1)
    out.update(routed_fracs(reads))
    q = tr.spark_per_op("op.query")
    c = tr.spark_per_op("op.commit")
    out.update({"spark.jobs_per_query": q.get("jobs", 0.0),
                "spark.stages_per_query": q.get("stages", 0.0),
                "spark.tasks_per_query": q.get("tasks", 0.0),
                "spark.jobs_per_commit": c.get("jobs", 0.0)})
    out["host.busy_frac"] = run.host.busy_s / run.host.total_s
    out["host.steal_frac"] = run.host.steal_s / run.host.total_s
    selfs = tr.self_times()
    for n in SELF_SPANS:
        out["self.%s_ms" % n] = _p50(selfs.get(n, []))
    out["referee.oracle_bm25_rate"] = oracle["bm25"]
    out["referee.oracle_elasticlunr_rate"] = oracle["elasticlunr"]
    out["referee.error_rate"] = run.failed / max(run.attempted, 1)
    out["referee.query_samples"] = len(reads)
    out["referee.routed_checked"] = run.m["referee_routed"]
    for n, v in wall(run, workload).items():
        out["wall.%s" % n] = v
    for n, _u in END_TO_END:
        out["traced.%s" % n] = e2e[n]
    return out
