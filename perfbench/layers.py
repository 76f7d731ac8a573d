"""Per-layer metrics of a traced run, named after the engine's modules.

Each metric is a median over the run's operations of one kind (a timed
single query, a search_many batch, an update round ...) unless its
docstring line below says otherwise. Spans come from ``tracing.Tracer``,
job/stage/task counts from ``statusTracker()``, task metrics from the
event log.
"""

from __future__ import annotations

import statistics

from tracing import covered_ms

CORES = 4

UNITS = {
    "session.start_ms": "ms",
    "catalog.write_ms": "ms",
    "catalog.commits": "count",
    "catalog.bytes_written": "bytes",
    "build.documents_ms": "ms",
    "build.stats_ms": "ms",
    "build.postings_ms": "ms",
    "build.term_stats_ms": "ms",
    "build.task_ms": "ms",
    "build.cpu_util": "ratio",
    "build.shuffle_bytes_per_turn": "bytes",
    "build.spill_bytes": "bytes",
    "update.ms": "ms",
    "update.jobs": "count",
    "update.catalog_write_ms": "ms",
    "update.segments_live": "count",
    "plan.ms": "ms",
    "plan.jobs": "count",
    "plan.cache_hit_frac": "fraction",
    "route.exact_frac": "fraction",
    "route.wand_frac": "fraction",
    "exact.build_ms": "ms",
    "exact.exec_ms": "ms",
    "exact.jobs": "count",
    "exact.stages": "count",
    "exact.tasks": "count",
    "exact.postings_per_query": "count",
    "exact.scan_bytes": "bytes",
    "exact.shuffle_bytes": "bytes",
    "exact.task_ms": "ms",
    "wand.ms": "ms",
    "wand.jobs": "count",
    "wand.task_ms": "ms",
    "wand.groups_surviving_frac": "fraction",
    "batch.build_ms": "ms",
    "batch.exec_ms": "ms",
    "batch.jobs": "count",
    "batch.heavy_frac": "fraction",
    "batch.shuffle_bytes": "bytes",
    "floor.ms": "ms",
    "exec.gap_ms": "ms",
    "overhead.query_cpu_ms": "ms",
    "overhead.batch_cpu_ms_per_query": "ms",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(bench, events: dict) -> dict[str, float]:
    tr = bench.tracer
    ev = lambda op: events.get(op.id, {})  # noqa: E731
    ops = {}
    for op in tr.ops:
        ops.setdefault(op.kind, []).append(op)

    def one(op, name):
        spans = tr.spans_of(op, name)
        return spans[0] if spans else None

    def writes(op):
        return tr.spans_of(op, "catalog.write_table") + tr.spans_of(op, "catalog.commit_data_dirs")

    out: dict[str, float] = {"session.start_ms": bench.session_s * 1000.0}

    # catalog: per write_table call, and per writing operation
    write_ops = ops.get("build", []) + ops.get("update", [])
    out["catalog.write_ms"] = _median(s.ms for op in write_ops for s in writes(op))
    out["catalog.commits"] = _median(len(writes(op)) for op in write_ops)
    out["catalog.bytes_written"] = _median(
        sum(s.attrs.get("bytes", 0) for s in writes(op)) for op in write_ops
    )

    # index build: phases as the catalog writes that close them, median
    # over the run's builds
    def build_phases(build):
        by_table = {s.attrs.get("table"): s for s in tr.spans_of(build, "catalog.write_table")}
        docs, post, stats = by_table["documents"], by_table["postings"], by_table["term_stats"]
        task_ms = ev(build).get("run_ms", 0.0)
        return {
            "build.documents_ms": docs.ms,
            "build.stats_ms": (post.start - docs.end) * 1000.0,
            "build.postings_ms": post.ms,
            "build.term_stats_ms": stats.ms,
            "build.task_ms": task_ms,
            "build.cpu_util": task_ms / (build.ms * CORES),
            "build.shuffle_bytes_per_turn": ev(build).get("shuffle_write_bytes", 0) / build.attrs["turns"],
            "build.spill_bytes": ev(build).get("spill_bytes", 0),
        }

    phases = [build_phases(op) for op in ops["build"]]
    for k in phases[0]:
        out[k] = _median(p[k] for p in phases)

    # the update round
    ups = ops.get("update", [])
    out["update.ms"] = _median(one(op, "apply_updates").ms for op in ups)
    out["update.jobs"] = _median(op.attrs["jobs"] for op in ups)
    out["update.catalog_write_ms"] = _median(sum(s.ms for s in writes(op)) for op in ups)
    out["update.segments_live"] = bench.segments_live

    # planner: every plan_terms call; a job submitted inside it is a
    # dictionary miss
    plan_jobs = []
    for op in tr.ops:
        jt = ev(op).get("job_times", [])
        for s in tr.spans_of(op, "plan_terms"):
            plan_jobs.append(sum(1 for t in jt if s.start <= t <= s.end))
    out["plan.ms"] = _median(s.ms for s in tr.spans if s.name == "plan_terms")
    out["plan.jobs"] = sum(plan_jobs) / len(plan_jobs) if plan_jobs else 0.0
    out["plan.cache_hit_frac"] = (
        sum(1 for j in plan_jobs if j == 0) / len(plan_jobs) if plan_jobs else 0.0
    )

    # router and executors, over the traced single queries
    queries = ops.get("query", [])
    routes = {}
    for op in queries:
        routes[op.id] = (
            "wand" if tr.spans_of(op, "wand_search")
            else "exact" if tr.spans_of(op, "search_terms") else "none"
        )
    out["route.exact_frac"] = sum(r == "exact" for r in routes.values()) / len(queries)
    out["route.wand_frac"] = sum(r == "wand" for r in routes.values()) / len(queries)

    exact = [op for op in queries if routes[op.id] == "exact"]
    auto = {op.id: one(op, "search_auto") for op in queries}
    out["exact.build_ms"] = _median(auto[op.id].ms for op in exact)
    out["exact.exec_ms"] = _median((op.end - auto[op.id].end) * 1000.0 for op in exact)
    for k in ("jobs", "stages", "tasks"):
        out[f"exact.{k}"] = _median(op.attrs[k] for op in exact)
    out["exact.postings_per_query"] = _median(
        min(tr.spans_of(op, "plan_terms"), key=lambda s: s.start).attrs["sum_df"] for op in exact
    )
    out["exact.scan_bytes"] = _median(ev(op).get("input_bytes", 0) for op in exact)
    out["exact.shuffle_bytes"] = _median(ev(op).get("shuffle_write_bytes", 0) for op in exact)
    out["exact.task_ms"] = _median(ev(op).get("run_ms", 0.0) for op in exact)

    # the queries sent with wand_df_cutoff=0 that took the WAND route
    wand = [op for op in ops.get("wand", []) if tr.spans_of(op, "wand_search")]
    out["wand.ms"] = _median(op.ms for op in wand)
    out["wand.jobs"] = _median(op.attrs["jobs"] for op in wand)
    out["wand.task_ms"] = _median(ev(op).get("run_ms", 0.0) for op in wand)
    out["wand.groups_surviving_frac"] = _median(
        op.attrs["groups_surviving_frac"] for op in wand if "groups_surviving_frac" in op.attrs
    )

    batches = ops.get("batch", [])
    many = {op.id: one(op, "search_many") for op in batches}
    out["batch.build_ms"] = _median(many[op.id].ms for op in batches)
    out["batch.exec_ms"] = _median((op.end - many[op.id].end) * 1000.0 for op in batches)
    out["batch.jobs"] = _median(op.attrs["jobs"] for op in batches)
    out["batch.heavy_frac"] = _median(
        len(tr.spans_of(op, "search_terms")) / op.attrs["n"] for op in batches
    )
    out["batch.shuffle_bytes"] = _median(ev(op).get("shuffle_write_bytes", 0) for op in batches)

    # the fixed floor, and collect time no stage was running
    out["floor.ms"] = bench.floor_ms
    gaps = []
    for op in queries:
        lo, hi = auto[op.id].end, op.end
        stages = [(max(s, lo), min(e, hi)) for s, e in ev(op).get("stages", []) if e > lo and s < hi]
        gaps.append((hi - lo) * 1000.0 - covered_ms(stages))
    out["exec.gap_ms"] = _median(gaps)

    # tracing overhead: every timed call ran traced and untraced
    cpu, bat = bench.cpu_ms, bench.batches
    out["overhead.query_cpu_ms"] = _median(cpu[True]) - _median(cpu[False])
    out["overhead.batch_cpu_ms_per_query"] = 1000.0 * (
        bench.batch_cpu_s[True] / sum(n for n, _ in bat[True])
        - bench.batch_cpu_s[False] / sum(n for n, _ in bat[False])
    )
    return {k: out[k] for k in UNITS}
