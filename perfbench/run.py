#!/usr/bin/env python3
"""The repo benchmark: oracle-checked serve and ingest workloads on local[4].

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Generates its corpus, query stream and update stream from ``--seed``,
drives the engine only through its public calls (``build_index``,
``SearchEngine.search_auto``, ``SearchEngine.search_many``,
``apply_updates``), checks every answer against a
DuckDB BM25 oracle, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it is a JSON object with the host context: nproc, master,
a parallel-capacity probe and the spread of earlier runs in this checkout.

Everything it writes goes under ``.perfbench-work/`` in the checkout.
See perfbench/README.md for the workloads and the metric -> layer map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
PACKAGE = "open_source_search_engine_spark"
CORES = 4
MASTER = f"local[{CORES}]"
#: corpus size of both workloads: the largest at which a run fits the
#: benchmark's per-run time
TURNS = 20_000
#: four whole cycles of the query mix, so every batch has the same shape
BATCH_SIZE = 4 * len(gen.MIX)
#: at these corpus sizes the default 1M summed-df cutoff routes every query
#: to the exact executor; a traced run also sends this many queries with
#: wand_df_cutoff=0 so the block-max WAND executor is measured per layer
WAND_QUERIES = 4
#: shares of --seconds of engine time spent on single queries (at least
#: one whole cycle of the mix) and on search_many batches (at least two)
READ_SHARE, BATCH_SHARE = 0.5, 0.2


@dataclass(frozen=True)
class Workload:
    #: shares of the turns one update round upserts and deletes during
    #: set-up, before the timed reads; 0 for no update round
    upsert_frac: float
    delete_frac: float


WORKLOADS = {
    # Read-heavy: the fixed per-query Spark cost and batch amortization
    # decide the numbers.
    "serve": Workload(0.0, 0.0),
    # Write, then read: the update round (tokenize/encode, shuffle, merge,
    # catalog commits, tombstones) is part of set-up, and the timed reads
    # go through the live update segment, so a write change that makes
    # reads pay shows.
    "ingest-update": Workload(0.005, 0.00125),
}
#: engine work is measured in CPU time of the driver process tree, which a
#: shared host's stolen time does not inflate; wall-clock figures of the
#: same calls go to the context line
END_TO_END = {
    "setup_s": "s",
    "query_cpu_ms": "ms",
    "batch_cpu_ms_per_query": "ms",
    "build_cpu_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, skipping hidden checksum files."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith("."))
    return total


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of process ``pid`` ("self" for this one)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def spread(values: list[float]) -> float | None:
    """Inter-quartile range as a share of the median."""
    if len(values) < 4:
        return None
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else None


def percentile_with_support(samples: list[float], min_beyond: int = 10):
    """``(p, value)`` for the highest whole percentile p (nearest rank)
    that has at least ``min_beyond`` samples above it, so p90 needs 100
    samples; None when even p50 lacks that support."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def _stat(path: str) -> tuple[int, int, int]:
    """(ppid, utime + stime, cutime + cstime) from a /proc stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # after the command name: state, ppid, ..., utime, stime, cutime, cstime
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM process ``pid``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/comm") as f:
            if "CompilerThre" in f.read():
                total += _stat(f"/proc/{pid}/task/{tid}/stat")[1]
    return total


def _process_tree() -> tuple[dict[int, int], list[int]]:
    """(pid -> CPU ticks, reaped children included, of this process and
    every process under it; pids of the processes under it, zombies
    included).

    A child reaped while /proc is being read moves its ticks into its
    parent's reaped-children count, so one read can miss them or count them
    twice (a Python worker Spark retires mid-run, say). /proc is read again
    until two reads in a row agree on the processes and on those counts."""
    last = None
    for _ in range(100):
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    procs[int(name)] = _stat(f"/proc/{name}/stat")
                except OSError:
                    continue  # exited while we looked
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        found, todo = [], list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            found.append(pid)
            todo += children.get(pid, [])
        reaped = {pid: procs[pid][2] for pid in [os.getpid(), *found] if pid in procs}
        if reaped == last:
            break
        last = reaped
    return {pid: procs[pid][1] + n for pid, n in reaped.items()}, found


def descendants() -> list[int]:
    """Pids of every process under this one, zombies included."""
    return _process_tree()[1]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and its Python workers, reaped children included),
    less the JVM's JIT compiler threads. Time the hypervisor gave to other
    guests is not in it, and neither is compilation, a warm-up cost whose
    timing varies from run to run."""
    ticks_of, below = _process_tree()
    ticks = 0
    for pid in [os.getpid(), *below]:
        ticks += ticks_of.get(pid, 0)
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    ticks -= _jit_ticks(pid)
        except OSError:
            continue  # exited while we looked
    return ticks / os.sysconf("SC_CLK_TCK")


def qps(batches: list[tuple[int, float]]) -> float:
    return sum(n for n, _ in batches) / sum(w for _, w in batches)


def _identity(batches):
    yield from batches


class Bench:
    """One run of one workload. In a traced run every timed call is made
    twice, traced and untraced, so the tracing overhead is measured in-run
    on the same work."""

    def __init__(self, args, wl: Workload, run_dir: str):
        self.args, self.wl, self.run_dir = args, wl, run_dir
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        #: timed samples keyed by whether the operation was traced
        self.lat_ms: dict[bool, list[float]] = {False: [], True: []}
        self.cpu_ms: dict[bool, list[float]] = {False: [], True: []}
        self.batches: dict[bool, list[tuple[int, float]]] = {False: [], True: []}
        self.batch_cpu_s = {False: 0.0, True: 0.0}
        #: time spent in the oracle, kept out of every timed interval
        self.oracle_s = 0.0
        self.n_timed = 0
        self.query_log: list[tuple] = []
        self.spark = self.tracer = None
        self.context: dict = {}

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def op(self, kind: str, traced: bool = True, **attrs):
        if self.tracer is None or not traced:
            return nullcontext(None)
        return self.tracer.operation(kind, **attrs)

    def timed(self, call, eng, item) -> float:
        """A timed call; returns its wall time. In a traced run it is made
        traced and untraced, which one first alternating from call to call,
        and the mean of the two walls is returned."""
        if self.tracer is None:
            return call(eng, item, traced=False)
        self.n_timed += 1
        order = (True, False) if self.n_timed % 2 else (False, True)
        return sum(call(eng, item, traced=t) for t in order) / 2

    # -- checked engine calls --------------------------------------------------
    def single(self, eng, q: dict, kind: str = "query", traced: bool = False) -> float:
        """One checked search_auto call; returns its wall time in ms.

        ``kind`` "query" is timed; "wand" is sent with wand_df_cutoff=0 and
        traced; "check" is neither timed nor traced."""
        from oracle import same_page

        t0 = time.perf_counter()
        want = self.oracle.top_k(q)
        self.oracle_s += time.perf_counter() - t0
        kwargs = {"wand_df_cutoff": 0} if kind == "wand" else {}
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.op(kind, traced or kind == "wand", query=q) as op:
                rows = eng.search_auto(
                    q["terms"], q["mode"], q["k"], exclude_terms=q["exclude"] or None, **kwargs
                ).collect()
                ms = (time.perf_counter() - t0) * 1000.0
            cpu_ms = (tree_cpu_s() - cpu0) * 1000.0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.check(f"{kind} {q}", False)
            return (time.perf_counter() - t0) * 1000.0
        if kind == "query":
            self.lat_ms[traced].append(ms)
            self.cpu_ms[traced].append(cpu_ms)
            self.query_log.append((round(ms), len(q["terms"]), q["mode"], bool(q["exclude"])))
        got = self.pd.DataFrame([(r["doc_id"], r["score"]) for r in rows], columns=["doc_id", "score"])
        self.check(f"{kind} {q} got {got.to_dict('list')} want {want.to_dict('list')}", same_page(got, want))
        if kind == "wand":
            from open_source_search_engine_spark.operators import wand

            with self.tracer.operation("pruning"):
                stats = wand.pruning_stats(eng, q["terms"], q["mode"])
            if stats["groups_total"]:
                op.attrs["groups_surviving_frac"] = stats["groups_surviving"] / stats["groups_total"]
        return ms

    def batch(self, eng, qs: list[dict], traced: bool = False) -> float:
        """One timed, checked search_many call; returns its wall time.
        search_many takes no exclusions, so they are dropped from the batch
        queries."""
        from oracle import same_page

        batch = [
            {"query_id": f"b{i:03d}", "terms": q["terms"], "mode": q["mode"], "k": q["k"]}
            for i, q in enumerate(qs)
        ]
        t0 = time.perf_counter()
        wants = self.oracle.top_k_many([{**q, "exclude": []} for q in qs])
        self.oracle_s += time.perf_counter() - t0
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.op("batch", traced, n=len(batch)):
                rows = eng.search_many(batch).collect()
                wall = time.perf_counter() - t0
            self.batch_cpu_s[traced] += tree_cpu_s() - cpu0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            for q in qs:
                self.check(f"batch {q}", False)
            return time.perf_counter() - t0
        self.batches[traced].append((len(batch), wall))
        got = self.pd.DataFrame(
            [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows],
            columns=["query_id", "rank", "doc_id", "score"],
        ).sort_values(["query_id", "rank"])
        pages = {k: g[["doc_id", "score"]] for k, g in got.groupby("query_id")}
        empty = self.pd.DataFrame({"doc_id": [], "score": []})
        for b, q, want in zip(batch, qs, wants):
            self.check(f"batch {q}", same_page(pages.get(b["query_id"], empty), want))
        return wall

    def read_window(self, eng, queries, seconds: float) -> None:
        """Single queries until ``seconds`` of query time are spent, and at
        least one whole cycle of the query mix."""
        spent_ms, n = 0.0, 0
        while spent_ms < seconds * 1000.0 or n < len(gen.MIX):
            spent_ms += self.timed(self.single, eng, next(queries))
            n += 1

    def batch_window(self, eng) -> None:
        """search_many batches until BATCH_SHARE of --seconds is spent, and
        at least two."""
        spent, n = 0.0, 0
        while spent < BATCH_SHARE * self.args.seconds or n < 2:
            spent += self.timed(self.batch, eng, next(self.batch_stream))
            n += 1

    # -- the run ---------------------------------------------------------------
    def inputs(self):
        """Corpora (cached per seed and size), oracle and query streams, all
        made before any timer starts."""
        import pandas as pd
        from oracle import Oracle

        self.pd = pd
        corpus, self.corpus_path = self.cached_corpus(TURNS)
        self.text_bytes = sum(len(t.encode("utf-8")) for t in corpus["text"])
        self.oracle = Oracle(corpus[["doc_id", "text"]])
        self.singles = gen.queries(self.args.seed, stream=0)
        batch_queries = gen.queries(self.args.seed, stream=1)
        self.batch_stream = (list(itertools.islice(batch_queries, BATCH_SIZE)) for _ in itertools.count())

    def cached_corpus(self, turns: int):
        path = os.path.join(WORK, "corpus", f"seed{self.args.seed}-turns{turns}.parquet")
        if os.path.exists(path):
            return self.pd.read_parquet(path), path
        corpus = gen.corpus(self.args.seed, turns)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        corpus.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return corpus, path

    def start_session(self):
        from open_source_search_engine_spark import session

        conf = {
            "spark.driver.memory": "2g",
            # a fixed heap size, so peak RSS does not follow G1's resizing
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            import tracing

            self.log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.log_dir)
            conf.update(tracing.event_log_conf(self.log_dir))
        self.spark = session.get_spark(
            "perfbench", master=MASTER, shuffle_partitions=2 * CORES, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # start the Python workers before the first engine call
        self.spark.range(0, 2 * CORES, 1, 2 * CORES).mapInPandas(_identity, "id long").collect()
        if self.args.trace:
            self.tracer = tracing.Tracer(self.spark.sparkContext)
            install_spans(self.tracer)

    def update_round(self, spark, catalog, cfg) -> None:
        """The workload's seeded update round, applied to the engine and
        then to the oracle."""
        from open_source_search_engine_spark.operators import updates

        ups, _, del_gids = gen.update_round(
            self.args.seed, 1, np.arange(TURNS), TURNS, self.wl.upsert_frac, self.wl.delete_frac
        )
        path = os.path.join(self.run_dir, "upserts.parquet")
        ups.to_parquet(path, index=False)
        del_ids = gen.doc_ids(self.args.seed, del_gids)
        deletes = spark.createDataFrame(self.pd.DataFrame({"doc_id": del_ids}))
        with self.op("update", turns=len(ups) + len(del_ids)):
            t0 = time.perf_counter()
            updates.apply_updates(spark, catalog, spark.read.parquet(path), deletes, cfg)
            self.context["update_s"] = time.perf_counter() - t0
        self.check("update", True)
        t0 = time.perf_counter()
        self.oracle.apply(ups[["doc_id", "text"]], del_ids)
        self.oracle_s += time.perf_counter() - t0

    def run(self) -> dict:
        walls = {}
        t_phase = time.perf_counter()
        self.inputs()
        walls["inputs"] = time.perf_counter() - t_phase

        # ---- setup: session, build, [update round], engine, warm-up query ----
        t_setup = time.perf_counter()
        self.start_session()
        spark = self.spark
        from open_source_search_engine_spark.catalog import Catalog
        from open_source_search_engine_spark.operators import index_build, updates
        from open_source_search_engine_spark.operators.query import SearchEngine

        cfg = index_build.IndexConfig(tokenizer_mode="ascii")
        self.session_s = time.perf_counter() - t_setup
        wh = os.path.join(self.run_dir, "warehouse")
        catalog = Catalog(spark, wh)
        with self.op("build", turns=TURNS):
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            index_build.build_index(spark, catalog, spark.read.parquet(self.corpus_path), cfg)
            build_s = time.perf_counter() - t0
            build_cpu_s = tree_cpu_s() - cpu0
        self.check("build", True)
        index_bytes = dir_bytes(wh)
        if self.wl.upsert_frac:
            self.update_round(spark, catalog, cfg)
        self.segments_live = updates.live_segments(catalog)
        eng = SearchEngine(spark, catalog, tokenizer_mode="ascii")
        if self.wl.upsert_frac:
            # read-after-write: the fresh term finds exactly the upserted versions
            warm_up = {"terms": [gen.fresh_term(1)], "mode": "AND", "exclude": [], "k": 10}
        else:
            warm_up = next(self.singles)
        self.single(eng, warm_up, "check")
        setup_s = time.perf_counter() - t_setup - self.oracle_s
        walls["setup"] = time.perf_counter() - t_setup
        if self.tracer is not None:
            self.floor_ms = self.floor()

        # ---- timed reads ------------------------------------------------------
        t_phase = time.perf_counter()
        self.read_window(eng, self.singles, READ_SHARE * self.args.seconds)
        self.batch_window(eng)
        walls["reads"] = time.perf_counter() - t_phase
        if self.tracer is not None:
            for q in itertools.islice(gen.queries(self.args.seed, stream=300), WAND_QUERIES):
                self.single(eng, q, "wand")

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        if self.tracer is not None:
            time.sleep(1.0)  # let the status store catch up with the last jobs
            self.tracer.count_jobs()
        lat = self.lat_ms[False] + self.lat_ms[True]
        batches = self.batches[False] + self.batches[True]
        self.context.update(
            queries_timed=len(lat),
            query_tail=percentile_with_support(lat),
            batches_timed=len(batches),
            session_s=self.session_s,
            build_s=build_s,
            index_bytes=index_bytes,
            text_bytes=self.text_bytes,
            query_ms_quartiles=statistics.quantiles(lat, n=4),
            wall={
                "query_p50_ms": statistics.median(lat),
                "batch_qps": qps(batches),
                "build_turns_per_s": TURNS / build_s,
            },
            phase_wall_s=walls,
            query_log=self.query_log,
        )
        return {
            "setup_s": setup_s,
            "query_cpu_ms": statistics.median(self.cpu_ms[False] + self.cpu_ms[True]),
            "batch_cpu_ms_per_query": (
                1000.0 * sum(self.batch_cpu_s.values()) / sum(n for n, _ in batches)
            ),
            "build_cpu_s": build_cpu_s,
            "index_bytes_per_text_byte": index_bytes / self.text_bytes,
            "peak_rss_mb": peak_rss_mb,
        }

    def floor(self) -> float:
        """The Spark floor: a trivial one-row job with one Arrow hop."""
        times = []
        for _ in range(5):
            with self.tracer.operation("floor"):
                t0 = time.perf_counter()
                self.spark.range(1).mapInPandas(_identity, "id long").collect()
                times.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(times)


def install_spans(tracer) -> None:
    """Wrap the public calls of every layer the per-layer metrics name."""
    from open_source_search_engine_spark import catalog as catalog_mod
    from open_source_search_engine_spark.operators import index_build, query, updates, wand

    def table_info(args, kwargs, _):
        cat, name = args[0], (args[2] if len(args) > 2 else kwargs["name"])
        dirs = cat.data_dirs(name)
        return {"table": name, "bytes": dir_bytes(dirs[-1]) if dirs else 0}

    def plan_info(args, kwargs, result):
        return {"sum_df": int(result["df"].sum()) if len(result) else 0}

    tracer.wrap(catalog_mod.Catalog, "write_table", "catalog.write_table", table_info)
    tracer.wrap(catalog_mod.Catalog, "commit_data_dirs", "catalog.commit_data_dirs")
    tracer.wrap(index_build, "build_index", "build_index")
    tracer.wrap(updates, "apply_updates", "apply_updates")
    tracer.wrap(query.SearchEngine, "plan_terms", "plan_terms", plan_info)
    for m in ("search_auto", "search_terms", "score_terms", "decoded_postings", "search_many"):
        tracer.wrap(query.SearchEngine, m, m)
    tracer.wrap(wand, "wand_search", "wand_search")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def become_subreaper() -> None:
    """Adopt every orphaned descendant (a Python worker daemon whose JVM
    has gone, say), so stop_descendants can still find and reap it."""
    import ctypes

    pr_set_child_subreaper = 36
    if ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process under this one has ended and been reaped:
    ``grace_s`` seconds for them to end by themselves, then SIGTERM, then
    SIGKILL, as long again each."""
    steps = iter((signal.SIGTERM, signal.SIGKILL, None))
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass  # no children left
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = next(steps)
            if sig is None:
                raise RuntimeError(f"processes {pids} did not end")
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def history_spread(workload: str, e2e: dict | None) -> dict:
    """Append this untraced run to the checkout's history and return the
    spread of each end-to-end metric over the last 20 runs of the workload."""
    path = os.path.join(WORK, "history.jsonl")
    past = []
    if os.path.exists(path):
        with open(path) as f:
            past = [json.loads(line) for line in f if line.strip()]
    if e2e is not None:
        past.append({"workload": workload, "metrics": e2e})
        with open(path, "a") as f:
            f.write(json.dumps(past[-1]) + "\n")
    mine = [p["metrics"] for p in past if p["workload"] == workload][-20:]
    return {"runs": len(mine), **{m: spread([p[m] for p in mine if m in p]) for m in END_TO_END}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    for k in [k for k in os.environ if k.startswith("OSSE_")]:
        del os.environ[k]  # the engine's own defaults apply
    become_subreaper()
    # a driver's SIGTERM unwinds through the finally that stops every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM Spark starts keeps its temp files, and no perf-data file,
    # inside the run directory; its JIT compiler threads live as long as
    # the JVM, so tree_cpu_s can leave their CPU time out
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    tempfile.tempdir = tmp

    import hostprobe

    bench = Bench(args, WORKLOADS[args.workload], run_dir)
    try:
        context = {
            "nproc": os.cpu_count(), "master": MASTER, "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "host_probe": hostprobe.probe(CORES),
        }
        cpu_before = hostprobe.cpu_times()
        e2e = bench.run()
        stop_spark(bench.spark)
        if args.trace:
            import layers
            import tracing

            metrics = layers.per_layer(bench, tracing.read_event_log(bench.log_dir))
            units = layers.UNITS
        else:
            metrics, units = e2e, END_TO_END
    except Exception:
        traceback.print_exc(file=sys.stderr)
        if bench.spark is not None:
            stop_spark(bench.spark)
        return 1
    finally:
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)

    context.update(bench.context)
    context["cpu_steal_frac"] = hostprobe.steal_frac(cpu_before, hostprobe.cpu_times())
    context["run_to_run_spread"] = history_spread(args.workload, None if args.trace else e2e)
    context["failures"] = bench.failures[:20]
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
