"""Where does the write path spend its CPU? A per-phase, per-task probe.

Builds perfbench's ``--turns``-turn corpus into a fresh index on
``local[4]`` with perfbench's session settings (its Python workers started
first by one trivial job), applies perfbench's ingest-update round to it
(``gen.update_round``: 0.5% of the turns upserted, 0.125% deleted), and
prints one row per phase of ``build_index`` and of ``apply_updates``:

* ``jobs``: Spark jobs the phase submitted (one job group per phase);
* ``wall_s`` and ``cpu_s``: wall time and process-tree CPU (driver, JVM and
  Python workers; perfbench's ``tree_cpu_s``);
* ``py_tasks`` and ``py_cpu_s``: Python tasks started in the phase and
  their summed ``time.process_time()``, logged per task by a worker module
  (``spark.python.worker.module``) that wraps ``pyspark.worker.main``.

A phase is one top-level call of the steps the two operators share
(``load_documents``, ``finish_index``, ``write_corpus_stats``,
``Catalog.write_table`` / ``append_table`` by table); the work between two
such calls is the phase ``before <next call>``, or ``rest`` at the end.
Per worker process it also reports the CPU of its first Python task and
the median of its later ones, the per-task fixed cost a reused worker
still pays.

    python3 scripts/write_path_probe.py --turns 20000
    python3 scripts/write_path_probe.py --root ../other-checkout

``--root`` imports the engine package from another checkout, so one script
compares two commits. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench's seeded corpus and update round)
from run import CORES, MASTER, tree_cpu_s  # noqa: E402

#: the worker module: pyspark's daemon imports it by name (which must start
#: with "pyspark") and calls its main once per task
WORKER_MODULE = '''
import os, time
from pyspark import worker

def main(infile, outfile):
    start, cpu = time.time(), time.process_time()
    try:
        worker.main(infile, outfile)
    finally:
        with open({log!r}, "a") as f:
            f.write("%d %f %f %f\\n" % (
                os.getpid(), start, time.time(), time.process_time() - cpu))
'''


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--turns", type=int, default=20_000)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--root", default=ROOT, help="checkout to import from")
    return p.parse_args(argv)


class Phases:
    """Consecutive phases of one operator call, cut at the top-level calls
    of the wrapped steps."""

    def __init__(self, sc):
        self.sc = sc
        self.rows: list[dict] = []
        self.depth = 0
        self.group = 0

    def cut(self, name: str | None) -> None:
        """Close the open phase and open ``name`` ("-" for the work
        between two wrapped calls; None to open nothing)."""
        now, cpu = time.time(), tree_cpu_s()
        if self.rows:
            last = self.rows[-1]
            last.update(end=now, cpu_s=cpu - last["cpu0"])
            if last["name"] == "-":
                last["name"] = f"before {name}" if name else "rest"
        if name is not None:
            self.group += 1
            gid = f"probe-{self.group}"
            self.sc.setJobGroup(gid, name)
            self.rows.append({"name": name, "gid": gid, "start": now, "cpu0": cpu})

    def wrap(self, owner, attr: str, label) -> None:
        fn = getattr(owner, attr)
        phases = self

        def wrapper(*args, **kwargs):
            top = phases.depth == 0
            if top:
                phases.cut(label(args))
            phases.depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                phases.depth -= 1
                if top:
                    phases.cut("-")

        setattr(owner, attr, wrapper)

    def run(self, call) -> list[dict]:
        """``call()`` cut into phases; returns the closed rows."""
        self.rows = []
        self.cut("-")
        call()
        self.cut(None)
        rows, self.rows = self.rows, []
        st = self.sc.statusTracker()
        for r in rows:
            r["jobs"] = len(st.getJobIdsForGroup(r.pop("gid")))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return rows


def _identity(batches):
    yield from batches


def python_tasks(log: str) -> list[tuple[int, float, float, float]]:
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [
            (int(p), float(s), float(e), float(c))
            for p, s, e, c in (line.split() for line in f if line.strip())
        ]


def report(rows: list[dict], tasks) -> list[dict]:
    out = []
    for r in rows:
        if r["name"].startswith("before ") and r["end"] - r["start"] < 0.01 and not r["jobs"]:
            continue  # two wrapped calls back to back
        mine = [t for t in tasks if r["start"] <= t[1] < r["end"]]
        out.append({
            "phase": r["name"],
            "jobs": r["jobs"],
            "wall_s": round(r["end"] - r["start"], 3),
            "cpu_s": round(r["cpu_s"], 3),
            "py_tasks": len(mine),
            "py_cpu_s": round(sum(t[3] for t in mine), 3),
        })
    total = {k: round(sum(o[k] for o in out), 3)
             for k in ("jobs", "wall_s", "cpu_s", "py_tasks", "py_cpu_s")}
    return out + [{"phase": "total", **total}]


def per_worker(tasks) -> dict:
    """CPU of each worker's first task and of its later tasks."""
    by_pid = defaultdict(list)
    for t in sorted(tasks, key=lambda t: t[1]):
        by_pid[t[0]].append(t[3])
    firsts = [cs[0] for cs in by_pid.values()]
    later = [c for cs in by_pid.values() for c in cs[1:]]
    return {
        "workers": len(by_pid),
        "first_task_cpu_s_median": round(statistics.median(firsts), 3) if firsts else None,
        "later_tasks": len(later),
        "later_task_cpu_s_median": round(statistics.median(later), 3) if later else None,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    work = tempfile.mkdtemp(prefix="write-probe-")
    log = os.path.join(work, "tasks.log")
    with open(os.path.join(work, "pyspark_task_probe.py"), "w") as f:
        f.write(WORKER_MODULE.format(log=log))
    # the worker daemon inherits PYTHONPATH through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [work] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    for k in [k for k in os.environ if k.startswith("OSSE_")]:
        del os.environ[k]
    # as in perfbench: JIT compiler threads that live as long as the JVM,
    # so tree_cpu_s can leave their CPU out (a retired thread's ticks would
    # land in whichever phase it exits)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )

    import numpy as np
    import pandas as pd

    from open_source_search_engine_spark import session
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators import index_build, updates

    corpus = os.path.join(work, "corpus.parquet")
    gen.corpus(args.seed, args.turns).to_parquet(corpus, index=False)
    spark = session.get_spark(
        "write-path-probe", master=MASTER, shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.python.worker.module": "pyspark_task_probe",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.range(0, 2 * CORES, 1, 2 * CORES).mapInPandas(
            _identity, "id long"
        ).collect()
        warm = python_tasks(log)
        phases = Phases(spark.sparkContext)
        for mod in (index_build, updates):
            for name in ("load_documents", "finish_index", "write_corpus_stats"):
                if hasattr(mod, name):
                    phases.wrap(mod, name, lambda a, n=name: n)
        phases.wrap(Catalog, "write_table", lambda a: f"write {a[2]}")
        phases.wrap(Catalog, "append_table", lambda a: f"append {a[2]}")
        catalog = Catalog(spark, os.path.join(work, "warehouse"))
        cfg = index_build.IndexConfig(tokenizer_mode="ascii")
        build = phases.run(lambda: index_build.build_index(
            spark, catalog, spark.read.parquet(corpus), cfg
        ))
        ups, _, del_gids = gen.update_round(
            args.seed, 1, np.arange(args.turns), args.turns, 0.005, 0.00125
        )
        ups_path = os.path.join(work, "upserts.parquet")
        ups.to_parquet(ups_path, index=False)
        deletes = spark.createDataFrame(
            pd.DataFrame({"doc_id": gen.doc_ids(args.seed, del_gids)})
        )
        update = phases.run(lambda: updates.apply_updates(
            spark, catalog, spark.read.parquet(ups_path), deletes, cfg
        ))
        tasks = python_tasks(log)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "root": root, "turns": args.turns, "seed": args.seed,
        "warm_up": per_worker(warm),
        "build_index": report(build, tasks),
        "apply_updates": report(update, tasks),
        "per_worker": per_worker(tasks[len(warm):]),
    }
    for op in ("build_index", "apply_updates"):
        print(f"{op}:", file=sys.stderr)
        for r in result[op]:
            print(
                f"  {r['phase']:<28} jobs {r['jobs']:>3}  wall {r['wall_s']:7.2f} s"
                f"  cpu {r['cpu_s']:7.2f} s  py_tasks {r['py_tasks']:>3}"
                f"  py_cpu {r['py_cpu_s']:6.2f} s",
                file=sys.stderr,
            )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
