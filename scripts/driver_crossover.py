"""Where does the driver route stop beating Spark? A crossover probe.

Builds (or reuses) a perfbench-generated index of ``--turns`` turns on
``local[4]`` and answers the same queries twice through
SearchEngine.search_auto:

* on the driver route (``wand_df_cutoff`` above every plan);
* on the route a plan over the cutoff takes (``wand_df_cutoff=0``): the
  Spark exact path for an AND query whose rarest df is small, else
  block-max WAND -- printed as ``spark_route``.

The queries are one cycle of perfbench's serve mix (gen.MIX), then OR
queries over the index's highest-df terms whose sum(df) grows towards
``--targets``. Per query it prints sum(df), the median wall and
process-tree CPU of ``--reps`` runs per route, and whether the two pages
are bit-identical as (doc_id, score bits, matched). It also times one
dictionary miss (SearchEngine.plan_terms of an absent term, plan cache
cleared): the driver's Arrow read of ``term_stats``.

    python3 scripts/driver_crossover.py --turns 20000
    python3 scripts/driver_crossover.py --turns 200000

The corpus and the index are cached under ``--work`` per (seed, turns).
The last line of stdout is one JSON object with every row.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench's seeded corpus and query mix)
from run import tree_cpu_s  # noqa: E402  (process-tree CPU, JIT excluded)

DEFAULT_TARGETS = (1_000, 10_000, 100_000, 300_000, 1_000_000, 2_000_000)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--turns", type=int, default=20_000)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--work", default=os.path.join(ROOT, ".crossover-work"))
    p.add_argument(
        "--targets", type=lambda s: [int(x) for x in s.split(",")],
        default=list(DEFAULT_TARGETS),
        help="comma-separated sum(df) targets of the OR queries",
    )
    return p.parse_args(argv)


def build(spark, args):
    """The catalog of the cached perfbench index, built on first use."""
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators import index_build

    base = os.path.join(args.work, f"seed{args.seed}-turns{args.turns}")
    corpus = os.path.join(base, "corpus.parquet")
    if not os.path.exists(corpus):
        os.makedirs(base, exist_ok=True)
        gen.corpus(args.seed, args.turns).to_parquet(corpus, index=False)
    catalog = Catalog(spark, os.path.join(base, "warehouse"))
    if not catalog.table_exists("corpus_stats"):
        t0 = time.perf_counter()
        index_build.build_index(
            spark, catalog, spark.read.parquet(corpus),
            index_build.IndexConfig(tokenizer_mode="ascii"),
        )
        print(
            f"built {args.turns} turns in {time.perf_counter() - t0:.1f} s",
            file=sys.stderr,
        )
    return catalog


def or_queries(eng, targets) -> list[dict]:
    """OR queries over the highest-df terms, one per target: the head
    terms, most frequent first, until their sum(df) reaches the target."""
    rows = eng._snapshot_rows("term_stats", ["term", "df"]).to_pylist()
    head = sorted(
        (r for r in rows if " " not in r["term"]),
        key=lambda r: (-r["df"], r["term"]),
    )
    out = []
    for target in targets:
        terms, total = [], 0
        for r in head:
            if total >= target:
                break
            terms.append(r["term"])
            total += r["df"]
        if total < target:
            break  # the corpus holds fewer postings than the target
        out.append({
            "kind": f"or-{target}", "terms": sorted(terms), "mode": "OR",
            "exclude": [], "k": 10,
        })
    return out


def timed(call, reps: int):
    """(median wall ms, median process-tree CPU ms, last result)."""
    walls, cpus = [], []
    for _ in range(reps):
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        out = call()
        walls.append((time.perf_counter() - t0) * 1000.0)
        cpus.append((tree_cpu_s() - cpu0) * 1000.0)
    return statistics.median(walls), statistics.median(cpus), out


def main(argv=None) -> int:
    args = parse_args(argv)
    from open_source_search_engine_spark.operators import query
    from open_source_search_engine_spark.session import get_spark

    spark = get_spark(
        "driver-crossover", master="local[4]", shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        eng = query.SearchEngine(
            spark, build(spark, args), tokenizer_mode="ascii"
        )
        mix = gen.queries(args.seed, stream=0)
        queries = [
            {**next(mix), "kind": f"{kind}-{mode}"} for kind, mode in gen.MIX
        ] + or_queries(eng, args.targets)

        def page(q, cutoff):
            rows = eng.search_auto(
                q["terms"], q["mode"], q["k"], q["exclude"] or None,
                wand_df_cutoff=cutoff,
            ).collect()
            return [
                (r["doc_id"], r["score"].hex(), r["matched"]) for r in rows
            ]

        results = []
        for q in queries:
            plan = eng.plan_terms(q["terms"])
            sum_df = int(plan["df"].sum()) + int(
                eng.plan_terms(q["exclude"])["df"].sum()
            )
            page(q, 0)  # warm both routes once
            page(q, 1 << 62)
            s_wall, s_cpu, s_rows = timed(lambda: page(q, 0), args.reps)
            d_wall, d_cpu, d_rows = timed(lambda: page(q, 1 << 62), args.reps)
            row = {
                "kind": q["kind"], "terms": len(q["terms"]), "sum_df": sum_df,
                "spark_route": query.route(plan, q["mode"], 0)[0]
                if len(plan) else "empty",
                "driver_wall_ms": round(d_wall, 1),
                "driver_cpu_ms": round(d_cpu, 1),
                "spark_wall_ms": round(s_wall, 1),
                "spark_cpu_ms": round(s_cpu, 1),
                "identical": d_rows == s_rows, "rows": len(d_rows),
            }
            results.append(row)
            print(
                f"{row['kind']:>14} terms={row['terms']:>3} sum_df={sum_df:>9} "
                f"driver {d_wall:7.1f} / {d_cpu:7.1f} ms  "
                f"{row['spark_route']} {s_wall:7.1f} / {s_cpu:7.1f} ms  "
                f"identical={row['identical']}",
                flush=True,
            )

        def miss():
            eng._plan_cache.clear()
            return eng.plan_terms(["zzdictionarymiss"])

        m_wall, _, _ = timed(miss, max(args.reps, 5))
        print(f"dictionary miss (Arrow read of term_stats): {m_wall:.1f} ms")
        print(json.dumps({
            "turns": args.turns, "seed": args.seed, "reps": args.reps,
            "dictionary_miss_ms": round(m_wall, 2), "queries": results,
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
