"""Self-tests of the benchmark: generators, percentile helper, oracle vs
engine on a tiny corpus, and metric names vs BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _take(stream, n):
    return list(itertools.islice(stream, n))


def test_generators_repeat_per_seed_and_differ_across_seeds():
    a, b, c = gen.corpus(5, 500), gen.corpus(5, 500), gen.corpus(6, 500)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"]) and not a["doc_id"].equals(c["doc_id"])
    assert _take(gen.queries(5, 1), 30) == _take(gen.queries(5, 1), 30)
    assert _take(gen.queries(5, 1), 30) != _take(gen.queries(6, 1), 30)
    assert _take(gen.queries(5, 1), 30) != _take(gen.queries(5, 2), 30)
    live = np.arange(500)
    u1, g1, d1 = gen.update_round(5, 1, live, 500, 0.02, 0.01)
    u2, g2, d2 = gen.update_round(5, 1, live, 500, 0.02, 0.01)
    u3, g3, d3 = gen.update_round(6, 1, live, 500, 0.02, 0.01)
    pd.testing.assert_frame_equal(u1, u2)
    assert np.array_equal(d1, d2) and np.array_equal(g1, g2)
    assert not u1["text"].equals(u3["text"])
    assert not np.intersect1d(d1, g1).size  # deletes and upserts are disjoint


def test_corpus_shape():
    c = gen.corpus(1, 2000)
    assert list(c.columns) == ["doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert (c["doc_id"] >= 0).all() and c["doc_id"].is_unique
    n_tokens = c["text"].iloc[len(gen.PLANTED):].str.lower().str.count(r"[a-z0-9_]+")
    assert n_tokens.between(gen.MIN_TOKENS, gen.MAX_TOKENS + 1).all()
    words = c["text"].str.lower().str.findall(r"[a-z0-9_]+").explode()
    assert abs((words.isin(gen.STOPWORDS)).mean() - gen.STOPWORD_FRACTION) < 0.03
    assert not words.isin(gen.ABSENT_TERMS).any()


def test_percentile_with_support():
    xs = list(range(1, 101))
    assert run.percentile_with_support(xs) == (90, 90)
    assert run.percentile_with_support(list(range(1, 41))) == (75, 30)
    assert run.percentile_with_support(list(range(15))) is None


def test_tree_cpu_counts_this_process():
    before = run.tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert run.tree_cpu_s() - before >= 0.25


def test_tree_cpu_is_steady_while_children_are_reaped():
    """A child reaped while /proc is read is counted once, neither missed
    nor counted twice: no reading runs ahead of the CPU the tree could use."""
    import subprocess
    import threading

    stop = threading.Event()

    def churn():
        busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.05: pass"
        while not stop.is_set():
            subprocess.run([sys.executable, "-c", busy], check=True)

    threads = [threading.Thread(target=churn) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        last_cpu, last_wall = run.tree_cpu_s(), time.monotonic()
        end = last_wall + 6.0
        while last_wall < end:
            cpu, wall = run.tree_cpu_s(), time.monotonic()
            assert -0.02 <= cpu - last_cpu <= (wall - last_wall) * os.cpu_count() + 0.05
            last_cpu, last_wall = cpu, wall
    finally:
        stop.set()
        for t in threads:
            t.join()


def test_host_probe_leaves_no_process():
    import hostprobe

    assert hostprobe.probe(2)["procs"] == 2
    assert run.descendants() == []


def test_stop_descendants_stops_orphaned_grandchildren():
    import subprocess

    run.become_subreaper()
    subprocess.run(["sh", "-c", "sleep 60 & sleep 60 & exit 0"], check=True)
    assert len(run.descendants()) == 2  # adopted once their shell exited
    t0 = time.monotonic()
    run.stop_descendants(grace_s=0.2)
    assert run.descendants() == [] and time.monotonic() - t0 < 5


def test_tie_order_breaks_near_ties_by_doc_id():
    page = pd.DataFrame({"doc_id": [9, 3, 5, 1], "score": [2.0, 2.0 - 1e-12, 1.5, 1.0]})
    assert oracle.tie_order(page)["doc_id"].tolist() == [3, 9, 5, 1]
    assert oracle.same_page(page, oracle.tie_order(page))
    assert not oracle.same_page(page.iloc[:3], oracle.tie_order(page))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from open_source_search_engine_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_oracle_agrees_with_engine_on_tiny_corpus(spark, tmp_path):
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators.index_build import IndexConfig, build_index
    from open_source_search_engine_spark.operators.query import SearchEngine
    from open_source_search_engine_spark.operators.updates import apply_updates

    seed, n = 3, 400
    corpus = gen.corpus(seed, n)
    path = str(tmp_path / "corpus.parquet")
    corpus.to_parquet(path, index=False)
    cfg = IndexConfig(tokenizer_mode="ascii")
    cat = Catalog(spark, str(tmp_path / "wh"))
    build_index(spark, cat, spark.read.parquet(path), cfg)
    orc = oracle.Oracle(corpus[["doc_id", "text"]], threads=1)

    def q(terms, mode="AND", exclude=(), k=10):
        return {"terms": sorted(terms), "mode": mode, "exclude": list(exclude), "k": k}

    planted = [
        q([gen.RARE_TERM]),                       # rare term: 3 occurrences in 2 turns
        q(["bob", "x", "ray"]),                   # apostrophes and hyphens split
        q(["caf", "m", "ller"], "OR"),            # non-ascii letters split tokens
        q(["the"]),                               # stopword, many ties
        q(["repeat", "single"], "OR"),
        q(["1", "000", "8"], "OR"),
        q(["the", "to"], exclude=["and"]),
        q([gen.ABSENT_TERMS[0]]),                 # absent term alone
        q(["the", gen.ABSENT_TERMS[1]]),          # absent term under AND
    ]
    eng = SearchEngine(spark, cat, tokenizer_mode="ascii")
    stream = _take(gen.queries(seed), 24)
    wants = orc.top_k_many(planted + stream)
    for query, want in zip(planted + stream, wants):
        rows = eng.search_auto(query["terms"], query["mode"], query["k"],
                               exclude_terms=query["exclude"] or None).collect()
        got = pd.DataFrame([(r["doc_id"], r["score"]) for r in rows], columns=["doc_id", "score"])
        assert oracle.same_page(got, want), query
    assert len(wants[0]) == 2
    assert wants[7].empty and wants[8].empty

    ups, _, dels = gen.update_round(seed, 1, np.arange(n), n, 0.05, 0.02)
    up_path = str(tmp_path / "upserts.parquet")
    ups.to_parquet(up_path, index=False)
    del_ids = gen.doc_ids(seed, dels)
    apply_updates(spark, cat, spark.read.parquet(up_path),
                  spark.createDataFrame(pd.DataFrame({"doc_id": del_ids})), cfg)
    orc.apply(ups[["doc_id", "text"]], del_ids)
    eng = SearchEngine(spark, cat, tokenizer_mode="ascii")
    fresh = [q([gen.fresh_term(1)], k=50), q(["the", gen.fresh_term(1)], "OR")] + stream[:6]
    for query, want in zip(fresh, orc.top_k_many(fresh)):
        rows = eng.search_auto(query["terms"], query["mode"], query["k"],
                               exclude_terms=query["exclude"] or None).collect()
        got = pd.DataFrame([(r["doc_id"], r["score"]) for r in rows], columns=["doc_id", "score"])
        assert oracle.same_page(got, want), query
    assert len(orc.top_k(fresh[0])) == len(ups)
