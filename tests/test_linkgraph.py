"""Link-graph operators: degree stats + integer-exact PageRank
(`operators/linkgraph.py`) vs a brute-force Python reference."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from immich_geodata_zh_tw_spark.operators import linkgraph


def ref_pagerank(edges, *, n_iter, damping_pct=85, scale=10 ** 12):
    """Brute-force mirror of the operator's integer recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = Counter(u for u, _ in edges)
    r = {v: scale // n for v in nodes}
    base = ((scale // n) * (100 - damping_pct)) // 100
    for _ in range(n_iter):
        inc = defaultdict(int)
        for u, v in edges:
            inc[v] += r[u] // out[u]
        dang = sum(r[u] for u in nodes if out[u] == 0)
        r = {v: base + (damping_pct * (inc[v] + dang // n)) // 100
             for v in nodes}
    return r


HAND_EDGES = [  # 5 nodes; node 4 is dangling (in-edges only)
    (0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 4), (1, 4),
]


def _fuzz_edges(n_nodes=40, n_edges=160, seed=7):
    # LCG so the graph is deterministic without random()
    edges, x = set(), seed
    while len(edges) < n_edges:
        x = (1103515245 * x + 12345) % (2 ** 31)
        u = x % n_nodes
        x = (1103515245 * x + 12345) % (2 ** 31)
        v = x % (n_nodes + 5)  # some dst ids appear as dst only
        if u != v:
            edges.add((u, v))
    return sorted(edges)


def _run(spark, edges, partitions, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    if partitions:
        df = df.repartition(partitions)
    got = linkgraph.pagerank(df, **kw).collect()
    return {r["node"]: r["rank_u"] for r in got}


def test_degree_stats_hand(spark):
    df = spark.createDataFrame(HAND_EDGES, "src long, dst long")
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in linkgraph.degree_stats(df).collect()}
    assert got == {0: (2, 2), 1: (2, 1), 2: (1, 2), 3: (2, 0), 4: (0, 2)}


@pytest.mark.parametrize("n_iter", [1, 2, 3])
def test_pagerank_hand_graph_matches_reference(spark, n_iter):
    want = ref_pagerank(HAND_EDGES, n_iter=n_iter)
    assert _run(spark, HAND_EDGES, None, n_iter=n_iter) == want


def test_pagerank_fuzz_and_partition_invariance(spark):
    edges = _fuzz_edges()
    want = ref_pagerank(edges, n_iter=3)
    for parts in (1, 7):
        assert _run(spark, edges, parts, n_iter=3) == want


def test_pagerank_lazy_equals_checkpointed(spark):
    edges = _fuzz_edges(n_nodes=15, n_edges=40, seed=3)
    lazy = _run(spark, edges, 3, n_iter=3, checkpoint_every=0)
    ckpt = _run(spark, edges, 3, n_iter=3, checkpoint_every=1)
    assert lazy == ckpt


def test_pagerank_mass_and_ordering_sanity(spark):
    got = _run(spark, HAND_EDGES, None, n_iter=3)
    # integer truncation only ever LEAKS mass, never creates it
    assert sum(got.values()) <= 10 ** 12
    # node 2 has two in-links from high-rank sources; node 3 has none
    assert got[2] > got[3]
    # every node keeps at least the undamped base share
    n = len(got)
    base = ((10 ** 12 // n) * 15) // 100
    assert all(v >= base for v in got.values())


def test_pagerank_plan_is_jvm_only(spark):
    df = spark.createDataFrame(HAND_EDGES, "src long, dst long")
    plan = (linkgraph.pagerank(df, n_iter=2, checkpoint_every=0)
            ._jdf.queryExecution().executedPlan().toString())
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert marker not in plan
