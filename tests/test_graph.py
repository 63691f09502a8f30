"""connected_components / dedup_components vs a pure-python union-find."""

from __future__ import annotations

import random

import pytest

from open_vector_tile_spark.operators.graph import connected_components, dedup_components


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)

    def comp(self, x):
        # min-id labeling: union() always parents the larger root under the
        # smaller, so every root IS the component minimum.
        return self.find(x)


def _check(spark, edges):
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    want = {x: uf.comp(x) for x in uf.p}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert got == want


def test_cc_chain_star_and_singleton_edge(spark):
    edges = (
        [(i, i + 1) for i in range(0, 40)]          # one long chain (diameter 40)
        + [(100, j) for j in range(101, 110)]       # star
        + [(200, 201)]                              # pair
        + [(300, 300)]                              # self-loop only -> singleton
    )
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    # self-loop node is dropped by a != b but must not crash; other nodes exact
    for x, w in ((0, 0), (40, 0), (105, 100), (201, 200)):
        assert out[x] == w
    assert 300 not in out  # pure self-loop: no symmetric edge survives


@pytest.mark.slow
def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cc_duplicate_and_reversed_edges(spark):
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (5, 4), (4, 5)]
    _check(spark, edges)


def test_dedup_components_on_minhash_pairs(spark):
    """End-to-end: minhash near-dup pairs -> clusters -> canonical keeps.

    Verified-Jaccard threshold makes the pair set deterministic; clusters
    checked against union-find over the same pairs.
    """
    from open_vector_tile_spark.operators.dedup import minhash_dedup

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_dedup(docs_df, threshold=0.5)
    plist = [(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()]
    out = dedup_components(docs_df, pairs).collect()

    uf = _UF()
    for a, b in plist:
        uf.union(a, b)
    n_docs = docs_df.count()
    comp_of = {}
    for r in out:
        comp_of[r["doc_id"]] = r["component"]
    assert len(comp_of) == n_docs
    from collections import Counter

    sizes = Counter(comp_of.values())
    for r in out:
        want = uf.comp(r["doc_id"]) if r["doc_id"] in uf.p else r["doc_id"]
        assert r["component"] == want
        assert r["comp_size"] == sizes[r["component"]]
    # canonical-keep filter drops exactly (cluster_size - 1) docs per cluster
    kept = [r for r in out if r["component"] == r["doc_id"]]
    assert len(kept) == len(sizes)


def test_cc_max_rounds_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(0, 64)], "src long, dst long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_rounds=1)


def test_dedup_components_rejects_string_ids(spark):
    docs = spark.createDataFrame([("doc-1",), ("doc-2",)], "doc_id string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(TypeError, match="integral ids"):
        dedup_components(docs, pairs)
    # integral frame + string pair column is equally rejected
    docs_i = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs_s = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral ids"):
        dedup_components(docs_i, pairs_s)


# ---------------------------------------------------------------- pagerank


def _pagerank_ref(edges, n_iter=5, damping=0.85, nodes=()):
    """Pure-python power iteration with the same semantics (dedup edges,
    drop self-loops, uniform dangling redistribution)."""
    es = sorted({(a, b) for a, b in edges if a != b})
    ids = sorted({x for e in es for x in e} | set(nodes))
    n = len(ids)
    out = {x: 0 for x in ids}
    for a, _ in es:
        out[a] += 1
    rank = {x: 1.0 / n for x in ids}
    for _ in range(n_iter):
        dang = sum(rank[x] for x in ids if out[x] == 0)
        inflow = {x: 0.0 for x in ids}
        for a, b in es:
            inflow[b] += rank[a] / out[a]
        rank = {
            x: (1.0 - damping) / n + damping * (inflow[x] + dang / n)
            for x in ids
        }
    return rank, out


def test_pagerank_matches_reference_random_graph(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(300)]
    want, out = _pagerank_ref(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r for r in pagerank(df).collect()}
    assert set(got) == set(want)
    for x in want:
        assert got[x]["outdeg"] == out[x]
        assert got[x]["rank"] == pytest.approx(want[x], abs=1e-12)
    # mass conservation: ranks sum to 1
    assert sum(r["rank"] for r in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_and_dangling(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    # hub with 4 in-links; hub itself dangling -> its mass redistributes
    edges = [(1, 0), (2, 0), (3, 0), (4, 0)]
    want, _ = _pagerank_ref(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    assert got[0] > got[1]
    for x in want:
        assert got[x] == pytest.approx(want[x], abs=1e-12)


def test_pagerank_two_cycle_is_uniform(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    for r in pagerank(df, n_iter=3).collect():
        assert r["rank"] == pytest.approx(0.5, abs=1e-15)


def test_pagerank_isolated_nodes_and_duplicate_edges(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 1), (1, 0), (2, 2)]  # dups + self-loop
    iso = spark.createDataFrame([(9,), (0,)], "id long")  # 9 isolated, 0 dup
    want, _ = _pagerank_ref(edges, nodes=[9])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(df, nodes=iso).collect()}
    assert set(got) == set(want)
    for x in want:
        assert got[x] == pytest.approx(want[x], abs=1e-12)


@pytest.mark.slow  # 3 full pagerank runs (23 s at local[4]); fast siblings:
# reference-parity, star/dangling, checkpoint-release tests + the r4
# driver-green pagerank oracle stay in the default gate
def test_pagerank_deterministic_mode_bit_stable(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["id"]: r["rank"] for r in pagerank(df, deterministic=True).collect()}
    b = {
        r["id"]: r["rank"]
        for r in pagerank(df.repartition(13), deterministic=True).collect()
    }
    assert a == b  # bit-exact across partitionings
    c = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    for x in a:
        assert a[x] == pytest.approx(c[x], abs=1e-12)


def test_pagerank_param_validation(spark):
    from open_vector_tile_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=0)


# ---------------------------------------------------------------------------
# HITS


def _py_hits(edge_list, ids, n_iter):
    """Independent numpy reference (textbook HITS, L2 per half-step)."""
    import numpy as np

    order = sorted(ids)
    idx = {v: i for i, v in enumerate(order)}
    edges = sorted({(s, t) for s, t in edge_list if s != t})
    hub = np.ones(len(order))
    auth = np.zeros(len(order))
    for _ in range(n_iter):
        auth = np.zeros(len(order))
        for s, t in edges:
            auth[idx[t]] += hub[idx[s]]
        n = float(np.sqrt((auth**2).sum()))
        auth = auth / n if n > 0 else auth
        hub = np.zeros(len(order))
        for s, t in edges:
            hub[idx[s]] += auth[idx[t]]
        n = float(np.sqrt((hub**2).sum()))
        hub = hub / n if n > 0 else hub
    return {v: (hub[i], auth[i]) for v, i in idx.items()}


def test_hits_random_graph_parity(spark):
    import random

    from open_vector_tile_spark.operators.graph import hits

    rng = random.Random(11)
    ids = list(range(40))
    edge_list = [
        (rng.randrange(40), rng.randrange(40)) for _ in range(160)
    ] + [(3, 3), (5, 5)]  # self loops must be ignored
    df = spark.createDataFrame(edge_list, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(df, n_iter=4, nodes=nodes).collect()}
    want = _py_hits(edge_list, ids, 4)
    assert set(got) == set(want)
    for v in ids:
        assert got[v][0] == pytest.approx(want[v][0], rel=1e-9, abs=1e-12)
        assert got[v][1] == pytest.approx(want[v][1], rel=1e-9, abs=1e-12)


def test_hits_star_graph(spark):
    """leaves -> center: center is the sole authority (1.0), leaves are
    uniform hubs (1/sqrt(L)), center's hub score is 0."""
    from open_vector_tile_spark.operators.graph import hits

    L = 9
    df = spark.createDataFrame([(i, 100) for i in range(L)], "src long, dst long")
    got = {r["id"]: r for r in hits(df, n_iter=3).collect()}
    assert got[100]["auth"] == pytest.approx(1.0)
    assert got[100]["hub"] == pytest.approx(0.0)
    for i in range(L):
        assert got[i]["hub"] == pytest.approx(1.0 / L**0.5)
        assert got[i]["auth"] == pytest.approx(0.0)


def test_hits_no_edges_and_validation(spark):
    from open_vector_tile_spark.operators.graph import hits

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    empty = spark.createDataFrame([], "src long, dst long")
    rows = hits(empty, n_iter=2, nodes=nodes).collect()
    assert {r["id"] for r in rows} == {1, 2}
    assert all(r["hub"] == 0.0 and r["auth"] == 0.0 for r in rows)
    with pytest.raises(ValueError):
        hits(empty, n_iter=0)
    bad = spark.createDataFrame([("a",)], "id string")
    with pytest.raises(TypeError):
        hits(empty, n_iter=1, nodes=bad)


@pytest.mark.slow
def test_hits_deterministic_mode_stable_across_partitioning(spark):
    from open_vector_tile_spark.operators.graph import hits

    import random

    rng = random.Random(3)
    edge_list = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    a = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(df.repartition(1), n_iter=3, deterministic=True).collect()
    }
    b = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(df.repartition(13), n_iter=3, deterministic=True).collect()
    }
    assert a == b  # bit-for-bit, not approx


# ------------------------------------------------------------------ bfs_hops


def _py_bfs(edges, seeds, max_hops):
    from collections import deque

    adj = {}
    for s, t in edges:
        adj.setdefault(s, []).append(t)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_known(spark):
    from open_vector_tile_spark.operators.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (3, 5), (10, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=8).collect()}
    assert got == {1: 0, 10: 0, 2: 1, 11: 1, 3: 2, 4: 3, 5: 3}
    # hop cap
    got2 = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=1).collect()}
    assert got2 == {1: 0, 10: 0, 2: 1, 11: 1}
    # multi-seed minimum: seed at 3 shortens 4/5
    seeds2 = spark.createDataFrame([(1,), (3,)], "node long")
    got3 = {r["node"]: r["hops"] for r in bfs_hops(e, seeds2, max_hops=8).collect()}
    assert got3 == {1: 0, 3: 0, 2: 1, 4: 1, 5: 1}


@pytest.mark.slow
def test_bfs_randomized_and_determinism(spark):
    import random

    from open_vector_tile_spark.operators.graph import bfs_hops

    rng = random.Random(17)
    nodes = list(range(120))
    edges = list(
        {
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(350)
        }
    )
    seeds = [0, 7, 55]
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    for mh in (0, 2, 6):
        got = {r["node"]: r["hops"] for r in bfs_hops(e, s, max_hops=mh).collect()}
        assert got == _py_bfs(edges, seeds, mh), mh
    got2 = {
        r["node"]: r["hops"]
        for r in bfs_hops(e.repartition(7), s, max_hops=6).collect()
    }
    assert got2 == _py_bfs(edges, seeds, 6)


def test_bfs_validation_and_nulls(spark):
    import pytest as _pytest

    from open_vector_tile_spark.operators.graph import bfs_hops

    e = spark.createDataFrame([(1, None)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(e, s).collect()}
    assert got == {1: 0}  # null endpoints dropped, early exit
    with _pytest.raises(ValueError):
        bfs_hops(e, s, max_hops=-1)


# ---------------------------------------------------------------------------
# shortest_paths (weighted multi-source SSSP)
# ---------------------------------------------------------------------------


def _py_bounded_sssp(edges, seeds, max_rounds):
    """Reference Bellman-Ford: min weight over paths with <= r edges."""
    dist = {s: 0 for s in seeds}
    for _ in range(max_rounds):
        nxt = dict(dist)
        for s, t, w in edges:
            if s in dist and dist[s] + w < nxt.get(t, float("inf")):
                nxt[t] = dist[s] + w
        dist = nxt
    return dist


def test_sssp_known(spark):
    from open_vector_tile_spark.operators.graph import shortest_paths

    # expensive direct edge loses to a cheap two-hop path; cycle present
    edges = [(1, 2, 10), (1, 3, 1), (3, 2, 2), (2, 4, 1), (4, 1, 1), (5, 6, 7)]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in shortest_paths(e, seeds).collect()}
    assert got == {1: 0, 3: 1, 2: 3, 4: 4}  # 5/6 unreachable, omitted


def test_sssp_bounded_rounds_semantics(spark):
    from open_vector_tile_spark.operators.graph import shortest_paths

    # cheap path needs 3 edges; with max_rounds=2 only the pricey one counts
    edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 9)]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got2 = {r.node: r.dist for r in shortest_paths(e, seeds, max_rounds=2).collect()}
    assert got2[4] == 9
    got3 = {r.node: r.dist for r in shortest_paths(e, seeds, max_rounds=3).collect()}
    assert got3[4] == 3


@pytest.mark.slow
def test_sssp_randomized_parity_and_partitioning(spark):
    from open_vector_tile_spark.operators.graph import shortest_paths

    rng = random.Random(20260819)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(0, 12))
        for _ in range(240)
    ]
    # duplicate some parallel edges with different weights
    edges += [(s, t, w + 5) for (s, t, w) in edges[:20]]
    seeds = [0, 7, 13]
    want = _py_bounded_sssp(edges, seeds, 8)
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    for parts in (1, 7):
        got = {
            r.node: r.dist
            for r in shortest_paths(e.repartition(parts), sdf).collect()
        }
        assert got == want


def test_sssp_validation_and_nulls(spark):
    from open_vector_tile_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(
        [(1, 2, 3), (None, 4, 1), (2, None, 1), (2, 3, -5), (2, 3, 4)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in shortest_paths(e, seeds).collect()}
    # null endpoints and the negative edge are dropped
    assert got == {1: 0, 2: 3, 3: 7}
    with pytest.raises(ValueError):
        shortest_paths(e, seeds, max_rounds=-1)


def test_label_propagation_two_cliques(spark):
    from open_vector_tile_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge
    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((3, 10))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["comm"] for r in label_propagation(df, n_rounds=4).collect()}
    # each clique collapses to its min id; the bridge does not merge them
    assert {got[i] for i in (0, 1, 2, 3)} == {0}
    assert {got[i] for i in (10, 11, 12, 13)} == {10}


def test_label_propagation_matches_reference(spark):
    from open_vector_tile_spark.operators.graph import label_propagation
    import numpy as np

    rng = np.random.default_rng(83)
    edges = set()
    for g in range(5):  # noisy clusters of 6
        ids = list(range(g * 6, g * 6 + 6))
        for a in ids:
            for b in ids:
                if a < b and rng.random() < 0.7:
                    edges.add((a, b))
        if g:
            edges.add((g * 6 - 1, g * 6))  # sparse inter-cluster bridge
    edges = sorted(edges)

    def ref(n_rounds):
        nbrs = {}
        for a, b in edges:
            nbrs.setdefault(a, []).append(b)
            nbrs.setdefault(b, []).append(a)
        lab = {v: v for v in nbrs}
        for _ in range(n_rounds):
            new = {}
            for v in nbrs:
                cnt = {}
                for u in nbrs[v]:
                    cnt[lab[u]] = cnt.get(lab[u], 0) + 1
                best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                new[v] = best
            lab = new
        return lab

    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(5)
    for rounds in (1, 3):
        got = {
            r["id"]: r["comm"]
            for r in label_propagation(df, n_rounds=rounds).collect()
        }
        assert got == ref(rounds), rounds


def test_label_propagation_isolated_nodes_and_validation(spark):
    from open_vector_tile_spark.operators.graph import label_propagation
    import pytest as _pt

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (99,)], ["id"])
    got = {
        r["id"]: r["comm"]
        for r in label_propagation(df, n_rounds=2, nodes=nodes).collect()
    }
    # a single edge is bipartite: synchronous rounds swap labels, so after
    # an EVEN round count each node is back to its own label (documented
    # oscillation semantics); the isolated node always keeps its own
    assert got == {1: 1, 2: 2, 99: 99}
    with _pt.raises(ValueError):
        label_propagation(df, n_rounds=0)
