"""Distributed connected components over a pair/edge DataFrame.

The missing last stage of a near-duplicate pipeline: LSH / minhash emit
PAIRS (a, b); choosing one canonical document per duplicate *cluster*
requires the transitive closure of those pairs.  ``connected_components``
computes, for every node, the minimum node id reachable from it — the
standard component label — using only DataFrame joins/aggregations.

Algorithm: min-label propagation with pointer jumping.

    round k:  comp(x) <- min(comp(x), min over neighbors y of comp(y))
              comp(x) <- comp(comp(x))          (pointer jump / shortcut)

Neighbor-min alone needs O(diameter) rounds; the jump step composes labels
so chains collapse in O(log diameter) rounds.  Each round is two shuffles
(edge-join + groupBy-min, then the jump join) over (id, comp) pairs only —
node payloads never travel.  Labels are ``localCheckpoint``-ed per round so
lineage stays flat across iterations (same pattern as knn_cell_ring,
knn.py:123).

Scale notes (100 TB / 10^10 nodes):
- the groupBy("id").min("comp") neighbor reduction is partial-aggregated
  map-side, so high-degree hub nodes don't hot-spot the shuffle;
- the jump join probes the label table on ``comp``; a giant component makes
  one key hot on the PROBE side only — AQE skew-join splits it (the build
  side, unique ``id``, is balanced by construction);
- convergence is detected with a changed-row count per round — one cheap
  action on an already-checkpointed frame.

This is the DataFrame rendering of the classic MapReduce CC algorithms
(Kiveris et al., "Connected Components in MapReduce and Beyond" — the
small-star/large-star family); min-label + shortcutting has the same
round complexity for the label table and simpler dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import Pins


def _fold_sum(c: F.Column) -> F.Column:
    """Order-deterministic double sum: collect, sort by value, left-fold.

    Bit-identical across partitionings/engines (DuckDB twin:
    ``sum(x ORDER BY x)``) — equal values sum the same regardless of which
    tied element comes first.  This is the determinism-mode aggregate; it
    materializes the group as an array, so production paths use a plain
    ``sum`` instead (see ``pagerank(deterministic=)``)."""
    return F.aggregate(
        F.sort_array(F.collect_list(c)), F.lit(0.0), lambda a, x: a + x
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """-> (id long, comp long): comp = min reachable node id.

    ``edges`` is an undirected pair list; direction and duplicates are
    irrelevant (symmetrized + deduped internally).  Every endpoint appears
    in the output; nodes with no edges should be unioned in by the caller
    (they are their own component by definition).

    Raises RuntimeError if the fixpoint is not reached in ``max_rounds``
    (pointer jumping converges in O(log diameter); 25 rounds covers
    diameters beyond 2^20).
    """
    with Pins() as pins:
        e = edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        sym = pins.pin(sym.filter(F.col("a") != F.col("b")).distinct())

        labels = pins.pin(
            sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
        )

        for _ in range(max_rounds):
            # neighbor-min: smallest label among each node's neighbors
            nbr = (
                sym.join(labels.withColumnRenamed("id", "a"), on="a")
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            stepped = (
                labels.join(nbr, on="id", how="left")
                .select("id", F.least("comp", "nbr_comp").alias("comp"))
            )
            # pointer jump x2: follow comp two hops (comp is always an existing
            # id).  The second jump is a pure plan extension — one more join in
            # the same job, no extra action — and roughly halves the number of
            # rounds (each round composes 2 levels of the label forest).
            jumped = stepped
            for _jump in range(2):
                parent = jumped.select(
                    F.col("id").alias("comp"), F.col("comp").alias("jump")
                )
                jumped = jumped.join(parent, on="comp", how="left").select(
                    "id", F.least("comp", "jump").alias("comp")
                )
            jumped = pins.pin(jumped)
            changed = (
                jumped.join(labels.withColumnRenamed("comp", "old"), on="id")
                .filter(F.col("comp") != F.col("old"))
                .count()
            )
            # the old label table is dead once the changed-count action ran:
            # free its pinned blocks NOW instead of holding rounds x |nodes|
            pins.free(labels)
            labels = jumped
            if changed == 0:
                return pins.keep(labels)
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    nodes: DataFrame | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    -> (id long, outdeg long, rank double).  The web-graph authority score
    that ranks a crawl frontier (link-count priority treats a link farm and
    the homepage of a national library identically; PageRank does not).
    Fixed ``n_iter`` rounds — the production choice at 10^12 edges, where
    convergence detection costs an extra action per round and ranks are
    consumed by a downstream top-k anyway.

    Semantics (the standard random-surfer model):
        rank0     = 1/N
        rank_k+1  = (1-d)/N + d * (sum over in-edges of rank_k/outdeg
                                   + dangling_mass_k / N)
    where dangling_mass is the total rank sitting on nodes with no
    out-edges (redistributed uniformly — without it the scores of a graph
    with sinks leak mass and no longer sum to 1).

    Shape per round (the 100 TB plan):
      - contributions = edges ⋈ ranks on the SOURCE key: the rank table is
        (id, outdeg, rank) only — node payloads never travel;
      - inflow = groupBy(dst).sum: partial-aggregated map-side, so
        celebrity pages (10^8 in-links) combine before the shuffle;
      - dangling mass is a 1-row aggregate cross-joined back (broadcast);
      - the rank table is ``localCheckpoint``-ed every other round and the
        previous checkpoint is freed as soon as the next one exists (same
        discipline as connected_components / redirects) — peak pinned
        state is two copies of (id, outdeg, rank), not O(rounds).

    ``deterministic=True`` switches the two float sums (inflow, dangling)
    to the repo's sorted-fold so a DuckDB oracle replays every iteration
    bit-for-bit (``sum(x ORDER BY x)``); the fold materializes each
    destination's contribution list, so leave it off in production.

    Edges are deduplicated and self-loops dropped (the simple-graph
    convention); ``nodes`` optionally supplies isolated ids that appear in
    no edge (they still hold and receive redistributed mass).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    with Pins() as pins:
        e = edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("t")
        )
        e = pins.pin(e.filter(F.col("s") != F.col("t")).distinct())
        ids = e.select(F.col("s").alias("id")).union(e.select(F.col("t").alias("id")))
        if nodes is not None:
            # extra isolated ids join the surfer model; endpoints always count.
            # Demand exactly one integral column — silently casting the first
            # column of a wider frame would union NULL/garbage ids and distort
            # every rank without an error.
            if len(nodes.columns) != 1:
                raise ValueError(
                    f"pagerank nodes must have exactly one id column, got "
                    f"{nodes.columns}"
                )
            dt = nodes.schema[nodes.columns[0]].dataType.simpleString()
            if dt not in ("tinyint", "smallint", "int", "bigint"):
                raise TypeError(
                    f"pagerank nodes id column must be integral, got {dt} "
                    "(hash string ids to int64 first, e.g. xxhash64)"
                )
            ids = ids.union(
                nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
            )
        ids = ids.distinct()
        deg = e.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("outdeg"))
        n = ids.count()
        if n == 0:
            pins.keep(e)  # the empty result still reads the edge table
            return ids.select(
                "id", F.lit(0).cast("long").alias("outdeg"), F.lit(0.0).alias("rank")
            )
        nd = float(n)
        state = pins.pin(
            ids.join(deg, on="id", how="left").select(
                "id",
                F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
                (F.lit(1.0) / F.lit(nd)).alias("rank"),
            )
        )
        pinned = state
        fold = _fold_sum if deterministic else F.sum
        base = (1.0 - damping) / nd  # same IEEE op order as the SQL twin
        for _i in range(n_iter):
            contrib = e.join(
                state.select(F.col("id").alias("s"), "rank", "outdeg"), on="s"
            ).select(F.col("t").alias("id"), (F.col("rank") / F.col("outdeg")).alias("c"))
            inflow = contrib.groupBy("id").agg(fold(F.col("c")).alias("inflow"))
            dang = state.filter(F.col("outdeg") == 0).agg(
                fold(F.col("rank")).alias("dm")
            )
            new_state = (
                state.crossJoin(F.broadcast(dang))
                .join(inflow, on="id", how="left")
                .select(
                    "id",
                    "outdeg",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce("inflow", F.lit(0.0))
                            + F.coalesce("dm", F.lit(0.0)) / F.lit(nd)
                        )
                    ).alias("rank"),
                )
            )
            # checkpoint every OTHER round (and the last): each eager
            # checkpoint is a driver-synchronous materialization, and two
            # unrolled rounds (state referenced 3x per round -> <=9 subtree
            # copies, collapsed by runtime stage reuse) plan and run faster
            # than two barriers — measured 3.5 -> 2.7 s at sf0.1,
            # bit-identical ranks.  Deep n_iter still truncates lineage every
            # two rounds.  The odd round's state is lazy, so the checkpoint
            # freed here is the one from two rounds back: peak pinned state
            # is the edge table plus two rank tables.
            if _i % 2 == 1 or _i == n_iter - 1:
                new_state = pins.pin(new_state)
                pins.free(pinned)
                pinned = new_state
            state = new_state
        return pins.keep(state)


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign every document a canonical id from its near-dup cluster.

    -> (id_col, component long, comp_size long): ``component`` is the min
    doc id of the cluster (singletons: the doc itself, size 1).  The keep
    policy "retain the canonical, drop the rest" is then a one-line filter
    ``component == doc_id``.

    Ids must be integral: a silent ``cast('long')`` of string ids like
    'doc-17' would null every key, lump the whole corpus into one null
    component, and make the keep filter drop ALL rows — so non-integral
    id columns are rejected loudly instead.
    """
    for frame, col in ((df, id_col), (pairs, src), (pairs, dst)):
        dt = frame.schema[col].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"dedup_components requires integral ids; column {col!r} is "
                f"{dt} (hash string ids to int64 first, e.g. xxhash64)"
            )
    comp = connected_components(pairs, src=src, dst=dst)
    labeled = (
        df.select(F.col(id_col).cast("long").alias("id"))
        .join(comp, on="id", how="left")
        .select("id", F.coalesce("comp", "id").alias("component"))
    )
    sizes = labeled.groupBy("component").agg(F.count("*").alias("comp_size"))
    return (
        labeled.join(sizes, on="component")
        .select(
            F.col("id").alias(id_col),
            "component",
            F.col("comp_size").cast("long").alias("comp_size"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    nodes: DataFrame | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """Kleinberg's HITS over a directed edge list -> (id, hub, auth).

    The complementary web-graph score to :func:`pagerank`: authorities are
    pages good links point AT (the content you want in a training corpus),
    hubs are pages that point at good authorities (directories / link
    lists — crawl seeds, but often boilerplate to filter OUT).  Standard
    mutual-reinforcement power iteration with L2 normalization per
    half-step:

        auth_k(v) = Σ hub_{k-1}(u) over in-edges (u,v),   / ||auth_k||
        hub_k(u)  = Σ auth_k(v)    over out-edges (u,v),  / ||hub_k||

    Shape per round (same discipline as pagerank): two (edges ⋈ state)
    joins on the endpoint key with map-side partial aggregation — hub
    pages with 10^6 out-links combine before the shuffle; each L2 norm is
    a 1-row aggregate broadcast back; state is localCheckpoint-ed per
    round with the previous round's blocks freed immediately.

    ``deterministic=True`` switches the three float sums per half-step
    (inflow and the norm's sum of squares) to the repo's sorted fold so a
    DuckDB oracle replays every iteration bit-for-bit
    (``sum(x ORDER BY x)`` / ``sum(x*x ORDER BY x*x)``); a graph with no
    edges yields all-zero scores rather than NaN (norm-0 guard).

    Edges are deduplicated and self-loops dropped (simple-graph
    convention, matching pagerank); ``nodes`` optionally adds isolated
    ids (score 0, but present in the output).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    with Pins() as pins:
        e = edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("t")
        )
        e = pins.pin(e.filter(F.col("s") != F.col("t")).distinct())
        ids = e.select(F.col("s").alias("id")).union(e.select(F.col("t").alias("id")))
        if nodes is not None:
            if len(nodes.columns) != 1:
                raise ValueError(
                    f"hits nodes must have exactly one id column, got {nodes.columns}"
                )
            dt = nodes.schema[nodes.columns[0]].dataType.simpleString()
            if dt not in ("tinyint", "smallint", "int", "bigint"):
                raise TypeError(
                    f"hits nodes id column must be integral, got {dt} "
                    "(hash string ids to int64 first, e.g. xxhash64)"
                )
            ids = ids.union(nodes.select(F.col(nodes.columns[0]).cast("long").alias("id")))
        ids = pins.pin(ids.distinct())
        fold = _fold_sum if deterministic else F.sum

        def _half_step(state: DataFrame, score: str, join_key: str, out_key: str, out: str):
            """One normalized propagation: sum `score` across edges grouped by
            the far endpoint, L2-normalize, left-join back onto all ids."""
            raw = (
                e.join(state.select(F.col("id").alias(join_key), score), on=join_key)
                .select(F.col(out_key).alias("id"), F.col(score).alias("c"))
                .groupBy("id")
                .agg(fold(F.col("c")).alias("raw"))
            )
            norm = raw.agg(
                F.sqrt(
                    F.coalesce(fold(F.col("raw") * F.col("raw")), F.lit(0.0))
                ).alias("nrm")
            )
            return (
                state.join(raw, on="id", how="left")
                .crossJoin(F.broadcast(norm))
                .select(
                    *[c for c in state.columns if c != out],
                    F.when(
                        F.col("nrm") > 0.0,
                        F.coalesce("raw", F.lit(0.0)) / F.col("nrm"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias(out),
                )
            )

        state = pins.pin(
            ids.select("id", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        )
        for _ in range(n_iter):
            # auth from hubs (in-edges), then hubs from the NEW auth (out-edges)
            mid = _half_step(state, "hub", "s", "t", "auth")
            # checkpoint EVERY round, unlike pagerank's cadence-2: a round here
            # is two half-steps each re-referencing state plus a broadcast
            # norm, and the unrolled two-round diamond was measured WORSE
            # (3.5 -> 5.2 s at sf0.1, alternating A/B) — the recomputed
            # aggregate branches cost more than the barrier saves.
            new_state = pins.pin(
                _half_step(mid, "auth", "t", "s", "hub").select("id", "hub", "auth")
            )
            pins.free(state)
            state = new_state
        return pins.keep(state)


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_hops: int = 8,
) -> DataFrame:
    """Multi-source BFS -> (node, hops): minimum hop distance from ANY
    seed, nodes beyond ``max_hops`` (or unreachable) omitted.

    The crawl-radius primitive: "how many clicks from a trusted seed set
    is this host?" (TrustRank-style distance features, crawl-depth
    budgeting, link-farm isolation).

    Frontier expansion, not path enumeration: each round joins the
    CURRENT frontier (nodes first reached last round) to the edge table,
    anti-joins the visited set, and tags survivors with hop h — every
    node is expanded exactly once, so total work is O(E) across all
    rounds no matter how many distinct paths exist (the recursive-CTE
    oracle, by contrast, re-walks paths and only stays bounded because
    the hop budget caps it).  Integer-only state: no float determinism
    concerns.  The frontier and visited tables are localCheckpoint-ed
    per round and previous copies freed — lineage stays flat, peak
    pinned state is one visited + one frontier table.  Early-exits when
    the frontier drains.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    with Pins() as pins:
        e = pins.pin(
            edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"))
            .filter(F.col("_s").isNotNull() & F.col("_t").isNotNull())
            .distinct()
        )
        frontier = pins.pin(
            sources.select(F.col(node_col).alias("node"))
            .distinct()
            .withColumn("hops", F.lit(0))
        )
        visited = frontier
        for h in range(1, int(max_hops) + 1):
            nxt = (
                frontier.join(e, frontier["node"] == e["_s"])
                .select(F.col("_t").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(h))
            )
            nxt = pins.pin(nxt)
            if nxt.isEmpty():
                break
            new_visited = pins.pin(visited.unionByName(nxt))
            pins.free(visited)
            if frontier is not visited:
                pins.free(frontier)
            visited, frontier = new_visited, nxt
        # the last frontier is already folded into the materialized visited
        # table, so leaving the block frees it with the edges
        return pins.keep(visited)


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    max_rounds: int = 8,
) -> DataFrame:
    """Multi-source weighted shortest paths -> (node, dist): minimum total
    edge weight from ANY seed over paths of at most ``max_rounds`` edges.

    The weighted upgrade of :func:`bfs_hops` — link-distance features where
    hops aren't equal (crawl cost, latency maps, trust decay with per-edge
    penalties).  Weights are non-negative LONGS: integer-only state, so
    results are exact and engine-independent (no float-sum reassociation).

    Frontier-pruned Bellman-Ford: after round k, dist(v) is exactly the
    min over paths with <= k edges (the textbook invariant — pruning only
    skips relaxations that cannot improve, since any improving path at
    round k extends a node improved at round k-1).  Each round is two
    shuffles — frontier-edge join, then a groupBy(dst).min partial-agg
    (map-side combine keeps hub fan-in off one reducer) — joined back
    against the dist table to keep strict improvements only.  Dist and
    frontier are localCheckpoint-ed per round and stale copies freed, so
    lineage stays flat and peak pinned state is one dist + one frontier
    table; drained frontier early-exits.  Parallel edges collapse to their
    cheapest weight up front.  Unlike the recursive-CTE oracle (which
    re-walks and UNION-dedupes every (node, dist, hop) state), total work
    is O(rounds x E) regardless of path multiplicity.
    """
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    with Pins() as pins:
        e = pins.pin(
            edges.select(
                F.col(src_col).alias("_s"),
                F.col(dst_col).alias("_t"),
                F.col(weight_col).cast("long").alias("_w"),
            )
            .filter(
                F.col("_s").isNotNull()
                & F.col("_t").isNotNull()
                & (F.col("_w") >= 0)
            )
            .groupBy("_s", "_t")
            .agg(F.min("_w").alias("_w"))
        )
        dist = pins.pin(
            sources.select(F.col(node_col).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        frontier = dist
        for _ in range(int(max_rounds)):
            cand = (
                frontier.join(e, frontier["node"] == e["_s"])
                .select(F.col("_t").alias("node"), (F.col("dist") + F.col("_w")).alias("_cand"))
                .groupBy("node")
                .agg(F.min("_cand").alias("_cand"))
            )
            improved = pins.pin(
                cand.join(dist, "node", "left")
                .where(F.col("dist").isNull() | (F.col("_cand") < F.col("dist")))
                .select("node", F.col("_cand").alias("dist"))
            )
            if improved.isEmpty():
                break
            new_dist = pins.pin(
                dist.join(improved.select("node"), "node", "left_anti").unionByName(
                    improved
                )
            )
            pins.free(dist)
            if frontier is not dist:
                pins.free(frontier)
            dist, frontier = new_dist, improved
        return pins.keep(dist)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    nodes: DataFrame | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyöngyi et al. 2004): PageRank
    whose teleport lands ONLY on a trusted seed set — the webspam defense
    (a link farm can inflate plain PageRank but cannot buy proximity to
    curated seeds) and the topic-sensitive authority score for crawl
    prioritization.  -> (id, outdeg, rank, is_seed).

    Model: ``v_i = 1/|S|`` for seeds else 0; ``rank0 = v``;
    ``rank_{k+1} = (1-d)·v + d·(inflow + dangling_mass·v)`` — both the
    teleport AND the dangling redistribution follow ``v`` (mass stays in
    the seed neighborhood; non-seed sink mass flows back to seeds), so
    ranks keep summing to 1.  Nodes unreachable from any seed converge to
    exactly 0.0 and stay bit-exactly 0 — prune-able downstream.

    Same 100 TB shape as :func:`pagerank` (one edge-state join + one
    partial-agg inflow per round, 1-row dangling broadcast, per-round
    localCheckpoint + free); ``deterministic=True`` switches the float
    sums to the sorted fold for the bit-exact oracle replay.  Seeds not
    present in the graph still teleport (they join the node set); demands
    one integral seed column, mirroring the ``nodes`` contract.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if len(seeds.columns) != 1:
        raise ValueError(
            f"seeds must have exactly one id column, got {seeds.columns}"
        )
    sdt = seeds.schema[seeds.columns[0]].dataType.simpleString()
    if sdt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"seeds id column must be integral, got {sdt} "
            "(hash string ids to int64 first, e.g. xxhash64)"
        )
    with Pins() as pins:
        e = edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("t")
        )
        e = pins.pin(e.filter(F.col("s") != F.col("t")).distinct())
        sd = seeds.select(F.col(seeds.columns[0]).cast("long").alias("id")).distinct()
        n_seeds = sd.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank: empty seed set")
        ids = e.select(F.col("s").alias("id")).union(e.select(F.col("t").alias("id")))
        ids = ids.union(sd.select("id"))
        if nodes is not None:
            if len(nodes.columns) != 1:
                raise ValueError(
                    f"nodes must have exactly one id column, got {nodes.columns}"
                )
            ids = ids.union(
                nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
            )
        ids = ids.distinct()
        deg = e.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("outdeg"))
        sv = 1.0 / float(n_seeds)
        state = pins.pin(
            ids.join(deg, on="id", how="left")
            .join(sd.withColumn("_isseed", F.lit(True)), on="id", how="left")
            .select(
                "id",
                F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
                F.coalesce("_isseed", F.lit(False)).alias("is_seed"),
                F.when(F.col("_isseed"), F.lit(sv)).otherwise(F.lit(0.0)).alias("rank"),
            )
        )
        fold = _fold_sum if deterministic else F.sum
        base = 1.0 - damping
        for _ in range(n_iter):
            contrib = e.join(
                state.select(F.col("id").alias("s"), "rank", "outdeg"), on="s"
            ).select(F.col("t").alias("id"), (F.col("rank") / F.col("outdeg")).alias("c"))
            inflow = contrib.groupBy("id").agg(fold(F.col("c")).alias("inflow"))
            dang = state.filter(F.col("outdeg") == 0).agg(
                fold(F.col("rank")).alias("dm")
            )
            seed_mass = F.when(F.col("is_seed"), F.lit(sv)).otherwise(F.lit(0.0))
            new_state = pins.pin(
                state.crossJoin(F.broadcast(dang))
                .join(inflow, on="id", how="left")
                .select(
                    "id",
                    "outdeg",
                    "is_seed",
                    (
                        F.lit(base) * seed_mass
                        + F.lit(damping)
                        * (
                            F.coalesce("inflow", F.lit(0.0))
                            + F.coalesce("dm", F.lit(0.0)) * seed_mass
                        )
                    ).alias("rank"),
                )
            )
            pins.free(state)
            state = new_state
        return pins.keep(state).select("id", "outdeg", "rank", "is_seed")



def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_rounds: int = 4,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation -> (id, comm): every
    node starts as its own community; each round it adopts the most
    frequent label among its neighbors, ties broken by SMALLEST label —
    no randomness, no update-order dependence, so a fixed round count
    replays bit-for-bit in any engine (the classic async LPA is
    order-dependent by construction; this is the deterministic variant,
    the same trade made for pagerank/textrank's sorted folds).

    Undirected: edges are symmetrized + deduped, self-loops dropped.
    ``nodes`` (a df with ``id``) unions in isolated nodes, which keep
    their own label.  Fixed ``n_rounds`` synchronous rounds — bipartite
    structures may oscillate rather than converge; callers wanting a
    fixpoint can compare consecutive rounds themselves.

    Scale shape: each round is ONE join of the label table to the
    symmetric edge list (shuffle on the node key) + a (node, label)
    partial agg + an argmax partial agg — state is (id, comm) only,
    payloads never travel; per-round localCheckpoint with immediate
    free keeps lineage flat.  Hub skew is the partial agg's problem, not
    a window's: counts combine map-side.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    with Pins() as pins:
        e = edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        sym = pins.pin(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        ids = sym.select(F.col("a").alias("id")).distinct()
        if nodes is not None:
            ids = ids.unionByName(
                nodes.select(F.col("id").cast("long").alias("id"))
            ).distinct()
        labels = pins.pin(ids.withColumn("comm", F.col("id")))
        for _ in range(int(n_rounds)):
            counts = (
                sym.join(labels.withColumnRenamed("id", "a"), on="a")
                .groupBy(F.col("b").alias("id"), F.col("comm"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
            winners = counts.groupBy("id").agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("comm").alias("comm")))[
                    "comm"
                ].alias("w")
            )
            stepped = pins.pin(
                labels.join(winners, on="id", how="left").select(
                    "id", F.coalesce("w", "comm").alias("comm")
                )
            )
            pins.free(labels)
            labels = stepped
        return pins.keep(labels)
