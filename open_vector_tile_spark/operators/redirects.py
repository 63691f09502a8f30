"""Redirect-chain resolution: canonical URL via pointer doubling.

A web corpus carries HTTP redirects as (src_url, dst_url) edges; the
canonical identity of a page is the TERMINAL of its redirect chain
(a -> b -> c, c has no outgoing redirect => canonical(a) = c).  Chains
can be long (link shorteners, http->https->www->cdn hops) and real crawl
graphs contain redirect CYCLES (a -> b -> a misconfigurations), which
must be flagged, not looped over.

Algorithm: pointer doubling over the functional edge map.

    round k: ptr(u) <- ptr(ptr(u)),  hops(u) <- hops(u) + hops(ptr(u))

Each round composes the walk with itself, so a chain of length L resolves
in ceil(log2 L) rounds — 64-hop chains in 6 joins, not 64.  A node whose
pointer is terminal (no outgoing edge) is a fixpoint of the jump join
(left join misses), so resolved rows ride along untouched and the exact
chain length accumulates in ``hops``.  Nodes still pointing at a source
node after enough rounds to cover ``max_hops`` are in (or drain into) a
cycle or an over-long chain: reported with ``is_cycle=true`` and a null
canonical, never a wrong one.

Scale shape (10^12-URL graph):
- state is only (url, ptr, hops) — page payloads never travel;
- each round is ONE self-join shuffle on ``ptr``; O(log max_hops) rounds
  total (7 for the default 64);
- per-round ``localCheckpoint`` keeps lineage flat, and each superseded
  checkpoint is freed as soon as the next one exists (``_pins.Pins``), so
  peak pinned storage is 2 copies of the label table, not O(rounds);
- early exit when every row is resolved (one cheap count per round on an
  already-materialized frame).

Oracle: the driver twin walks the same chains with a DuckDB RECURSIVE CTE
bounded at ``max_hops`` — an execution strategy this operator exists to
avoid at scale (the CTE materializes every prefix of every chain), which
makes it an honest independent oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import Pins

__all__ = ["resolve_redirects"]


def resolve_redirects(
    edges: DataFrame,
    src: str = "src_url",
    dst: str = "dst_url",
    max_hops: int = 64,
) -> DataFrame:
    """-> (url, canonical_url, n_hops, is_cycle) — one row per distinct src.

    ``edges`` need not be functional: duplicate srcs are collapsed to the
    lexicographically smallest dst (deterministic across engines).  Rows
    whose chain reaches no terminal within ``max_hops`` get
    ``canonical_url = NULL, n_hops = NULL, is_cycle = true``.  URLs that
    never appear as a src are their own canonical by definition and are
    not emitted (callers left-join and ``coalesce(canonical_url, url)``).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    with Pins() as pins:
        e = edges.select(F.col(src).alias("url"), F.col(dst).alias("ptr"))
        labels = pins.pin(
            e.groupBy("url")
            .agg(F.min("ptr").alias("ptr"))
            .withColumn("hops", F.lit(1).cast("long"))
        )
        # after r rounds every chain of length <= 2^r is resolved; one extra
        # round so hops can EXCEED max_hops for the cycle test below
        rounds = max(1, math.ceil(math.log2(max_hops))) + 1
        for _ in range(rounds):
            p = labels.select(
                F.col("url").alias("ptr"),
                F.col("ptr").alias("_jump"),
                F.col("hops").alias("_jhops"),
            )
            jumped = pins.pin(
                labels.join(p, on="ptr", how="left").select(
                    "url",
                    F.coalesce("_jump", "ptr").alias("ptr"),
                    (F.col("hops") + F.coalesce("_jhops", F.lit(0))).alias("hops"),
                )
            )
            # resolved rows (ptr terminal) miss the join and ride unchanged, so
            # "nothing moved" == "every chain hit a terminal or exceeded the
            # hop budget" — both are final states
            moved = (
                jumped.join(
                    labels.select("url", F.col("hops").alias("_old")), on="url"
                )
                .filter(F.col("hops") != F.col("_old"))
                .count()
            )
            pins.free(labels)
            labels = jumped
            if moved == 0:
                break
        pins.keep(labels)  # the output below reads it
    # terminal test WITHOUT another distinct/shuffle over the edge table:
    # a ptr is a source iff it has a label row
    is_src = labels.select(F.col("url").alias("ptr")).withColumn(
        "_has_out", F.lit(True)
    )
    out = (
        labels.join(is_src, on="ptr", how="left")
        .select(
            "url",
            # unresolved = still pointing at a source (cycle / drains into
            # one) OR resolved but past the hop budget — both must match
            # the bounded-walk oracle, which sees neither as terminal
            (
                F.col("_has_out").isNotNull() | (F.col("hops") > max_hops)
            ).alias("is_cycle"),
            F.col("ptr"),
            F.col("hops"),
        )
        .select(
            "url",
            F.when(~F.col("is_cycle"), F.col("ptr")).alias("canonical_url"),
            F.when(~F.col("is_cycle"), F.col("hops")).alias("n_hops"),
            "is_cycle",
        )
    )
    return out
