"""Grid-based spatial clustering (cell DBSCAN): hotspot detection over a
point table — dense urban clusters vs scattered noise — as pure relational
algebra plus the repo's connected-components kernel.

The classic DBSCAN neighborhood query (all pairs within eps) is quadratic;
the grid formulation snaps points to eps-sized cells and works at CELL
granularity: a cell holding >= min_pts points is *core*, core cells that
touch (8-neighborhood) merge into one cluster, and points in non-core
cells adjacent to a core cell join it as *border*.  This is the standard
scalable rendering (GriDBSCAN / cell-based DBSCAN family): candidate
generation is an equi-join on cell keys, never a distance cross-join.

Shape at 100 TB (10^10 points):
  - per-cell counts: ONE partial-aggregated shuffle (a mega-city cell
    combines map-side);
  - core-cell adjacency: the CORE CELL table (tiny vs points) explodes x9
    offsets map-side and equi-joins itself — no point data involved;
  - cluster labels: connected_components over core-cell keys, O(log
    diameter-in-cells) rounds on a table bounded by #core cells;
  - point labeling: two equi-joins on the cell key (core label, then the
    x9 border probe for leftovers).  Points never shuffle on anything
    but their cell key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_vector_tile_spark.operators._pins import Pins
from open_vector_tile_spark.operators.graph import connected_components

# bijective (cx, cy) -> long packing; |cell index| < 2^20 covers any
# cell_deg >= 1e-3 over the lon/lat domain with huge margin
_OFF = 1 << 20
_SPAN = 1 << 22

_NEIGHBORS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _cell_key(cx: F.Column, cy: F.Column) -> F.Column:
    return (cx + F.lit(_OFF)) * F.lit(_SPAN) + (cy + F.lit(_OFF))


def grid_cluster(
    points: DataFrame,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = 1.0,
    min_pts: int = 5,
) -> DataFrame:
    """-> (id_col, cell_x long, cell_y long, cluster long nullable,
    role string in {'core','border','noise'}).

    ``cluster`` is the smallest packed cell key in the merged core-cell
    component (stable across partitionings and engines); border points
    adjacent to several clusters take the smallest label; noise points
    carry a NULL cluster.  ``cell_deg`` is the DBSCAN eps in degrees;
    ``min_pts`` the core density threshold, counted PER CELL (the grid
    rendering's granularity — documented, coarser than point-radius
    DBSCAN).
    """
    if cell_deg < 1e-3:
        # the packed key is bijective only for |cell index| < 2^20; with
        # cell_deg >= 1e-3 any in-domain coordinate (|value| <= 360)
        # stays within +-360k cells.  A finer grid would silently alias
        # distant cells into one cluster — reject loudly instead.
        raise ValueError(f"cell_deg must be >= 1e-3, got {cell_deg}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    cx = F.floor(F.col(lon) / F.lit(float(cell_deg))).cast("long")
    cy = F.floor(F.col(lat) / F.lit(float(cell_deg))).cast("long")
    allpts = points.select(
        F.col(id_col), cx.alias("cell_x"), cy.alias("cell_y")
    )
    in_domain = F.coalesce(
        (F.abs(F.col("cell_x")) < _OFF) & (F.abs(F.col("cell_y")) < _OFF),
        F.lit(False),
    )
    # out-of-domain / NULL coordinates cannot enter the packed-key pipeline
    # (key aliasing); they are noise by definition and rejoin at the end
    pts = allpts.where(in_domain)
    bad = allpts.where(~in_domain).select(
        id_col,
        "cell_x",
        "cell_y",
        F.lit(None).cast("long").alias("cluster"),
        F.lit("noise").alias("role"),
    )

    with Pins() as pins:
        counts = pts.groupBy("cell_x", "cell_y").agg(F.count("*").alias("_n"))
        core = pins.pin(  # read 3x below (edges both sides, labels)
            counts.filter(F.col("_n") >= min_pts).select(
                "cell_x",
                "cell_y",
                _cell_key(F.col("cell_x"), F.col("cell_y")).alias("_key"),
            )
        )

        # 8-neighbor adjacency between core cells: explode offsets map-side,
        # one equi-join on the shifted key — never a distance predicate
        probes = core.select(
            F.col("_key").alias("src"),
            F.explode(
                F.array(
                    *[
                        _cell_key(F.col("cell_x") + F.lit(dx), F.col("cell_y") + F.lit(dy))
                        for dx, dy in _NEIGHBORS
                        if (dx, dy) != (0, 0)
                    ]
                )
            ).alias("dst"),
        )
        edges = probes.join(
            core.select(F.col("_key").alias("dst")), on="dst"
        )

        comp = pins.adopt(connected_components(edges, src="src", dst="dst"))
        labels = pins.pin(  # read twice (core join + border probe)
            core.join(comp, core["_key"] == comp["id"], "left").select(
                "cell_x",
                "cell_y",
                F.coalesce(comp["comp"], core["_key"]).alias("cluster"),
            )
        )
        # the result reads only `labels`: core and the CC label table are
        # dead once it is materialized, and go when the block exits
        pins.keep(labels)

    labeled = pts.join(labels, on=["cell_x", "cell_y"], how="left")
    core_pts = labeled.filter(F.col("cluster").isNotNull()).select(
        id_col, "cell_x", "cell_y", "cluster", F.lit("core").alias("role")
    )

    # leftovers probe the 9-neighborhood for a core cell; smallest cluster
    # label wins when several touch
    rest = labeled.filter(F.col("cluster").isNull()).drop("cluster")
    probed = rest.select(
        id_col,
        "cell_x",
        "cell_y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cell_x") + F.lit(dx)).alias("nx"),
                        (F.col("cell_y") + F.lit(dy)).alias("ny"),
                    )
                    for dx, dy in _NEIGHBORS
                    if (dx, dy) != (0, 0)
                ]
            )
        ).alias("_nb"),
    ).select(id_col, "cell_x", "cell_y", "_nb.nx", "_nb.ny")
    border_lbl = (
        probed.join(
            labels.select(
                F.col("cell_x").alias("nx"),
                F.col("cell_y").alias("ny"),
                "cluster",
            ),
            on=["nx", "ny"],
        )
        .groupBy(id_col)
        .agg(F.min("cluster").alias("cluster"))
    )
    # one left join classifies border vs noise in a single pass — an
    # anti-join formulation would embed the explode-probe aggregation in
    # two branches of the plan and execute it twice per action
    rest_out = rest.join(border_lbl, on=id_col, how="left").select(
        id_col,
        "cell_x",
        "cell_y",
        "cluster",
        F.when(F.col("cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
    )
    return core_pts.unionByName(rest_out).unionByName(bad)
