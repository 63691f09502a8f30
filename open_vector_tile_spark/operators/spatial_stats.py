"""Global spatial autocorrelation — Moran's I and Geary's C on grid cells.

The hotspot-analysis companion to the density operators (gridding.py's
heatmap/IDW): given a lattice of cell values, quantify whether high
values cluster (I > E[I], C < 1), disperse (I < E[I], C > 1), or scatter
randomly.  Weights are rook adjacency (4-neighborhood) on the occupied
cells — the lattice is the set of observed cells; empty cells are not
imputed (documented choice, mirrored in the oracle).

Exactness: with integer cell values every sum in both statistics is a
sum of integer products, so the whole computation reduces to SEVEN
integer moments — N, sum(x), sum(x^2), W (directed adjacent-pair count),
sum over pairs of x_i, of x_i*x_j, and of (x_i - x_j)^2.  The mean-
centered formulas expand exactly (scaled by N^2):

    A = N^2*S_xy - 2*N*S_x*S_1 + S_x^2*W        (pair covariance * N^2)
    B = N^2*S_xx - N*S_x^2                      (variance * N^3 ... /N)
    I = (A * N) / (W * B)
    C = ((N-1) * S_dd * N^2) / (2 * W * B * N^2) = ((N-1)*S_dd) / (2*W*B/N^2)

assembled in arbitrary-precision Python from the collected moments (7
scalars — the logreg-weights precedent, not a data collect) and divided
once in a fixed double chain the DuckDB twin replays via HUGEINT.

Scale shape (100 TB of events):
- cells arrive already partial-agg reduced (one shuffle upstream);
- adjacency is an explode of 4 neighbor offsets + ONE equi-join on the
  cell key — no window, no cross join; the join is cell-count sized;
- moments are a single partial-agg reduction to 7 numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import Pins

__all__ = ["spatial_autocorrelation", "getis_ord_gi"]

_OFFSETS = ((1, 0), (-1, 0), (0, 1), (0, -1))
_QUEEN_SELF = tuple(
    (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
)


def spatial_autocorrelation(
    cells: DataFrame,
    *,
    x_col: str = "gx",
    y_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """One-row ``(n_cells, w_pairs, morans_i, gearys_c, expected_i)``.

    ``cells`` must hold one row per (x, y) with an INTEGER value column
    (counts, quantized measures) — integrality is what makes the moment
    expansion exact.  Cells with no rook neighbor contribute variance
    but no pair terms.  Returns NULL statistics when no adjacent pairs
    exist or the variance is zero (constant surface) — both undefined.
    """
    spark = cells.sparkSession
    with Pins() as pins:
        # pin the (possibly expensive) upstream cell aggregation: two moment
        # jobs read it, and the pairs plan probes it twice more
        c = pins.pin(
            cells.select(
                F.col(x_col).cast("long").alias("gx"),
                F.col(y_col).cast("long").alias("gy"),
                F.col(val_col).cast("long").alias("v"),
            )
        )
        # product sums accumulate in DECIMAL so the exactness contract holds
        # to web-scale magnitudes (int64 sums of int64 products would wrap
        # before Python's bigints ever saw them; the oracle sums in HUGEINT)
        vd = F.col("v").cast("decimal(18,0)")
        base = c.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(vd).alias("sx"),
            F.sum(vd * F.col("v")).alias("sxx"),
        ).collect()[0]
        nbrs = c.select(
            "gx",
            "gy",
            F.col("v").alias("vi"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("gx") + dx).alias("nx"),
                            (F.col("gy") + dy).alias("ny"),
                        )
                        for dx, dy in _OFFSETS
                    ]
                )
            ).alias("nb"),
        ).select("vi", F.col("nb.nx").alias("nx"), F.col("nb.ny").alias("ny"))
        pairs = nbrs.join(
            c.select(
                F.col("gx").alias("nx"), F.col("gy").alias("ny"), F.col("v").alias("vj")
            ),
            ["nx", "ny"],
        )
        vid = F.col("vi").cast("decimal(18,0)")
        dd = (F.col("vi") - F.col("vj")).cast("decimal(18,0)")
        pm = pairs.agg(
            F.count("*").cast("long").alias("w"),
            F.sum(vid).alias("s1"),
            F.sum(vid * F.col("vj")).alias("sxy"),
            F.sum(dd * dd).alias("sdd"),
        ).collect()[0]
    n, sx, sxx = int(base["n"]), int(base["sx"] or 0), int(base["sxx"] or 0)
    w = int(pm["w"])
    s1, sxy, sdd = int(pm["s1"] or 0), int(pm["sxy"] or 0), int(pm["sdd"] or 0)

    a = n * n * sxy - 2 * n * sx * s1 + sx * sx * w
    b = n * n * sxx - n * sx * sx
    if n > 1 and w > 0 and b != 0:
        morans_i = float(a) * float(n) / float(w) / float(b)
        gearys_c = float((n - 1) * sdd * n * n) / float(2 * w * b)
        expected_i = -1.0 / float(n - 1)
    else:
        morans_i = gearys_c = expected_i = None
    return spark.createDataFrame(
        [(n, w, morans_i, gearys_c, expected_i)],
        schema=(
            "n_cells BIGINT, w_pairs BIGINT, morans_i DOUBLE, "
            "gearys_c DOUBLE, expected_i DOUBLE"
        ),
    )


def getis_ord_gi(
    cells: DataFrame,
    *,
    x_col: str = "gx",
    y_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """Getis-Ord Gi* hot/cold-spot z-score per cell — the LOCAL statistic
    (Moran's I above is the global one; Gi* says WHERE the clusters are).

    Binary queen weights including self (the * variant) over the observed
    lattice: for cell i with W_i present neighbors and neighborhood sum
    G_i,

        z_i = (G_i - xbar*W_i) / (S * sqrt((n*W_i - W_i^2)/(n-1)))

    with xbar = sum(x)/n and S = sqrt(sum(x^2)/n - xbar^2).  Integer
    inputs keep G_i/W_i and the global moments exact; the double chain is
    fixed (each multiply/divide/sqrt correctly rounded) so the DuckDB
    twin reproduces z bit-for-bit.  NULL z where the denominator is zero
    (constant surface, or W_i == n).

    Scale shape: ONE partial-agg shuffle on the cell key for the
    neighborhood sums (9-offset explode is map-side), global moments are
    a 1-row broadcast cross join — no window, no collect.

    Output: ``(gx, gy, v, w_i, g_i, z)``.
    """
    c = cells.select(
        F.col(x_col).cast("long").alias("gx"),
        F.col(y_col).cast("long").alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    mom = c.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
        F.sum(F.col("v").cast("decimal(18,0)") * F.col("v")).alias("sxx"),
    )
    probes = c.select(
        "gx",
        "gy",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("nx"),
                        (F.col("gy") + dy).alias("ny"),
                    )
                    for dx, dy in _QUEEN_SELF
                ]
            )
        ).alias("nb"),
    ).select("gx", "gy", F.col("nb.nx").alias("nx"), F.col("nb.ny").alias("ny"))
    hood = (
        probes.join(
            c.select(
                F.col("gx").alias("nx"),
                F.col("gy").alias("ny"),
                F.col("v").alias("vj"),
            ),
            ["nx", "ny"],
        )
        .groupBy("gx", "gy")
        .agg(
            F.count("*").cast("long").alias("w_i"),
            F.sum("vj").cast("long").alias("g_i"),
        )
    )
    xbar = F.col("sx").cast("double") / F.col("n")
    # clamp: sxx/n - xbar^2 can round a hair below zero on a near-constant
    # surface, and engines disagree on sqrt(<0) (NaN vs error)
    s = F.sqrt(
        F.greatest(
            F.col("sxx").cast("double") / F.col("n") - xbar * xbar, F.lit(0.0)
        )
    )
    num = F.col("g_i").cast("double") - xbar * F.col("w_i")
    den = s * F.sqrt(
        (F.col("n") * F.col("w_i") - F.col("w_i") * F.col("w_i")).cast("double")
        / (F.col("n") - 1)
    )
    return (
        c.join(hood, ["gx", "gy"])
        .crossJoin(F.broadcast(mom))
        .select(
            "gx",
            "gy",
            "v",
            "w_i",
            "g_i",
            F.when(den > 0.0, num / den).alias("z"),
        )
    )
