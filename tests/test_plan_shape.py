"""Physical-plan shape assertions (scale guards).

These lock in the properties that matter at 100 TB: filters reach the
parquet scan, dimension joins broadcast (no shuffle of the big side), the
tile path shuffles exactly once on (zoom, tile_x, tile_y), and hot
expressions stay inside WholeStageCodegen.
"""

import re

import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.functions.text import geoparse
from open_vector_tile_spark.operators import encode_tiles, points_to_features, spatial_join
from open_vector_tile_spark.sources import pages_pdf, polygons_pdf

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema restricted to the 3 needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_quantity", "l_shipdate"}


def test_dimension_joins_broadcast(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_spatial_join_broadcasts_covering(spark):
    pages = spark.createDataFrame(pages_pdf(200))
    joined = spatial_join(geoparse(pages), polygons_pdf(), zoom=4)
    plan = plan_of(joined)
    # the pages side must NOT shuffle: covering is broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_skew_join_matches_unsalted(spark):
    """J4: mega-cell skew — 90% of points share one cell.  The salted
    shuffle-join variant (AQE on, shuffle_hash hint) must return exactly the
    unsalted broadcast result, and its plan must actually take the shuffle
    path with the salt in the partitioning key."""
    import pandas as pd

    base = pages_pdf(300)
    hot = base.iloc[[0]].copy()
    skewed = pd.concat([base] + [hot.assign(url=f"hot-{i}") for i in range(2700)], ignore_index=True)
    pts = geoparse(spark.createDataFrame(skewed))
    polys = polygons_pdf()
    a = spatial_join(pts, polys, zoom=4, salt=8).select("url", "poly_id")
    b = spatial_join(pts, polys, zoom=4).select("url", "poly_id")
    pa = set(map(tuple, a.toPandas().itertuples(index=False)))
    pb = set(map(tuple, b.toPandas().itertuples(index=False)))
    assert pa == pb and len(pa) > 0
    plan = plan_of(a)
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m and "salt" in m.group(1)


def _parquet_pages(spark, tmp_path_factory, n=200):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    spark.createDataFrame(pages_pdf(n)).write.parquet(path)
    return spark.read.parquet(path)


def test_tile_encode_single_shuffle(spark, tmp_path_factory):
    pages = _parquet_pages(spark, tmp_path_factory)
    feats = points_to_features(geoparse(pages), zoom=4, layer="pages", extent=4096)
    tiles = encode_tiles(feats)
    plan = plan_of(tiles)
    # exactly one exchange NODE (the rule-pinned (zoom,tile_x,tile_y) shuffle)
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.MULTILINE)
    assert nodes.count("Exchange") == 1
    # zoom is a literal per pipeline -> constant-folded out of the hash key
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m and "tile_x" in m.group(1) and "tile_y" in m.group(1)


@pytest.mark.parametrize("zoom,generates", [(4, 0), ((2, 4), 1)])
def test_point_featurizer_zoom_plan(spark, tmp_path_factory, zoom, generates):
    """One zoom stays a literal: 2^zoom constant-folds and nothing is
    exploded.  A zoom list explodes once, and the encode still shuffles
    once on (zoom, tile_x, tile_y)."""
    pages = _parquet_pages(spark, tmp_path_factory)
    feats = points_to_features(geoparse(pages), zoom=zoom, layer="pages", extent=4096)
    optimized = feats._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bGenerate\b", optimized)) == generates, optimized
    assert generates or not re.search(r"\bpow", optimized, re.IGNORECASE), optimized
    nodes = re.findall(r"^\(\d+\) (\w+)", plan_of(encode_tiles(feats)), re.MULTILINE)
    assert nodes.count("Generate") == generates
    assert nodes.count("Exchange") == 1


def test_geoparse_single_arrow_eval(spark, tmp_path_factory):
    """r6: geoparse extraction is ONE whole-batch Arrow (RE2) kernel — the
    plan must contain exactly one ArrowEvalPython node (the non-determinism
    marking prevents the optimizer duplicating it below the pushed filter,
    guide §4.4), and only the text column may cross the Python boundary."""
    # parquet-backed source (a local relation constant-folds the whole plan)
    pages = _parquet_pages(spark, tmp_path_factory)
    parsed = geoparse(pages)
    plan = plan_of(parsed)
    # formatted plans name each node once in the tree and once in the
    # details section — count the numbered detail headers
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.MULTILINE)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_geo_pattern_named_in_sync():
    """GEO_PATTERN_NAMED is GEO_PATTERN with group names — nothing else."""
    import re as _re

    from open_vector_tile_spark.functions.text import GEO_PATTERN, GEO_PATTERN_NAMED

    assert _re.sub(r"\(\?P<\w+>", "(", GEO_PATTERN_NAMED) == GEO_PATTERN


def test_geoparse_matches_jvm_regex_formulation(spark):
    """The Arrow RE2 kernel must agree bit-for-bit with the old JVM
    regexp_extract formulation, including edge cases: no match, second
    paren matching, multiple matches (first wins), malformed numbers,
    double spaces, null text, unicode digits (rejected by both)."""
    from open_vector_tile_spark.functions.text import GEO_PATTERN

    rows = [
        ("a", "x (52.52000, 13.40500) y"),
        ("b", "no match"),
        ("c", None),
        ("d", "((1.2, 3.4)"),
        ("e", "(-1.5, -2.25) then (9.9, 8.8)"),
        ("f", "(12.5a, 3.4)"),
        ("g", "(1.2,  3.4)"),
        ("h", "(١٢.٥, 3.4)"),  # arabic-indic digits
        ("i", "(000123.000456, -0.0)"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    m = F.regexp_extract(F.col("text"), GEO_PATTERN, 0)
    lat = F.regexp_extract(m, GEO_PATTERN, 1)
    lon = F.regexp_extract(m, GEO_PATTERN, 2)
    want = (
        df.withColumn("lat", F.when(lat != "", lat.cast("double")))
        .withColumn("lon", F.when(lon != "", lon.cast("double")))
        .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("url", "lat", "lon")
        .collect()
    )
    got = geoparse(df).select("url", "lat", "lon").collect()
    assert sorted(got) == sorted(want)


def test_quality_and_lang_are_jvm_side(spark):
    from open_vector_tile_spark.functions.text import dup_line_frac, lang_id

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(dup_line_frac(F.col("text")), lang_id(F.col("text")))
    plan = plan_of(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_weighted_sample_is_partition_local_topk(spark):
    """weighted_sample must compile to TakeOrderedAndProject (per-partition
    top-k + k-row driver merge) — never a global Sort Exchange."""
    from open_vector_tile_spark.functions.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = weighted_sample(docs, 50, F.col("n_chars"), F.col("doc_id"))
    p = plan_of(out)
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram side must broadcast: no shuffle of the exploded
    corpus grams for the semi-join."""
    from open_vector_tile_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    p = plan_of(decontaminate(docs, bench, n=4))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_epoch_shuffle_serial_window_is_bucket_table_only(spark):
    """global_rank's decomposition: exactly ONE SinglePartition exchange (the
    ~4096-row bucket-count table) feeds the serial window; the data-side
    rank window is hash-partitioned on the bucket and offsets broadcast."""
    from open_vector_tile_spark.functions.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    p = plan_of(epoch_shuffle(docs, F.col("doc_id"), seed=7))
    assert p.count("SinglePartition") == 1, p
    assert "hashpartitioning(_ebkt" in p, p
    assert "BroadcastExchange" in p, p


def test_bm25_takeordered_and_broadcast_terms(spark):
    """bm25_topk: top-k must be TakeOrderedAndProject (no global sort of the
    scored table) and the query-term join side must broadcast."""
    from open_vector_tile_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(bm25_topk(docs, ["spark", "vector"], k=5))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastExchange" in p, p


def test_kmv_windows_are_partitioned(spark):
    """kmv_distinct must never move the hash table to one partition: both
    min-k windows are partitioned (group[,sub]); no SinglePartition
    exchange anywhere in the plan."""
    from open_vector_tile_spark.functions.sketch import kmv_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select("lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
    p = plan_of(kmv_distinct(toks, ["lang"], "t", k=32))
    assert "SinglePartition" not in p, p


def test_rolling_and_funnel_single_exchange(spark):
    """The session-12 event operators keep their one-shuffle promise:
    rolling_stats (range-frame window) and funnel (groupBy + fold) each
    plan exactly ONE Exchange on the user key; event_transitions likewise
    one for the window plus one for the tiny pair agg."""
    import datetime as dt

    from open_vector_tile_spark.operators.events import (
        event_transitions,
        funnel,
        rolling_stats,
    )

    rows = [
        (u, 100 + i, dt.datetime(2024, 1, 1, 0, i % 60), ["view", "click"][i % 2], 1.0)
        for u in range(4)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "event_type", "value"]
    )

    p = plan_of(rolling_stats(df))
    nodes = re.findall(r"^\(\d+\) (\w+)", p, re.MULTILINE)
    assert nodes.count("Exchange") == 1, p

    p = plan_of(funnel(df, ["view", "click"]))
    nodes = re.findall(r"^\(\d+\) (\w+)", p, re.MULTILINE)
    assert nodes.count("Exchange") == 1, p

    p = plan_of(event_transitions(df))
    nodes = re.findall(r"^\(\d+\) (\w+)", p, re.MULTILINE)
    assert nodes.count("Exchange") == 2, p  # window key + pair partial agg


def test_main_content_and_mojibake_no_shuffle_no_python(spark):
    """The text extractors are pure map-side column expressions: zero
    Exchanges, zero Python/Arrow stages."""
    from open_vector_tile_spark.functions.text import fix_mojibake, main_content

    df = spark.createDataFrame([(1, "<p>a b c d e f</p>")], ["id", "h"])
    for expr in (main_content(F.col("h")), fix_mojibake(F.col("h"))):
        p = plan_of(df.select(expr.alias("o")))
        assert "Exchange" not in p, p
        # the ExistingRDD scan of the local fixture mentions Python in its
        # details; the real UDF nodes are ArrowEvalPython / BatchEvalPython
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
