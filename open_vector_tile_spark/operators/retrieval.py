"""BM25 full-text retrieval over a document corpus as DataFrame ops.

The classic inverted-index query — "top-k documents for a bag of query
terms" — expressed Spark-first: the postings list is a (doc, term, tf)
aggregate, the query side is a broadcast of a handful of terms, and the
score is a pure-JVM column expression.  No index structure is materialized
on the driver; at 100 TB the postings build is one partial-agg shuffle and
everything downstream operates on the (tiny) slice of postings matching the
query terms.

Plan shape:
  tokens   = explode(split(text))            narrow, no shuffle
  tf       = groupBy(doc, term).count()      shuffle 1 (map-side combine)
  dl       = groupBy(doc).count()            reuses the token stream
  df_t     = semi-filtered postings          broadcast join on query terms,
                                             THEN groupBy(term) — document
                                             frequency only for query terms
  score    = idf(df_t) * tf-saturation       column arithmetic, codegen'd
  top-k    = orderBy(score, id).limit(k)     TakeOrderedAndProject: per-
                                             partition heaps + driver merge
                                             of k rows, never a global sort

Determinism note (oracle parity): per-document scores are summed in sorted
order via ``aggregate(sort_array(collect_list(s)), ...)`` — double addition
is non-associative, so an unordered SUM can differ between engines in the
last ulp; the sorted fold makes Spark and DuckDB (``sum(s ORDER BY s)``)
produce bit-identical doubles from bit-identical per-term scores.

BM25 (Robertson/Sparck Jones, Okapi; the Lucene-default idf form):
  idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
  score(d,q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._pins import Pins

TOKEN_SPLIT = r"\s+"


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) token stream; lowercased whitespace tokens, empties
    dropped (empty text would otherwise yield one phantom '' token)."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT)).alias(
                "term"
            ),
        )
        .where(F.col("term") != "")
    )


def build_postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """-> (postings, doclen): ``postings`` = (id, term, tf), ``doclen`` =
    (id, dl).  Both are single partial-agg shuffles over the token stream;
    at scale these are the materialize-once artifacts an index build would
    persist (bucketed by term / by id respectively).

    Deliberately NO fan-out of a narrow source here: measured across the
    postings consumers at sf0.1, the extra exchange LOSES for most of them
    (keywords 0.87 -> 1.28, host_terms 0.53 -> 0.74, bm25 flat) — the
    partial-agg shuffle right after tokenize already provides downstream
    parallelism, so the pre-shuffle only parallelizes the tokenize itself,
    which is cheaper than the exchange for every consumer but the dense
    tfidf_vectors query (which fans at its own call site)."""
    tokens = tokenize(df, id_col, text_col)
    postings = tokens.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # the postings aggregate feeds several plan branches (matched slice,
    # doclen rollup, corpus stats); Catalyst does not CSE across join
    # branches, so without a cut the corpus would be re-scanned and
    # re-tokenized once per branch.  A LAZY localCheckpoint computes the
    # postings once on first use and serves every branch from the
    # materialized RDD — the same one-scan behavior a persisted postings
    # index gives at scale (same pattern as operators/pipeline.py).
    postings = postings.localCheckpoint(eager=False)
    # dl as a rollup OF postings, not a second pass over the token stream
    doclen = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return postings, doclen


def tfidf_hashed(
    docs: DataFrame,
    dim: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Hashing-trick TF-IDF document vectors as SPARSE rows
    ``(id, bucket, weight)`` — the deterministic text→vector bridge between
    the corpus ops and the ANN stack (feed the L2-normalized buckets to
    cosine_topk / LSH / IVF and dot product == cosine).

    Tokens hash into ``dim`` buckets via the portable md5-prefix hash (same
    48-bit family as the sketches — any engine reproduces the bucketing
    bit-for-bit, which is what lets the driver oracle `tfidf_vectors`
    hash-match DuckDB).  Weight = tf · (ln((N+1)/(df+1)) + 1) (smooth idf,
    the scikit-learn formulation), L2-normalized per doc with the sorted
    fold for cross-engine float determinism (see module docstring).

    Plan shape: postings partial-agg shuffle (shared with BM25 via
    ``index=build_postings(...)``), bucket rollup, ≤dim-row document
    frequencies broadcast back, one groupBy(id) for the norm — nothing
    scales with vocabulary size downstream of the hash."""
    postings, doclen = index if index is not None else build_postings(
        docs, id_col, text_col
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10).cast("long"),
        F.lit(int(dim)),
    )
    tfb = (
        postings.withColumn("bucket", bucket)
        .groupBy(id_col, "bucket")
        .agg(F.sum("tf").alias("tf"))
    )
    tfb = tfb.localCheckpoint(eager=False)  # feeds dfb + weights + norms
    dfb = tfb.groupBy("bucket").agg(F.count(F.lit(1)).alias("df_b"))
    stats = doclen.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tfb.join(F.broadcast(dfb), "bucket")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_w",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df_b") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
    )
    # L2 norm as a whole-partition window over the doc key: one shuffle on
    # id instead of a groupBy + join-back (two), same sorted fold
    from pyspark.sql import Window

    wnorm = (
        Window.partitionBy(id_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    nrm = F.sqrt(
        F.aggregate(
            F.sort_array(F.collect_list(F.col("_w") * F.col("_w")).over(wnorm)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return w.select(
        id_col,
        "bucket",
        F.round(F.col("_w") / nrm, 6).alias("weight"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top-k docs for ``query_terms`` by BM25, ``(id, score, rank)``.

    ``score`` is rounded to 6 places and the rank window orders by the
    ROUNDED value (ties broken by id) so ranking is insensitive to
    sub-1e-6 float divergence between engines.

    Each call without ``index`` builds (and pins, via localCheckpoint) its
    own postings; a session issuing many queries should call
    ``build_postings`` once and pass the pair in — that is also the
    persisted-index usage at scale."""
    spark = docs.sparkSession
    postings, doclen = index if index is not None else build_postings(
        docs, id_col, text_col
    )

    # lowercase BEFORE dedup: case-variant duplicates must collapse to one
    # term row, or the join would double-count df_t and the doc's score
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    schema = "term string"
    if not terms:
        # preserve the docs frame's actual id type (a hardcoded long would
        # break unions/joins with the non-empty path for string ids)
        id_t = docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_t}, score double, rank int"
        )
    qterms = spark.createDataFrame([(t,) for t in terms], schema)
    # slice the postings down to query terms FIRST; df_t / joins then touch
    # only that slice (query terms are always broadcast-small)
    matched = postings.join(F.broadcast(qterms), "term")
    df_t = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    # corpus scalars (N, avgdl) ride along as a broadcast 1-row cross join —
    # keeps the whole computation one lazy plan (no driver collect)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    scored = (
        matched.join(F.broadcast(df_t), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("dl")
                    / (F.col("sum_dl") / F.col("n_docs"))
                )
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list("_s")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_score")
    )
    topk = (
        per_doc.select(id_col, F.round("_score", 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(int(k))
    )
    # rank over the k surviving rows only (trivial window, driver-side size)
    from pyspark.sql import Window

    return topk.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score"), F.col(id_col))
        ).cast("int"),
    )


def extract_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction -> (id, term, tf, dfreq,
    score, rank): the top-``k`` most characteristic REAL terms of each
    document (unlike :func:`tfidf_hashed`, which trades terms for fixed
    buckets) — the standard document-tagging / faceting signal a corpus
    browser or mixture sampler keys on.

    score = (tf / dl) * ln((1 + N) / (1 + df)) — normalized term
    frequency times smoothed IDF; ties break on the term string so the
    table is reproducible.  ``min_df`` prunes hapax noise when asked.

    Scale shape: reuses :func:`build_postings` (one tokenize shuffle,
    localCheckpoint-ed); document frequency is a rollup OF postings
    (term-key partial agg, never a second corpus scan); the top-k window
    runs per doc after an id-key shuffle.  Corpus size N is the one
    driver scalar (a count on the already-materialized doclen).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    postings, doclen = index if index is not None else build_postings(docs, id_col, text_col)
    n_docs = doclen.count()
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    if min_df > 1:
        df_t = df_t.filter(F.col("dfreq") >= min_df)
    joined = postings.join(df_t, on="term").join(doclen, on=id_col)
    score = (F.col("tf").cast("double") / F.col("dl")) * F.log(
        (F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("dfreq"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "dfreq", "score", "rank")
    )


def lexical_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: "tuple[DataFrame, DataFrame] | None" = None,
    deterministic: bool = True,
) -> DataFrame:
    """Per-document lexical-diversity signals -> (id, dl, types, ttr,
    entropy): token count, distinct-token count, type-token ratio, and
    the unigram Shannon entropy H = -sum (tf/dl) ln(tf/dl) — the
    perplexity-proxy quality gate (keyboard-mash and template spam sit
    at the entropy extremes; Gopher-style filters cut on exactly this).

    Reuses :func:`build_postings` (one tokenize shuffle); the stats are
    one partial-agg rollup of postings per doc.  ``deterministic=True``
    sums entropy terms with the repo's sorted fold so a DuckDB oracle
    (``sum(x ORDER BY x)``) replays bit-for-bit; production can use the
    plain sum."""
    postings, doclen = index if index is not None else build_postings(docs, id_col, text_col)
    j = postings.join(doclen, on=id_col)
    p = F.col("tf").cast("double") / F.col("dl")
    term = -(p * F.log(p))
    contrib = j.select(id_col, F.col("dl"), term.alias("_h"))
    if deterministic:
        ent = F.aggregate(
            F.sort_array(F.collect_list("_h")), F.lit(0.0), lambda a, x: a + x
        )
    else:
        ent = F.sum("_h")
    return (
        contrib.groupBy(id_col, "dl")
        .agg(F.count(F.lit(1)).alias("types"), ent.alias("entropy"))
        .select(
            id_col,
            "dl",
            "types",
            (F.col("types").cast("double") / F.col("dl")).alias("ttr"),
            "entropy",
        )
    )


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings (id, pos, term): the index artifact phrase and
    proximity queries consume.  pos is the 0-based token index after
    empty-token removal.  One narrow posexplode — at scale this is the
    table a real deployment would persist bucketed by term."""
    from open_vector_tile_spark.functions.text import ws_tokens

    return docs.select(F.col(id_col), ws_tokens(text_col).alias("ts")).select(
        id_col, F.posexplode("ts").alias("pos", "term")
    )


def phrase_search(
    docs: DataFrame,
    phrase: "list[str] | str",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: DataFrame | None = None,
) -> DataFrame:
    """Exact phrase query over positional postings -> (id, n_matches,
    first_pos) for documents containing the phrase (adjacent lowercased
    whitespace tokens; overlapping occurrences all count).

    The inverted-index classic: an m-term phrase is m-1 *position
    adjacency* equi-joins over the postings slice matching the phrase's
    terms — relational algebra, no regex scan of the corpus.

    Scale shape: the term filter (`isin` over a literal handful) prunes
    the postings stream map-side BEFORE any shuffle, so each adjacency
    join moves only rows for the phrase's own terms — the classic
    positional-index win: query cost scales with term frequency, not
    corpus size.  The filtered slice is lazily checkpointed so the m
    plan branches share one postings pass.  With a pre-built
    ``positions`` table (persisted, bucketed by term) nothing rescans
    the corpus at all.
    """
    words = (
        [w for w in phrase.lower().split() if w]
        if isinstance(phrase, str)
        else [w.lower() for w in phrase]
    )
    if not words:
        raise ValueError("phrase must contain at least one token")
    if any(not w for w in words):
        raise ValueError(f"phrase tokens must be non-empty, got {words!r}")
    # list-form tokens containing whitespace can never match a postings
    # term — reject instead of silently returning an empty result
    if any(_re.search(r"\s", w) for w in words):
        raise ValueError(
            f"phrase tokens must be single words (no whitespace): {words!r}"
        )
    pos = (
        positions
        if positions is not None
        else build_positional_postings(docs, id_col, text_col)
    )
    sliced = pos.where(F.col("term").isin(*set(words))).localCheckpoint(
        eager=False
    )
    anchor = sliced.where(F.col("term") == words[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    for i, w in enumerate(words[1:], start=1):
        nxt = sliced.where(F.col("term") == w).select(
            id_col, (F.col("pos") - F.lit(i)).alias("p0")
        )
        anchor = anchor.join(nxt, [id_col, "p0"])
    return anchor.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("p0").cast("long").alias("first_pos"),
    )


def textrank_keywords(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    damping: float = 0.85,
    n_iter: int = 4,
    deterministic: bool = False,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): per-document
    PageRank over the word co-occurrence graph — the GRAPH-evidence
    keyword scorer next to extract_keywords' tf-idf frequency evidence
    (a term that bridges many distinct contexts outranks one repeated in
    a single phrase).  -> (id, term, score, rank) with the top ``k``
    terms per document, ties broken on term.

    Model: nodes = distinct words of the doc, undirected unweighted edges
    between ADJACENT words (window 2, self-pairs dropped), fixed-round
    power iteration of ``S(v) = (1-d) + d * sum_{u~v} S(u)/deg(u)`` from
    ``S=1`` (the paper's formulation — no 1/N normalization).  Isolated
    words (one-word docs) converge to ``1-d``.

    Scale shape: this is NOT a per-doc loop — ALL documents iterate
    simultaneously, keyed by (doc, word).  Edges are one positional
    self-join (pos+1 equi-join) + distinct, checkpointed once (consumed
    every round); each round is one edge-with-state join and one
    partial-agg inflow shuffle.  Per-round state checkpointing (the
    pagerank discipline — peak state two copies, bounded lineage) only
    pays off for DEEP iteration counts: at the paper-typical n_iter<=6
    the rounds unroll into ONE plan whose 3-shuffles-per-round AQE
    pipeline beats 4 driver-synchronous checkpoint materializations
    (measured 6.5 -> 4.6 s at sf0.1, scores bit-identical — the round
    arithmetic is the same expression tree either way), so the cadence is
    automatic: unrolled for n_iter <= 6, per-round checkpoints above.
    ``deterministic=True`` switches inflow to the repo's sorted-fold sum
    so the DuckDB twin (``sum(x ORDER BY x)``, rounds unrolled as CTEs)
    replays every score bit-for-bit.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1 or k < 1:
        raise ValueError(f"n_iter and k must be >= 1, got {n_iter}, {k}")
    from .graph import _fold_sum

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT)).alias(
            "_pos", "_term"
        ),
    ).where(F.col("_term") != "")
    t2 = toks.select(
        F.col("_id"), (F.col("_pos") - 1).alias("_pos"), F.col("_term").alias("_nxt")
    )
    directed = (
        toks.join(t2, ["_id", "_pos"])
        .filter(F.col("_term") != F.col("_nxt"))
        .select("_id", F.col("_term").alias("_src"), F.col("_nxt").alias("_dst"))
    )
    with Pins() as pins:
        edges = pins.pin(
            directed.union(
                directed.select("_id", F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
            ).distinct()
        )
        deg = edges.groupBy("_id", "_src").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
        nodes = toks.select("_id", "_term").distinct()
        state = pins.pin(
            nodes.join(
                deg.select("_id", F.col("_src").alias("_term"), "_deg"),
                ["_id", "_term"],
                "left",
            ).select(
                "_id",
                "_term",
                F.coalesce("_deg", F.lit(0)).cast("long").alias("_deg"),
                F.lit(1.0).alias("_score"),
            )
        )
        fold = _fold_sum if deterministic else F.sum
        base = 1.0 - damping
        per_round_checkpoint = n_iter > 6
        if not per_round_checkpoint:
            # the unrolled rounds read the edges and the initial state
            pins.keep(edges)
            pins.keep(state)
        for _ in range(n_iter):
            contrib = edges.join(
                state.select(
                    "_id", F.col("_term").alias("_src"), "_deg", "_score"
                ).filter(F.col("_deg") > 0),
                ["_id", "_src"],
            ).select(
                "_id",
                F.col("_dst").alias("_term"),
                (F.col("_score") / F.col("_deg").cast("double")).alias("_c"),
            )
            inflow = contrib.groupBy("_id", "_term").agg(fold(F.col("_c")).alias("_in"))
            prev = state
            state = (
                state.select("_id", "_term", "_deg")
                .join(inflow, ["_id", "_term"], "left")
                .select(
                    "_id",
                    "_term",
                    "_deg",
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
                    ).alias("_score"),
                )
            )
            if per_round_checkpoint:
                state = pins.pin(state)
                pins.free(prev)
        if per_round_checkpoint:
            pins.keep(state)
    w = Window.partitionBy("_id").orderBy(F.col("_score").desc(), F.col("_term"))
    return (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("_id").alias(id_col),
            F.col("_term").alias("term"),
            F.col("_score").alias("score"),
            "rank",
        )
    )



def rrf_fuse(
    rankings: "list[DataFrame]",
    *,
    k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) — the standard hybrid-search
    combiner for lexical (bm25_topk) and vector (cosine/IVF/PQ top-k)
    rankings: ``rrf = sum over lists of 1 / (k + rank)``, a document
    missing from a list contributing nothing.

    -> ``(query, doc, n_lists, rrf, fused_rank)`` — ``fused_rank`` by
    descending score with ascending-id ties (total order, engine-stable).

    Plan shape: one union of the (already small) top-k lists, ONE partial-
    agg shuffle on (query, doc), and a rank window on the same key —
    co-partitioned, no second exchange.  Determinism note: IEEE addition
    is commutative but not associative, so the score is bit-stable across
    partitionings for up to TWO lists (one addition); with three or more,
    low-bit drift between engines is possible — round or rank-only
    compare in oracles there.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    parts = [
        r.select(
            F.col(query_col).alias("query"),
            F.col(id_col).alias("doc"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias(
                "_c"
            ),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scores = u.groupBy("query", "doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum("_c").alias("rrf"),
    )
    w = Window.partitionBy("query").orderBy(
        F.col("rrf").desc(), F.col("doc").asc()
    )
    out = scores.withColumn("fused_rank", F.row_number().over(w).cast("long"))
    if top_n is not None:
        out = out.filter(F.col("fused_rank") <= int(top_n))
    return out
