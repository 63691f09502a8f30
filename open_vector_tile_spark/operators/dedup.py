"""Deduplication operators for web-scale text corpora.

All variants operate on a DataFrame with (id_col, text_col) and are built
from native Spark primitives where possible:

- exact_dedup:   hash-groupBy on normalized text (one shuffle; map-side
                 partial via first-wins aggregation)
- minhash_lsh:   shingle -> 64 minhashes -> b bands -> band-hash bucket join;
                 candidate pairs verified by true shingle-set Jaccard.
- simhash:       64-bit simhash via token-hash bit voting; near-dups = equal
                 band keys on rotated halves.
- ngram_jaccard: exact pairwise Jaccard on n-gram sets within LSH buckets.
- embedding near-dup lives in similarity.py (cosine top-k).

Scale: everything keys by a 64-bit hash; shuffles are on those keys; no
driver-side collection.  Minhash banding makes candidate generation linear.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._parallel import fan_out


# ---------------------------------------------------------------------------
# exact dedup (A-hash groupBy)
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical normalized text."""
    h = F.xxhash64(normalized_text(F.col(text_col))).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(F.col(id_col).asc())
    return (
        df.select(F.col(id_col), F.col(text_col), h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 13,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with a benchmark
    corpus (the standard eval-decontamination gate; n=13 is the GPT-3/PaLM
    convention).

    -> (id_col, n_hits int, contaminated int): ``n_hits`` = number of
    DISTINCT benchmark n-grams found in the doc.

    Shape at 100 TB: benchmark gram sets are tiny relative to the corpus
    (an eval suite is MBs), so the distinct benchmark grams broadcast and
    the probe is a map-side semi-join on the exploded doc grams — no
    shuffle of corpus text; the only corpus-wide exchange is the per-doc
    hit count partial-agg.  Set ``broadcast_bench=False`` for a giant
    benchmark (falls back to a shuffle join on the gram key)."""
    bench_text_col = bench_text_col or text_col
    bgrams = (
        benchmark.select(F.explode(shingles(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    if broadcast_bench:
        bgrams = F.broadcast(bgrams)
    dgrams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    hits = (
        dgrams.join(bgrams, on="gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
    return docs.select(F.col(id_col)).join(hits, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# cross-document line dedup (C4/CCNet boilerplate removal)
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    use_hash: bool = True,
) -> DataFrame:
    """Remove every line occurring in >= ``min_docs`` DISTINCT documents
    (the C4 "three-sentence" / CCNet paragraph-dedup boilerplate rule,
    applied at line granularity) and reassemble each document from its
    surviving lines in original order.

    -> (id_col, clean_text, n_lines int, n_removed int).  A document whose
    every line is boilerplate yields ``clean_text = ''``.  A line repeated
    only WITHIN one document survives (the count is distinct-documents).

    Shape at 100 TB: one posexplode (no data growth beyond line boundaries),
    one partial-aggregated groupBy on the line key for the boilerplate set,
    one left_anti join (AQE broadcasts the boilerplate side when small — it
    usually is: boilerplate is by definition the repeated minority), one
    groupBy(id) to reassemble — bounded per-doc state.  With ``use_hash``
    the shuffled keys are 8-byte xxhash64 values instead of line strings
    (collision odds ~lines^2/2^64; the exact mode exists for oracle parity
    and is asserted equal on the test corpus)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    keyed = lines.withColumn(
        "lk", F.xxhash64("line") if use_hash else F.col("line")
    )
    boiler = (
        keyed.groupBy("lk")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lk")
    )
    kept = keyed.join(boiler, on="lk", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    return base.join(rebuilt, on=id_col, how="left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_removed"),
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN removal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" rule,
    approximated at fixed word-n-gram granularity): any n-word window whose
    exact text occurs in >= ``min_docs`` DISTINCT documents is boilerplate;
    every word covered by at least one such window is cut, and the document
    is reassembled from the surviving words in original order.  Unlike
    :func:`dedup_lines` (whole-line granularity) this catches templated
    sentences spliced into otherwise-unique text, and unlike
    :func:`minhash_dedup` it edits documents instead of dropping them.

    -> (id_col, clean_text, n_words int, n_removed int).  Documents shorter
    than n words have no windows and pass through unchanged.

    Shape at 100 TB: each doc explodes into one row PER WINDOW START, but
    only (id, pos, 16-hex-char gram hash) ships — never gram text.  Then:
    one partial-aggregated groupBy on the gram hash (count-distinct docs),
    one semi join back (AQE broadcasts the duplicated-gram side when small
    — boilerplate is the repeated minority), one groupBy(id) collecting the
    bounded per-doc start set, one join to the base table.  All per-doc
    array work (windowing, covered-index expansion, rebuild) is let-bound
    column expressions — computed once per row, no per-element re-eval, no
    Python.
    """
    # the per-window md5 grams AND the rebuild HOFs both run over df's scan
    # stage: fan a narrow scan to data-sized width first (gram hashes/
    # counts/collect_set membership are all order-insensitive, rebuild is
    # per-row — partitioning-proof).  The fan sits above a DAG diamond and
    # per-branch column pruning makes the branch subtrees canonicalize
    # differently, so the executed plan materializes the narrow exchange
    # up to 3x (grams / rebuild / final join) rather than reusing one
    # stage — measured and accepted: each exchange ships only the pruned
    # (id, text) columns and the serial-kernel savings dominate
    # (2.35 -> 1.92 s at sf0.1 net of all three); a localCheckpoint would
    # share one scan at the cost of an eager materialization barrier.
    df = fan_out(df)
    empty_i = F.array().cast("array<int>")
    words_of = lambda: F.filter(  # noqa: E731 — built fresh per use site
        F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit("")
    )

    def gram_arr(words: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
        return F.when(
            F.size(words) >= n,
            F.transform(
                idx,
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(words, i, n))), 1, 16
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = df.select(
        F.col(id_col),
        F.posexplode(_let(words_of(), gram_arr)).alias("_p0", "_gh"),
    )
    dup = (
        grams.groupBy("_gh")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_gh")
    )
    starts = (
        grams.join(dup, on="_gh", how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set((F.col("_p0") + 1).cast("int")).alias("_starts"))
    )

    def rebuild(words: Column) -> Column:
        def with_cov(cov: Column) -> Column:
            kept = F.filter(
                words, lambda w, i: ~F.array_contains(cov, (i + 1).cast("int"))
            )
            return F.struct(
                F.array_join(kept, " ").alias("clean_text"),
                F.size(words).alias("n_words"),
                (F.size(words) - F.size(kept)).alias("n_removed"),
            )

        cov = F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(F.col("_starts"), empty_i),
                    lambda s: F.sequence(s, s + (n - 1)).cast("array<int>"),
                )
            )
        )
        return _let(cov, with_cov)

    joined = df.select(id_col, text_col).join(starts, on=id_col, how="left")
    return joined.select(
        id_col, _let(words_of(), rebuild).alias("_r")
    ).select(
        id_col,
        F.col("_r.clean_text").alias("clean_text"),
        F.col("_r.n_words").alias("n_words"),
        F.col("_r.n_removed").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# shingles + minhash + LSH
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct).

    The word array is let-bound (see :func:`_let`): HOF lambdas are
    interpreted, and a captured EXPRESSION is re-evaluated per element —
    with ``split`` captured directly, every gram re-tokenizes the whole
    document (O(words^2) regex work per doc; measured 20x+ on real
    corpora).  Bound as a lambda variable it is computed once per row."""

    def body(words: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
        )

    return _let(F.split(F.trim(normalized_text(text)), " "), body)


_MERSENNE = (1 << 61) - 1


def _let(expr: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``expr`` ONCE and pass it
    to ``body`` as a lambda variable (via a 1-element array transform).
    Prevents Catalyst from re-evaluating an expensive subexpression inside
    per-element lambdas."""
    return F.element_at(F.transform(F.array(expr), body), 1)


_FNV = np.uint64(1099511628211)


def _minhash_A(num_hashes: int) -> np.ndarray:
    """Multiply-shift family coefficients: odd random 64-bit A_i.  sig_i =
    min over shingles of (A_i * h mod 2^64).  An affine (a*h+b) with small a
    NEVER wraps the modulus, making every "permutation" monotonic in h — all
    rows of the signature would collapse to min(h) and banding would degrade
    to 1-hash minhash."""
    rng = np.random.RandomState(1_234_567)
    return (
        (rng.randint(0, 2**32, size=num_hashes).astype(np.uint64) << np.uint64(32))
        | rng.randint(0, 2**32, size=num_hashes).astype(np.uint64)
        | np.uint64(1)
    )


_WS_BYTES = np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 32]] = True  # \t \n \v \f \r and space
_POLY_P = np.uint64(1099511628211)  # FNV64 prime as the byte-poly multiplier


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized — restores avalanche after the
    structured polynomial accumulation (minhash's multiply-shift family
    needs uniform word hashes; a raw byte polynomial is biased in the low
    bits)."""
    x = x.copy()
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _batch_word_hashes(texts, lower: bool = True) -> tuple[np.ndarray, np.ndarray]:
    """All word hashes of an Arrow batch -> (uint64 hashes in batch order,
    per-doc word counts) with NO per-word Python objects.

    The whole batch is lowered, UTF-8 encoded, and joined into ONE byte
    buffer; word boundaries come from a 256-entry whitespace table; each
    word's hash is a byte polynomial sum(byte * P^(len-1-i)) computed with
    np.repeat + one ``np.add.reduceat`` (uint64 wrap-around IS the mod),
    then splitmix64-finalized.  Measured 1.5x pd.util.hash_array on Python
    str objects in a calm window (5.4M vs 3.5M words/s/core) and allocates
    no per-word Python objects (less GC pressure inside the Arrow worker).

    Tokenization is ASCII-whitespace (matches ``str.split()`` everywhere
    except exotic unicode spaces; affects only LSH candidate recall — the
    verify stage recomputes exact Jaccard on the raw text)."""
    lowered = [(t or "").lower() if lower else (t or "") for t in texts]
    parts = [t.encode("utf-8", "surrogatepass") for t in lowered]
    D = len(parts)
    buf = np.frombuffer(b"\n".join(parts), dtype=np.uint8)
    doc_lens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=D)
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(D, dtype=np.int64)
    ws = _WS_BYTES[buf]
    word_char = ~ws
    prev_ws = np.empty_like(ws)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    next_ws = np.empty_like(ws)
    next_ws[-1] = True
    next_ws[:-1] = ws[1:]
    starts = np.flatnonzero(word_char & prev_ws)
    ends = np.flatnonzero(word_char & next_ws) + 1  # exclusive
    W = len(starts)
    # per-doc word counts: doc i spans [doc_off[i], doc_off[i]+doc_lens[i])
    doc_off = np.zeros(D, dtype=np.int64)
    np.cumsum(doc_lens[:-1] + 1, out=doc_off[1:])  # +1 for the '\n' joiner
    wc = np.diff(np.searchsorted(starts, np.append(doc_off, len(buf) + 1)))
    if W == 0:
        return np.zeros(0, dtype=np.uint64), wc
    lens = ends - starts
    pmax = int(lens.max())
    p_pows = np.empty(pmax, dtype=np.uint64)
    p_pows[0] = 1
    if pmax > 1:
        np.cumprod(np.full(pmax - 1, _POLY_P, dtype=np.uint64), out=p_pows[1:])
    char_pos = np.flatnonzero(word_char)
    exp = np.repeat(ends, lens) - 1 - char_pos
    contrib = buf[char_pos].astype(np.uint64) * p_pows[exp]
    flat_starts = np.zeros(W, dtype=np.int64)
    np.cumsum(lens[:-1], out=flat_starts[1:])
    wh = _mix64(np.add.reduceat(contrib, flat_starts))
    return wh, wc


def _batch_gram_hashes(
    texts, n: int, lower: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch word-n-gram hashing -> (gram hashes uint64, per-doc start
    offsets, per-doc word counts).  Every doc owns >= 1 gram slot (offsets
    strictly increasing).

    No per-gram OR per-word Python anywhere: word hashes come from the
    byte-level segmented kernel (:func:`_batch_word_hashes`), and n-gram
    hashes are a rolling order-sensitive FNV polynomial over the
    concatenated word-hash array with doc-boundary masking.  Duplicate
    grams are not deduped — min() is multiset-invariant, so the minhash
    signature is unchanged.  Docs with < n words produce one gram folding all their
    words (the old single-" ".join shingle semantics); empty docs hash
    to 0."""
    wh, wc = _batch_word_hashes(texts, lower=lower)
    D = len(wc)
    cnt = np.where(wc >= n, wc - n + 1, 1)
    offs = np.zeros(D, dtype=np.int64)
    np.cumsum(cnt[:-1], out=offs[1:])
    out = np.zeros(int(cnt.sum()), dtype=np.uint64)
    N = len(wh)
    if N == 0:
        return out, offs, wc
    if N >= n:
        G = N - n + 1
        p_pows = [np.uint64(pow(int(_FNV), e, 1 << 64)) for e in range(n)]
        g = np.zeros(G, dtype=np.uint64)
        for k in range(n):
            g = g + wh[k : k + G] * p_pows[n - 1 - k]  # wraps mod 2^64
        doc_idx = np.repeat(np.arange(D, dtype=np.int64), wc)
        valid = doc_idx[:G] == doc_idx[n - 1 :]
        # g[valid] is in doc order with exactly wc-n+1 grams per long doc —
        # scatter into the long docs' slots (slot layout is also doc order)
        slot_doc = np.repeat(np.arange(D, dtype=np.int64), cnt)
        out[(wc >= n)[slot_doc]] = g[valid]
    wstarts = np.zeros(D, dtype=np.int64)
    np.cumsum(wc[:-1], out=wstarts[1:])
    for i in np.flatnonzero((wc < n) & (wc > 0)).tolist():
        acc = np.uint64(0)
        for h in wh[wstarts[i] : wstarts[i] + wc[i]]:
            acc = acc * _FNV + h
        out[offs[i]] = acc
    return out, offs, wc


def _batch_band_keys(
    grams: np.ndarray, offs: np.ndarray, A: np.ndarray, bands: int, rows_per_band: int
) -> np.ndarray:
    """(gram hashes, doc offsets) -> (D, bands) int64 band keys.  Per-doc
    minhash via segmented ``np.minimum.reduceat`` — one vectorized pass per
    hash function over the whole batch, no per-doc loop."""
    D = len(offs)
    num_hashes = bands * rows_per_band
    sig = np.empty((num_hashes, D), dtype=np.uint64)
    for i in range(num_hashes):
        sig[i] = np.minimum.reduceat(A[i] * grams, offs)
    folded = sig.reshape(bands, rows_per_band, D)
    # fold each band to one 63-bit key (order-sensitive polynomial)
    key = np.zeros((bands, D), dtype=np.uint64)
    for j in range(rows_per_band):
        key = key * _FNV + folded[:, j, :]
    return (key & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64).T


def _cap_buckets(band_rows: DataFrame, id_col: str, keys: list[str], max_bucket: int) -> DataFrame:
    """Hot-bucket guard for LSH self-joins: keep the ``max_bucket``
    smallest-id members per bucket (deterministic truncation).

    A self-equi-join is quadratic in bucket size — one degenerate bucket
    (boilerplate/empty docs hashing equal) at web scale is a 10^6 x 10^6
    pair explosion.  Capping bounds any bucket to max_bucket^2/2 pairs;
    identical texts should be collapsed by :func:`exact_dedup` FIRST (cheap,
    principled), leaving the cap as a backstop for near-identical floods —
    standard MinHashLSH practice.

    r6 (second rewrite): ONE rank-limit window, nothing else.  Earlier
    rounds avoided "a window over every band row" with a two-phase chain
    (bucket-count agg -> broadcast hot keys -> anti/semi joins -> window
    over the hot subset -> union, with a localCheckpoint for its three
    consumers) because the window was then an EXTRA full sort-shuffle.
    On Spark 4 that reasoning is obsolete, for two composable reasons:

    - ``row_number() <= k`` plans as ``WindowGroupLimit`` with a PARTIAL
      pass below the exchange — every map partition is pruned to at most
      ``max_bucket`` rows per bucket before a byte is shuffled, so a
      degenerate flood never reaches one reducer unpruned; and
    - the window's exchange+sort on ``keys`` is EXACTLY the partitioning
      and (prefix of the) ordering the downstream sort-merge self-join
      requires, so the one exchange does double duty: both join sides
      consume it via ReusedExchange, the SMJ inserts no further Sort, and
      the kernel feeding it runs once with NO checkpoint.

    Executed-plan shape (verified, local[8] and local[32]):
    MapInPandas -> Sort -> WindowGroupLimit(Partial) -> Exchange(keys) ->
    [Sort -> WindowGroupLimit(Final) -> Window -> Filter] x2 (shared
    ShuffleQueryStage) -> SortMergeJoin.  vs the two-phase chain this
    removes one full exchange (the bucket-count agg), two broadcast
    builds, the anti/semi pass, the union, and the checkpoint
    write+read — A/B at sf1.0: clean corpus 1.98 -> 1.45 s, 2000-copy
    hot flood 11.8 -> 9.8 s, candidate sets identical on both."""
    w = Window.partitionBy(*keys).orderBy(F.col(id_col).asc())
    return (
        band_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """-> candidate pairs (id_a, id_b) sharing >= 1 LSH band bucket.

    Everything per-document (shingling, hashing, minhash, band fold) runs in
    one Arrow ``mapInPandas`` that emits the EXPLODED (id, band, band_hash)
    rows straight from numpy (np.repeat/tile + keys.ravel) — no per-doc
    Python list of band hashes, no posexplode of 10^7 boxed longs (the
    array<long>-returning pandas_udf + posexplode formulation cost ~45 s of
    the 1M-doc candidate pipeline).  The bucket join is a self-equi-join on
    (band, band_hash) — shuffles only ids + band keys, never text.  Buckets
    larger than ``max_bucket`` are truncated (see :func:`_cap_buckets`).
    """
    df = fan_out(df)
    A = _minhash_A(num_hashes)
    rpb = num_hashes // bands

    def emit(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            grams, offs, _wc = _batch_gram_hashes(pdf[text_col].tolist(), shingle_n)
            D = len(offs)
            if D == 0:
                continue
            keys = _batch_band_keys(grams, offs, A, bands, rpb)  # (D, bands)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), D),
                    "band_hash": keys.ravel(),
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    band_rows = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        emit, f"{id_col} {id_t}, band int, band_hash long"
    )
    if max_bucket:
        band_rows = _cap_buckets(band_rows, id_col, ["band", "band_hash"], max_bucket)
    left = band_rows.withColumnRenamed(id_col, "id_a")
    right = band_rows.withColumnRenamed(id_col, "id_b")
    # merge hint: pin the self-join to sort-merge at EVERY scale.  Without
    # it the small-data plan is a BroadcastHashJoin whose build side cannot
    # share the probe side's exchange, so the band-row kernel + cap window
    # execute TWICE per action; with identical SMJ children the runtime
    # emits a ReusedExchange and the chain runs once — and the cap
    # window's exchange+sort on (band, band_hash) already satisfies the
    # SMJ's required partitioning and ordering, so the join adds NO
    # further exchange or sort (verified in the executed plan).  At web
    # scale AQE picks SMJ anyway (band rows >> broadcast threshold) and
    # SMJ spills gracefully where a shuffled-hash build side could OOM on
    # a hot partition — this just makes the small-scale plan match the
    # at-scale one.
    return (
        left.hint("merge")
        .join(right, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard -> (id_a, id_b, jaccard).

    Exact shingle sets are rebuilt per pair side in an Arrow UDF (python set
    ops ~10us/pair); the join ships only candidate texts.

    No fan-out of ``df`` here (guide 2.4 — remove shuffles outright): the
    text table feeds two equi-joins, and in BOTH join regimes a round-robin
    pre-shuffle is pure waste — when the planner broadcasts the text side
    the broadcast collects every partition anyway (the r6 plan showed a
    RoundRobinPartitioning exchange feeding each BroadcastExchange), and
    when it sort-merges at scale the join's own hash exchange provides the
    parallelism.  The expensive per-row work (the jaccard UDF) runs on the
    JOINED pair rows, whose partitioning comes from the candidate side,
    not from ``df``."""
    from pyspark.sql.functions import pandas_udf

    t = df.select(F.col(id_col), F.col(text_col))
    a = t.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "text_a")
    b = t.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "text_b")
    joined = pairs.join(a, "id_a").join(b, "id_b")

    @pandas_udf("double")
    def jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.empty(len(ta), dtype=np.float64)
        for i, (x, y) in enumerate(zip(ta, tb)):
            sa = _py_shingle_set(x or "", shingle_n)
            sb = _py_shingle_set(y or "", shingle_n)
            union = len(sa | sb)
            out[i] = len(sa & sb) / union if union else 0.0
        return pd.Series(out)

    return joined.select(
        "id_a", "id_b", jaccard(F.col("text_a"), F.col("text_b")).alias("jaccard")
    )


def _py_shingle_set(text: str, n: int) -> set:
    words = text.lower().split()
    if len(words) <= n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard -> pairs >= t."""
    cand = minhash_lsh_candidates(df, id_col, text_col, **kw)
    # verify at the SAME gram size the candidates were generated with —
    # mismatched sizes would filter unigram candidates by trigram Jaccard
    verified = ngram_jaccard_pairs(
        df, cand, id_col, text_col, shingle_n=kw.get("shingle_n", 3)
    )
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash64(text: Column, token_hash=None, bits: int = 64) -> Column:
    """``bits``-wide simhash: per-token hash, bitwise majority vote.

    One expression tree: token hashes are let-bound (computed once), the
    per-bit votes run over a literal mask array, and the bits fold into a
    long with bitwiseOR.  ``token_hash`` defaults to ``xxhash64`` (fastest);
    pass :func:`md5_token_hash` with ``bits=60`` for the engine-portable
    family the driver oracle uses (md5 exists in every engine, so the WHOLE
    simhash pipeline gets a DuckDB value twin — same idea as the LSH
    ``n_planes=0`` exact mode).
    """
    tokens = F.split(normalized_text(text), " ")
    th = token_hash or F.xxhash64
    hashes = F.transform(tokens, lambda t: th(t))
    masks = F.array(*[F.shiftleft(F.lit(1).cast("long"), b) for b in range(bits)])

    def build(hs: Column) -> Column:
        bits = F.transform(
            masks,
            lambda m: F.aggregate(
                hs,
                F.lit(0),
                lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
        )
        contributions = F.zip_with(
            bits, masks, lambda b, m: F.when(b > 0, m).otherwise(F.lit(0).cast("long"))
        )
        return F.aggregate(
            contributions, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v)
        )

    return _let(hashes, build)


def md5_token_hash(t: Column) -> Column:
    """60-bit token hash from the md5 hex prefix — bit-identical in any
    engine with md5() (DuckDB: CAST('0x' || substring(md5(t),1,15) AS
    BIGINT)), which makes simhash itself oracle-checkable."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    max_bucket: int = 256,
    token_hash=None,
    bits: int = 64,
) -> DataFrame:
    """Near-dup candidates: equal ``band_bits`` band of the simhash (bits/
    band_bits bands -> hamming distance <= bands-1 guaranteed recall within
    any one band).  Band buckets larger than ``max_bucket`` are truncated
    (:func:`_cap_buckets`).  ``token_hash``/``bits`` select the hash family
    (see :func:`simhash64`)."""
    df = fan_out(df)
    sh = df.select(
        F.col(id_col), simhash64(F.col(text_col), token_hash, bits).alias("simhash")
    )
    bands = []
    for b in range(bits // band_bits):
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("band_val"),
            )
        )
    rows = sh.select(id_col, "simhash", F.explode(F.array(*bands)).alias("bh")).select(
        id_col, "simhash", "bh.band", "bh.band_val"
    )
    if max_bucket:
        rows = _cap_buckets(rows, id_col, ["band", "band_val"], max_bucket)
    a = rows.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "band_val"
    )
    b = rows.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "band_val"
    )
    pairs = (
        # merge hint: same ReusedExchange rationale as minhash_lsh_candidates
        a.hint("merge")
        .join(b, on=["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming"))


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection — the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (suffix-array ExactSubstr), rendered distributable: every
    ``window``-token run is fingerprinted with a rolling hash, runs whose
    fingerprint occurs >= ``min_count`` times corpus-wide (ACROSS docs or
    repeated within one) are duplicate runs, and overlapping/adjacent
    duplicate runs merge into maximal spans per document.  Granularity is
    the window: duplicated passages shorter than ``window`` tokens are
    invisible, and reported spans snap outward to window boundaries —
    the standard trade for shuffling O(tokens) fixed-width keys instead
    of building a distributed suffix array.

    -> (id_col, n_tokens, span_start, span_end, span_tokens): token-index
    [start, end) spans to cut before training; per-doc duplication ratio
    is ``sum(span_tokens)/n_tokens`` one groupBy away.

    Scale shape (10^12 tokens):
      - fingerprinting is Arrow-batched numpy (the minhash path's
        byte-level segmented kernel + rolling FNV — O(tokens), no
        per-word Python, `lower=False` so bytes are compared verbatim);
      - duplicate detection = ONE partial-aggregated count shuffle on the
        64-bit fingerprint (boilerplate fingerprints combine map-side);
      - the positions join shuffles on the fingerprint, then span
        assembly is a per-doc gaps-and-islands window (one shuffle on
        id).  Nothing holds more than (id, pos, hash) rows.

    Caveat (documented, inherent to hashing): two DIFFERENT windows
    colliding in 64 bits would fuse spans; P(collision) ~ G^2/2^65 —
    negligible below ~10^8 windows per corpus, and a verify pass on the
    span texts (ngram_jaccard style) removes even that.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    # same Arrow fingerprint kernel family as minhash: fan a narrow scan to
    # data-sized width before it (no-op when already parallel; every
    # downstream op is keyed — counts, joins, per-id windows — so
    # partitioning cannot change any span)
    docs = fan_out(docs)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_tokens: long, grams: array<long>>")
    def _grams(texts: pd.Series) -> pd.DataFrame:
        out, offs, wc = _batch_gram_hashes(texts.tolist(), window, lower=False)
        sig = out.view(np.int64)
        parts = np.split(sig, offs[1:])
        grams = [p if w >= window else p[:0] for p, w in zip(parts, wc.tolist())]
        return pd.DataFrame({"n_tokens": wc, "grams": grams})

    g = docs.select(
        F.col(id_col).alias("id"),
        _grams(F.col(text_col).cast("string")).alias("s"),
    ).select(
        "id",
        F.col("s.n_tokens").alias("n_tokens"),
        F.posexplode("s.grams").alias("pos", "h"),
    )
    # g feeds BOTH the duplicate-count branch and the positions join —
    # without a checkpoint Spark would re-run the Arrow fingerprint UDF
    # over the whole corpus twice (the dominant cost at scale)
    g = g.localCheckpoint(eager=True)
    dup = (
        g.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    hits = g.join(dup, on="h")
    w_prev = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("id").orderBy("pos")
    isl = hits.withColumn(
        "brk",
        (
            F.col("pos")
            > F.coalesce(F.max("pos").over(w_prev), F.lit(-(1 << 40))) + window
        ).cast("int"),
    ).withColumn("island", F.sum("brk").over(w_run))
    return (
        isl.groupBy("id", "island", "n_tokens")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_hex: int = 16,
    keep_text: bool = False,
) -> DataFrame:
    """Content-defined chunking at word granularity — the LBFS/FastCDC
    idea that makes recrawl storage dedup work: chunk boundaries are
    chosen by CONTENT (a word ends a chunk when its hash falls under a
    threshold), so an edit moves at most the chunks it touches — every
    other chunk of a recrawled page keeps its identity and deduplicates,
    where fixed-size blocks would all shift.

    Boundary rule: word w closes a chunk when the first 2 hex chars of
    ``md5(w)`` are < ``boundary_hex`` (as "%02x") — boundary probability
    boundary_hex/256, expected chunk length 256/boundary_hex words.  md5
    (not xxhash) on purpose: it is the repo's cross-engine determinism
    primitive (functions/sampling.py), so a DuckDB oracle replays the
    exact boundaries.

    -> (id_col, chunk_id, n_words, chunk_hash[, chunk_text]): chunk_id is
    0-based per doc in document order; chunk_hash = md5 of the
    space-joined words, the storage-dedup key (recrawls sharing a chunk
    produce the same hash corpus-wide).

    Scale shape: pure Catalyst — split + posexplode, ONE shuffle on the
    doc key for the running-boundary window, one partial-agg groupBy on
    (doc, chunk).  Chunk text reassembly is bounded by chunk size.  At
    10^12 docs the doc-key shuffle carries (id, pos, word) rows — the
    same weight as the line-dedup path, and far below the suffix shuffle
    of dup-span detection.
    """
    if not 1 <= boundary_hex <= 255:
        raise ValueError(f"boundary_hex must be in [1, 255], got {boundary_hex}")
    # the per-word md5 boundary test runs in the scan stage: fan a narrow
    # scan out first (boundaries, chunk ids, and chunk texts are all
    # derived per doc in document order — partitioning-proof)
    docs = fan_out(docs)
    thr = format(boundary_hex, "02x")
    from ..functions.text import WS_SPLIT  # Java/RE2-identical whitespace class

    w = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), WS_SPLIT),
                lambda x: x != "",
            )
        ).alias("pos", "word"),
    )
    is_boundary = (
        F.substring(F.md5(F.encode(F.col("word"), "UTF-8")), 1, 2) < F.lit(thr)
    ).cast("long")
    w_prev = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = w.withColumn(
        "chunk_id", F.coalesce(F.sum(is_boundary).over(w_prev), F.lit(0))
    )
    agg = chunked.groupBy("id", "chunk_id").agg(
        F.count("*").alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("chunk_text"),
    )
    cols = [
        F.col("id").alias(id_col),
        "chunk_id",
        "n_words",
        F.md5(F.encode(F.col("chunk_text"), "UTF-8")).alias("chunk_hash"),
    ]
    if keep_text:
        cols.append(F.col("chunk_text"))
    return agg.select(*cols)


def containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT:
    ``C(A,B) = |S(A) ∩ S(B)| / |S(A)|`` — the measure Jaccard misses.  A
    tweet quoted inside an article, a page embedded in a boilerplate
    wrapper, a snippet feed of a long post: Jaccard is tiny (the union is
    huge) but containment of the smaller doc is ~1.0.  Broder's original
    resemblance paper defines both; LLM-corpus pipelines dedup on
    containment to drop sub-documents.

    Returns ``(id_a, id_b, inter, size_a, size_b, c_ab, c_ba,
    containment)`` for pairs with ``max(c_ab, c_ba) >= threshold``,
    ``id_a < id_b``.

    Scale shape: pure Catalyst — word-n-gram shingle arrays (the shared
    :func:`shingles` kernel, let-bound tokenization), ONE posting explode,
    ONE gram equi-join with map-side partial-agg intersection counts, two
    broadcast-size joins for the per-doc set sizes.  ``max_df`` drops
    grams appearing in more than that many docs before the self-join (the
    cosine_pairs df-cap: hot boilerplate grams like 'terms of service'
    would otherwise quadratically dominate) — with a cap, containment is
    a LOWER bound; leave None for exact semantics.  Intersection counts
    are integers, divisions are single fixed ops: bit-stable on any
    partitioning and replayed verbatim by the driver oracle.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # shingle formation is the scan stage's per-row cost: fan a narrow scan
    # out first (intersection counts are integers, divisions fixed — the
    # docstring's bit-stable-on-any-partitioning contract).  As in
    # span_dedup, per-branch pruning (postings vs sizes) materializes the
    # narrow exchange twice in the executed plan; measured net win
    # (2.95 -> 2.61 s at sf0.1) because both branches' per-row shingle
    # work parallelizes while each exchange ships only (id, text).
    docs = fan_out(docs)
    sh = docs.select(
        F.col(id_col).alias("_cid"),
        F.filter(shingles(F.col(text_col), n), lambda g: g != F.lit("")).alias(
            "_s"
        ),
    ).filter(F.size("_s") > 0)
    sizes = sh.select("_cid", F.size("_s").cast("long").alias("_sz"))
    po = sh.select("_cid", F.explode("_s").alias("_gram"))
    if max_df is not None:
        hot = (
            po.groupBy("_gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > int(max_df))
            .select("_gram")
        )
        po = po.join(F.broadcast(hot), "_gram", "left_anti")
    a = po.select(F.col("_cid").alias("id_a"), "_gram")
    b = po.select(F.col("_cid").alias("id_b"), "_gram")
    inter = (
        # merge hint: same ReusedExchange rationale as minhash_lsh_candidates
        # (broadcast build would re-run the shingle explode + df-cap chain)
        a.hint("merge")
        .join(b, "_gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("_cid").alias("id_a"), F.col("_sz").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_cid").alias("id_b"), F.col("_sz").alias("size_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            (F.col("inter").cast("double") / F.col("size_a").cast("double")).alias(
                "c_ab"
            ),
            (F.col("inter").cast("double") / F.col("size_b").cast("double")).alias(
                "c_ba"
            ),
        )
        .withColumn("containment", F.greatest("c_ab", "c_ba"))
        .filter(F.col("containment") >= F.lit(float(threshold)))
    )
    return out
