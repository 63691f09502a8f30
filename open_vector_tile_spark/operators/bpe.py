"""Distributed BPE tokenizer training — the canonical LLM-vocabulary op.

Byte-pair encoding (Sennrich et al. 2016; the GPT-2 tokenizer recipe)
trains a subword vocabulary by repeatedly merging the most frequent
adjacent symbol pair.  Like GPT-2's trainer, merging operates on a
WORD-frequency table, never the raw corpus: pair statistics are
frequency-weighted over distinct words, so the expensive per-round work
touches a vocabulary-sized table regardless of corpus size.

Scale shape (100 TB corpus):

- the corpus is scanned ONCE — word frequencies are a single
  partial-aggregated ``groupBy`` (map-side combine does the heavy
  reduction; the result is vocabulary-sized);
- every merge round runs entirely over the vocabulary table: one
  pair-count partial agg (pairs built INSIDE the symbol array via
  ``slice`` + ``arrays_zip`` — the collocations pattern, no per-word
  window) plus a 1-row global argmax collect.  The argmax is the
  algorithm's inherent synchronization point — the same shape as the
  Lloyd centroid reduction in IVF k-means (similarity.py), not a
  driver-side data loop;
- merge application is an in-array fold (``F.aggregate`` with a list
  accumulator): greedy left-to-right non-overlapping replacement —
  classic BPE apply semantics ("aaa" + (a,a) -> [aa, a]) — with no
  explode and no shuffle;
- the vocabulary table is ``localCheckpoint``-ed each round so round R
  does not replay rounds 1..R-1 (lineage stays flat; the table is tiny);
- encoding a corpus afterwards applies the trained merges to the
  DISTINCT word table only, then maps words -> subwords; exploding
  subword counts weighted by word frequency never touches document
  bodies again.

Determinism: pair-count ties break on (left, right) binary string order
— identical under any partitioning and in the DuckDB oracle twin, which
replays every round as an unrolled CTE chain (pair counts, argmax,
fold-apply via ``list_reduce`` over singleton lists).

Symbol boundaries use the unit-separator sentinel ``\\x1f`` to split
words into codepoints; words containing the sentinel (never produced by
whitespace tokenization of text, but binary-ish inputs exist) are
excluded from training — documented, mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._pins import Pins

__all__ = ["bpe_train", "bpe_apply_merges", "bpe_subword_counts"]

_SENT = "\x1f"

MERGES_SCHEMA = (
    "rank INT NOT NULL, lhs STRING NOT NULL, rhs STRING NOT NULL, "
    "merged STRING NOT NULL, pair_count BIGINT NOT NULL"
)


def char_symbols(word: Column) -> Column:
    """Split a word into per-codepoint symbols (the round-0 alphabet).

    ``(?s)`` makes Java's dot match line terminators (NEL/LS/PS survive
    whitespace tokenization — WS_SPLIT strips only the ASCII class), so
    every codepoint gets its sentinel and the split matches the oracle's
    per-character ``word[i:i]`` exactly.
    """
    return F.filter(
        F.split(F.regexp_replace(word, "(?s)(.)", "$1" + _SENT), _SENT),
        lambda t: t != "",
    )


def _apply_merge(syms: Column, lhs: str, rhs: str, merged: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (lhs, rhs) -> merged.

    Fold with a list accumulator: append each symbol unless it is ``rhs``
    and the accumulator's last element is ``lhs`` — then replace that
    last element with ``merged``.  Because a merged tail element never
    equals ``lhs`` (it is the longer ``merged`` string), overlapping runs
    resolve exactly like the reference BPE scan: aaa -> [aa, a].
    ``try_element_at`` keeps the empty-accumulator probe NULL-safe under
    ANSI mode (NULL == lhs is NULL -> otherwise branch).
    """
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs))
            & (x == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms): the one corpus scan, partial-agg reduced."""
    from open_vector_tile_spark.functions.text import ws_tokens

    return (
        docs.select(F.explode(ws_tokens(text_col)).alias("word"))
        .where(~F.col("word").contains(_SENT))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .select("word", "freq", char_symbols(F.col("word")).alias("syms"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    n = F.size("syms")
    return (
        words.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("syms"), 1, F.greatest(n - 1, F.lit(0))).alias("a"),
                    F.slice(F.col("syms"), 2, F.greatest(n - 1, F.lit(0))).alias("b"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    num_merges: int = 8,
) -> DataFrame:
    """Train ``num_merges`` BPE merges; returns the ranked merge table.

    Output: ``(rank, lhs, rhs, merged, pair_count)`` — rank is 1-based
    merge order, pair_count the frequency-weighted adjacent-pair count
    that won the round.  Stops early if no adjacent pair remains (every
    word fused to one symbol).  The merge table is a model artifact
    (``num_merges`` rows) — driver-side by design, like the logreg
    weights in classify.py.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = docs.sparkSession
    merges: list[tuple[int, str, str, str, int]] = []
    with Pins() as pins:
        words = pins.pin(_word_freqs(docs, text_col))
        for r in range(1, num_merges + 1):
            best = (
                _pair_counts(words)
                .orderBy(F.desc("pair_count"), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not best:
                break
            lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
            merged = lhs + rhs
            merges.append((r, lhs, rhs, merged, cnt))
            nxt = pins.pin(
                words.withColumn("syms", _apply_merge(F.col("syms"), lhs, rhs, merged))
            )
            # release the superseded round's pinned blocks — peak state
            # is 2 vocabulary-table copies regardless of num_merges
            pins.free(words)
            words = nxt
    return spark.createDataFrame(merges, schema=MERGES_SCHEMA)


def bpe_apply_merges(words: DataFrame, merges: list, *, syms_col: str = "syms") -> DataFrame:
    """Apply a trained merge list (rank order) to a symbol-array column.

    ``merges`` is the collected merge table (any iterable of rows/tuples
    with lhs, rhs, merged in positions 1..3).  Chained in-array folds —
    no shuffle; meant for the vocabulary-sized distinct-word table, after
    which corpus-scale encoding is a word -> subwords equi-join.
    """
    out = words
    for m in sorted(merges, key=lambda m: m[0]):
        out = out.withColumn(syms_col, _apply_merge(F.col(syms_col), m[1], m[2], m[3]))
    return out


def bpe_subword_counts(
    docs: DataFrame,
    merges: list,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Corpus subword occurrence counts under a trained merge table.

    ``(subword, n_words, n_occurrences)``: distinct words carrying each
    subword, and total frequency-weighted occurrences.  One corpus scan
    (the word-frequency agg); merges applied to the vocabulary table
    only; the final explode+agg is vocabulary-sized.
    """
    words = bpe_apply_merges(_word_freqs(docs, text_col), merges)
    return (
        words.select("word", "freq", F.explode("syms").alias("subword"))
        .groupBy("subword")
        .agg(
            F.count_distinct("word").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("n_occurrences"),
        )
    )
