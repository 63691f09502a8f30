"""resolve_redirects vs a pure-python chain walker."""

from __future__ import annotations

import random

import pytest

from open_vector_tile_spark.operators.redirects import resolve_redirects


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_url string, dst_url string")


def _walk(mapping, max_hops=64):
    """Python oracle: {src: (canonical|None, hops|None, is_cycle)}."""
    out = {}
    for u in mapping:
        cur, hops = mapping[u], 1
        while cur in mapping and hops <= max_hops:
            cur = mapping[cur]
            hops += 1
        if cur in mapping or hops > max_hops:
            out[u] = (None, None, True)
        else:
            out[u] = (cur, hops, False)
    return out


def _got(df):
    return {
        r["url"]: (r["canonical_url"], r["n_hops"], r["is_cycle"])
        for r in df.collect()
    }


def test_simple_chain(spark):
    df = resolve_redirects(_edges(spark, [("a", "b"), ("b", "c")]))
    assert _got(df) == {"a": ("c", 2, False), "b": ("c", 1, False)}


def test_cycle_and_drain(spark):
    # a <-> b cycle; d drains into it; e -> f resolves normally
    df = resolve_redirects(
        _edges(spark, [("a", "b"), ("b", "a"), ("d", "a"), ("e", "f")])
    )
    assert _got(df) == {
        "a": (None, None, True),
        "b": (None, None, True),
        "d": (None, None, True),
        "e": ("f", 1, False),
    }


def test_duplicate_src_collapses_to_min_dst(spark):
    df = resolve_redirects(_edges(spark, [("a", "z"), ("a", "b"), ("b", "c")]))
    assert _got(df) == {"a": ("c", 2, False), "b": ("c", 1, False)}


def test_max_hops_budget_flags_long_chains(spark):
    chain = [(f"u{i}", f"u{i+1}") for i in range(5)]  # u0 -> ... -> u5
    got = _got(resolve_redirects(_edges(spark, chain), max_hops=3))
    assert got["u4"] == ("u5", 1, False)
    assert got["u2"] == ("u5", 3, False)
    assert got["u1"] == (None, None, True)  # 4 hops > budget
    assert got["u0"] == (None, None, True)


@pytest.mark.slow
def test_randomized_vs_python_walk_and_determinism(spark):
    rng = random.Random(23)
    mapping = {}
    for i in range(300):
        # mostly-forward edges with some back-edges -> long chains + cycles
        tgt = i + rng.randint(1, 9) if rng.random() < 0.85 else rng.randint(0, i)
        if tgt != i:
            mapping[f"n{i}"] = f"n{tgt}"
    pairs = list(mapping.items())
    df = _edges(spark, pairs)
    a = _got(resolve_redirects(df))
    b = _got(resolve_redirects(df.repartition(7)))
    assert a == b == _walk(mapping)


def test_max_hops_validation(spark):
    with pytest.raises(ValueError):
        resolve_redirects(_edges(spark, [("a", "b")]), max_hops=0)
