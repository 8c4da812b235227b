"""Unit tests: CUPED and prefix-filter set-similarity join."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import Row, functions as F

from rust_dataframe_spark.operators.experiments import cuped
from rust_dataframe_spark.operators.setjoin import (
    prefix_containment_join,
    prefix_jaccard_join,
)


def test_cuped_perfect_covariate_kills_variance(spark):
    # y = 2x exactly -> theta = 2, adjusted y is constant per arm
    rows = [Row(arm=i % 2, x=float(i), y=2.0 * i) for i in range(40)]
    out = {r["arm"]: r for r in cuped(spark.createDataFrame(rows), "arm", "y", "x").collect()}
    for arm in (0, 1):
        assert out[arm]["theta"] == pytest.approx(2.0)
        assert out[arm]["var_adj"] == pytest.approx(0.0, abs=1e-9)
        assert out[arm]["var_reduction"] == pytest.approx(1.0, abs=1e-9)


def test_cuped_useless_covariate_changes_nothing(spark):
    # x constant -> var(x)=0 -> theta undefined (NaN); guard: use x with
    # zero covariance instead: y independent of x
    rng = random.Random(3)
    rows = [
        Row(arm=i % 2, x=float(i % 2), y=float(rng.choice([1, 2, 3])))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)
    out = cuped(df, "arm", "y", "x").collect()
    for r in out:
        # theta is tiny, adjustment leaves means within noise
        assert abs(r["mean_adj"] - r["mean_y"]) < 0.5


def test_cuped_preserves_unbiased_means(spark):
    # adjustment shifts each arm by theta*(xbar_arm - xbar); overall
    # weighted mean of adj equals overall mean of y
    rng = random.Random(9)
    rows = [
        Row(arm=i % 2, x=rng.uniform(0, 10), y=rng.uniform(0, 10) + (i % 2))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows)
    out = cuped(df, "arm", "y", "x").collect()
    tot_y = sum(r["mean_y"] * r["n"] for r in out)
    tot_adj = sum(r["mean_adj"] * r["n"] for r in out)
    assert tot_adj == pytest.approx(tot_y, rel=1e-9)


# ---------------------------------------------------------------------------
# prefix_jaccard_join
# ---------------------------------------------------------------------------


def _brute(docs, t):
    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        inter = len(set(ta) & set(tb))
        if inter and inter / (len(set(ta)) + len(set(tb)) - inter) >= t:
            out.add((min(ia, ib), max(ia, ib)))
    return out


@pytest.mark.parametrize("t", [0.5, 0.7, 0.9])
def test_prefix_join_matches_bruteforce(spark, t):
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, sorted(set(rng.sample(vocab, rng.randint(3, 10)))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_jaccard_join(df, "id", "toks", threshold=t).collect()
    }
    assert got == _brute(docs, t)


def test_prefix_join_identical_docs(spark):
    docs = [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]), (3, ["x", "y", "z"])]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    rows = prefix_jaccard_join(df, "id", "toks", threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_prefix_join_no_pairs_below_threshold(spark):
    docs = [(1, ["a", "b"]), (2, ["c", "d"]), (3, ["e", "f"])]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    assert prefix_jaccard_join(df, "id", "toks", threshold=0.1).count() == 0


def test_prefix_join_singleton_tokens(spark):
    # |d|=1, t=1.0: prefix length 1 - 1 + 1 = 1; identical singletons pair
    docs = [(1, ["only"]), (2, ["only"]), (3, ["other"])]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    rows = prefix_jaccard_join(df, "id", "toks", threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


@pytest.mark.parametrize("join", [prefix_jaccard_join, prefix_containment_join])
@pytest.mark.parametrize("t", [0.0, -0.5])
def test_prefix_joins_reject_nonpositive_threshold(spark, join, t):
    # at t <= 0 the disjoint pairs (1,2) and (2,3) qualify but share no
    # prefix token, so the prefix filter would silently drop them
    docs = [(1, ["a", "b"]), (2, ["c", "d"]), (3, ["a", "b"])]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    with pytest.raises(ValueError, match="threshold > 0"):
        join(df, "id", "toks", threshold=t)


# ---------------------------------------------------------------------------
# prefix_containment_join
# ---------------------------------------------------------------------------


def _brute_containment(docs, t):
    out = set()
    for ia, ta in docs:
        for ib, tb in docs:
            if ia == ib:
                continue
            sa, sb = set(ta), set(tb)
            if len(sa & sb) / len(sa) >= t:
                out.add((ia, ib))
    return out


@pytest.mark.parametrize("t", [0.5, 0.8, 1.0])
def test_containment_join_matches_bruteforce(spark, t):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    docs = [
        (i, sorted(set(rng.sample(vocab, rng.randint(2, 12)))))
        for i in range(50)
    ]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_containment_join(df, "id", "toks", threshold=t).collect()
    }
    assert got == _brute_containment(docs, t)


def test_containment_catches_subset_jaccard_misses(spark):
    """The motivating asymmetry: a small excerpt fully inside a big doc has
    containment 1.0 but tiny Jaccard."""
    big = [f"tok{i}" for i in range(40)]
    docs = [(1, big[:4]), (2, big)]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    cont = prefix_containment_join(df, "id", "toks", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    # the symmetric join at the same bar finds nothing (Jaccard = 0.1)
    assert prefix_jaccard_join(df, "id", "toks", threshold=0.9).count() == 0
