"""Gradient-boosted decision stumps on histogram cells — the
LightGBM/XGBoost distributed-training trick (approximate split search on
feature histograms) as a pure DataFrame plan.

Two boosting rounds of squared-loss stumps over two features: the corpus
reduces ONCE to the (bin1, bin2, y) integer cell table in a single
map-side-partial aggregate, and every downstream step — both split
sweeps, leaf values, residual bookkeeping, the final SSE — is algebra on
that bounded cell axis (nbins x nbins x 2 rows).  No per-candidate
re-scan, no per-round re-scan: this is exactly the access pattern that
makes histogram GBDT train at 100 TB (one pass over data per tree LEVEL,
here one pass total because the cell table already carries the joint
histogram).

Cross-engine determinism (the exact-hash gate, not a tolerance):

* cell counts are int64 → round-1 split gains are fixed scalar dags on
  exact integers;
* round-2 residuals take only 4 distinct values (y in {0,1} x leaf in
  {L,R}), so residual sums are folds of ``cnt * r`` over the SORTED
  bounded cell list (``array_sort(collect_list)`` / ``list(... ORDER
  BY)``) — identical IEEE order on both engines;
* argmax split picks use ``max_by`` over (gain, -s): lexicographic
  struct comparison, ties broken toward the smaller split — an
  AGGREGATE, so the chosen split broadcasts as a 1-row scalar (the plan
  lint's bnlj-scalar shape), never a nested-loop review case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["boosted_stumps"]


def _bin(x: F.Column, lo: F.Column, hi: F.Column, nbins: int) -> F.Column:
    """q353's equal-width binning: identical expression on both engines."""
    return F.least(
        F.lit(nbins - 1),
        F.floor((x - lo) / (hi - lo + F.lit(1e-12)) * nbins).cast("int"),
    )


def _sorted_fold(pairs: F.Column) -> F.Column:
    """Sum the ``v`` field of an array of structs in sorted order."""
    return F.aggregate(
        F.transform(F.array_sort(pairs), lambda s: s["v"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def boosted_stumps(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    nbins: int = 16,
) -> DataFrame:
    """Train f(x) = stump1(x1) + stump2(x2) by two rounds of squared-loss
    gradient boosting (learning rate 1; round 2 fits round 1's
    residuals).  Returns two rows::

        round | feature | split_bin | threshold | n_left | n_right
              | left_value | right_value | sse_after

    ``threshold`` is the bin edge in feature units (q353's display
    convention), leaf values are the (residual) means of each side, and
    ``sse_after`` is the training SSE after applying that round —
    monotonically non-increasing by construction.
    """
    f = df.select(
        F.col(x1_col).cast("double").alias("x1"),
        F.col(x2_col).cast("double").alias("x2"),
        F.col(y_col).cast("bigint").alias("y"),
    )
    # 1-row frame read twice (the cell-table lineage and the final output
    # row), deliberately NOT persisted: the round-12 persist measured
    # 5.10 s vs 4.81 s without it in a round-13 in-bench A/B on q369 — the
    # extra persist job costs more than the cheap columnar min/max re-scan
    # it saves (OPTIMIZATION_r13.md §2).
    bounds = f.agg(
        F.min("x1").alias("lo1"),
        F.max("x1").alias("hi1"),
        F.min("x2").alias("lo2"),
        F.max("x2").alias("hi2"),
    )
    # THE data pass: joint histogram cells, integer counts.  Persisted
    # (nbins^2 x 2 rows) because three downstream stages — round-1 bins,
    # residual cells, final SSE — all read it; without the persist each
    # branch would re-scan the corpus.
    from .cache import persist_tracked

    cells = persist_tracked(
        f.crossJoin(F.broadcast(bounds))
        .select(
            _bin(F.col("x1"), F.col("lo1"), F.col("hi1"), nbins).alias("b1"),
            _bin(F.col("x2"), F.col("lo2"), F.col("hi2"), nbins).alias("b2"),
            "y",
        )
        .groupBy("b1", "b2", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )

    # ---- round 1: stump on x1 against y (integer sums) ----
    bins1 = cells.groupBy("b1").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("y") * F.col("cnt")).cast("bigint").alias("sy"),
    )
    tot = bins1.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sy").cast("bigint").alias("syt"),
    )
    grid = df.sparkSession.range(1, nbins).select(F.col("id").alias("s"))
    sweep1 = (
        grid.crossJoin(F.broadcast(bins1))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b1") < F.col("s"), F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias("nl"),
            F.coalesce(
                F.sum(F.when(F.col("b1") < F.col("s"), F.col("sy"))), F.lit(0)
            )
            .cast("bigint")
            .alias("sl"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "s",
            "nl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            "sl",
            (F.col("syt") - F.col("sl")).alias("sr"),
        )
    )
    gain1 = (
        F.when((F.col("nl") == 0) | (F.col("nr") == 0), F.lit(-1.0))
        .otherwise(
            F.col("sl").cast("double") * F.col("sl") / F.col("nl")
            + F.col("sr").cast("double") * F.col("sr") / F.col("nr")
        )
    )
    best1 = sweep1.agg(
        F.max_by(
            F.struct("s", "nl", "nr", "sl", "sr"),
            F.struct(gain1.alias("g"), (-F.col("s")).alias("t")),
        ).alias("b")
    ).select(
        F.col("b.s").alias("s1"),
        F.col("b.nl").alias("nl1"),
        F.col("b.nr").alias("nr1"),
        (F.col("b.sl").cast("double") / F.col("b.nl")).alias("m1l"),
        (F.col("b.sr").cast("double") / F.col("b.nr")).alias("m1r"),
    )

    # residual cells: leaf membership is b1 < s1; residuals take 4 values
    rc = (
        cells.crossJoin(F.broadcast(best1))
        .select(
            "b2",
            (F.col("b1") < F.col("s1")).alias("leaf_l"),
            "y",
            "cnt",
            (
                F.col("y").cast("double")
                - F.when(F.col("b1") < F.col("s1"), F.col("m1l")).otherwise(
                    F.col("m1r")
                )
            ).alias("r"),
        )
        .groupBy("b2", "leaf_l", "y")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.first("r").alias("r"),  # r is a function of (leaf_l, y)
        )
    )
    # per-x2-bin residual sums: ordered fold over the <=4 cells of the bin
    bins2 = rc.groupBy("b2").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        _sorted_fold(
            F.collect_list(
                F.struct(
                    "leaf_l", "y", (F.col("cnt") * F.col("r")).alias("v")
                )
            )
        ).alias("sr2"),
    )
    tot2 = bins2.agg(
        F.sum("n").cast("bigint").alias("nt"),
        _sorted_fold(
            F.collect_list(F.struct("b2", F.col("sr2").alias("v")))
        ).alias("srt"),
    )
    # sweep on x2: left residual sum folds bins < s in b2 order
    sweep2 = (
        grid.crossJoin(F.broadcast(bins2))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b2") < F.col("s"), F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias("nl"),
            _sorted_fold(
                F.collect_list(
                    F.struct(
                        "b2",
                        F.when(F.col("b2") < F.col("s"), F.col("sr2"))
                        .otherwise(F.lit(0.0))
                        .alias("v"),
                    )
                )
            ).alias("sl"),
        )
        .crossJoin(F.broadcast(tot2))
        .select(
            "s",
            "nl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            "sl",
            (F.col("srt") - F.col("sl")).alias("sr"),
        )
    )
    gain2 = (
        F.when((F.col("nl") == 0) | (F.col("nr") == 0), F.lit(-1.0))
        .otherwise(
            F.col("sl") * F.col("sl") / F.col("nl")
            + F.col("sr") * F.col("sr") / F.col("nr")
        )
    )
    best2 = sweep2.agg(
        F.max_by(
            F.struct("s", "nl", "nr", "sl", "sr"),
            F.struct(gain2.alias("g"), (-F.col("s")).alias("t")),
        ).alias("b")
    ).select(
        F.col("b.s").alias("s2"),
        F.col("b.nl").alias("nl2"),
        F.col("b.nr").alias("nr2"),
        (F.col("b.sl") / F.col("b.nl")).alias("m2l"),
        (F.col("b.sr") / F.col("b.nr")).alias("m2r"),
    )

    # SSE after each round: ordered folds of cnt * residual^2 over the
    # sorted full cell list (bounded: nbins^2 x 2)
    sse = (
        cells.crossJoin(F.broadcast(best1))
        .crossJoin(F.broadcast(best2))
        .select(
            "b1",
            "b2",
            "y",
            "cnt",
            (
                F.col("y").cast("double")
                - F.when(F.col("b1") < F.col("s1"), F.col("m1l")).otherwise(
                    F.col("m1r")
                )
            ).alias("r1"),
            F.when(F.col("b2") < F.col("s2"), F.col("m2l"))
            .otherwise(F.col("m2r"))
            .alias("f2"),
        )
        .select(
            "b1",
            "b2",
            "y",
            "cnt",
            "r1",
            (F.col("r1") - F.col("f2")).alias("r2"),
        )
        .agg(
            _sorted_fold(
                F.collect_list(
                    F.struct(
                        "b1",
                        "b2",
                        "y",
                        (F.col("cnt") * F.col("r1") * F.col("r1")).alias("v"),
                    )
                )
            ).alias("sse1"),
            _sorted_fold(
                F.collect_list(
                    F.struct(
                        "b1",
                        "b2",
                        "y",
                        (F.col("cnt") * F.col("r2") * F.col("r2")).alias("v"),
                    )
                )
            ).alias("sse2"),
        )
    )

    edge1 = F.col("lo1") + F.col("s1") * (
        F.col("hi1") - F.col("lo1") + F.lit(1e-12)
    ) / nbins
    edge2 = F.col("lo2") + F.col("s2") * (
        F.col("hi2") - F.col("lo2") + F.lit(1e-12)
    ) / nbins
    rounds = F.array(
        F.struct(
            F.lit(1).alias("round"),
            F.lit("x1").alias("feature"),
            F.col("s1").cast("int").alias("split_bin"),
            (F.floor(edge1 * 1e6) / 1e6).alias("threshold"),
            F.col("nl1").alias("n_left"),
            F.col("nr1").alias("n_right"),
            (F.floor(F.col("m1l") * 1e6) / 1e6).alias("left_value"),
            (F.floor(F.col("m1r") * 1e6) / 1e6).alias("right_value"),
            (F.floor(F.col("sse1") * 1e6) / 1e6).alias("sse_after"),
        ),
        F.struct(
            F.lit(2).alias("round"),
            F.lit("x2").alias("feature"),
            F.col("s2").cast("int").alias("split_bin"),
            (F.floor(edge2 * 1e6) / 1e6).alias("threshold"),
            F.col("nl2").alias("n_left"),
            F.col("nr2").alias("n_right"),
            (F.floor(F.col("m2l") * 1e6) / 1e6).alias("left_value"),
            (F.floor(F.col("m2r") * 1e6) / 1e6).alias("right_value"),
            (F.floor(F.col("sse2") * 1e6) / 1e6).alias("sse_after"),
        ),
    )
    return (
        best1.crossJoin(F.broadcast(best2))
        .crossJoin(F.broadcast(sse))
        .crossJoin(F.broadcast(bounds))
        .select(F.explode(rounds).alias("t"))
        .select("t.*")
        .orderBy("round")
    )
