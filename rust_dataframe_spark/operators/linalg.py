"""Distributed dense linear algebra primitives over array columns.

The PCA / covariance preprocessing step of an embedding pipeline needs
X^T X (the Gram matrix) and the column-mean vector — both are
**reductions to d×d / d scalars**, which distribute perfectly: every row
contributes its outer product, partial aggregation combines map-side, and
the result is tiny regardless of row count.

Implementation shape: double ``posexplode`` turns each vector into its
(i, j, x_i·x_j) outer-product entries, then one groupBy((i, j)) sums them.
The d² expansion per row is the honest cost of a d²-cell reduction — the
rows carry 3 narrow columns, combine map-side, and shuffle only d² partial
sums per partition.  For large d (≥ ~128) do it block-wise: slice the
vector into b-sized blocks and compute b×b panels per pass (same operator,
``F.slice`` the input), trading passes for per-row expansion.  An
alternative d²-aggregate-columns formulation keeps rows narrow but
explodes the codegen surface; the explode form is the one that scales in
*d* gracefully.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .fixpoint import fixpoint

__all__ = [
    "gram_matrix",
    "covariance_matrix",
    "matvec_ordered",
    "fold_ordered",
    "power_iteration",
]


def gram_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """(i, j, g) entries of X^T X = Σ_rows x xᵀ, 0-based, all d² cells
    (including both symmetric halves — consumers index freely)."""
    e = df.select(
        F.posexplode(F.col(vec_col)).alias("i", "xi"),
        F.col(vec_col).alias("__v"),
    ).select("i", "xi", F.posexplode("__v").alias("j", "xj"))
    return e.groupBy("i", "j").agg(F.sum(F.col("xi") * F.col("xj")).alias("g"))


def covariance_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """(i, j, cov) population covariance matrix of the vector column:
    cov_ij = Σ x_i x_j / n − mean_i·mean_j.  One Gram pass + one mean
    pass, joined on the (broadcast-sized) d-row mean table — no second
    data scan beyond the means."""
    n_means = df.select(
        F.posexplode(F.col(vec_col)).alias("k", "x")
    ).groupBy("k").agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("n"))
    g = gram_matrix(df, vec_col)
    mi = n_means.select(
        F.col("k").alias("i"), F.col("m").alias("mi"), F.col("n").alias("n")
    )
    mj = n_means.select(F.col("k").alias("j"), F.col("m").alias("mj"))
    return (
        g.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (F.col("g") / F.col("n") - F.col("mi") * F.col("mj")).alias("cov"),
        )
    )


def matvec_ordered(mat: DataFrame, vec: DataFrame) -> DataFrame:
    """y = M·x for a dense (i, j, c) matrix frame and a (j, x) vector frame,
    with every row sum evaluated as an ORDERED left fold over j (collect →
    array_sort → aggregate) — bit-reproducible across engines, partition
    layouts, and retries, unlike a float ``sum()``.  The fold lives inside
    codegen; the shuffle carries d rows."""
    return (
        mat.join(vec, "j")
        .groupBy("i")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("j"), (F.col("c") * F.col("x")).alias("p")
                            )
                        )
                    ),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("y")
        )
    )


def fold_ordered(df: DataFrame, key_col: str, val_col: str, fn) -> DataFrame:
    """1-row ordered left fold of ``fn(acc, v)`` over ``val_col`` sorted by
    ``key_col`` (init 0.0) — the engine-stable scalar reduction used for
    norms / dot products / traces where float ``sum()`` would reassociate."""
    return df.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(key_col), F.col(val_col).alias("v")))
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            fn,
        ).alias("acc")
    )


def power_iteration(cov: DataFrame, *, iters: int = 5) -> DataFrame:
    """Top principal direction of a dense (i, j, cov) matrix by fixed-round
    power iteration: x ← normalize(C·x) from an all-ones start — the
    PCA step between covariance_matrix and downstream projection
    (whitening, JL-style dimensionality reduction with a DATA-aligned
    axis, drift diagnosis).  A fixed ``iters`` makes the output a pure
    function of the (quantized) input matrix — callers floor-quantize the
    covariance first so both engines iterate the identical IEEE path; every
    matvec row-sum and the norm are ordered folds (no float reassociation
    anywhere), hence the DuckDB oracle replays the rounds exactly.

    Scale: the matrix is d² rows however large the corpus was; each round
    is one broadcast-sized join + d-row shuffle.  For top-k components,
    deflate (subtract λ x xᵀ — d² rows again) and re-run.
    """
    if iters <= 0:
        raise ValueError(f"iters must be positive, got {iters}")
    c = cov.select("i", "j", F.col("cov").alias("c"))
    x = c.select(F.col("i").alias("j")).distinct().withColumn(
        "x", F.lit(1.0).cast("double")
    )

    def _round(x: DataFrame, _r: int) -> DataFrame:
        y = matvec_ordered(c, x)
        nrm = fold_ordered(y, "i", "y", lambda acc, v: acc + v * v).select(
            F.sqrt("acc").alias("nrm")
        )
        return y.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"), (F.col("y") / F.col("nrm")).alias("x")
        )

    # y feeds both nrm and x, so the lazy tree DOUBLES per round —
    # truncate per round (d rows; values unchanged) or Catalyst pays
    # 2^iters analysis cost on the final plan
    x = fixpoint(x, _round, iters)
    return x.select(F.col("j").alias("i"), "x")
