"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:

* **brute-force cosine top-k** — the exact baseline: dot products via
  higher-order functions (zip_with/aggregate), entirely JVM-side, then
  TakeOrderedAndProject for the top-k.  Scales as O(n) per query vector;
  right answer for one-off queries and for verifying the approximate path.
* **random-hyperplane LSH (SRP)** — deterministic pseudo-random hyperplanes
  (seeded, generated driver-side as literals so any engine can replay them);
  each vector gets a b-bit sign bucket; candidate neighbors share a bucket.
  At 100 TB: bucketing is a narrow map + one shuffle on (bucket), turning the
  O(n^2) all-pairs problem into per-bucket blocks — the same
  candidate-then-verify shape as MinHash-LSH for text.

Everything here avoids Python row loops; the embedding math stays in
whole-stage codegen via F.transform/F.zip_with/F.aggregate.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, functions as F

from .fixpoint import fixpoint
from .pairs import collapse_exact, expand_groups, self_pairs, with_payload

__all__ = [
    "cosine",
    "cosine_topk",
    "srp_planes",
    "srp_bucket",
    "srp_candidates",
    "srp_multiprobe",
    "srp_near_dup",
    "cosine_verify",
    "ivf_assign",
    "ivf_topk",
    "pq_split_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "quantize_int8",
    "knn_join",
    "ivf_batch_topk",
    "ivf_filtered_batch_topk",
    "ann_recall",
    "mean_pool",
    "quantized_cosine",
    "truncate_normalize",
    "mmr_select",
]


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def _vec_sql(xs) -> str:
    """A driver vector as one Spark SQL ``array<double>`` literal, so it
    ships in one ``F.expr`` instead of a ``F.lit`` call per value.  Finite
    values render as ``repr(x)`` + ``D``, which parses back to the same
    double (``-0.0`` and subnormals included); NaN and the infinities are
    string casts."""

    def one(x: float) -> str:
        x = float(x)
        if math.isfinite(x):
            return f"{x!r}D"
        return f"CAST('{'NaN' if x != x else 'Infinity' if x > 0 else '-Infinity'}' AS DOUBLE)"

    return f"array({', '.join(map(one, xs))})"


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine(a, b):
    """Cosine similarity of two array<double> columns (JVM-side)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Plans as scan -> codegen'd math -> TakeOrderedAndProject(k): no shuffle of
    vectors, only k rows reach the driver side of the sort.
    """
    sim = cosine(as_double(F.col(vec_col)), F.expr(_vec_sql(query_vec)))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def truncate_normalize(df, vec_col: str, dim: int, *, out_col: str = "vec_t"):
    """Matryoshka-style prefix truncation + L2 renormalization: keep the
    first ``dim`` components and rescale to unit norm — the
    Matryoshka-representation (MRL, arXiv:2205.13147) serving trick where
    a prefix of a trained embedding is itself a usable lower-dim
    embedding.  At 100 TB the payoff is IO and memory: an 8-of-64 prefix
    scans 8x fewer bytes per vector for the coarse pass of a
    coarse-to-fine search (truncated scan -> shortlist -> full-dim
    re-rank), with recall quantified — never assumed — by the q324 audit.

    Codegen'd slice + fold-norm + transform; no shuffle, no Python."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    v = F.slice(as_double(F.col(vec_col)), 1, dim)
    return df.withColumn(out_col, F.transform(v, lambda x: x / _norm(v)))


def srp_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes (+-1 components).

    Driver-side constants (n_planes x dim floats) — broadcast implicitly as
    literals; regenerate identically anywhere from the seed.
    """
    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(n_planes)]


def srp_bucket(vec_col, planes: list[list[float]]):
    """b-bit bucket string: '1' where dot(vec, plane_i) >= 0 else '0'."""
    bits = [
        F.when(_dot(vec_col, F.expr(_vec_sql(plane))) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def srp_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_planes: int = 8,
    seed: int = 42,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: SRP-bucket candidates, then
    exact-cosine verify — the candidates-then-verify shape (same as
    MinHash-LSH for text) that replaces the O(n^2) all-pairs cosine join.

    Returns (id_a, id_b, cos_sim rounded 6dp) for same-bucket pairs with
    cosine >= threshold.  Recall is governed by n_planes: P(same bucket) =
    (1 - theta/pi)^n_planes; run b independent plane sets (different seeds)
    and union for higher recall.

    Scale: bucketing is a narrow map; the self-join shuffles (id, bucket)
    pairs; vectors travel only for candidate pairs (two hash joins on id).
    """
    # Exact-dup collapse first: identical vectors share a bucket by
    # construction, so duplicate groups inflate candidate pairs by
    # O(group^2).  The digest is internal — any stable hash works; md5 of
    # the joined components is deterministic.
    digest = F.md5(F.array_join(F.transform(F.col(vec_col), lambda x: x.cast("string")), ","))
    mem, rep_vecs = collapse_exact(df, id_col, vec_col, digest)

    buckets = srp_candidates(rep_vecs, id_col, vec_col, n_planes=n_planes, seed=seed)
    cands = self_pairs(buckets, id_col, ["bucket"], distinct=False)
    payload = {"emb": as_double(F.col(vec_col)), "__h": F.col("__h")}
    rep_pairs = cosine_verify(
        with_payload(cands, rep_vecs, id_col, payload), ["__h_a", "__h_b"], threshold
    )
    # identical vectors: cosine rounds to exactly 1.0 (<=1-ulp off pre-round)
    return expand_groups(mem, rep_pairs, id_col, "cos_sim")


def cosine_verify(pairs: DataFrame, keep: list[str], threshold: float) -> DataFrame:
    """Exact-cosine verify of candidate pairs carrying ``emb_a``/``emb_b``
    (``pairs.with_payload``): keeps ``keep`` plus ``cos_sim`` for pairs
    with cosine >= threshold, filtered on the raw value, then rounded to
    6dp."""
    return (
        pairs.select(*keep, cosine(F.col("emb_a"), F.col("emb_b")).alias("raw"))
        .filter(F.col("raw") >= threshold)
        .select(*keep, F.round("raw", 6).alias("cos_sim"))
    )


def ivf_assign(df: DataFrame, id_col: str, vec_col: str, centroids: list[tuple[int, list[float]]]):
    """Assign each vector to its nearest centroid by cosine (IVF coarse
    quantization).  Returns (id, cell, vec) with ``cell`` = centroid id.

    Centroids ship as literals (they're tiny — broadcast for free); the argmax
    is the greatest-of-structs trick (sim, then lower centroid id on ties), so
    assignment is one codegen'd map over the scan — no shuffle, no UDF.  The
    whole argmax is ONE ``F.expr`` (one py4j call, however many centroids),
    its vectors rendered exactly by :func:`_vec_sql`.  At scale the centroid
    set comes from a sampled k-means (pyspark.ml KMeans); here it is
    injectable so tests and the SQL oracle can replay a deterministic
    quantizer.
    """
    vec = f"`{vec_col.replace('`', '``')}`"
    emb = f"transform({vec}, x -> CAST(x AS DOUBLE))"
    # argmax_c cosine(v, c) == argmax_c dot(v, c/||c||): ||v|| is constant
    # across centroids, and centroid norms fold into the literals driver-side.
    # One dot product per centroid per row instead of dot + two norms + sqrt.
    structs = []
    for cid, cv in centroids:
        nrm = math.sqrt(sum(x * x for x in cv))
        cvn = _vec_sql(x / nrm for x in cv)
        structs.append(
            f"named_struct('sim', aggregate(zip_with({emb}, {cvn}, (x, y) -> x * y), 0D, "
            f"(s, v) -> s + v), 'negid', {-int(cid)})"
        )
    best = structs[0] if len(structs) == 1 else f"greatest({', '.join(structs)})"
    return df.select(F.col(id_col), F.expr(f"-({best}).negid AS cell"), F.col(vec))


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    *,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF approximate nearest neighbors: probe only the ``nprobe`` cells
    whose centroids are nearest the query, then exact cosine top-k inside.

    The scale path versus brute force (``cosine_topk``): assignment is a
    one-off batch job (store ``cell`` as a partition column of the vector
    table) and each query scans |n|/|cells| * nprobe vectors with partition
    pruning doing the skipping.  Probe-cell choice happens driver-side — the
    centroid table is small by construction.
    """

    def _pydot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def _pycos(a, b):
        return _pydot(a, b) / (math.sqrt(_pydot(a, a)) * math.sqrt(_pydot(b, b)))

    ranked = sorted(centroids, key=lambda c: (-_pycos(c[1], query_vec), c[0]))
    probe = [cid for cid, _ in ranked[:nprobe]]
    assigned = ivf_assign(df, id_col, vec_col, centroids)
    hits = assigned.filter(F.col("cell").isin(probe))
    sim = cosine(as_double(F.col(vec_col)), F.expr(_vec_sql(query_vec)))
    return (
        hits.select(F.col(id_col), F.col("cell"), F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def pq_split_codebooks(
    training: list[tuple[int, list[float]]], m: int
) -> list[list[tuple[int, list[float]]]]:
    """Build product-quantization codebooks by slicing ``k`` training vectors
    into ``m`` contiguous subspaces: codebook ``j`` holds the j-th subvector
    of every training vector, keyed by its id.

    Like :func:`ivf_topk`'s centroids, the training set is injectable so
    tests and the SQL oracle can replay a deterministic quantizer; at scale
    the codewords come from per-subspace k-means on a sample.
    """
    if not training:
        raise ValueError("training vectors required")
    dim = len(training[0][1])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    s = dim // m
    return [
        [(cid, vec[j * s : (j + 1) * s]) for cid, vec in training]
        for j in range(m)
    ]


def _l2sq(a, b_lit: list[float]):
    # Squared L2 distance as a LEFT FOLD in index order: (x-y)*(x-y) summed
    # sequentially.  The same op sequence is replayable bit-for-bit by any
    # engine with list primitives (DuckDB: list_zip + list_transform +
    # list_reduce with a 0.0 prepend) — no reliance on reduction order.
    return F.aggregate(
        F.zip_with(a, F.expr(_vec_sql(b_lit)), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[tuple[int, list[float]]]],
    *,
    out_col: str = "codes",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m = len(codebooks)``
    contiguous subvectors and replace subvector ``j`` with the id of its
    nearest codeword (squared-L2, ties to the lower id).  Output column is an
    ``array<int>`` of length m — with k=256 codewords per subspace this is the
    classic 64x compression (1 byte per subspace vs 4*sub_dim bytes).

    Codebooks ship as literals (m*k*sub_dim floats — tiny), so encoding is
    ONE codegen'd narrow map over the scan: no shuffle, no UDF, no Python.
    That is the 100 TB property: encode once, store codes as a column, and
    every later ADC scan reads m bytes per row instead of the vector.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    emb = as_double(F.col(vec_col))
    codes = []
    for j in range(m):
        subv = F.slice(emb, j * sub + 1, sub)
        # argmin over codewords as transform -> array_min -> array_position
        # over ONE literal array-of-arrays: k-times smaller expression tree
        # than a least-of-structs chain (measured ~25% off q212's wall, which
        # is codegen-dominated).  Ties: array_position returns the FIRST
        # minimal index and the codebook is sorted by cid, so the tie-break
        # (lowest cid) is identical to the struct-least formulation.  The
        # per-codeword distance is the same left fold as _l2sq.
        cb = sorted(codebooks[j])
        cwlits = F.expr(f"array({', '.join(_vec_sql(cw) for _, cw in cb)})")
        dists = F.transform(
            cwlits,
            lambda cw: F.aggregate(
                F.zip_with(subv, cw, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
        )
        idx = F.array_position(dists, F.array_min(dists)).cast("int")
        cid_arr = F.array(*[F.lit(cid) for cid, _ in cb])
        codes.append(F.element_at(cid_arr, idx))
    extra = [F.col(c) for c in (keep_cols or [])]
    return df.select(
        F.col(id_col), F.col(vec_col), *extra, F.array(*codes).alias(out_col)
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    codebooks: list[list[tuple[int, list[float]]]],
    *,
    k: int = 10,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """PQ approximate nearest neighbors by Asymmetric Distance Computation:
    precompute the query's distance to every codeword per subspace (an m x k
    table, driver-side), then score each row as the sum of m table lookups on
    its codes — no vector math per row at query time.

    Returns (id, adc_dist rounded 6dp) for the k smallest approximate
    distances, ties to the lower id.  Plans as scan -> codegen'd encode +
    lookup -> TakeOrderedAndProject(k): zero shuffle of vectors.

    Determinism: the Python distance table uses the identical left-fold op
    order as the in-plan encoding, so Spark and a SQL oracle computing the
    table relationally agree bit-for-bit.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0][1])

    def _pyl2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (float(x) - float(y)) * (float(x) - float(y))
        return acc

    # m lookup tables indexed by codeword id (codeword ids must be 0..k-1
    # for the array lookup; assert rather than silently misindex)
    dtables: list[list[float]] = []
    for j in range(m):
        qsub = [float(x) for x in query_vec[j * sub : (j + 1) * sub]]
        cb = sorted(codebooks[j])
        if [cid for cid, _ in cb] != list(range(len(cb))):
            raise ValueError("codeword ids must be dense 0..k-1")
        dtables.append([_pyl2(qsub, cw) for _, cw in cb])

    enc = pq_encode(df, id_col, vec_col, codebooks, keep_cols=keep_cols)
    # left-to-right sum over subspaces (fixed float order, engine-replayable)
    adc = F.lit(0.0)
    for j in range(m):
        table_j = F.expr(_vec_sql(dtables[j]))
        adc = adc + F.element_at(table_j, F.element_at(F.col("codes"), j + 1) + 1)
    extra = [F.col(c) for c in (keep_cols or [])]
    return (
        enc.select(F.col(id_col), *extra, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector length from the first row (the planes are sized by it), or
    None for an empty frame."""
    row = df.select(vec_col).first()
    return None if row is None else len(row[0])


def srp_candidates(
    df: DataFrame, id_col: str, vec_col: str, *, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    """Bucket all vectors by SRP signature; vectors sharing a bucket are ANN
    candidates.  Returns (id, bucket); empty input gives an empty frame."""
    dim = _probe_dim(df, vec_col)
    if dim is None:
        return df.select(F.col(id_col), F.lit("").alias("bucket"))
    planes = srp_planes(dim, n_planes, seed)
    return df.select(
        F.col(id_col), srp_bucket(as_double(F.col(vec_col)), planes).alias("bucket")
    )


def srp_multiprobe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_planes: int = 8,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Multi-probe SRP-LSH: each vector emits its own bucket (probe 0) PLUS
    the ``n_probes`` buckets reachable by flipping its least-confident bits —
    the bits whose hyperplane margin ``|dot(v, plane_k)|`` is smallest (the
    classic multi-probe LSH recall lever, Lv et al. VLDB'07): a near-neighbor
    that landed one sign-flip away is found WITHOUT building more hash
    tables or widening buckets.

    Returns (id, probe, bucket): probe 0 is the true bucket; probe k >= 1
    flips the k-th-smallest-margin bit.  Candidate generation joins probe
    rows against probe-0 rows on the bucket — still an equi-join, state and
    shuffle grow by the factor (n_probes + 1) instead of the 2^k blowup of
    shorter codes.

    Determinism: margins fold in index order (engine-replayable) and the
    flip ranking tie-breaks on plane index, so the probe set is identical
    across engines and retries.
    """
    if not (0 <= n_probes < n_planes):
        raise ValueError(f"n_probes must be in [0, {n_planes}), got {n_probes}")
    dim = _probe_dim(df, vec_col)
    if dim is None:
        return df.select(F.col(id_col), F.lit(0).alias("probe"), F.lit("").alias("bucket"))
    planes = srp_planes(dim, n_planes, seed)
    emb = as_double(F.col(vec_col))
    dots = [_dot(emb, F.expr(_vec_sql(plane))) for plane in planes]
    bits = [
        F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")) for d in dots
    ]
    barr = F.array(*bits)
    bucket = F.concat(*bits)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(d).alias("m"), F.lit(i).alias("i"))
                for i, d in enumerate(dots)
            ]
        )
    )
    probes = [F.struct(F.lit(0).alias("probe"), bucket.alias("bucket"))]
    for k in range(1, n_probes + 1):
        flip_i = F.element_at(ranked, k)["i"]
        flipped = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                lambda i: F.when(
                    i == flip_i,
                    F.when(F.element_at(barr, i + 1) == "1", F.lit("0")).otherwise(
                        F.lit("1")
                    ),
                ).otherwise(F.element_at(barr, i + 1)),
            ),
            "",
        )
        probes.append(F.struct(F.lit(k).alias("probe"), flipped.alias("bucket")))
    return df.select(
        F.col(id_col), F.explode(F.array(*probes)).alias("p")
    ).select(F.col(id_col), F.col("p.probe").alias("probe"), F.col("p.bucket").alias("bucket"))


def quantize_int8(df: DataFrame, vec_col: str, *, out_col: str = "qvec") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x|)/127, code =
    round(x/scale) in [-127, 127].  Adds ``out_col`` (array<int> codes) and
    ``{out_col}_scale`` (double).

    This is the memory lever for ANN at 100 TB: a 1024-dim float32 embedding
    is 4 KiB; its int8 codes are 1 KiB + 8 B of scale — 4x more vectors per
    executor page, 4x less shuffle when buckets of candidates move.  Cosine
    on codes is exact integer arithmetic rescaled afterward (scales cancel
    in the numerator/norm ratio), so ranking error is bounded by the
    rounding step alone (~1/254 per component, relative).

    All codegen (transform/aggregate HOFs); no shuffle, no Python.
    """
    v = as_double(F.col(vec_col))
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda s, x: F.greatest(s, x)
    )
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    df = df.withColumn("__qscale", scale)
    codes = F.transform(
        as_double(F.col(vec_col)),
        lambda x: F.round(x / F.col("__qscale")).cast("int"),
    )
    return df.withColumn(out_col, codes).withColumnRenamed(
        "__qscale", f"{out_col}_scale"
    )


def quantized_cosine(qa, qb):
    """Cosine similarity from int8 code arrays.  Scales cancel: the ratio
    dot/(|a||b|) over codes equals the same ratio over dequantized vectors,
    so no scale column is needed — integer dot and norms, one double divide."""
    qa_d = as_double(qa)
    qb_d = as_double(qb)
    return _dot(qa_d, qb_d) / (_norm(qa_d) * _norm(qb_d))


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    label_col: str | None = None,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Exact k-NN join: for every query vector, the k most-cosine-similar
    corpus vectors (self-matches excluded).  With ``exclude_same_label=True``
    and a ``label_col``, this is HARD-NEGATIVE MINING — the contrastive-
    training step that wants each anchor's nearest neighbors of a DIFFERENT
    class.  Returns (query_id, rank, neighbor_id, cos_sim[, neighbor label]).

    Ordering is on round(cos, 6) with an id tie-break, so ranks are
    deterministic across engines, retries, and partitionings.

    Scale: the QUERY side broadcasts (eval batches are small); the corpus
    stays partitioned and never shuffles vectors — only (query_id, id, sim)
    triples move into the per-query top-k window.  When the query side is
    also corpus-sized, don't use this operator: pre-bucket with IVF
    (``ivf_topk``) or SRP and knn-join per cell — exact all-pairs k-NN has
    no scale path, which is the point of the ANN family above.
    """
    from pyspark.sql import Window

    qcols = [F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")]
    ccols = [F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("__cv")]
    if label_col:
        qcols.append(F.col(label_col).alias("__ql"))
        ccols.append(F.col(label_col).alias("neighbor_label"))
    pairs = corpus.select(*ccols).crossJoin(F.broadcast(queries.select(*qcols)))
    pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    if exclude_same_label:
        if not label_col:
            raise ValueError("exclude_same_label requires label_col")
        pairs = pairs.filter(F.col("neighbor_label") != F.col("__ql"))
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    out_cols = ["query_id", "rank", "neighbor_id", "cos_sim"] + (
        ["neighbor_label"] if label_col else []
    )
    return (
        pairs.withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


def ivf_batch_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    *,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """Batch IVF search: :func:`ivf_topk` for a WHOLE query table in one
    plan — probe-cell choice happens in-plan (each query ranks the
    broadcast centroid literals, no driver loop), then only the probed
    cells' vectors score.  Returns (query_id, rank, neighbor_id, cos_sim)
    with the same round-6 + id tie-break determinism as :func:`knn_join`,
    and the same self-exclusion, so the two are directly joinable for a
    recall certificate (:func:`ann_recall`).

    Scale: probe table = |queries| x nprobe rows (broadcast); the corpus
    is filtered to probed cells by a broadcast hash join on ``cell``
    before any scoring — vectors outside the probed cells are never
    touched, which is the IVF contract.
    """
    from pyspark.sql import Window

    spark = corpus.sparkSession
    from ..sources.lakehouse_util import local_rows_df

    cent = local_rows_df(
        spark,
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid int, cv array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round(cosine(F.col("__qv"), F.col("cv")), 6).desc(), F.col("cid")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qv", F.col("cid").alias("cell"))
    )
    assigned = ivf_assign(corpus, id_col, vec_col, centroids)
    hits = assigned.join(F.broadcast(probe), "cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    sim = F.round(cosine(as_double(F.col(vec_col)), F.col("__qv")), 6)
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        hits.withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", F.col(id_col).alias("neighbor_id"), "cos_sim"
        )
    )


def ivf_filtered_batch_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    *,
    predicate,
    nprobe: int = 2,
    k: int = 10,
    auto_widen: bool = False,
) -> DataFrame:
    """Metadata-FILTERED IVF search — the real production vector-retrieval
    shape ("top-k similar WHERE lang = 'en' AND ts > X"): PRE-FILTER
    semantics, the predicate restricts the corpus BEFORE cell assignment
    and the probe join, so every returned neighbor satisfies it and the
    top-k is the true filtered top-k of the probed cells (post-filtering
    an unfiltered top-k would under-fill k whenever the filter is
    selective — the classic filtered-ANN bug).

    Scale: ``predicate`` lands directly on the corpus scan, where Catalyst
    pushes it into the parquet reader (PushedFilters — plan-pinned in
    tests/test_plans.py) BELOW the candidate join: vectors failing the
    filter are never decoded, assigned, or shuffled.  With ``cell`` as a
    partition column the probe join prunes partitions of the FILTERED
    scan, compounding the two skips.

    Recall caveat + ``auto_widen``: a selective filter thins every probed
    cell, so fixed nprobe recall degrades as selectivity drops.  With
    ``auto_widen=True`` the probe width scales by the measured
    selectivity — nprobe_eff = min(|cells|, ceil(nprobe / s)) where
    s = |filtered| / |corpus| (two metadata-cheap counts) — the standard
    filtered-search compensation.  Either way, ship a measured recall
    certificate against the exact FILTERED kNN (:func:`ann_recall` —
    q388's discipline, mirroring q329's unfiltered one)."""
    import math

    filtered = corpus.filter(predicate)
    eff = nprobe
    if auto_widen:
        n_all = corpus.count()
        n_keep = filtered.count()
        if n_keep == 0:
            raise ValueError("predicate filters out the whole corpus")
        eff = min(len(centroids), math.ceil(nprobe * n_all / n_keep))
    return ivf_batch_topk(
        queries, filtered, id_col, vec_col, centroids, nprobe=eff, k=k
    )


def ann_recall(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@k certificate: fraction of each query's EXACT top-k that the
    approximate index returned (the standard ANN quality metric, measured
    on the engines' own outputs rather than asserted).  Inputs are two
    (query_id, rank, neighbor_id, ...) frames with rank <= k (e.g.
    :func:`ivf_batch_topk` vs :func:`knn_join`).  Returns (query_id,
    n_hits, recall_at_k) per query.

    Both sides are top-k-bounded (|queries| x k rows), so the join is
    trivially small no matter the corpus size — certificates must stay
    cheap or they don't get run (the q264/q266/q284 discipline).
    """
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    base = e.select("query_id").distinct()
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def mean_pool(
    df: DataFrame, group_col: str, vec_col: str, *, normalize: bool = False
) -> DataFrame:
    """Element-wise mean of vectors per group — the chunk-embeddings ->
    document-embedding pooling step (and the centroid update of k-means).
    Returns (group, n_vecs, pooled array<double>[, optionally L2-normalized]).

    Shape: posexplode to (group, dim, value) -> one map-side-combined
    (group, dim) average -> re-assemble the vector sorted by dim.  The
    shuffle carries (group, dim, partial) triples — dim-parallel, no
    whole-vector rows in flight, no skew from wide groups.

    Determinism note: float32 inputs summed in double stay EXACT (24-bit
    significands, bounded count), so the per-dim mean is order-independent —
    pooled vectors are bit-identical under any partitioning.
    """
    dims = df.select(
        F.col(group_col),
        F.posexplode(as_double(F.col(vec_col))).alias("__dim", "__v"),
    )
    per_dim = dims.groupBy(group_col, "__dim").agg(
        F.avg("__v").alias("__m"), F.count(F.lit(1)).alias("__n")
    )
    pooled = per_dim.groupBy(group_col).agg(
        F.max("__n").cast("int").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
            lambda s: s["__m"],
        ).alias("pooled"),
    )
    if normalize:
        nrm = _norm(F.col("pooled"))
        pooled = pooled.withColumn(
            "pooled",
            F.when(nrm > 0, F.transform(F.col("pooled"), lambda x: x / nrm)).otherwise(
                F.col("pooled")
            ),
        )
    return pooled


def jl_signs(dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 sign matrix for the Johnson-Lindenstrauss transform
    (Achlioptas 2001: Rademacher entries satisfy the JL lemma) — driver-side
    constants like :func:`srp_planes`, regenerable anywhere from the seed and
    embeddable as literals in an oracle."""
    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(out_dim)
    ]


def jl_project(
    df,
    vec_col: str,
    signs: list[list[float]],
    *,
    out_col: str = "jl",
):
    """Johnson-Lindenstrauss random projection: y_j = dot(x, signs_j) /
    sqrt(out_dim), compressing dim -> out_dim while preserving pairwise
    Euclidean distances within (1±eps) whp — the q342 certificate MEASURES
    the distortion instead of citing the lemma.

    Complements Matryoshka truncation (truncate_normalize): MRL needs a
    specially-trained embedding; JL works on ANY vector column, the standard
    pre-ANN compression when re-training is off the table.  At 100 TB a
    64->16 projection cuts vector bytes 4x for every downstream shuffle,
    index, and scan.

    Determinism contract: each output component is one ordered left fold
    (F.aggregate over zip_with) divided by sqrt(out_dim); with out_dim a
    perfect square the scale is exact, and a SQL oracle replaying the same
    literal signs in the same fold order matches bit-for-bit.  Fully
    codegen'd — no UDF, no shuffle, elementwise."""
    out_dim = len(signs)
    if out_dim < 1:
        raise ValueError("signs must be non-empty")
    v = as_double(F.col(vec_col))
    scale = float(out_dim) ** 0.5
    comps = [
        (_dot(v, F.expr(_vec_sql(row))) / F.lit(scale)).alias(f"j{j}")
        for j, row in enumerate(signs)
    ]
    return df.withColumn(out_col, F.array(*comps))


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 5,
    lam: float = 0.7,
    shortlist: int = 20,
):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from a relevance-ranked shortlist, greedily pick ``k`` items maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)`` — the
    diversity-aware selection step after ANN retrieval (RAG context
    assembly, diverse training-subset picks, dedup-aware search results).

    Returns ``(cid, rank, score)``: pick order 1..k; rank-1 score is the
    raw relevance (the greedy base case), later scores the MMR objective.

    Scale: the O(n²) part runs only on the ``shortlist`` (the ANN
    candidate set — n is a knob, not the corpus); relevance against the
    full corpus is one broadcast-query scan, exactly knn_join's shape.
    The k greedy rounds run as DataFrame ops on the one-partition
    shortlist (no collect; lineage truncated per round since each round
    references the previous selection twice).

    Determinism: cosine is the ordered zip_with/fold (bit-stable), the
    greedy argmax is totally ordered by (score DESC, id ASC), and
    ``1 - lam`` is evaluated in IEEE double — the DuckDB oracle replays
    rounds with ``(1 - CAST(lam AS DOUBLE))`` to hit the identical
    constant (a DECIMAL 0.3 is a DIFFERENT double).
    """
    if k <= 0 or shortlist < k:
        raise ValueError(f"need 0 < k <= shortlist, got k={k} shortlist={shortlist}")
    cand = df.select(F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("v"))
    q = query_df.select(as_double(F.col(vec_col)).alias("qv"))
    rel = cand.crossJoin(F.broadcast(q)).select(
        "cid", "v", cosine(F.col("qv"), F.col("v")).alias("rel")
    )
    short = (
        rel.orderBy(F.col("rel").desc(), F.col("cid").asc())
        .limit(shortlist)
        .coalesce(1)
        .persist()
    )
    a = short.select(F.col("cid").alias("ca"), F.col("v").alias("va"))
    b = short.select(F.col("cid").alias("cb"), F.col("v").alias("vb"))
    sims = (
        a.crossJoin(b)
        .filter(F.col("ca") != F.col("cb"))
        .select("ca", "cb", cosine(F.col("va"), F.col("vb")).alias("sim"))
        .persist()
    )
    sel = (
        short.orderBy(F.col("rel").desc(), F.col("cid").asc())
        .limit(1)
        .select("cid", F.lit(1).alias("rank"), F.col("rel").alias("score"))
        .localCheckpoint(eager=True)
    )

    def _round(sel: DataFrame, r: int) -> DataFrame:
        pen = (
            sims.join(sel.select(F.col("cid").alias("cb")), "cb")
            .groupBy(F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("pen"))
        )
        scored = (
            short.join(sel.select("cid"), "cid", "left_anti")
            .join(pen, "cid", "left")
            .select(
                "cid",
                (
                    F.lit(lam) * F.col("rel")
                    - (F.lit(1.0) - F.lit(lam))
                    * F.coalesce(F.col("pen"), F.lit(0.0))
                ).alias("score"),
            )
        )
        pick = (
            scored.orderBy(F.col("score").desc(), F.col("cid").asc())
            .limit(1)
            .withColumn("rank", F.lit(r + 1))
        )
        return sel.unionByName(pick.select("cid", "rank", "score"))

    sel = fixpoint(sel, _round, k - 1)
    short.unpersist()
    sims.unpersist()
    return sel
