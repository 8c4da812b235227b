"""Training-data assembly operators: domain mixing, sequence packing,
semantic dedup — the steps between "filtered corpus" and "tokens on GPUs".

These extend the reference's data-prep surface (it stops at frame verbs) with
the operations an LLM training pipeline runs at 100 TB:

* **stratified_sample** — per-domain sampling rates (the "data mixture":
  upsample curated sources, downsample crawl), deterministic per document so
  reruns and incremental ingest draw the same rows.
* **global_cumsum / pack_sequences** — GPT-style concat-and-chunk packing:
  lay every document end-to-end and cut fixed-length training sequences.
  The core primitive is a GLOBAL running sum, which naive window code plans
  as ``Exchange SinglePartition`` (one reducer sees the whole corpus — the
  classic scale bug).  Here it is a distributed two-phase prefix sum:
  range-partition by the order key, per-partition window cumsum, plus a
  driver-side prefix of the tiny per-partition totals (n_partitions rows).
* **semdedup** — semantic dedup (SemDeDup, arXiv:2303.09540 shape): cluster
  by nearest centroid, drop any document that has a more-senior (smaller id)
  near-identical neighbor in its cluster.  Candidates are bounded per
  cluster — the same candidates-then-verify shape as MinHash-LSH/SRP.

Everything is built-in-function DataFrame code (whole-stage codegen); no
Python row loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .similarity import _dot, _vec_sql, as_double, cosine, ivf_assign

__all__ = [
    "stratified_sample",
    "weighted_sample",
    "global_cumsum",
    "global_row_number",
    "pack_sequences",
    "pack_bins_harmonic",
    "padding_efficiency",
    "mixture_rates",
    "semdedup",
    "kmeans",
    "kmeans_parallel_init",
    "epoch_shuffle_order",
    "dsir_weights",
]

_HASH_SPACE = 1 << 32


def _uhash(key_col: str, salt: str):
    """Uniform uint32 from md5 — identical math to text.hash_sample, so any
    engine replays the draw."""
    return F.conv(
        F.substring(F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("bigint")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixture operator.

    ``fractions`` maps stratum value -> keep probability; strata not listed
    keep ``default_fraction``.  The draw hashes only the document key, so a
    document's fate is independent of its stratum's other members, stable
    under repartitioning, and consistent across engines (md5).  Rates >= 1.0
    keep everything (upsampling-by-repetition is a separate epoch-level
    concern, kept out of the row filter deliberately).

    Scale: a narrow filter over the scan — no shuffle, no per-stratum pass;
    the CASE over strata is one codegen'd expression regardless of how many
    strata are configured.
    """
    for name, frac in fractions.items():
        if not (0.0 <= frac <= 1.0):
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
    cutoff = None
    for name, frac in fractions.items():
        clause = (F.col(strata_col) == name, F.lit(int(frac * _HASH_SPACE)))
        cutoff = F.when(*clause) if cutoff is None else cutoff.when(*clause)
    default_lit = F.lit(int(default_fraction * _HASH_SPACE))
    cutoff = default_lit if cutoff is None else cutoff.otherwise(default_lit)
    return df.filter(_uhash(key_col, salt) < cutoff)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
    *,
    salt: str = "",
) -> DataFrame:
    """Per-row importance sampling: keep probability = clamp(weight, 0, 1),
    where ``weight`` is any column expression (e.g. a quality or PageRank
    score mapped into [0, 1]).  The continuous generalization of
    :func:`stratified_sample` — rates vary per ROW, not per stratum.

    Determinism: the draw is the same md5 hash as stratified_sample; the
    cutoff is ``floor(clamp(weight) * 2^32)`` — multiplying by a power of
    two is exact in IEEE-754, and floor is applied explicitly on both
    engines (DuckDB's CAST rounds-to-nearest while Spark's truncates, so a
    bare cast would disagree on half-integers).  A document's fate is a pure
    function of (key, salt, its own weight): stable under repartitioning,
    retries, and incremental reprocessing.

    Scale: one codegen'd filter over the scan — no shuffle, no sampling
    state.
    """
    w = F.least(F.greatest(weight_col, F.lit(0.0)), F.lit(1.0))
    cutoff = F.floor(w * F.lit(float(_HASH_SPACE))).cast("bigint")
    return df.filter(_uhash(key_col, salt) < cutoff)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    *,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global ``row_number`` in ``order_cols`` order WITHOUT a
    single-partition window.

    Same two-phase shape as :func:`global_cumsum` (the pack_sequences prefix
    sum): ``repartitionByRange(order_cols)`` -> per-partition ``row_number``
    (parallel) + an O(partitions) driver prefix of per-partition row counts
    joined back as a literal CASE over the partition id.  Range partitioning
    assigns ascending key ranges to ascending partition ids, so
    ``per-partition rank + exclusive count prefix`` IS the global rank.

    ``order_cols`` must be a unique composite key (ties would make the rank
    nondeterministic under either implementation).

    The ranged frame is persisted (persist_tracked) BEFORE the counts
    collect: repartitionByRange samples its boundaries per physical plan,
    so running the stats job and the output job against two separate
    instantiations of the exchange could yield DIFFERENT partition
    boundaries once upstream exceeds the boundary sample size — the
    __pid-keyed offsets would then be stitched onto the wrong partitioning
    (silently wrong ranks at exactly the scale this primitive targets).
    Caching pins one materialized shuffle that both jobs read (ADVICE r4).
    """
    from .cache import persist_tracked

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) for c in order_cols]
    ranged = persist_tracked(
        df.repartitionByRange(n, *cols).withColumn("__pid", F.spark_partition_id())
    )
    totals = sorted(
        ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("t")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["__pid"]] = acc
        acc += r["t"] or 0
    off = None
    for pid, val in offsets.items():
        clause = (F.col("__pid") == pid, F.lit(val))
        off = F.when(*clause) if off is None else off.when(*clause)
    off = F.lit(0) if off is None else off.otherwise(F.lit(0))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return ranged.withColumn(
        out_col, (F.row_number().over(w) + off).cast("int")
    ).drop("__pid")


def global_cumsum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str,
    *,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    out_type: str | None = "bigint",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` in global ``order_col`` order
    (a single column or a composite ascending key list), WITHOUT a
    single-partition window.

    Plan shape: repartitionByRange(order) -> pid tag -> per-pid window cumsum
    (parallel across partitions) + one tiny driver aggregate of per-partition
    totals (num_partitions rows) whose exclusive prefix is joined back as a
    literal CASE.  Total cost: two shuffles of the data + an O(partitions)
    driver step — versus the naive ``Window.orderBy(col)`` which funnels the
    entire dataset through ONE task (plan-pinned in
    tests/test_plans.py::test_pack_sequences_no_single_partition_window).

    ``order_col`` must be unique (it defines the concatenation order).
    ``out_type`` casts the running sum (bigint default for token counts);
    pass ``None`` to keep the natural sum type (e.g. double revenue).

    The ranged frame is persisted before the totals collect so the
    boundary-stitching job and the output job read the SAME materialized
    range exchange — see :func:`global_row_number` for why (ADVICE r4).
    """
    from .cache import persist_tracked

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    ranged = persist_tracked(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    totals = sorted(
        ranged.groupBy("__pid").agg(F.sum(F.col(value_col)).alias("t")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["__pid"]] = acc
        acc += r["t"] or 0
    off = None
    for pid, val in offsets.items():
        clause = (F.col("__pid") == pid, F.lit(val))
        off = F.when(*clause) if off is None else off.when(*clause)
    off = F.lit(0) if off is None else off.otherwise(F.lit(0))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    run = F.sum(F.col(value_col)).over(w) + off
    if out_type is not None:
        run = run.cast(out_type)
    return ranged.withColumn(out_col, run).drop("__pid")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    seq_len: int,
    *,
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end in
    ``order_col`` order and cut into fixed ``seq_len`` training sequences.

    Adds ``start_off`` (global token offset of the document), ``first_chunk``
    / ``last_chunk`` (the sequence ids the document lands in) and
    ``n_chunks`` (how many sequences it spans — crossings = n_chunks - 1 is
    the packing-efficiency metric).  Runs on the distributed prefix sum
    above; everything else is elementwise arithmetic.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    order = order_col or id_col
    c = global_cumsum(df, order, n_tokens_col, out_col="__cum")
    start = (F.col("__cum") - F.col(n_tokens_col)).cast("bigint")
    end_incl = (F.col("__cum") - 1).cast("bigint")
    return (
        c.withColumn("start_off", start)
        .withColumn("first_chunk", F.floor(start / seq_len).cast("bigint"))
        .withColumn(
            "last_chunk",
            F.when(F.col(n_tokens_col) > 0, F.floor(end_incl / seq_len))
            .otherwise(F.floor(start / seq_len))
            .cast("bigint"),
        )
        .withColumn("n_chunks", (F.col("last_chunk") - F.col("first_chunk") + 1))
        .drop("__cum")
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    *,
    eps: float = 0.97,
) -> DataFrame:
    """Semantic dedup: keep a document unless a smaller-id document in the
    SAME centroid cell is within cosine ``eps`` of it (SemDeDup's
    keep-one-per-near-clique rule, greedy by id).

    Returns the surviving rows with their ``cell``.  Candidate pairs are
    bounded per cell (the clustering is the blocking step), verified with
    exact cosine, and the drop decision is a left-anti join — no transitive
    closure needed because seniority is a total order.

    Scale: assignment is a narrow codegen map (see ivf_assign); the
    self-join shuffles (cell) keys; at production scale centroids come from
    sampled k-means over ~1% of vectors and cells are sized (k ≈ n/10k) so
    per-cell blocks stay small.  Skewed cells: AQE skew-join handles the
    split; a degenerate mega-cell means the quantizer needs more centroids,
    which is a data-quality signal in itself.
    """
    from .similarity import _dot

    assigned = ivf_assign(df, id_col, vec_col, centroids)
    # norms computed ONCE PER ROW before the pair join: the naive
    # cosine-per-pair recomputes both vectors' norm aggregates (a 64-dim
    # fold + sqrt each) for EVERY pair — at sum(cell^2) pairs that triples
    # the join's per-pair work.  The division-form comparison below is the
    # byte-identical expression the oracle uses (dot / (na * nb) >= eps),
    # just with the sqrt factors hoisted out of the pair loop.
    a = assigned.select(
        F.col(id_col).alias("__ida"),
        F.col("cell"),
        as_double(F.col(vec_col)).alias("__va"),
    ).withColumn("__na", F.sqrt(_dot(F.col("__va"), F.col("__va"))))
    b = assigned.select(
        F.col(id_col).alias("__idb"),
        F.col("cell").alias("__cellb"),
        as_double(F.col(vec_col)).alias("__vb"),
    ).withColumn("__nb", F.sqrt(_dot(F.col("__vb"), F.col("__vb"))))
    dropped = (
        a.join(b, (F.col("cell") == F.col("__cellb")) & (F.col("__idb") < F.col("__ida")))
        .filter(
            _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= eps
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, on=id_col, how="left_anti")


def _angular_cost(vec_col, centers: list[list[float]]):
    """1 - max_c cosine(v, c): per-row distance to the nearest of the given
    centers, which ship as normalized literals (one dot per center, codegen)."""
    import math

    emb = as_double(F.col(vec_col))
    vnorm = F.sqrt(_dot(emb, emb))
    sims = []
    for cv in centers:
        nrm = math.sqrt(sum(x * x for x in cv)) or 1.0
        sims.append(_dot(emb, F.expr(_vec_sql(x / nrm for x in cv))) / vnorm)
    best = sims[0] if len(sims) == 1 else F.greatest(*sims)
    return F.greatest(F.lit(0.0), F.lit(1.0) - best)


def kmeans_parallel_init(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    l: int | None = None,
    rounds: int = 3,
    salt: str = "kmpp",
) -> list[tuple[int, list[float]]]:
    """k-means|| initialization (Bahmani et al., VLDB 2012) — the scalable
    replacement for both sequential k-means++ (k driver round-trips) and the
    first-k baseline init (arbitrarily bad cost).

    Each of ``rounds`` passes oversamples ~``l`` points (default 2k) with
    probability ``min(1, l * cost/phi)`` where cost is the angular distance
    to the nearest center chosen so far and ``phi`` the total cost; the
    O(l * rounds) candidate set is then weighted by how many points each
    candidate covers and reduced to k centers driver-side by weighted
    farthest-point greedy.  Total: ``rounds`` scans + one assignment pass —
    versus k scans for k-means++.

    Determinism: the acceptance draw is the engine-agnostic md5 hash keyed
    by (id, salt, round) — NOT rand() — so a run is reproducible under task
    retry (the same guarantee as stratified_sample).  phi is a float sum,
    so bit-identity across *different partitionings* is not claimed (this is
    the production init; the oracle-checked queries use injectable
    centroids).

    Scale: per round, one codegen'd scan computes costs + draws (no
    shuffle); phi is a 1-row aggregate; only accepted candidates (O(l)
    vectors) reach the driver — the same tiny-artifact exception as LSH
    planes and k-means centroids.
    """
    if k <= 0 or rounds <= 0:
        raise ValueError(f"k and rounds must be positive, got k={k}, rounds={rounds}")
    l = l or 2 * k
    seed = df.orderBy(id_col).limit(1).select(vec_col).collect()
    if not seed:
        raise ValueError("cannot initialize from an empty frame")
    cands: list[list[float]] = [[float(x) for x in seed[0][vec_col]]]
    for r in range(rounds):
        cost = _angular_cost(vec_col, cands).alias("__cost")
        scored = df.select(F.col(id_col), F.col(vec_col), cost)
        phi = scored.agg(F.sum("__cost")).collect()[0][0]
        if not phi or phi <= 0.0:  # every point already coincides with a center
            break
        u = _uhash(id_col, f"{salt}#{r}") / F.lit(float(_HASH_SPACE))
        kept = scored.filter(u < F.lit(float(l)) * F.col("__cost") / F.lit(float(phi)))
        cands.extend(
            [float(x) for x in row[vec_col]] for row in kept.select(vec_col).collect()
        )
    # weight candidates by coverage: points whose nearest candidate they are
    assigned = ivf_assign(df, id_col, vec_col, list(enumerate(cands)))
    wrows = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("w")).collect()
    weights = {int(r["cell"]): int(r["w"]) for r in wrows}
    # driver-side reduction (candidate set is O(l * rounds)): weighted
    # farthest-point greedy — start at the heaviest candidate, then add the
    # candidate maximizing weight * angular gap to the chosen set.
    import math

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return num / (na * nb)

    order = sorted(range(len(cands)), key=lambda i: (-weights.get(i, 0), i))
    chosen = [order[0]]
    while len(chosen) < min(k, len(cands)):
        best_i, best_gain = None, -1.0
        for i in order:
            if i in chosen:
                continue
            gap = min(1.0 - _cos(cands[i], cands[j]) for j in chosen)
            gain = weights.get(i, 0) * gap
            if gain > best_gain:
                best_i, best_gain = i, gain
        chosen.append(best_i)
    return [(rank, cands[i]) for rank, i in enumerate(chosen)]


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    n_iter: int = 2,
    init: list[tuple[int, list[float]]] | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Distributed spherical k-means (Lloyd): assign by max cosine, update by
    elementwise mean — the centroid-training step that ivf_topk/semdedup
    take as input ("centroids come from sampled k-means").

    Deterministic init: the k smallest-``id_col`` vectors (injectable
    baseline any engine can replay), or pass ``init=`` — typically
    :func:`kmeans_parallel_init` — to seed from k-means|| in production.
    Returns (final centroids, final assignment frame ``(id, cell)``).

    Scale shape per iteration: assignment is the ivf_assign narrow codegen
    map (centroids ship as literals — k vectors ALWAYS fit the driver, the
    same tiny-artifact exception as LSH planes); the update posexplodes to
    (cell, dim, value) and partial-aggregates the mean, so the shuffle is
    O(k * dim * partitions) rows, never the vectors themselves.  The driver
    round-trips k rows per iteration — a tiny artifact, not a data collect;
    the centroids live on the driver, so this loop has no frame lineage to
    truncate and does not run through ``fixpoint.fixpoint``.  Empty cells
    keep their previous centroid.
    """
    if k <= 0 or n_iter <= 0:
        raise ValueError(f"k and n_iter must be positive, got k={k}, n_iter={n_iter}")
    if init is not None:
        if len(init) != k:
            raise ValueError(f"init must supply exactly k={k} centroids, got {len(init)}")
        cents = [(cid, [float(x) for x in cv]) for cid, cv in init]
    else:
        init_rows = df.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
        cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init_rows)]
    assigned = None
    for _ in range(n_iter):
        assigned = ivf_assign(df, id_col, vec_col, cents)
        dims = assigned.select(
            "cell", F.posexplode(as_double(F.col(vec_col))).alias("dim", "v")
        )
        mean_rows = (
            dims.groupBy("cell", "dim")
            .agg(F.avg("v").alias("mv"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "mv"))), lambda s: s["mv"]
                ).alias("centroid")
            )
            .collect()
        )
        new = {int(r["cell"]): [float(x) for x in r["centroid"]] for r in mean_rows}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents, assigned.select(F.col(id_col), F.col("cell"))


def take_per_stratum(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic fixed-SIZE sample: exactly min(k, |stratum|) rows per
    stratum — the balanced-eval-set / few-shot-pool builder, complementing
    the fixed-RATE stratified_sample.  Rows are ranked inside each stratum
    by the md5 draw (tie-broken on the key), so membership is a pure
    function of (key, salt): stable across runs, engines, and
    repartitioning, and adding new rows to a stratum can only displace the
    highest-hash members (bounded churn on incremental reprocess).

    Scale: one hash-partitioned window per stratum (single shuffle keyed by
    the stratum — skew bounded by AQE); no global sort, no driver state.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = Window.partitionBy(strata_col).orderBy(
        _uhash(key_col, salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def epoch_shuffle_order(
    df: DataFrame, key_col: str, epoch: int, *, salt: str = "shuffle"
) -> DataFrame:
    """Deterministic per-epoch training shuffle: adds ``shuffle_key`` =
    md5(key || salt || epoch) — sorting (or range-partitioning a write) by it
    yields a uniform pseudo-random document order that is (a) different every
    epoch, (b) bit-identical for the same epoch across runs, engines,
    retries, and cluster sizes, and (c) free of rand()'s task-retry hazard.

    At 100 TB you never globally sort the corpus to shuffle it: write with
    ``repartitionByRange(shuffle_key)`` + in-partition sort (one range
    shuffle, the same layout cost as any write), or just read
    bucket-by-shuffle_key order.  The column is the contract; the layout
    step is the caller's.
    """
    return df.withColumn(
        "shuffle_key",
        F.md5(
            F.concat(
                F.col(key_col).cast("string"), F.lit(f"|{salt}|{epoch}")
            )
        ),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred,
    *,
    n_buckets: int = 256,
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, arXiv:2302.03169
    shape): weight every document by how much its hashed-n-gram feature
    profile looks like a TARGET distribution versus the RAW corpus, then
    sample proportionally to the weight to tilt the mixture toward the
    target domain without training a classifier.

    This is the log-free integer-exact variant (same determinism stance as
    the Robertson idf in ranking.py and the fixed-point surprisal in
    text.py): tokens hash into ``n_buckets`` features via md5 (replayable on
    any engine); with add-one smoothing the per-token likelihood ratio is
    ((ct_t[b]+1)/(N_t+B)) / ((ct_r[b]+1)/(N_r+B)).  Instead of summing
    per-token LOGS (libm differences leak into the last ulp), the weight is
    the ratio of the two expected counts over the document:

        weight = (N_r + B) * sum_t(ct_t[b]+1)  /  ((N_t + B) * sum_t(ct_r[b]+1))

    Every sum is an exact 64-bit integer (order-independent), so the single
    double division at the end is bit-identical across engines, retries and
    partitionings.  Returns (id, n_tokens, target_mass, raw_mass, weight).

    Scale: two explode+agg passes build the 2 x n_buckets feature table
    (tiny -> broadcast back); scoring is one explode + broadcast join + int
    agg.  Counts stay < 2^63 up to ~10^18 tokens.  ``target_pred`` is a
    boolean Column selecting the in-domain documents (e.g. a curated
    source); at 100 TB the target table is typically a separate small
    corpus — pass its union with the raw frame and a flag predicate.
    """
    toks = df.select(
        F.col(id_col),
        target_pred.alias("__is_target"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("__tok"), F.lit(salt))), 1, 8), 16, 10)
        .cast("bigint") % n_buckets
    )
    toks = toks.select(F.col(id_col), "__is_target", bucket.alias("__b"))
    stats = toks.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__ct_r"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("__ct_t"),
    )
    totals = stats.agg(
        F.sum("__ct_r").alias("__n_r"), F.sum("__ct_t").alias("__n_t")
    )
    scored = (
        toks.join(F.broadcast(stats), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__ct_t") + 1).alias("target_mass"),
            F.sum(F.col("__ct_r") + 1).alias("raw_mass"),
        )
    )
    b = F.lit(n_buckets).cast("bigint")
    weight = (
        ((F.col("__n_r") + b) * F.col("target_mass")).cast("double")
        / ((F.col("__n_t") + b) * F.col("raw_mass")).cast("double")
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        F.col(id_col),
        "n_tokens",
        "target_mass",
        "raw_mass",
        F.round(weight, 6).alias("weight"),
    )


def padding_efficiency(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    boundaries: list[int],
) -> DataFrame:
    """Length-bucketed batching audit — how many pad tokens does each
    bucketing boundary set cost versus padding every sequence to the
    global max?  The inference/training-throughput question behind
    "bucket by length before batching" (pad tokens are pure wasted FLOPs;
    a good boundary set typically reclaims most of them).

    Each sequence pads up to the smallest boundary >= its length
    (sequences longer than the last boundary are rejected with a clear
    error — choose boundaries that cover the corpus).  Returns one row
    per non-empty bucket: ``(bucket_cap, n_seqs, sum_tokens,
    bucket_padded, naive_padded, saved_frac)`` where ``naive_padded``
    pads the same sequences to the global max and ``saved_frac`` =
    1 - bucket_padded/naive_padded.

    Scale: one codegen'd CASE over the scan + a #buckets-row aggregate;
    the global max rides as a 1-row broadcast.  The audit's total-token
    conservation (Σ sum_tokens constant across boundary choices) makes
    boundary tuning a cheap grid search over the same scan.
    """
    if not boundaries or sorted(boundaries) != list(boundaries):
        raise ValueError("boundaries must be a non-empty ascending list")
    n = F.col(n_tokens_col)
    cap = None
    for b in boundaries:
        clause = (n <= b, F.lit(b))
        cap = F.when(*clause) if cap is None else cap.when(*clause)
    cap = cap.otherwise(F.lit(None))
    seqs = df.select(F.col(id_col), n.alias("__n"), cap.alias("bucket_cap"))
    # overflow guard: at 100 TB a silent drop is a data loss bug
    overflow = seqs.filter(F.col("bucket_cap").isNull()).limit(1).count()
    if overflow:
        raise ValueError(
            f"sequences longer than max boundary {boundaries[-1]} exist; "
            "extend boundaries to cover the corpus"
        )
    gmax = seqs.agg(F.max("__n").alias("__gmax"))
    return (
        seqs.crossJoin(F.broadcast(gmax))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__n").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.first("bucket_cap") - F.sum("__n")).alias(
                "bucket_padded"
            ),
            (F.count(F.lit(1)) * F.first("__gmax") - F.sum("__n")).alias(
                "naive_padded"
            ),
        )
        .withColumn(
            "saved_frac",
            F.round(
                1.0 - F.col("bucket_padded") / F.col("naive_padded"), 6
            ),
        )
        .orderBy("bucket_cap")
    )


def mixture_rates(
    counts: DataFrame,
    domain_col: str,
    tokens_col: str,
    target_weights: dict[str, float],
    token_budget: int,
) -> DataFrame:
    """Turn a target domain mixture into executable per-domain sampling
    rates — the calculator between "we want 30% code, 50% web, 20% books"
    (a DoReMi/Pile-style weight vector) and the ``stratified_sample``
    fractions that implement it.

    For each domain: ``requested = budget · weight``; ``rate = min(1,
    requested / available)`` — single-epoch cap, never upsampling by
    repetition (epoch multipliers are a training-loop concern;
    ``epoch_capped`` flags domains that can't meet their target so the
    caller can renormalize or accept the shortfall).  Returns one row per
    domain: ``(domain, available_tokens, target_share, rate,
    sampled_tokens, achieved_share, epoch_capped)`` with achieved shares
    computed over the actually-sampled total (they differ from targets
    exactly when a domain caps).

    Scale: ``counts`` is the per-domain token census (a handful of rows —
    the output of one groupBy over the corpus); everything here is
    arithmetic over it plus a 1-row broadcast of the sampled total.
    Domains absent from ``target_weights`` get rate 0 (excluded), listed
    with ``target_share`` 0 so exclusions are visible, not silent.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    total_w = sum(target_weights.values())
    if total_w <= 0 or abs(total_w - 1.0) > 1e-6:
        raise ValueError(f"target_weights must sum to 1, got {total_w}")
    share = None
    for name, w in target_weights.items():
        clause = (F.col(domain_col) == name, F.lit(float(w)))
        share = F.when(*clause) if share is None else share.when(*clause)
    share = share.otherwise(F.lit(0.0))
    base = counts.select(
        F.col(domain_col).alias("domain"),
        F.col(tokens_col).cast("bigint").alias("available_tokens"),
        share.alias("target_share"),
    )
    requested = F.col("target_share") * F.lit(float(token_budget))
    rated = base.select(
        "domain",
        "available_tokens",
        "target_share",
        F.least(F.lit(1.0), requested / F.col("available_tokens")).alias("rate"),
        (requested > F.col("available_tokens")).alias("epoch_capped"),
    ).withColumn(
        "sampled_tokens",
        F.floor(F.col("rate") * F.col("available_tokens")).cast("bigint"),
    )
    tot = rated.agg(F.sum("sampled_tokens").alias("__tot"))
    return (
        rated.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "available_tokens",
            F.round("target_share", 6).alias("target_share"),
            F.round("rate", 6).alias("rate"),
            "sampled_tokens",
            F.round(F.col("sampled_tokens") / F.col("__tot"), 6).alias(
                "achieved_share"
            ),
            "epoch_capped",
        )
        .orderBy("domain")
    )


def pack_bins_harmonic(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    context_len: int,
    *,
    oversize: str = "error",
) -> DataFrame:
    """NO-SPLIT sequence packing (sample packing): assign each document to
    a fixed-``context_len`` training bin WITHOUT ever splitting a document
    across bins — the packing real LLM trainers use when cross-document
    attention contamination matters, complementing :func:`pack_sequences`
    (concat-and-chunk, which splits).

    Algorithm: the HARMONIC size-class scheme (Lee & Lee, JACM 1985 — a
    published online bin-packing algorithm with a 1.691 asymptotic
    competitive ratio).  Class ``k = context_len // len`` is exactly the
    number of such documents that fit one bin, so within a class the
    packing is trivially optimal-per-bin: global rank r (by len DESC,
    id ASC — deterministic) lands in ``bin_idx = (r - 1) // k``.  No
    cross-class interaction means no sequential first-fit state — the
    whole assignment is two axis-bounded rank tables plus elementwise
    arithmetic, trivially distributed AND replayable in SQL.

    Scale shape (the q390 rank discipline): per-(class, len) counts
    shuffle once; the cum-longer table is DISTINCT-(class, len)-sized
    (axis-bounded — lengths are bounded by context_len); within-(class,
    len) order is a window over (class, len) partitions — granular, never
    a single-partition funnel.

    Returns the input plus ``class_k``, ``rank_in_class``, ``bin_idx``
    (bin identity = (class_k, bin_idx)) and ``bin_waste_share`` is left
    to callers (waste = context_len - sum(len) per bin).

    ``oversize``: documents with ``len > context_len`` (class 0) cannot
    pack.  ``"error"`` (default) fail-louds with a count; ``"truncate"``
    gives each its own bin with ``class_k = 0``, ``truncated = true``
    (callers clip the text), mirroring real pipelines' truncation policy.
    Non-positive lengths always raise — a zero-length doc in a packing
    stage is an upstream bug, not a packing decision.
    """
    if context_len <= 0:
        raise ValueError(f"context_len must be positive, got {context_len}")
    if oversize not in ("error", "truncate"):
        raise ValueError(f"oversize must be 'error'|'truncate', got {oversize!r}")
    base = df.withColumn(
        "class_k", F.floor(F.lit(context_len) / F.col(n_tokens_col)).cast("int")
    )
    # the distinct-(class, len) axis table drives BOTH the fail-loud
    # validation and the rank arithmetic — one corpus scan, persisted
    from .cache import persist_tracked

    counts = persist_tracked(
        base.groupBy("class_k", F.col(n_tokens_col).alias("__len")).agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
    )
    bad = counts.agg(
        F.sum(F.when(F.col("__len") <= 0, F.col("__n")).otherwise(0)).alias(
            "nonpos"
        ),
        F.sum(
            F.when(F.col("__len") > context_len, F.col("__n")).otherwise(0)
        ).alias("over"),
    ).collect()[0]
    if (bad["nonpos"] or 0) > 0:
        raise ValueError(
            f"pack_bins_harmonic: {bad['nonpos']} documents with non-positive "
            f"{n_tokens_col} — filter or fix upstream"
        )
    if oversize == "error" and (bad["over"] or 0) > 0:
        raise ValueError(
            f"pack_bins_harmonic: {bad['over']} documents exceed "
            f"context_len={context_len}; pass oversize='truncate' to give "
            f"each its own truncated bin"
        )
    wlen = Window.partitionBy("class_k").orderBy(F.col("__len").desc())
    longer = counts.withColumn(
        "__cum_longer",
        (F.sum("__n").over(wlen) - F.col("__n")).cast("bigint"),
    ).select("class_k", "__len", "__cum_longer")
    wid = Window.partitionBy("class_k", F.col(n_tokens_col)).orderBy(
        F.col(id_col)
    )
    ranked = (
        base.withColumn("__rn", F.row_number().over(wid).cast("bigint"))
        .join(
            longer,
            (base["class_k"] == longer["class_k"])
            & (F.col(n_tokens_col) == F.col("__len")),
        )
        .drop(longer["class_k"])
        .withColumn("rank_in_class", F.col("__cum_longer") + F.col("__rn"))
    )
    out = ranked.withColumn(
        "bin_idx",
        F.when(
            F.col("class_k") >= 1,
            F.floor((F.col("rank_in_class") - 1) / F.col("class_k")),
        ).otherwise(F.col("rank_in_class") - 1).cast("bigint"),
    ).drop("__len", "__cum_longer", "__rn")
    if oversize == "truncate":
        out = out.withColumn("truncated", F.col("class_k") == 0)
    return out
