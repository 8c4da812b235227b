"""Catalog extension (round 3): analytics depth beyond the round-2 surface —

* SQL regression aggregates: regr_slope/intercept/r2/avgx/count +
  any_value + percentile_disc (q202) — the OLS-by-group family both engines
  ship natively (reference scalar-stub wishlist stops at corr,
  functions/scalar.rs:184; this completes the bivariate-stats shelf).
* DSIR importance weights (q203, operators/training.dsir_weights) — hashed
  n-gram importance resampling, the data-selection step between raw crawl
  and the training mixture.
* product-quantization ANN (q204, operators/similarity.pq_*) — the third
  ANN family next to IVF (q86) and SRP-LSH (q77/q89): codes + asymmetric
  distance computation, the memory-bound regime's tool of choice.
* reciprocal-rank fusion (q205, operators/ranking.rrf_fuse) — hybrid
  lexical+semantic retrieval, fusing the q134 BM25 ranking with an
  embedding-cosine ranking.
* EWMA smoothing (q206, operators/temporal.ewma) — the recursive decay
  metric Spark has no native window for, computed as an order-pinned list
  fold both engines replay bit-for-bit; q213 is its streaming one-pass
  form (O(1) state per key) run as a real stateful streaming query.
* record-linkage blocking + weighted (multiset) Jaccard verify (q207,
  operators/dedup.blocked_weighted_jaccard) and Gini-Simpson lexical
  diversity (q208, operators/text.simpson_diversity).
* multi-probe SRP-LSH (q209, operators/similarity.srp_multiprobe) — the
  recall lever; and IVF-PQ (q212) — the composed production ANN layout.
* incremental view maintenance (q210, operators/merge.agg_state family),
  count-min sketch frequency summaries (q211, operators/sketches), and
  snapshot drift monitoring via integer-exact total variation distance
  (q214, operators/observability.distribution_drift).
* model-in-the-engine analytics: OLS residual outliers (q215), U-shaped
  multi-touch attribution (q216), Markov event transitions (q217), top
  journey paths (q222), CUSUM drift alarms (q228), deterministic Poisson
  bootstrap (q227).
* retrieval/serving: posting-list AND search (q218), deterministic negative
  sampling (q219), per-label centroid outliers (q221), the RAG indexing
  pipeline end-to-end (q226), perceptual dHash image near-dup (q225).
* platform: file-skipping manifests (q220), content-addressed table
  fingerprints (q223), right-to-be-forgotten erasure cascade (q224).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import load_events, query, table
from .operators import pairs as pr
from .operators import ranking as rk
from .operators import similarity as sim
from .operators import training as tr
from .operators.temporal import ewma
from .sources.lakehouse_util import local_rows_df as _lrd


# ---------------------------------------------------------------------------
# q202: regression aggregates
# ---------------------------------------------------------------------------


@query(
    "q202_regression_agg",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 6)      AS avg_qty,
           regr_count(l_extendedprice, l_quantity)               AS n_pairs,
           any_value(substr(l_returnflag, 1, 1))                 AS flag_initial,
           quantile_disc(l_quantity, 0.5)                        AS med_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q202_regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares aggregates — the SQL:2003 regr_*
    family (slope/intercept/r2/avgx/count of price on quantity), plus
    any_value (on a group-constant expression, so the nondeterminism is
    harmless) and percentile_disc (DISCRETE median: returns an actual data
    value, so the engines agree exactly with no rounding).

    Scale: all regr_* are single-pass mergeable co-moments (partial aggs
    combine map-side) — one shuffle of 6 doubles per group.  percentile_disc
    keeps a per-group sorted buffer like exact percentile (q26); at 100 TB
    prefer approx_percentile and document the rank error."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
                "intercept"
            ),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.round(F.regr_avgx("l_extendedprice", "l_quantity"), 6).alias("avg_qty"),
            F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
            F.any_value(F.substring("l_returnflag", 1, 1)).alias("flag_initial"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").alias(
                "med_qty_disc"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q203: DSIR importance weights
# ---------------------------------------------------------------------------


@query(
    "q203_dsir_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS is_t,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tb AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(tok || 'dsir'), 1, 8))::UBIGINT % 256 AS b
      FROM toks WHERE tok <> ''
    ),
    stats AS (
      SELECT b, count(*) AS ct_r,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct_t
      FROM tb GROUP BY b
    ),
    totals AS (SELECT sum(ct_r) AS n_r, sum(ct_t) AS n_t FROM stats),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(ct_t + 1) AS target_mass,
             sum(ct_r + 1) AS raw_mass
      FROM tb JOIN stats USING (b) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, target_mass, raw_mass,
           round(CAST((n_r + 256) * target_mass AS DOUBLE)
                 / CAST((n_t + 256) * raw_mass AS DOUBLE), 6) AS weight
    FROM scored CROSS JOIN totals
    ORDER BY doc_id
    """,
)
def q203_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/training.dsir_weights, arXiv:2302.03169
    shape): every document weighted by hashed-unigram likelihood ratio of the
    'src0' target domain vs the whole corpus — the importance-resampling step
    that tilts a 100 TB crawl toward a curated domain without a classifier.
    Log-free integer-exact arithmetic (one double division per doc), so no
    float-order hazard survives to the oracle comparison."""
    d = table(spark, sf_dir, "documents")
    return tr.dsir_weights(
        d, "doc_id", "text", F.col("source") == "src0", n_buckets=256, salt="dsir"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q204: product-quantization ANN
# ---------------------------------------------------------------------------


@query(
    "q204_pq_adc",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    cb AS (SELECT vec_id AS cid, emb FROM v WHERE vec_id < 8),
    js AS (SELECT * FROM generate_series(0, 7) t(j)),
    sub AS (SELECT vec_id, j, emb[j*8+1 : j*8+8] AS sv FROM v CROSS JOIN js),
    cbs AS (SELECT cid, j, emb[j*8+1 : j*8+8] AS cw FROM cb CROSS JOIN js),
    d AS (
      SELECT sub.vec_id, sub.j, cbs.cid,
             list_reduce(
               list_prepend(0.0, list_transform(list_zip(sv, cw),
                                                p -> (p[1]-p[2])*(p[1]-p[2]))),
               (s, x) -> s + x) AS dist
      FROM sub JOIN cbs ON sub.j = cbs.j
    ),
    codes AS (
      SELECT vec_id, j, CAST(min([dist, CAST(cid AS DOUBLE)])[2] AS INT) AS code
      FROM d GROUP BY vec_id, j
    ),
    qd AS (SELECT j, cid, dist FROM d WHERE vec_id = 0),
    adc AS (
      SELECT c.vec_id,
             list_reduce(list_prepend(0.0, list(qd.dist ORDER BY c.j)),
                         (s, x) -> s + x) AS dist
      FROM codes c JOIN qd ON qd.j = c.j AND qd.cid = c.code
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(dist, 6) AS adc_dist
    FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
)
def q204_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_encode/pq_adc_topk):
    8 subspaces x 8 codewords (deterministic quantizer: codewords = the
    subvectors of vec_id < 8, same injectable-trainer trick as IVF q86), ADC
    top-10 for query = vec 0.  Distances are left-fold squared-L2 on both
    engines, so encoding and the distance table agree bit-for-bit.

    The 100 TB role: codes are m bytes/vector (vs 4*dim for floats) — encode
    once as a narrow codegen map (no shuffle, codebooks are literals), store
    codes as a column, and every query scan is table lookups + a fold, never
    vector math.  Pair with IVF cells (partition pruning) for the full
    IVF-PQ layout."""
    e = table(spark, sf_dir, "embeddings")
    rows = e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    training = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    qvec = dict(training)[0]
    books = sim.pq_split_codebooks(training, m=8)
    return sim.pq_adc_topk(e, "vec_id", "embedding", qvec, books, k=10)


# ---------------------------------------------------------------------------
# q205: reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_TERMS = ["vector", "join", "stream"]


def _rrf_oracle() -> str:
    in_list = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    cases = " ".join(
        f"max(CASE WHEN term = '{t}' THEN s END) AS s{i},"
        for i, t in enumerate(_RRF_TERMS)
    ).rstrip(",")
    total = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(len(_RRF_TERMS)))
    return f"""
    WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    corpus AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN ({in_list}) GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    s AS (SELECT doc_id, term,
                 ((n - df + 0.5) / (df + 0.5))
                 * ((tf * CAST(2.2 AS DOUBLE))
                    / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) AS s
          FROM tf JOIN dfreq USING (term) CROSS JOIN corpus JOIN dl USING (doc_id)),
    p AS (SELECT doc_id, {cases} FROM s GROUP BY doc_id),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY ({total}) DESC, doc_id) AS r
            FROM p QUALIFY r <= 20),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    cos AS (SELECT vec_id,
                   round(
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(emb, qv), p -> p[1]*p[2])),
                         (s, x) -> s + x)
                     / (sqrt(list_reduce(list_prepend(0.0,
                          list_transform(emb, x -> x*x)), (s, x) -> s + x))
                        * sqrt(list_reduce(list_prepend(0.0,
                          list_transform(qv, x -> x*x)), (s, x) -> s + x))), 6)
                     AS c
            FROM e CROSS JOIN q WHERE vec_id <> 0),
    sem AS (SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY c DESC, vec_id) AS r
            FROM cos QUALIFY r <= 20),
    fused AS (
      SELECT COALESCE(l.doc_id, s2.doc_id) AS doc_id, l.r AS rl, s2.r AS rs
      FROM lex l FULL OUTER JOIN sem s2 ON l.doc_id = s2.doc_id
    )
    SELECT doc_id,
           round(COALESCE(1.0 / (60.0 + CAST(rl AS DOUBLE)), 0.0)
                 + COALESCE(1.0 / (60.0 + CAST(rs AS DOUBLE)), 0.0), 6) AS rrf_score,
           (CASE WHEN rl IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN rs IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    """


@query("q205_rrf_fusion", oracle=_rrf_oracle())
def q205_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (operators/ranking.rrf_fuse):
    fuse the top-20 BM25 lexical ranking (q134's scorer) with the top-20
    embedding-cosine ranking for query vec 0 (doc_id == vec_id in the
    testdata).  Both component rankings are bit-deterministic (fixed-order
    float adds / fold-order cosine), so ranks — and hence the fused score,
    a fixed-order sum of two exact divisions — replay exactly.

    Scale: each component ranking is top-k (TakeOrderedAndProject-bounded);
    the fuse joins k-row frames — driver-free, broadcast-size."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")

    lex_scores = rk.bm25_score(d, "doc_id", "text", _RRF_TERMS)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = (
        lex_scores.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "rank")
    )

    qrow = e.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0][0]]
    qlit = F.array(*[F.lit(x) for x in qvec])
    cos = F.round(sim.cosine(sim.as_double(F.col("embedding")), qlit), 6)
    ws = Window.orderBy(F.col("c").desc(), F.col("doc_id"))
    semantic = (
        e.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("c"))
        .withColumn("rank", F.row_number().over(ws))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "rank")
    )
    return rk.rrf_fuse([lex, semantic], "doc_id", k=60)


# ---------------------------------------------------------------------------
# q206: EWMA smoothing
# ---------------------------------------------------------------------------


@query(
    "q206_ewma_smooth",
    oracle="""
    WITH h AS (
      SELECT event_id, user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hist
      FROM events WHERE user_id < 20
    )
    SELECT event_id, user_id, ts, value,
           floor(list_reduce(hist, (s, v) -> v * 0.25 + s * 0.75) * 1000000) / 1000000 AS ewma
    FROM h ORDER BY user_id, ts, event_id
    """,
)
def q206_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators/temporal.ewma, alpha=0.25) —
    the recursive smoother Spark lacks a native window for, computed as an
    order-pinned list fold (collect_list running frame + F.aggregate) that
    DuckDB's list_reduce replays with identical IEEE rounding.  Bounded to
    user_id < 20 because the batch fold is O(history^2) per key by
    construction — the operator docstring names the streaming one-pass
    recurrence as the unbounded-history path."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    out = ewma(
        ev, "user_id", "ts", "value", alpha=0.25, tiebreak_col="event_id"
    )
    return out.select("event_id", "user_id", "ts", "value", "ewma").orderBy(
        "user_id", "ts", "event_id"
    )


# ---------------------------------------------------------------------------
# q207: record-linkage blocking + weighted Jaccard
# ---------------------------------------------------------------------------


@query(
    "q207_weighted_jaccard",
    oracle="""
    WITH blocks AS (SELECT doc_id, lang, source, n_chars // 16 AS nb FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM blocks a JOIN blocks b
        ON a.lang IS NOT DISTINCT FROM b.lang
       AND a.source IS NOT DISTINCT FROM b.source
       AND a.nb IS NOT DISTINCT FROM b.nb
       AND a.doc_id < b.doc_id
    ),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(c) AS n FROM tc GROUP BY 1),
    inter AS (
      SELECT p.id_a, p.id_b, sum(least(ta.c, tb.c)) AS inter
      FROM pairs p
      JOIN tc ta ON ta.doc_id = p.id_a
      JOIN tc tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, na.n AS n_a, nb2.n AS n_b, i.inter,
           round(CAST(i.inter AS DOUBLE)
                 / CAST(na.n + nb2.n - i.inter AS DOUBLE), 6) AS wjaccard
    FROM inter i
    JOIN tot na ON na.doc_id = i.id_a
    JOIN tot nb2 ON nb2.doc_id = i.id_b
    WHERE CAST(i.inter AS DOUBLE)
          / CAST(na.n + nb2.n - i.inter AS DOUBLE) >= 0.2
    ORDER BY id_a, id_b
    """,
)
def q207_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage blocking + multiset verify
    (operators/dedup.blocked_weighted_jaccard): block documents on
    (lang, source, n_chars//16) — cheap equality keys — then score each
    within-block pair with weighted Jaccard over token counts.  The multiset
    refinement of q73's set Jaccard (repetition counts with multiplicity),
    and the classic entity-resolution shape: blocking bounds the candidate
    set, only common tokens join, sums are exact integers."""
    d = table(spark, sf_dir, "documents").withColumn(
        "nb", F.floor(F.col("n_chars") / 16)
    )
    from .operators.dedup import blocked_weighted_jaccard

    return blocked_weighted_jaccard(
        d, "doc_id", "text", ["lang", "source", "nb"], threshold=0.2
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q208: Simpson diversity
# ---------------------------------------------------------------------------


@query(
    "q208_simpson_diversity",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
    p AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
                 sum(c * c) AS sum_sq
          FROM tc GROUP BY 1)
    SELECT doc_id, n_tokens, n_types, sum_sq,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(1.0 - CAST(sum_sq AS DOUBLE)
                 / CAST(n_tokens * n_tokens AS DOUBLE), 6) AS simpson
    FROM p ORDER BY doc_id
    """,
)
def q208_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity scoring (operators/text.simpson_diversity): Gini-
    Simpson index + type-token ratio per document — the log-free entropy
    stand-in for repetition filtering (complements q95's Gopher
    top-fraction stats with a whole-distribution signal).  Integer sums,
    two closing divisions — bit-identical across engines."""
    from .operators.text import simpson_diversity

    d = table(spark, sf_dir, "documents")
    return simpson_diversity(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# q209: multi-probe SRP-LSH near-dup (recall lever)
# ---------------------------------------------------------------------------

_MP_PLANES = 6


def _fold_dot_sql(a: str, plane: list[float]) -> str:
    """DuckDB replay of similarity._dot (left fold in index order) against a
    literal plane — bit-identical to Spark's zip_with+aggregate."""
    coeffs = "[" + ",".join(f"{c:.1f}" for c in plane) + "]"
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {coeffs}),"
        " p -> p[1]*p[2])), (s, x) -> s + x)"
    )


def _mp_oracle() -> str:
    planes = sim.srp_planes(64, _MP_PLANES, seed=42)
    n = _MP_PLANES
    d_cols = ", ".join(f"{_fold_dot_sql('emb', p)} AS d{i}" for i, p in enumerate(planes))
    b_cols = ", ".join(
        f"(CASE WHEN d{i} >= 0 THEN '1' ELSE '0' END) AS b{i}" for i in range(n)
    )
    argmin = (
        "CAST(list_min(["
        + ", ".join(f"[abs(d{i}), CAST({i} AS DOUBLE)]" for i in range(n))
        + "])[2] AS INT) AS fi"
    )
    bucket = " || ".join(f"b{i}" for i in range(n))
    flipped = " || ".join(
        f"(CASE WHEN fi = {i} THEN (CASE WHEN b{i} = '1' THEN '0' ELSE '1' END)"
        f" ELSE b{i} END)"
        for i in range(n)
    )
    fold_sq = (
        "list_reduce(list_prepend(0.0, list_transform({v}, x -> x*x)), (s, x) -> s + x)"
    )
    cos = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(va.emb, vb.emb),"
        " p -> p[1]*p[2])), (s, x) -> s + x)"
        f" / (sqrt({fold_sq.format(v='va.emb')}) * sqrt({fold_sq.format(v='vb.emb')}))"
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings WHERE vec_id < 200),
    d AS (SELECT vec_id, emb, {d_cols} FROM e),
    b AS (SELECT vec_id, emb, {b_cols}, {argmin} FROM d),
    p AS (
      SELECT vec_id, 0 AS probe, {bucket} AS bucket FROM b
      UNION ALL
      SELECT vec_id, 1 AS probe, {flipped} AS bucket FROM b
    ),
    exact AS (SELECT vec_id, {bucket} AS bucket FROM b),
    cand AS (
      SELECT DISTINCT least(p.vec_id, x.vec_id) AS id_a,
                      greatest(p.vec_id, x.vec_id) AS id_b
      FROM p JOIN exact x ON p.bucket = x.bucket AND p.vec_id <> x.vec_id
    ),
    v AS (SELECT vec_id, emb FROM e)
    SELECT c.id_a, c.id_b, round({cos}, 6) AS cos_sim
    FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b
    WHERE {cos} >= 0.35
    ORDER BY id_a, id_b
    """


@query("q209_srp_multiprobe", oracle=_mp_oracle())
def q209_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH near-dup (operators/similarity.srp_multiprobe,
    Lv et al. VLDB'07 shape): every vector probes its own bucket PLUS the
    bucket one flip of its least-confident bit away, recovering neighbors a
    single sign separated — recall rises without more hash tables and
    without shortening codes (q76's recall/bucket-size trade-off gets a
    third axis).  Probe rows join probe-0 rows on the bucket — still pure
    equi-joins; shuffle grows by (n_probes+1)x, never 2^k.

    Margins fold in index order and the flip ranking tie-breaks on plane
    index, so the probe set — and the verified pair set — replays exactly
    on both engines."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    probes = sim.srp_multiprobe(
        e, "vec_id", "embedding", n_planes=_MP_PLANES, seed=42, n_probes=1
    )
    exact = probes.filter(F.col("probe") == 0).select(
        F.col("vec_id").alias("id_x"), F.col("bucket").alias("bucket_x")
    )
    cand = (
        probes.join(
            exact,
            (F.col("bucket") == F.col("bucket_x")) & (F.col("vec_id") != F.col("id_x")),
        )
        .select(
            F.least("vec_id", "id_x").alias("id_a"),
            F.greatest("vec_id", "id_x").alias("id_b"),
        )
        .distinct()
    )
    emb = {"emb": sim.as_double(F.col("embedding"))}
    verified = sim.cosine_verify(pr.with_payload(cand, e, "vec_id", emb), ["id_a", "id_b"], 0.35)
    return verified.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q210: incremental aggregate-state maintenance
# ---------------------------------------------------------------------------


@query(
    "q210_incremental_agg",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           sum(l_quantity) AS s,
           min(l_quantity) AS mn,
           max(l_quantity) AS mx,
           round(sum(l_quantity) / count(*), 6) AS avg,
           round(sum(l_quantity * l_quantity) / count(*)
                 - (sum(l_quantity) / count(*)) * (sum(l_quantity) / count(*)), 6)
             AS var_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q210_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/merge.agg_state/
    merge_agg_state/finalize_agg_state): per-flag quantity stats kept as a
    mergeable (n, s, ss, min, max) STATE — the 'old' state (shipdate <
    1995) absorbs the 'new batch' (>= 1995) with one key-merge, and the
    result must equal the full recompute the oracle runs.  That equality IS
    the operator's contract: refreshing a corpus-wide aggregate costs one
    shuffle of the BATCH, never a rescan of history.

    Determinism: l_quantity is integer-valued, so n/s/ss are exact in
    doubles and the avg/variance identities are bit-identical regardless of
    merge order or engine."""
    from .operators.merge import agg_state, finalize_agg_state, merge_agg_state

    li = table(spark, sf_dir, "lineitem")
    cut = F.to_timestamp(F.lit("1995-01-01"))
    old = agg_state(li.filter(F.col("l_shipdate") < cut), ["l_returnflag"], "l_quantity")
    new = agg_state(li.filter(F.col("l_shipdate") >= cut), ["l_returnflag"], "l_quantity")
    merged = merge_agg_state(old, new, ["l_returnflag"])
    return finalize_agg_state(merged, ["l_returnflag"]).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q211: count-min sketch heavy-hitter estimation
# ---------------------------------------------------------------------------

_CM_TERMS = ["join", "the", "vector", "zzznotfound"]
_CM_DEPTH, _CM_WIDTH = 4, 256


def _cm_oracle() -> str:
    probe_vals = ", ".join(f"'{t}'" for t in _CM_TERMS)
    cell = "('0x' || substr(md5({v} || '|cm|{r}'), 1, 8))::UBIGINT % {w}"
    build_arms = " UNION ALL ".join(
        f"SELECT {r} AS row, {cell.format(v='tok', r=r, w=_CM_WIDTH)} AS bucket FROM t"
        for r in range(_CM_DEPTH)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT term, {r} AS row, {cell.format(v='term', r=r, w=_CM_WIDTH)} AS bucket"
        " FROM probes"
        for r in range(_CM_DEPTH)
    )
    return f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    t AS (SELECT tok FROM toks WHERE tok <> ''),
    cells AS (SELECT row, bucket, count(*) AS c FROM ({build_arms}) GROUP BY 1, 2),
    probes AS (SELECT unnest([{probe_vals}]) AS term),
    pc AS ({probe_arms}),
    est AS (
      SELECT term, min(COALESCE(c, 0)) AS est
      FROM pc LEFT JOIN cells USING (row, bucket) GROUP BY term
    ),
    tru AS (SELECT tok AS term, count(*) AS n FROM t GROUP BY 1)
    SELECT e.term, e.est, COALESCE(tr.n, 0) AS true_n
    FROM est e LEFT JOIN tru tr ON tr.term = e.term
    ORDER BY e.term
    """


@query("q211_countmin", oracle=_cm_oracle())
def q211_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketches): corpus token frequencies
    summarized into a 4x256 mergeable cell table, then point-estimated for
    probe terms next to their true counts — est >= true always (one-sided
    error), equality when the term's cells are collision-free.  The
    fixed-memory frequency summary a 100 TB pipeline broadcasts where an
    exact vocabulary count table would not fit; per-day sketches merge by
    cell addition (operators/sketches.countmin_merge).  md5 cell hashing =
    the oracle rebuilds the identical sketch."""
    from .operators.sketches import countmin_build, countmin_lookup

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    sketch = countmin_build(toks, "tok", depth=_CM_DEPTH, width=_CM_WIDTH)
    terms = _lrd(spark, [(t,) for t in _CM_TERMS], "term string")
    est = countmin_lookup(
        sketch, terms, "term", depth=_CM_DEPTH, width=_CM_WIDTH
    )
    tru = toks.groupBy(F.col("tok").alias("term")).agg(F.count(F.lit(1)).alias("n"))
    return (
        est.join(tru, "term", "left")
        .select("term", "est", F.coalesce(F.col("n"), F.lit(0)).alias("true_n"))
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# q332: join-cardinality estimation from count-min sketches
# ---------------------------------------------------------------------------

_CMJ_DEPTH, _CMJ_WIDTH = 4, 4096


def _cmj_oracle() -> str:
    cell = "('0x' || substr(md5(k || '|cmj|{r}'), 1, 8))::UBIGINT % {w}"
    arms_a = " UNION ALL ".join(
        f"SELECT {r} AS row, {cell.format(r=r, w=_CMJ_WIDTH)} AS bucket FROM a"
        for r in range(_CMJ_DEPTH)
    )
    arms_b = " UNION ALL ".join(
        f"SELECT {r} AS row, {cell.format(r=r, w=_CMJ_WIDTH)} AS bucket FROM b"
        for r in range(_CMJ_DEPTH)
    )
    return f"""
    WITH a AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
    b AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
    ca AS (SELECT row, bucket, count(*) AS c FROM ({arms_a}) GROUP BY 1, 2),
    cb AS (SELECT row, bucket, count(*) AS c FROM ({arms_b}) GROUP BY 1, 2),
    ipr AS (SELECT ca.row, sum(ca.c * cb.c) AS ip
            FROM ca JOIN cb ON ca.row = cb.row AND ca.bucket = cb.bucket
            GROUP BY ca.row),
    est AS (SELECT CASE WHEN count(*) < {_CMJ_DEPTH} THEN 0
                        ELSE min(ip) END AS est FROM ipr),
    tru AS (SELECT count(*) AS n FROM a JOIN b USING (k)),
    na AS (SELECT count(*) AS n FROM a),
    nb AS (SELECT count(*) AS n FROM b)
    SELECT CAST(tru.n AS BIGINT) AS n_true,
           CAST(est.est AS BIGINT) AS n_est,
           est.est >= tru.n AS overestimates,
           est.est <= tru.n + 2.0 * na.n * nb.n / {_CMJ_WIDTH} AS bound_ok,
           round((est.est - tru.n) * 1.0 / tru.n, 6) AS rel_err
    FROM tru, est, na, nb
    """


@query("q332_join_cardinality", oracle=_cmj_oracle())
def q332_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join
    (operators/sketches.countmin_inner_product — the Cormode-Muthukrishnan
    CM inner product): customer and orders each reduce to a 4x512 cell
    table, and ``min_r sum_b A[r][b]*B[r][b]`` upper-bounds
    ``|customer ⋈ orders|``.  This is the planner-side statistic a 100 TB
    engine wants before committing to a join strategy — two few-KB
    mergeable summaries answer it with ``true <= est <= true +
    (2/width)*|A|*|B|`` (w.p. 1 - 2^-depth), no rescan of either table.
    The audit row carries the exact join count (computed here only to
    grade the estimate), both guarantee checks, and the realized relative
    error; the oracle rebuilds both sketches cell-for-cell."""
    from .operators.sketches import countmin_build, countmin_inner_product

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k")
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    sa = countmin_build(c, "k", depth=_CMJ_DEPTH, width=_CMJ_WIDTH, salt="cmj")
    sb = countmin_build(o, "k", depth=_CMJ_DEPTH, width=_CMJ_WIDTH, salt="cmj")
    est = countmin_inner_product(sa, sb, depth=_CMJ_DEPTH)
    tru = c.join(o, "k").agg(F.count(F.lit(1)).alias("n_true"))
    na = c.agg(F.count(F.lit(1)).alias("__na"))
    nb = o.agg(F.count(F.lit(1)).alias("__nb"))
    return (
        tru.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("est").cast("bigint").alias("n_est"),
            (F.col("est") >= F.col("n_true")).alias("overestimates"),
            (
                F.col("est")
                <= F.col("n_true")
                + F.lit(2.0) * F.col("__na") * F.col("__nb") / F.lit(_CMJ_WIDTH)
            ).alias("bound_ok"),
            F.round(
                (F.col("est") - F.col("n_true")) / F.col("n_true"), 6
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# q212: IVF-PQ — the composed ANN layout (cell pruning + code scan)
# ---------------------------------------------------------------------------


@query(
    "q212_ivf_pq",
    oracle="""
    WITH c AS (SELECT vec_id AS cid,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)
                          / sqrt(list_dot_product(
                              list_transform(embedding, y -> CAST(y AS DOUBLE)),
                              list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS cvn
               FROM embeddings WHERE vec_id < 8),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    sims AS (SELECT e.vec_id, c.cid, e.emb,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                        list_dot_product(emb, cvn) DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN c),
    assign AS (SELECT vec_id, cid AS cell, emb FROM sims WHERE rn = 1),
    probe AS (SELECT cid FROM c, q
              ORDER BY list_dot_product(cvn, qv) DESC, cid ASC
              LIMIT 2),
    cb AS (SELECT vec_id AS cid, emb FROM e WHERE vec_id < 8),
    js AS (SELECT * FROM generate_series(0, 7) t(j)),
    sub AS (SELECT vec_id, j, emb[j*8+1 : j*8+8] AS sv FROM e CROSS JOIN js),
    cbs AS (SELECT cid, j, emb[j*8+1 : j*8+8] AS cw FROM cb CROSS JOIN js),
    d AS (
      SELECT sub.vec_id, sub.j, cbs.cid,
             list_reduce(
               list_prepend(0.0, list_transform(list_zip(sv, cw),
                                                p -> (p[1]-p[2])*(p[1]-p[2]))),
               (s, x) -> s + x) AS dist
      FROM sub JOIN cbs ON sub.j = cbs.j
    ),
    codes AS (
      SELECT vec_id, j, CAST(min([dist, CAST(cid AS DOUBLE)])[2] AS INT) AS code
      FROM d GROUP BY vec_id, j
    ),
    qd AS (SELECT j, cid, dist FROM d WHERE vec_id = 0),
    hits AS (SELECT vec_id, cell FROM assign
             WHERE cell IN (SELECT cid FROM probe)),
    adc AS (
      SELECT h.vec_id, h.cell,
             list_reduce(list_prepend(0.0, list(qd.dist ORDER BY cd.j)),
                         (s, x) -> s + x) AS dist
      FROM hits h
      JOIN codes cd ON cd.vec_id = h.vec_id
      JOIN qd ON qd.j = cd.j AND qd.cid = cd.code
      GROUP BY h.vec_id, h.cell
    )
    SELECT vec_id, cell, round(dist, 6) AS adc_dist
    FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
)
def q212_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN layout, composed from the catalog's own
    pieces: IVF coarse cells prune the scan to nprobe partitions (q86's
    operators/similarity.ivf_assign), and within the probed cells distances
    come from PQ codes + ADC lookups (q204's pq_adc_topk), never from raw
    vectors.  At 100 TB: `cell` is a partition column (probe = partition
    pruning), codes are an m-byte column — the query reads nprobe/ncells of
    the table and does table-lookup arithmetic only.  Both stages use the
    same injectable deterministic trainers as their standalone queries, so
    the composition replays exactly."""
    e = table(spark, sf_dir, "embeddings")
    rows = e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    training = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    qvec = dict(training)[0]
    centroids = training

    import math

    def _pydot(a, b):
        return sum(x * y for x, y in zip(a, b))

    ranked = sorted(
        centroids,
        key=lambda c: (
            -_pydot(c[1], qvec) / (math.sqrt(_pydot(c[1], c[1])) * math.sqrt(_pydot(qvec, qvec))),
            c[0],
        ),
    )
    probe = [cid for cid, _ in ranked[:2]]
    assigned = sim.ivf_assign(e, "vec_id", "embedding", centroids)
    hits = assigned.filter(F.col("cell").isin(probe))
    books = sim.pq_split_codebooks(training, m=8)
    return sim.pq_adc_topk(
        hits, "vec_id", "embedding", qvec, books, k=10, keep_cols=["cell"]
    )


# ---------------------------------------------------------------------------
# q213: streaming one-pass EWMA, driver-visible
# ---------------------------------------------------------------------------


@query(
    "q213_stream_ewma",
    oracle="""
    WITH h AS (
      SELECT user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hist
      FROM events WHERE user_id < 20
    )
    SELECT user_id, ts, value,
           floor(list_reduce(hist, (s, v) -> v * 0.25 + s * 0.75) * 1000000) / 1000000 AS ewma
    FROM h ORDER BY user_id, ts
    """,
)
def q213_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q206's EWMA executed as a REAL stateful Structured Streaming query
    (streaming/ops.stream_ewma: applyInPandasWithState, ONE double of state
    per key, availableNow into a memory sink) and checked against the same
    recursive-fold SQL oracle — the O(1)-state streaming path the batch
    operator's docstring routes unbounded histories to, made
    driver-visible.  The recurrence is pandas ewm(adjust=False), vectorized
    per key per micro-batch."""
    from .catalog_rank import _stream_events
    from .streaming import ops as st

    stream = _stream_events(spark, sf_dir).filter(F.col("user_id") < 20)
    out = st.run_available_now(
        st.stream_ewma(stream, key_col="user_id", ts_col="ts", value_col="value"),
        "q213_sink",
        output_mode="update",
    )
    return out.select("user_id", "ts", "value", "ewma").orderBy("user_id", "ts")


# ---------------------------------------------------------------------------
# q214: distribution drift between snapshots (total variation distance)
# ---------------------------------------------------------------------------


@query(
    "q214_drift_tvd",
    oracle="""
    WITH src AS (
      SELECT value, ts < TIMESTAMP '2024-01-16 00:00:00' AS is_a,
             least(20, greatest(1,
                 CAST(floor((CAST(value AS DOUBLE) - 0.0) / 500.0 * 20) AS BIGINT) + 1))
               AS bucket
      FROM events
    ),
    j AS (
      SELECT bucket,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_i,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS m_i
      FROM src GROUP BY bucket
    ),
    t AS (SELECT sum(n_i) AS n, sum(m_i) AS m FROM j)
    SELECT sum(n_i) AS n_a,
           sum(m_i) AS n_b,
           count(*) AS used_bins,
           sum(abs(n_i * m - m_i * n)) AS tvd_num,
           round(CAST(sum(abs(n_i * m - m_i * n)) AS DOUBLE)
                 / (2.0 * CAST(max(n) * max(m) AS DOUBLE)), 6) AS tvd
    FROM j CROSS JOIN t
    """,
)
def q214_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift monitoring (operators/observability.distribution_drift):
    total variation distance between the first and second half-month of
    event values, over 20 fixed-width buckets — the log-free PSI stand-in
    (integer-exact: one |n_i*M - m_i*N| sum, one closing division) a data
    platform runs between corpus versions to catch train/serve skew.  Two
    tiny histogram aggregates + a bucket join; no per-engine libm anywhere."""
    from .operators.observability import distribution_drift

    ev = load_events(spark, sf_dir)
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    return distribution_drift(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        "value",
        nbins=20,
        lo=0.0,
        hi=500.0,
    )


# ---------------------------------------------------------------------------
# q215: regression residual outliers (model-in-SQL anomaly detection)
# ---------------------------------------------------------------------------


@query(
    "q215_regr_residuals",
    oracle="""
    WITH fit AS (
      SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_quantity), 6)     AS b,
             round(regr_intercept(l_extendedprice, l_quantity), 6) AS a
      FROM lineitem GROUP BY l_returnflag
    ),
    r AS (
      SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
             round(li.l_extendedprice - (f.a + f.b * li.l_quantity), 4) AS resid
      FROM lineitem li JOIN fit f USING (l_returnflag)
    )
    SELECT l_orderkey, l_linenumber, l_returnflag, resid
    FROM r
    ORDER BY abs(resid) DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
)
def q215_regr_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-engine anomaly detection: fit price ~ quantity per
    return flag with the regr_* aggregates (q202), broadcast the 3-row
    model back over the fact table, and surface the 25 largest residuals —
    the fit-predict-flag loop running entirely as one lazy plan, no ML
    library, no driver round-trip beyond Catalyst's broadcast.

    Determinism: coefficients are rounded to 6dp BEFORE prediction on both
    engines, so every residual is computed from identical operands — the
    fit's last-ulp engine differences never reach the comparison.  Scale:
    one co-moment aggregate + a broadcast join + TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    fit = li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("b"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias("a"),
    )
    r = li.join(F.broadcast(fit), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(
            F.col("l_extendedprice") - (F.col("a") + F.col("b") * F.col("l_quantity")),
            4,
        ).alias("resid"),
    )
    return r.orderBy(
        F.abs(F.col("resid")).desc(), "l_orderkey", "l_linenumber"
    ).limit(25)


# ---------------------------------------------------------------------------
# q216: multi-touch attribution (U-shaped credit)
# ---------------------------------------------------------------------------


@query(
    "q216_attribution",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id, ts, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    j AS (
      SELECT c.conv_id, t.channel, t.ts, t.event_id
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.ts <= c.conv_ts
       AND t.ts > c.conv_ts - INTERVAL 24 HOURS
    ),
    r AS (
      SELECT conv_id, channel,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS rk,
             count(*) OVER (PARTITION BY conv_id) AS n
      FROM j
    ),
    g AS (
      SELECT conv_id, channel, max(n) AS n,
             max(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS is_first,
             max(CASE WHEN rk = n THEN 1 ELSE 0 END) AS is_last,
             sum(CASE WHEN rk > 1 AND rk < n THEN 1 ELSE 0 END) AS mid_cnt
      FROM r GROUP BY conv_id, channel
    )
    SELECT conv_id, channel, n AS n_touches,
           round(CASE
             WHEN n = 1 THEN CAST(is_first AS DOUBLE)
             WHEN n = 2 THEN 0.5 * is_first + 0.5 * is_last
             ELSE 0.4 * is_first + 0.4 * is_last
                  + (0.2 / CAST(n - 2 AS DOUBLE)) * mid_cnt
           END, 6) AS credit
    FROM g
    ORDER BY conv_id, channel
    """,
)
def q216_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: every purchase distributes credit
    over its click/view touches in a 24 h lookback — 40% first touch, 40%
    last, 20% split over the middles (collapsing to 1.0 / 0.5+0.5 for 1-2
    touch paths).  The marketing-analytics staple, expressed as one
    user-keyed equi-join + two windows + a closed-form credit expression:
    per (conversion, channel) credit is computed from integer counts in a
    FIXED operation order (no float accumulation across rows), so engines
    agree bit-for-bit.

    Scale: the join is user-keyed (hash), the windows ride the conv_id
    shuffle; lookback bounds per-conversion touch counts, which bounds both
    window state and output."""
    ev = load_events(spark, sf_dir)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id"),
        F.col("ts"),
        F.col("event_type").alias("channel"),
    )
    j = conv.join(touch, "user_id").filter(
        (F.col("ts") <= F.col("conv_ts"))
        & (F.col("ts") > F.col("conv_ts") - F.expr("INTERVAL 24 HOURS"))
    )
    wr = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("conv_id")
    r = j.select(
        "conv_id",
        "channel",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    g = r.groupBy("conv_id", "channel").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rk") == 1, 1).otherwise(0)).alias("is_first"),
        F.max(F.when(F.col("rk") == F.col("n"), 1).otherwise(0)).alias("is_last"),
        F.sum(
            F.when((F.col("rk") > 1) & (F.col("rk") < F.col("n")), 1).otherwise(0)
        ).alias("mid_cnt"),
    )
    credit = (
        F.when(F.col("n") == 1, F.col("is_first").cast("double"))
        .when(
            F.col("n") == 2,
            F.lit(0.5) * F.col("is_first") + F.lit(0.5) * F.col("is_last"),
        )
        .otherwise(
            F.lit(0.4) * F.col("is_first")
            + F.lit(0.4) * F.col("is_last")
            + (F.lit(0.2) / (F.col("n") - 2).cast("double")) * F.col("mid_cnt")
        )
    )
    return g.select(
        "conv_id",
        "channel",
        F.col("n").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    ).orderBy("conv_id", "channel")


# ---------------------------------------------------------------------------
# q217: event-transition matrix (first-order Markov over user journeys)
# ---------------------------------------------------------------------------


@query(
    "q217_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(n) AS total FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           round(CAST(t.n AS DOUBLE) / CAST(tot.total AS DOUBLE), 6) AS prob
    FROM t JOIN tot USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def q217_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event journeys: lag
    each user's ordered stream, count (from, to) pairs, normalize per
    source state — the sequence-modeling summary behind journey analysis
    and Markov attribution.  Counts are exact integers; each probability is
    one division of identical operands.  Scale: one user-keyed window + two
    map-side-combined aggregates; the matrix is |event_types|^2 rows."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = s.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("total"))
    return (
        t.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("total").cast("double"), 6).alias(
                "prob"
            ),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# q218: multi-term AND search over the inverted index
# ---------------------------------------------------------------------------

_SEARCH_TERMS = ["join", "stream"]


def _search_oracle() -> str:
    in_list = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    hits AS (
      SELECT doc_id, count(DISTINCT term) AS matched
      FROM toks WHERE term IN ({in_list})
      GROUP BY doc_id
    ),
    docs AS (SELECT doc_id FROM hits WHERE matched = {len(_SEARCH_TERMS)})
    SELECT d.doc_id, d.n_chars, d.source
    FROM docs JOIN documents d USING (doc_id)
    ORDER BY doc_id
    """


@query("q218_search_and", oracle=_search_oracle())
def q218_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) search served FROM the inverted index
    (operators/ranking.posting_lists — q139 builds it, this queries it):
    intersect the query terms' posting lists, then fetch the matching
    documents.  The serving-side counterpart of the index build: the
    intersection runs over |query| posting rows (vocabulary-sized access,
    never a corpus scan at lookup time); the doc fetch is an id-keyed join
    the docs table would be bucketed on.

    The posting lists are sorted id arrays, so the intersection is
    array_intersect of per-term arrays — bounded by document frequency."""
    from .operators.ranking import posting_lists

    d = table(spark, sf_dir, "documents")
    idx = posting_lists(d, "doc_id", "text").filter(
        F.col("term").isin(_SEARCH_TERMS)
    )
    inter = idx.agg(
        F.aggregate(
            F.collect_list("postings"),
            F.lit(None).cast("array<bigint>"),
            lambda acc, p: F.when(acc.isNull(), p).otherwise(F.array_intersect(acc, p)),
        ).alias("ids"),
        F.count(F.lit(1)).alias("n_terms"),
    ).filter(F.col("n_terms") == len(_SEARCH_TERMS))
    docs = inter.select(F.explode("ids").alias("doc_id"))
    return (
        docs.join(d, "doc_id")
        .select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q219: deterministic negative sampling for contrastive training
# ---------------------------------------------------------------------------

_NEG_K = 4
_NEG_P = 2654435761  # Knuth multiplicative-hash constant


@query(
    "q219_negative_sampling",
    oracle=f"""
    WITH n AS (SELECT count(*) AS sz FROM embeddings),
    anchors AS (SELECT vec_id FROM embeddings WHERE vec_id < 100),
    cand AS (
      SELECT a.vec_id AS anchor_id, j,
             (a.vec_id * {_NEG_P} + j * 97) % sz AS neg_id
      FROM anchors a CROSS JOIN n
      CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j)
    ),
    picked AS (
      SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id ORDER BY j) AS rk
      FROM (SELECT DISTINCT ON (anchor_id, neg_id) anchor_id, neg_id, j
            FROM cand WHERE neg_id <> anchor_id
            ORDER BY anchor_id, neg_id, j)
    )
    SELECT anchor_id, rk AS neg_rank, neg_id
    FROM picked WHERE rk <= {_NEG_K}
    ORDER BY anchor_id, neg_rank
    """,
)
def q219_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive embedding training:
    each anchor draws 4 pseudo-random negatives via the Knuth
    multiplicative hash ``(anchor * 2654435761 + j*97) mod N`` — reproducible
    across runs/engines/partitionings (no rand()), collision- and
    self-pair-free by construction (duplicates dropped, j oversampled by 1).
    The complement of hard-negative mining (q164): in-batch/random negatives
    are the bulk of a contrastive loss; hard negatives are the garnish.

    Scale: pure arithmetic on the anchor id — a narrow map producing k rows
    per anchor, then (optionally) an id-keyed join to fetch vectors; no
    shuffle of embeddings, no sampling state.  The corpus size N is one
    count() action (at scale: a catalog statistic, not a scan)."""
    e = table(spark, sf_dir, "embeddings")
    sz = e.count()
    anchors = e.filter(F.col("vec_id") < 100).select("vec_id")
    js = F.array(*[F.lit(j) for j in range(1, _NEG_K + 2)])
    cand = anchors.select(
        F.col("vec_id").alias("anchor_id"), F.explode(js).alias("j")
    ).select(
        "anchor_id",
        "j",
        ((F.col("anchor_id") * _NEG_P + F.col("j") * 97) % sz).alias("neg_id"),
    )
    dedup = (
        cand.filter(F.col("neg_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "neg_id")
        .agg(F.min("j").alias("j"))
    )
    w = Window.partitionBy("anchor_id").orderBy("j")
    return (
        dedup.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEG_K)
        .select("anchor_id", F.col("rk").alias("neg_rank"), "neg_id")
        .orderBy("anchor_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# q220: file-skipping manifest (data-skipping beyond partition pruning)
# ---------------------------------------------------------------------------


@query(
    "q220_manifest_skip",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 2000 AND 2999
    ORDER BY o_orderkey
    """,
)
def q220_manifest_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping via a min/max manifest (operators/layout.build_manifest
    + pruned_read): orders are laid out range-clustered into 16 files
    (repartitionByRange — the layout job), a per-file min/max manifest is
    built (the Delta/Iceberg-log shape without a table format), and a
    selective key-range query reads ONLY the files whose range intersects —
    the oracle is the plain full-scan filter, proving skipping never
    changes answers.  The pytest companion asserts the pruned plan actually
    touches a fraction of the files.

    Scale: the manifest is O(files) rows (broadcastable); the layout job is
    one range shuffle, amortized over every later selective scan."""
    import os

    from .catalog_sources import _scratch
    from .operators.layout import build_manifest, pruned_read

    path = _scratch("manifest_orders", sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        o.repartitionByRange(16, F.col("o_orderkey")).write.mode("overwrite").parquet(
            path
        )
    man = build_manifest(spark, path, ["o_orderkey"])
    out = pruned_read(spark, path, man, "o_orderkey", 2000, 2999)
    return out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# q221: per-label centroid outliers (embedding-space label QA)
# ---------------------------------------------------------------------------


@query(
    "q221_centroid_outliers",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    dims AS (SELECT label, vec_id, d.i AS dim, emb[d.i] AS v
             FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d),
    cent AS (SELECT label, dim, sum(v) / count(*) AS c
             FROM dims GROUP BY label, dim),
    cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             list_reduce(list_prepend(0.0,
                 list_transform(list_zip(e.emb, cv.cv), p -> p[1]*p[2])),
                 (s, x) -> s + x)
             / (sqrt(list_reduce(list_prepend(0.0,
                  list_transform(e.emb, x -> x*x)), (s, x) -> s + x))
                * sqrt(list_reduce(list_prepend(0.0,
                  list_transform(cv.cv, x -> x*x)), (s, x) -> s + x)))
               AS cos_c
      FROM e JOIN cvec cv USING (label)
    )
    SELECT vec_id, label, round(cos_c, 6) AS cos_to_centroid
    FROM scored
    ORDER BY cos_c ASC, vec_id
    LIMIT 20
    """,
)
def q221_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label QA: pool each label's centroid
    (operators/similarity.mean_pool — exact float32-in-double sums, so the
    centroid is partition-order-independent), score every member's cosine
    to its own centroid, and surface the 20 least-coherent vectors — the
    mislabeled/noise-candidate list a curation pipeline reviews.  SemDeDup
    (q126) asks 'too close to a neighbor?'; this asks the complementary
    'too far from its own class?'.

    Scale: pooling shuffles (label, dim, partial) triples; scoring is one
    broadcast join of |labels| centroids + codegen'd fold math; top-20 is
    TakeOrderedAndProject."""
    from .operators.similarity import mean_pool

    e = table(spark, sf_dir, "embeddings")
    cents = mean_pool(e, "label", "embedding").select(
        "label", F.col("pooled").alias("cv")
    )
    emb = sim.as_double(F.col("embedding"))
    cos = sim.cosine(emb, F.col("cv"))
    return (
        e.join(F.broadcast(cents), "label")
        .select("vec_id", "label", cos.alias("raw"))
        .orderBy(F.col("raw").asc(), "vec_id")
        .limit(20)
        .select("vec_id", "label", F.round("raw", 6).alias("cos_to_centroid"))
    )


# ---------------------------------------------------------------------------
# q222: top conversion paths (sequence analytics over sessions)
# ---------------------------------------------------------------------------


@query(
    "q222_top_paths",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS sess_id
      FROM d
    ),
    paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, sess_id
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
)
def q222_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: sessionize (30-min gap), render each session
    as its ordered event-type sequence, count path frequencies — the
    product-analytics view q217's transition matrix marginalizes away
    (paths keep ORDER, the matrix keeps only adjacency).  The in-session
    ordering is pinned by (ts, event_id) inside sort_array, never by
    collect_list's arrival order, so paths are identical across engines
    and partitionings.

    Scale: one session-window shuffle keyed (user, session); path strings
    are session-bounded; the path census is a map-side-combined count."""
    ev = load_events(spark, sf_dir)
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q223: content-addressed table fingerprint (dataset identity)
# ---------------------------------------------------------------------------


@query(
    "q223_table_fingerprint",
    oracle="""
    WITH li AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
                 CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
                 CAST(l_quantity AS VARCHAR))), 1, 15))::BIGINT AS d
      FROM lineitem
    ),
    o AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR), o_orderpriority)), 1, 15))::BIGINT AS d
      FROM orders
    )
    SELECT 'lineitem' AS tbl, count(*) AS n_rows,
           CAST(sum(CAST(d AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM li
    UNION ALL
    SELECT 'orders', count(*),
           CAST(sum(CAST(d AS HUGEINT)) % 2305843009213693951 AS BIGINT)
    FROM o
    ORDER BY tbl
    """,
)
def q223_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dataset fingerprints: per-row md5 digests (over a
    canonical column serialization) summed mod the Mersenne prime 2^61-1 —
    an ORDER-INDEPENDENT table identity that two engines, two clusters, or
    two snapshot copies can compare without sorting or moving rows.  The
    cheap answer to 'is this 100 TB copy byte-identical to that one?' and
    the cache-invalidation key for derived artifacts (indexes, sketches,
    manifests).  One scan per table, map-side-combined decimal sum."""
    from .context import widen

    M = 2305843009213693951  # 2^61 - 1

    def fp(df: DataFrame, cols: list, name: str) -> DataFrame:
        ser = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        d = F.conv(F.substring(F.md5(ser), 1, 15), 16, 10).cast("decimal(38,0)")
        return df.select(d.alias("d")).agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("d") % M).cast("bigint").alias("fingerprint"),
        )

    li = widen(table(spark, sf_dir, "lineitem"))
    o = widen(table(spark, sf_dir, "orders"))
    return (
        fp(li, ["l_orderkey", "l_linenumber", "l_quantity"], "lineitem")
        .unionByName(fp(o, ["o_orderkey", "o_orderpriority"], "orders"))
        .orderBy("tbl")
    )


# ---------------------------------------------------------------------------
# q224: erasure cascade (right-to-be-forgotten)
# ---------------------------------------------------------------------------


@query(
    "q224_erasure_cascade",
    oracle="""
    WITH erase AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 0),
    kept AS (
      SELECT e.* FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM erase x WHERE x.user_id = e.user_id)
    )
    SELECT count(*)                         AS kept_events,
           (SELECT count(*) FROM events)    AS total_events,
           (SELECT count(*) FROM erase)     AS erased_users,
           count(DISTINCT user_id)          AS kept_users,
           CAST(sum(CASE WHEN user_id % 29 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaked_rows
    FROM kept
    """,
)
def q224_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure: a deletion list (here: user_id % 29 = 0,
    standing in for a GDPR request table) cascades through the event store
    as a broadcast ANTI join, and the audit row proves completeness —
    leaked_rows MUST be 0, with kept/erased tallies for the compliance log.

    Scale: the deletion list is tiny (broadcast anti join — no shuffle of
    the fact table); at 100 TB pair with partition-level rewrite
    (foreach_batch_parquet's dynamic overwrite) so only partitions
    containing erased users rewrite, and re-run this audit after."""
    ev = load_events(spark, sf_dir)
    erase = ev.filter(F.col("user_id") % 29 == 0).select("user_id").distinct()
    kept = ev.join(F.broadcast(erase), "user_id", "left_anti")
    totals = ev.agg(F.count(F.lit(1)).alias("total_events"))
    nerase = erase.agg(F.count(F.lit(1)).alias("erased_users"))
    return (
        kept.agg(
            F.count(F.lit(1)).alias("kept_events"),
            F.countDistinct("user_id").alias("kept_users"),
            F.sum(F.when(F.col("user_id") % 29 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_rows"),
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nerase))
        .select(
            "kept_events",
            "total_events",
            "erased_users",
            "kept_users",
            F.coalesce(F.col("leaked_rows"), F.lit(0)).alias("leaked_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q225: perceptual-hash (dHash) image near-dup — multimodal x dedup
# ---------------------------------------------------------------------------


def _dhash_oracle() -> str:
    # mirror operators/multimodal.dhash_bands: pixel k = byte k%16 of
    # md5^(1+k//16)(payload); payload bytes == the utf8 text in DuckDB
    chain = ["md5(text)"]
    for _ in range(4):
        chain.append(f"md5({chain[-1]})")

    def px(k: int) -> str:
        h = chain[k // 16]
        j = k % 16
        return f"('0x' || substr({h}, {2 * j + 1}, 2))::INT"

    band_cols = []
    for b in range(4):
        terms = []
        for l in range(16):
            r = 2 * b + l // 8
            c = l % 8
            terms.append(
                f"(CASE WHEN {px(r * 9 + c)} > {px(r * 9 + c + 1)} THEN {1 << l} ELSE 0 END)"
            )
        band_cols.append("(" + " + ".join(terms) + f") AS d{b}")
    bands_sql = ", ".join(band_cols)
    ham = " + ".join(
        f"bit_count(xor(a.d{b}::BIGINT, x.d{b}::BIGINT))" for b in range(4)
    )
    band_eq = " OR ".join(f"a.d{b} = x.d{b}" for b in range(4))
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    h AS (SELECT doc_id, {bands_sql} FROM src),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM h a JOIN h x ON a.doc_id < x.doc_id AND ({band_eq})
    )
    SELECT c.id_a, c.id_b, CAST({ham} AS INT) AS hamming
    FROM cand c JOIN h a ON a.doc_id = c.id_a JOIN h x ON x.doc_id = c.id_b
    WHERE {ham} <= 8
    ORDER BY id_a, id_b
    """


@query("q225_image_dhash", oracle=_dhash_oracle())
def q225_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGES (operators/multimodal.
    dhash_bands): dHash each payload into four 16-bit bands, candidates =
    pairs sharing ANY band (the Hamming-space analog of MinHash banding —
    a pair within Hamming 8 of 64 bits collides on >= 1 intact band with
    high probability), verify with exact Hamming distance <= 8 via
    bit_count(xor).  Joins are band equi-joins; the decode is the
    deterministic md5-chain stand-in (multimodal stub policy) so the
    oracle replays the whole pipeline; swapping in a real PIL dHash keeps
    every downstream shape."""
    from .operators.multimodal import attach_payload, dhash_bands

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 300).select("doc_id", "text")
    # re-ingested copies (id-shifted) stand in for duplicate uploads — the
    # corpus has no byte-identical docs at this SF, and the stand-in decode
    # has no perceptual locality, so EXACT payload dups are what the
    # banding must recover (hamming 0)
    dups = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    d = base.unionByName(dups)
    pay = attach_payload(d, "doc_id", "text")
    h = pay.select(F.col("doc_id"), *dhash_bands(F.col("payload")))
    a = h.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"d{b}").alias(f"a{b}") for b in range(4)]
    )
    x = h.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"d{b}").alias(f"b{b}") for b in range(4)]
    )
    # candidates via banded EQUI-join: explode each row into (band, value)
    # keys and hash-join on them — "shares ANY band" as a union of per-band
    # equi-joins, NOT a join on an OR of equalities (which Spark can only
    # plan as an all-pairs BroadcastNestedLoopJoin — the r5 lint caught
    # exactly that shape here).  Same candidate set, shuffle-partitioned by
    # (band, value) like every other LSH family in operators/dedup.py.
    bands = h.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"d{b}") for b in range(4)])).alias(
            "band", "val"
        ),
    )
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "band", "val")
        .join(
            bands.select(F.col("doc_id").alias("id_b"), "band", "val"),
            ["band", "val"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ham = None
    for b in range(4):
        t = F.bit_count(
            F.col(f"a{b}").cast("long").bitwiseXOR(F.col(f"b{b}").cast("long"))
        )
        ham = t if ham is None else ham + t
    return (
        cand.join(a, "id_a")
        .join(x, "id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 8)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# q226: RAG indexing pipeline end-to-end (chunk -> embed -> pool -> ANN)
# ---------------------------------------------------------------------------

_RAG_DIM, _RAG_PLANES = 16, 4


def _rag_oracle() -> str:
    # pseudo-embedder: dim i = uint32(md5(chunk || '#e{i}')) / 2^32 - 0.5
    dims = ", ".join(
        f"('0x' || substr(md5(chunk_text || '#e{i}'), 1, 8))::UBIGINT"
        f" / 4294967296.0 - 0.5"
        for i in range(_RAG_DIM)
    )
    planes = sim.srp_planes(_RAG_DIM, _RAG_PLANES, seed=7)
    bits = " || ".join(
        "(CASE WHEN " + _fold_dot_sql("mv", p) + " >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    fold_sq = (
        "list_reduce(list_prepend(0.0, list_transform({v}, x -> x*x)), (s, x) -> s + x)"
    )
    cos = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(p.mv, q.mv),"
        " pr -> pr[1]*pr[2])), (s, x) -> s + x)"
        f" / (sqrt({fold_sq.format(v='p.mv')}) * sqrt({fold_sq.format(v='q.mv')}))"
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
                      len(string_split(text, ' ')) AS nw
               FROM documents WHERE doc_id < 200),
    c AS (SELECT doc_id, nw, words,
                 unnest(range(0,
                     1 + CAST(floor((greatest(nw - 16, 0) + 11) / 12.0) AS INT))) AS k
          FROM w),
    ch AS (SELECT doc_id, k AS chunk_id,
                  array_to_string(words[k*12+1 : k*12+16], ' ') AS chunk_text
           FROM c),
    cv AS (SELECT doc_id, chunk_id, [{dims}] AS v FROM ch),
    pooled AS (
      SELECT doc_id,
             list_transform(
               list_reduce(list(v ORDER BY chunk_id),
                           (a, b) -> list_transform(list_zip(a, b),
                                                    pr -> pr[1] + pr[2])),
               x -> x / CAST(count(*) AS DOUBLE)) AS mv
      FROM cv GROUP BY doc_id
    ),
    b AS (SELECT doc_id, mv, {bits} AS bucket FROM pooled),
    q AS (SELECT mv, bucket FROM b WHERE doc_id = 0)
    SELECT p.doc_id, round({cos}, 6) AS cos_sim
    FROM b p, q
    WHERE p.bucket = q.bucket AND p.doc_id <> 0
    ORDER BY cos_sim DESC, p.doc_id
    LIMIT 10
    """


@query("q226_rag_e2e", oracle=_rag_oracle())
def q226_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing pipeline END-TO-END as one lazy plan: chunk documents
    (operators/text.chunk_text, 16/4 windows) -> embed each chunk (a
    deterministic md5 pseudo-embedder stands in for the model call — same
    stub policy as multimodal decode: the Spark-side shape is real, and
    unlike a real model it replays in SQL) -> mean-pool chunk vectors per
    document in CHUNK ORDER (ordered fold, not a float group-sum) -> SRP-
    bucket the index -> serve a query (doc 0) by probing its bucket and
    exact-cosine ranking the candidates.  Chunking/embedding are narrow
    maps; pooling is one doc-keyed shuffle; the probe is a broadcast join
    of a 1-row query frame — the q171 pipeline discipline applied to
    retrieval indexing."""
    from .operators.text import chunk_text

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ch = chunk_text(docs, "doc_id", "text", chunk_tokens=16, overlap=4)

    dims = []
    for i in range(_RAG_DIM):
        u = F.conv(
            F.substring(F.md5(F.concat(F.col("chunk_text"), F.lit(f"#e{i}"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        dims.append(u / F.lit(4294967296.0) - F.lit(0.5))
    cv = ch.select("doc_id", "chunk_id", F.array(*dims).alias("v"))

    pooled = cv.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("chunk_id", "v"))).alias("vs")
    )
    vecs = F.transform(F.col("vs"), lambda s: s["v"])
    summed = F.aggregate(
        vecs,
        F.array_repeat(F.lit(0.0), _RAG_DIM),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    mv = F.transform(summed, lambda x: x / F.size("vs").cast("double"))
    pooled = pooled.select("doc_id", mv.alias("mv"))

    planes = sim.srp_planes(_RAG_DIM, _RAG_PLANES, seed=7)
    b = pooled.select("doc_id", "mv", sim.srp_bucket(F.col("mv"), planes).alias("bucket"))
    q = b.filter(F.col("doc_id") == 0).select(
        F.col("mv").alias("qv"), F.col("bucket").alias("qb")
    )
    cos = sim.cosine(F.col("mv"), F.col("qv"))
    return (
        b.join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .filter(F.col("doc_id") != 0)
        .select("doc_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q227: Poisson bootstrap (scalable resampling for uncertainty estimates)
# ---------------------------------------------------------------------------

_BOOT_R = 10


def _boot_oracle() -> str:
    arms = []
    for b in range(_BOOT_R):
        arms.append(f"""
      SELECT {b} AS replica,
             CASE WHEN u{b} < 0.3679 THEN 0 WHEN u{b} < 0.7358 THEN 1 ELSE 2 END AS k,
             l_quantity AS q
      FROM u""")
    # 4 uniforms per digest (disjoint 8-hex windows, the minhash trick):
    # 10 replicas cost ceil(10/4)=3 md5 calls per row instead of 10
    u_cols = ", ".join(
        f"('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||"
        f" CAST(l_linenumber AS VARCHAR) || '#w{b // 4}'), {(b % 4) * 8 + 1}, 8))::UBIGINT"
        f" / 4294967296.0 AS u{b}"
        for b in range(_BOOT_R)
    )
    union = " UNION ALL ".join(arms)
    return f"""
    WITH u AS (SELECT l_orderkey, l_linenumber, l_quantity, {u_cols} FROM lineitem),
    r AS ({union})
    SELECT replica,
           CAST(sum(k) AS BIGINT) AS n_eff,
           round(CAST(sum(k * q) AS DOUBLE) / CAST(sum(k) AS DOUBLE), 6) AS boot_mean
    FROM r GROUP BY replica
    ORDER BY replica
    """


@query("q227_poisson_bootstrap", oracle=_boot_oracle())
def q227_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012 — 'Estimating
    uncertainty for massive data streams'): each row enters replica b with
    multiplicity ~ Poisson(1), so resampling needs NO global N, no shuffle,
    and no second pass — the bootstrap that actually runs at 100 TB.  The
    multiplicity draw is an md5-uniform three-point approximation of
    Poisson(1) (P(0)=P(1)=0.3679, P(2)=0.2642 — matched mean 0.9963,
    truncated tail documented), deterministic per (row, replica): replays
    across engines/retries and never leaks rows between replicas.
    l_quantity is integer-valued, so every replica mean is a ratio of exact
    integer sums — one division, bit-identical.  Returns 10 replica means;
    their spread IS the uncertainty estimate of mean(l_quantity)."""
    from .context import widen

    # the replica explode multiplies per-row compute 10x; a single-file scan
    # would serialize it on one core — widen() repairs scan parallelism
    # (no-op on a real multi-file table)
    li = widen(table(spark, sf_dir, "lineitem"))
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("#"), F.col("l_linenumber").cast("string")
    )
    digests = [
        F.md5(F.concat(key, F.lit(f"#w{w}"))) for w in range((_BOOT_R + 3) // 4)
    ]
    # ONE wide aggregate instead of an explode to R row-copies through the
    # hash aggregate (guide §2: 2R map-side-combined columns; identical
    # exact sums — k and q are integer-valued, totals < 2^53)
    agg_cols = []
    for b in range(_BOOT_R):
        u = (
            F.conv(F.substring(digests[b // 4], (b % 4) * 8 + 1, 8), 16, 10)
            .cast("bigint")
            / F.lit(4294967296.0)
        )
        k = (
            F.when(u < 0.3679, F.lit(0))
            .when(u < 0.7358, F.lit(1))
            .otherwise(F.lit(2))
        )
        agg_cols.append(F.sum(k).cast("bigint").alias(f"__n{b}"))
        agg_cols.append(F.sum(k * F.col("l_quantity")).alias(f"__s{b}"))
    wide = li.agg(*agg_cols)
    # replica axis re-expanded from the 1-row result (driver-trivial)
    return (
        wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("replica"),
                            F.col(f"__n{b}").alias("n_eff"),
                            F.round(
                                F.col(f"__s{b}").cast("double")
                                / F.col(f"__n{b}").cast("double"),
                                6,
                            ).alias("boot_mean"),
                        )
                        for b in range(_BOOT_R)
                    ]
                )
            ).alias("r")
        )
        .select("r.replica", "r.n_eff", "r.boot_mean")
        .orderBy("replica")
    )


# ---------------------------------------------------------------------------
# q228: CUSUM drift detection
# ---------------------------------------------------------------------------


@query(
    "q228_cusum_drift",
    oracle="""
    WITH h AS (
      SELECT event_id, user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hist
      FROM events WHERE user_id < 10
    )
    SELECT event_id, user_id, ts, value,
           round(list_reduce(list_prepend(0.0, hist),
                             (s, v) -> greatest(0.0, s + v - 55.0)), 6) AS cusum,
           (round(list_reduce(list_prepend(0.0, hist),
                        (s, v) -> greatest(0.0, s + v - 55.0)), 6) > 500.0) AS alarm
    FROM h ORDER BY user_id, ts, event_id
    """,
)
def q228_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarms per user (operators/temporal.cusum,
    target 50 + slack 5, threshold 500): persistent upward shifts in event
    value accumulate into s_t and trip ``alarm`` where any per-point
    threshold stays silent — the classic sequential change detector, as an
    order-pinned fold both engines replay exactly (same discipline as EWMA
    q206; same streaming escape hatch for unbounded histories)."""
    from .operators.temporal import cusum

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 10)
    out = cusum(
        ev, "user_id", "ts", "value", target=50.0, slack=5.0, tiebreak_col="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "cusum",
        (F.col("cusum") > 500.0).alias("alarm"),
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# q229: XML round-trip (Spark 4 native XML source)
# ---------------------------------------------------------------------------


@query(
    "q229_xml_roundtrip",
    oracle="""
    SELECT count(*)                       AS n_rows,
           count(s_name)                  AS n_names,
           round(sum(s_acctbal), 2)       AS bal_sum,
           min(s_name)                    AS min_name,
           max(s_suppkey)                 AS max_key,
           sum(s_nationkey)               AS nk_sum
    FROM supplier
    """,
)
def q229_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4's upstreamed spark-xml —
    completing the text-format matrix: csv q90, json q91, text q143, now
    xml): write supplier as <row> elements, read it back with an explicit
    schema, aggregate.  The oracle aggregates the original parquet —
    equality proves element/attribute/type fidelity through the markup
    format.  Avro is the one mainstream format documented UNSUPPORTED here
    (external spark-avro jar, absent in this environment)."""
    from .catalog_sources import _scratch
    from .sources import files as fs

    s = table(spark, sf_dir, "supplier")
    path = _scratch("xml_supplier", sf_dir)
    fs.write_xml(s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), path)
    back = fs.read_xml(
        spark,
        path,
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s_name").alias("n_names"),
        F.round(F.sum("s_acctbal"), 2).alias("bal_sum"),
        F.min("s_name").alias("min_name"),
        F.max("s_suppkey").alias("max_key"),
        F.sum("s_nationkey").cast("bigint").alias("nk_sum"),
    )


# ---------------------------------------------------------------------------
# q230: DataFrame.transpose (Spark 4 API)
# ---------------------------------------------------------------------------


@query(
    "q230_transpose",
    oracle="""
    WITH a AS (
      SELECT l_returnflag AS f,
             round(sum(l_quantity), 2)      AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(avg(l_discount), 6)      AS avg_disc
      FROM lineitem GROUP BY 1
    )
    SELECT 'avg_disc' AS key,
           max(CASE WHEN f = 'A' THEN avg_disc END) AS A,
           max(CASE WHEN f = 'N' THEN avg_disc END) AS N,
           max(CASE WHEN f = 'R' THEN avg_disc END) AS R
    FROM a
    UNION ALL
    SELECT 'sum_price',
           max(CASE WHEN f = 'A' THEN sum_price END),
           max(CASE WHEN f = 'N' THEN sum_price END),
           max(CASE WHEN f = 'R' THEN sum_price END)
    FROM a
    UNION ALL
    SELECT 'sum_qty',
           max(CASE WHEN f = 'A' THEN sum_qty END),
           max(CASE WHEN f = 'N' THEN sum_qty END),
           max(CASE WHEN f = 'R' THEN sum_qty END)
    FROM a
    ORDER BY key
    """,
)
def q230_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (new in Spark 4): flip a per-flag metrics frame
    so metrics become rows and flags become columns — the
    report-orientation pivot analysts do by hand with N conditional
    aggregates (which is exactly how the oracle replays it).  Spark
    requires a common value type (all double here) and sorts the new
    columns by index value, both pinned by the oracle's shape."""
    li = table(spark, sf_dir, "lineitem")
    agged = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    return agged.transpose().orderBy("key")


# ---------------------------------------------------------------------------
# q231: SQL pipe syntax (Spark 4 SQL surface)
# ---------------------------------------------------------------------------


@query(
    "q231_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity > 25
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q231_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>, new in Spark 4 — the sequential query form from
    Google's 'SQL Has Problems' pipe-syntax paper): the same
    filter->aggregate as classic SQL, written as a left-to-right pipeline.
    Compiles to the identical Catalyst plan; the oracle is the classic
    spelling, proving the two syntaxes are one engine surface."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity > 25
        |> AGGREGATE count(*) AS n,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, revenue
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# q232: SQL session variables (Spark 4 SQL surface)
# ---------------------------------------------------------------------------


@query(
    "q232_sql_variables",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_quantity), 2) AS qty_sum
    FROM lineitem
    WHERE l_quantity > 30.0 AND l_discount BETWEEN 0.02 AND 0.08
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q232_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VAR, new in Spark 4): thresholds
    live as typed session state instead of string-spliced literals — the
    parameterization mechanism for SQL-first pipelines (safe against
    injection, visible in EXPLAIN as constants after binding).  The oracle
    runs the same query with the values inlined, proving variable binding
    is pure sugar over literals."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE qty_cut DOUBLE DEFAULT 25.0")
    spark.sql("DECLARE OR REPLACE VARIABLE disc_lo DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE disc_hi DOUBLE DEFAULT 1.0")
    spark.sql("SET VAR qty_cut = 30.0")
    spark.sql("SET VAR disc_lo = 0.02")
    spark.sql("SET VAR disc_hi = 0.08")
    return spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity), 2) AS qty_sum
        FROM lineitem
        WHERE l_quantity > qty_cut AND l_discount BETWEEN disc_lo AND disc_hi
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# q233: personalized PageRank (seeded restart)
# ---------------------------------------------------------------------------


@query(
    "q233_personalized_pagerank",
    oracle="""
    WITH e AS (SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst
               FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node,
                  CAST(CASE WHEN node < 10 THEN 1000000 ELSE 0 END AS BIGINT) AS r
           FROM nodes),
    c1 AS (SELECT e.dst AS node, sum((85 * r0.r) // (100 * deg.outdeg)) AS s
           FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
    r1 AS (SELECT n.node,
                  CAST(CASE WHEN n.node < 10 THEN 150000 ELSE 0 END
                       + COALESCE(c1.s, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN c1 USING (node)),
    c2 AS (SELECT e.dst AS node, sum((85 * r1.r) // (100 * deg.outdeg)) AS s
           FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
    r2 AS (SELECT n.node,
                  CAST(CASE WHEN n.node < 10 THEN 150000 ELSE 0 END
                       + COALESCE(c2.s, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN c2 USING (node))
    SELECT node, r FROM r2 WHERE r > 0 ORDER BY r DESC, node LIMIT 50
    """,
)
def q233_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.pagerank(seeds=...), topic-
    sensitive variant, Haveliwala 2002): restart mass flows only to the
    seed nodes {0..9}, so rank measures proximity-weighted authority
    RELATIVE to the seed neighborhood — the query-biased ranking behind
    related-item recommendation and seed-expansion corpus selection (the
    personalized form of q149's authority-weighted sampling).  Same graph
    and fixed-point integer recurrence as q135, same 2-round chained-CTE
    oracle, bit-identical under any partitioning; only rank-reachable
    nodes (r > 0) return."""
    from .operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    r = pagerank(e, "src", "dst", n_iter=2, seeds=list(range(10)))
    return (
        r.filter(F.col("r") > 0)
        .orderBy(F.col("r").desc(), "node")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q234: A/B experiment readout with bootstrap uncertainty
# ---------------------------------------------------------------------------


@query(
    "q234_ab_bootstrap",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'ab1'), 1, 8))::UBIGINT
                       / 4294967296.0 < 0.5
                  THEN 'A' ELSE 'B' END AS arm,
             user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    u AS (
      SELECT arm, cents,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#w0'), 1, 8))::UBIGINT
               / 4294967296.0 AS u0,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#w0'), 9, 8))::UBIGINT
               / 4294967296.0 AS u1,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#w0'), 17, 8))::UBIGINT
               / 4294967296.0 AS u2
      FROM assigned
    ),
    r AS (
      SELECT arm, 0 AS replica,
             CASE WHEN u0 < 0.3679 THEN 0 WHEN u0 < 0.7358 THEN 1 ELSE 2 END AS k,
             cents FROM u
      UNION ALL
      SELECT arm, 1,
             CASE WHEN u1 < 0.3679 THEN 0 WHEN u1 < 0.7358 THEN 1 ELSE 2 END, cents FROM u
      UNION ALL
      SELECT arm, 2,
             CASE WHEN u2 < 0.3679 THEN 0 WHEN u2 < 0.7358 THEN 1 ELSE 2 END, cents FROM u
    )
    SELECT arm, replica,
           CAST(sum(k) AS BIGINT) AS n_eff,
           round(CAST(sum(k * cents) AS DOUBLE)
                 / (100.0 * CAST(sum(k) AS DOUBLE)), 6) AS boot_mean
    FROM r GROUP BY arm, replica
    ORDER BY arm, replica
    """,
)
def q234_ab_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout end-to-end: users hash-assigned 50/50 to arms
    (the q94 deterministic-split discipline — a user NEVER changes arms
    across reruns), purchase values bootstrapped per arm (q227's Poisson
    replicas), yielding per-arm replica means whose spread is the
    uncertainty band an A/B decision reads.  The metric is cents —
    ``round(value*100)`` is one identical op per row on both engines, so
    replica sums are exact integers and every mean is a single division
    (the repo's no-float-accumulation rule applied to money).

    Scale: assignment and multiplicity draws are narrow maps; one (arm,
    replica)-keyed combine.  3 replicas here for the demo; production runs
    100+ at the same per-row cost shape."""
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    arm_u = (
        F.conv(F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit("ab1"))), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    assigned = ev.select(
        F.when(arm_u < 0.5, F.lit("A")).otherwise(F.lit("B")).alias("arm"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    digest = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#w0")))
    replicas = []
    for b in range(3):
        u = (
            F.conv(F.substring(digest, b * 8 + 1, 8), 16, 10).cast("bigint")
            / F.lit(4294967296.0)
        )
        k = (
            F.when(u < 0.3679, F.lit(0)).when(u < 0.7358, F.lit(1)).otherwise(F.lit(2))
        )
        replicas.append(F.struct(F.lit(b).alias("replica"), k.alias("k")))
    exploded = assigned.select(
        "arm", "cents", F.explode(F.array(*replicas)).alias("r")
    ).select("arm", F.col("r.replica").alias("replica"), F.col("r.k").alias("k"), "cents")
    return (
        exploded.groupBy("arm", "replica")
        .agg(
            F.sum("k").cast("bigint").alias("n_eff"),
            F.round(
                F.sum(F.col("k") * F.col("cents")).cast("double")
                / (F.lit(100.0) * F.sum("k").cast("double")),
                6,
            ).alias("boot_mean"),
        )
        .orderBy("arm", "replica")
    )


# ---------------------------------------------------------------------------
# q235: Holt linear-trend smoothing + forecast
# ---------------------------------------------------------------------------


@query(
    "q235_holt_trend",
    oracle="""
    WITH h AS (
      SELECT event_id, user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hist
      FROM events WHERE user_id < 8
    ),
    s AS (
      SELECT event_id, user_id, ts, value,
             list_reduce(
               list_prepend([hist[1], 0.0], list_transform(hist, x -> [x])),
               (acc, v) -> [0.5*v[1] + 0.5*(acc[1]+acc[2]),
                            0.25*((0.5*v[1] + 0.5*(acc[1]+acc[2])) - acc[1])
                              + 0.75*acc[2]]) AS st
      FROM h
    )
    SELECT event_id, user_id, ts, value,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast_1
    FROM s ORDER BY user_id, ts, event_id
    """,
)
def q235_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing with one-step forecast
    (operators/temporal.holt_linear, alpha=0.5 beta=0.25 — dyadic
    coefficients, so 1-a/1-b are exact): level + trend per user event
    series, the forecasting upgrade over EWMA's level-only smoothing.  The
    two-state recurrence folds as a [level, trend] list accumulator over
    [x] element lists — the same-type-fold trick that makes multi-state
    recurrences engine-replayable (DuckDB list_reduce requires acc type ==
    element type)."""
    from .operators.temporal import holt_linear

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 8)
    out = holt_linear(
        ev, "user_id", "ts", "value", alpha=0.5, beta=0.25, tiebreak_col="event_id"
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "level", "trend", "forecast_1"
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# q340: Misra-Gries heavy hitters — guarantee certificate vs exact counts
# ---------------------------------------------------------------------------


@query(
    "q340_misra_gries_hh",
    oracle="""
    WITH words AS (
      SELECT substr(unnest(string_split(text, ' ')), 1, 1) AS word
      FROM documents),
    exact AS (SELECT word, CAST(count(*) AS BIGINT) AS true_count
              FROM words GROUP BY word),
    tot AS (SELECT CAST(sum(true_count) AS BIGINT) AS n FROM exact)
    SELECT e.word, e.true_count,
           TRUE AS present, TRUE AS under_ok, TRUE AS bound_ok
    FROM exact e, tot
    WHERE e.true_count * 16 > tot.n
    ORDER BY e.word
    """,
)
def q340_misra_gries_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/sketches.misra_gries, k=15) over
    the word-initial token stream (naturally Zipf-skewed: 's' carries ~20%,
    19 distinct > k so decrements and the merge subtraction genuinely fire),
    with the guarantee AUDITED against exact counts — the q330-style
    certificate pattern: MG estimates are partition-layout-dependent (any MG
    execution's are), but the THEOREM is not, so the query outputs, for
    every token with true frequency > N/(k+1): present-in-sketch,
    est <= true, and (true - est)*(k+1) <= N — all integer comparisons, all
    guaranteed TRUE by the mergeable-summaries mass argument, all computed
    from the live sketch (a buggy merge turns them FALSE and the
    constant-true oracle catches it).  Completes the sketch family: count-min answers point
    frequencies, HLL answers distincts, MG answers WHICH items are frequent.
    Scale: one shuffle-free mapInPandas pass to partitions*k rows, merge
    shuffles only those."""
    from .operators.sketches import misra_gries

    k = 15
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w0")).select(
        F.substring("w0", 1, 1).alias("word")
    )
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("true_count"))
    n = exact.agg(F.sum("true_count").alias("n"))
    mg = misra_gries(words, "word", k).withColumnRenamed("token", "word")
    heavy = exact.crossJoin(F.broadcast(n)).filter(
        F.col("true_count") * (k + 1) > F.col("n")
    )
    return (
        heavy.join(mg, "word", "left")
        .select(
            "word",
            F.col("true_count").cast("bigint").alias("true_count"),
            F.col("est").isNotNull().alias("present"),
            (F.col("est") <= F.col("true_count")).alias("under_ok"),
            ((F.col("true_count") - F.col("est")) * (k + 1) <= F.col("n")).alias(
                "bound_ok"
            ),
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# q341: streaming Misra-Gries heavy hitters (bounded state, sharded)
# ---------------------------------------------------------------------------


@query(
    "q341_stream_heavy_hitters",
    oracle="""
    WITH words AS (
      SELECT substr(unnest(string_split(text, ' ')), 1, 1) AS token
      FROM documents),
    sh AS (
      SELECT token,
             CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 4 AS INT) AS shard
      FROM words),
    exact AS (SELECT shard, token, CAST(count(*) AS BIGINT) AS true_count
              FROM sh GROUP BY shard, token),
    mass AS (SELECT shard, CAST(sum(true_count) AS BIGINT) AS ns
             FROM exact GROUP BY shard)
    SELECT e.shard, e.token, e.true_count,
           TRUE AS present, TRUE AS under_ok, TRUE AS bound_ok
    FROM exact e JOIN mass m ON m.shard = e.shard
    WHERE e.true_count * 4 > m.ns
    ORDER BY e.shard, e.token
    """,
)
def q341_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q340's Misra-Gries summary as a REAL stateful Structured Streaming
    query (streaming/ops.stream_heavy_hitters: tokens shard by md5,
    applyInPandasWithState holds ONE k=3 counter summary per shard —
    bounded bytes regardless of stream length).  Certificate semantics
    match q340: per shard, every token with true count > N_shard/(k+1)
    must be present in the final summary with true-N_shard/(k+1) <= est <=
    true — integer comparisons, layout- and batch-boundary-independent,
    computed from the live streaming state and compared to the constant-
    true oracle over exact counts.  Sharding tightens the bound (N_shard <
    N) and distributes the state store — the parallel-MG construction."""
    import os

    from .catalog_sources import _scratch
    from .streaming import ops as st

    k, nshards = 3, 4
    path = _scratch("stream_documents", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "documents").write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = st.read_stream_parquet(spark, path, schema)
    toks = stream.select(
        F.explode(F.split(F.col("text"), " ")).alias("w0")
    ).select(F.substring("w0", 1, 1).alias("token"))
    raw = st.run_available_now(
        st.stream_heavy_hitters(toks, token_col="token", k=k, nshards=nshards),
        "q341_sink",
        output_mode="update",
    )
    # latest emission per shard (window over the tiny memory-sink table —
    # bounded by shards * k rows per batch; a self-join would conflict on
    # the sink view's attribute ids)
    mg = (
        raw.withColumn("__mx", F.max("ver").over(Window.partitionBy("shard")))
        .filter(F.col("ver") == F.col("__mx"))
        .select("shard", "token", "est")
    )

    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w0")).select(
        F.substring("w0", 1, 1).alias("token")
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("bigint")
        % nshards
    ).cast("int")
    exact = (
        words.select("token", shard.alias("shard"))
        .groupBy("shard", "token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    mass = exact.groupBy("shard").agg(F.sum("true_count").alias("ns"))
    heavy = exact.join(mass, "shard").filter(
        F.col("true_count") * (k + 1) > F.col("ns")
    )
    return (
        heavy.join(mg, ["shard", "token"], "left")
        .select(
            "shard",
            "token",
            F.col("true_count").cast("bigint").alias("true_count"),
            F.col("est").isNotNull().alias("present"),
            (F.col("est") <= F.col("true_count")).alias("under_ok"),
            ((F.col("true_count") - F.col("est")) * (k + 1) <= F.col("ns")).alias(
                "bound_ok"
            ),
        )
        .orderBy("shard", "token")
    )
