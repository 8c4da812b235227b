"""Catalog round 6 (continued): q245-q258.

CUPED experiment variance reduction, blocked fuzzy string matching,
equi-depth histogram without a global sort, a Benford first-digit audit,
the exact set-similarity join via prefix filtering (the guaranteed-recall
counterpart to the LSH family), corrupt-record-tolerant JSON ingestion,
RFM segmentation, seasonal-adjusted robust anomaly detection, end-to-end
entity resolution, point-in-time feature-store assembly, the
covariance matrix, nearest as-of join, small-file compaction, and
Kaplan-Meier survival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_events, query, table
from .sources.lakehouse_util import local_rows_df as _lrd

__all__: list[str] = []


# ---------------------------------------------------------------------------
# q245: CUPED variance reduction
# ---------------------------------------------------------------------------


@query(
    "q245_cuped",
    oracle="""
    WITH units AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN ts <  TIMESTAMP '2024-01-16' THEN value ELSE 0 END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value ELSE 0 END) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS xbar
          FROM units),
    adj AS (SELECT arm, y, y - theta * (x - xbar) AS adj_y, theta
            FROM units CROSS JOIN g)
    SELECT arm AS arm, CAST(count(*) AS BIGINT) AS n,
           round(avg(y), 4) AS mean_y,
           round(avg(adj_y), 4) AS mean_adj,
           round(var_pop(y), 2) AS var_y,
           round(var_pop(adj_y), 2) AS var_adj,
           round(1 - var_pop(adj_y) / var_pop(y), 6) AS var_reduction,
           round(max(theta), 6) AS theta
    FROM adj GROUP BY 1 ORDER BY 1
    """,
)
def q245_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/experiments.cuped):
    units are users, arm = user_id mod 2 (deterministic assignment), the
    experiment metric y is the user's event-value sum in the back half of
    January, the covariate x the front half.  θ = cov(x,y)/var(x) pooled,
    adjusted_y = y - θ(x - x̄); ``var_reduction`` is the fraction of metric
    variance the covariate removes (≈ corr²) — the experiment-duration
    win CUPED is used for.  Complements the bootstrap readout (q234) with
    the closed-form adjustment.  All plain partial aggregates: per-user
    rollup, two pooled scalars broadcast back, per-arm moments."""
    from .operators.experiments import cuped

    split = F.lit("2024-01-16").cast("timestamp")
    ev = load_events(spark, sf_dir)
    units = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    out = cuped(units, "arm", "y", "x")
    return out.select(
        "arm",
        "n",
        F.round("mean_y", 4).alias("mean_y"),
        F.round("mean_adj", 4).alias("mean_adj"),
        F.round("var_y", 2).alias("var_y"),
        F.round("var_adj", 2).alias("var_adj"),
        F.round("var_reduction", 6).alias("var_reduction"),
        F.round("theta", 6).alias("theta"),
    ).orderBy("arm")


# ---------------------------------------------------------------------------
# q246: blocked fuzzy string matching (Levenshtein within blocks)
# ---------------------------------------------------------------------------


@query(
    "q246_fuzzy_match",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
      FROM part WHERE p_partkey < 300
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY id_a, id_b
    """,
)
def q246_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching: part-name pairs within an edit
    distance of 4, candidate-limited to pairs sharing the first token
    (classic record-linkage blocking — the recall trade is explicit:
    pairs differing in the blocking key are unseen by design, exactly as
    in operators/dedup.blocked_weighted_jaccard).  Levenshtein runs only
    inside blocks, so cost is Σ|block|², never n² — and the shuffle key is
    the block token, AQE-splittable when one block runs hot.  Spark and
    DuckDB agree on levenshtein (unit-cost edit distance), making the
    verify stage engine-replayable."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            "p_name",
            F.substring_index("p_name", " ", 1).alias("blk"),
        )
    )
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"), "blk"
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("na", "nb"))
        .filter(F.col("dist") <= 4)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# q247: equi-depth histogram without a global sort
# ---------------------------------------------------------------------------


@query(
    "q247_equidepth_hist",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(l_extendedprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
      FROM lineitem
    ),
    b AS (
      SELECT 1 + len(list_filter(cs, c -> l_extendedprice >= c)) AS bucket,
             l_extendedprice AS v
      FROM lineitem CROSS JOIN cuts
    )
    SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           round(min(v), 2) AS lo, round(max(v), 2) AS hi
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q247_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of extended price — the complement of
    the fixed-width hist (q23).  The naive form is ``ntile(10)`` over a
    global sort: one partition holds everything.  The scalable form used
    here: one exact-percentile aggregate produces the 9 cut points (a
    single row, broadcast), then bucket assignment is a codegen'd
    fold over the cut array — scan-parallel, no global sort, no collect.
    Spark `percentile(array)` == DuckDB `quantile_cont(list)` keeps both
    engines on identical cut bits.  Above the scale.py row threshold the
    cuts auto-degrade to `percentile_approx` (KLL-style sketch, rank error
    ≤ n/accuracy — the q266 certificate), so at 100 TB no executor ever
    buffers the full value set; parity bound pinned in
    tests/test_scale_mode.py."""
    from .scale import APPROX_ACCURACY, use_approx

    li = table(spark, sf_dir, "lineitem")
    qs = [i / 10.0 for i in range(1, 10)]
    qarr = F.array(*[F.lit(q) for q in qs])
    if use_approx(li, path=f"{sf_dir}/lineitem.parquet"):
        cut_expr = F.percentile_approx("l_extendedprice", qarr, APPROX_ACCURACY)
    else:
        cut_expr = F.percentile("l_extendedprice", qarr)
    cuts = li.agg(cut_expr.cast("array<double>").alias("cs"))
    b = li.crossJoin(F.broadcast(cuts)).select(
        (
            1
            + F.aggregate(
                "cs",
                F.lit(0),
                lambda acc, c: acc
                + F.when(F.col("l_extendedprice") >= c, 1).otherwise(0),
            )
        ).alias("bucket"),
        F.col("l_extendedprice").alias("v"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n", "lo", "hi")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q248: Benford first-digit audit
# ---------------------------------------------------------------------------


@query(
    "q248_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (), 6) AS obs_p,
           round(log10(1 + 1.0 / digit), 6) AS benford_p,
           round(n * 1.0 / sum(n) OVER () - log10(1 + 1.0 / digit), 6)
             AS deviation
    FROM c ORDER BY digit
    """,
)
def q248_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / corruption screen: observed first-significant-digit
    frequencies vs log10(1+1/d).  The digit is extracted numerically
    (value / 10^⌊log10 v⌋), never via string formatting, so both engines
    agree bit-for-bit.  Scan → 9-row aggregate; the windowed total runs
    over 9 rows.  (TPC-H totals are sums of uniform draws, so they bulge
    mid-range — the deviation column showing that is the audit working,
    not failing.)"""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    tot = Window.partitionBy()
    return c.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("obs_p"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        F.round(
            F.col("n") / F.sum("n").over(tot) - F.log10(1 + 1.0 / F.col("digit")),
            6,
        ).alias("deviation"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# q249: exact set-similarity join via prefix filtering
# ---------------------------------------------------------------------------


@query(
    "q249_prefix_setjoin",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != ''))
               AS toks
      FROM documents WHERE doc_id < 300
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                 (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
          >= 0.95
    ORDER BY id_a, id_b
    """,
)
def q249_prefix_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at Jaccard ≥ 0.95 via prefix
    filtering (operators/setjoin.prefix_jaccard_join — AllPairs/PPJoin):
    each doc orders its tokens by ``(count, token)``, rarest first, only
    the first ``|d| - ⌈t|d|⌉ + 1`` generate candidates, and the size
    filter ``t|a| ≤ |b| ≤ |a|/t`` drops pairs before the verify; every
    qualifying pair provably survives — the guaranteed-recall
    counterpart to MinHash-LSH (q72), at the cost of an exact-verify
    join instead of banding.  The oracle brute-forces all pairs (fine at
    300 docs); equality certifies zero false negatives.  Scale: the
    catalog call runs no Spark job (no global rank); candidates shuffle
    on prefix tokens (rare by construction), verification is codegen'd
    array_intersect on candidates only, and the token-count table is
    vocab-bounded."""
    from .operators.setjoin import prefix_jaccard_join

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("toks"),
        )
    )
    out = prefix_jaccard_join(d, "doc_id", "toks", threshold=0.95)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q250: corrupt-record tolerant JSON ingestion
# ---------------------------------------------------------------------------


@query(
    "q250_corrupt_json",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)      AS n_good,
           CAST(5 AS BIGINT)             AS n_corrupt,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum
    FROM supplier WHERE s_suppkey <= 40
    """,
)
def q250_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record tolerant ingestion (PERMISSIVE mode +
    ``_corrupt_record``): a JSON-lines directory holding valid supplier
    rows plus 5 deliberately malformed lines must load without failing,
    with the damage quantified — the production posture for 100 TB raw
    ingests where "one bad line kills the job" (FAILFAST) is not an
    option.  The oracle recomputes the good-row aggregate from the source
    table and pins the corrupt count as a literal (the 5 planted lines
    are part of the query's fixture).  Note the documented Spark caveat:
    the parsed frame is persisted before filtering on _corrupt_record
    (Spark disallows/miscounts corrupt-only projections on a lazy scan)."""
    from .catalog_sources import _scratch

    s = table(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= 40)
    path = _scratch("corrupt_json", sf_dir)
    s.select("s_suppkey", "s_name").write.mode("overwrite").json(path)
    bad = _lrd(spark, 
        [
            ('{"s_suppkey": not-a-number}',),
            ("{unclosed",),
            ("]]][[[",),
            ('{"s_suppkey": 1, "s_name": "x"',),
            ("plain text, not json at all",),
        ],
        "value string",
    )
    bad.coalesce(1).write.mode("append").text(path)
    from .operators.cache import persist_tracked

    parsed = persist_tracked(
        spark.read.schema("s_suppkey long, s_name string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    out = parsed.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("int")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("int")).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("s_suppkey"))).alias(
            "key_sum"
        ),
    )
    return out.select(
        F.col("n_good").cast("bigint").alias("n_good"),
        F.col("n_corrupt").cast("bigint").alias("n_corrupt"),
        F.col("key_sum").cast("bigint").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# q251: RFM customer segmentation
# ---------------------------------------------------------------------------


@query(
    "q251_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(epoch(o_orderdate)) AS recency,
             count(*) * 1.0          AS frequency,
             sum(o_totalprice)       AS monetary
      FROM orders GROUP BY 1
    ),
    cuts AS (
      SELECT quantile_cont(recency,   [0.25, 0.5, 0.75]) AS rc,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
             quantile_cont(monetary,  [0.25, 0.5, 0.75]) AS mc
      FROM rfm
    ),
    scored AS (
      SELECT 1 + len(list_filter(rc, c -> recency   >= c)) AS r_score,
             1 + len(list_filter(fc, c -> frequency >= c)) AS f_score,
             1 + len(list_filter(mc, c -> monetary  >= c)) AS m_score
      FROM rfm CROSS JOIN cuts
    )
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q251_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartile scores 1-4)
    — the classic customer-value census, built the scale-safe way: per-
    customer rollup, one percentile aggregate for all nine cut points,
    broadcast, codegen'd fold for bucket assignment (same no-global-sort
    discipline as q247 — an ntile over customers would single-partition
    the world).  Output is the segment census (score triple → count).
    Recency uses epoch seconds (numeric, engine-identical); quartiles
    keep the segment count readable (4³ max cells)."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("timestamp").cast("long")).alias("recency"),
        (F.count(F.lit(1)) * 1.0).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = rfm.agg(
        F.percentile("recency", qs).alias("rc"),
        F.percentile("frequency", qs).alias("fc"),
        F.percentile("monetary", qs).alias("mc"),
    )

    def score(metric: str, cut: str):
        return 1 + F.aggregate(
            cut, F.lit(0), lambda acc, c: acc + F.when(F.col(metric) >= c, 1).otherwise(0)
        )

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        score("recency", "rc").cast("int").alias("r_score"),
        score("frequency", "fc").cast("int").alias("f_score"),
        score("monetary", "mc").cast("int").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# q252: seasonal-adjusted robust anomaly detection
# ---------------------------------------------------------------------------


@query(
    "q252_seasonal_anomaly",
    oracle="""
    WITH hb AS (
      SELECT event_type, hour(ts) AS hr, sum(value) AS sv, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, hr,
             (sv / cnt) / (sum(sv) OVER (PARTITION BY event_type)
                           / sum(cnt) OVER (PARTITION BY event_type)) AS sidx
      FROM hb
    ),
    resid AS (
      SELECT e.event_type, e.value / i.sidx AS r
      FROM events e JOIN idx i
        ON e.event_type = i.event_type AND hour(e.ts) = i.hr
    ),
    med AS (SELECT event_type, quantile_cont(r, 0.5) AS med FROM resid GROUP BY 1),
    dev AS (SELECT resid.event_type, abs(r - med) AS absdev, med
            FROM resid JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad,
                   avg(absdev) AS meanad
            FROM dev GROUP BY 1),
    z AS (SELECT dev.event_type,
                 CASE WHEN mad > 0 THEN absdev / (1.4826 * mad)
                      WHEN meanad > 0 THEN absdev / (1.253314 * meanad)
                      ELSE 0.0 END AS absz
          FROM dev JOIN mad USING (event_type))
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN absz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           round(max(absz), 4) AS max_absz
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q252_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted robust anomaly detection — the composition the
    individual pieces exist for: deseasonalize each event value by its
    hour-of-day index (q243), then flag anomalies with MAD z-scores on the
    residuals (q240) per event type.  A point that is normal at peak hour
    and anomalous at 4am is caught; a plain threshold misses it.  Shapes
    compose without new machinery: bounded seasonal table broadcast back,
    two percentile passes, everything else partial aggregates."""
    ev = load_events(spark, sf_dir)
    hb = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.sum("value").alias("sv"), F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    idx = hb.select(
        "event_type",
        "hr",
        (
            (F.col("sv") / F.col("cnt"))
            / (F.sum("sv").over(w) / F.sum("cnt").over(w))
        ).alias("sidx"),
    )
    resid = ev.withColumn("hr", F.hour("ts")).join(
        F.broadcast(idx), ["event_type", "hr"]
    ).select("event_type", (F.col("value") / F.col("sidx")).alias("r"))
    from .operators.stats import mad_outliers

    out = mad_outliers(resid, "event_type", "r")
    return out.select(
        "event_type",
        "n",
        F.col("n_outliers").alias("n_anomalies"),
        F.round("max_absz", 4).alias("max_absz"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q253: entity resolution end-to-end (fuzzy match -> components -> canonical)
# ---------------------------------------------------------------------------

_Q253_PAIRS = """
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
            FROM part WHERE p_partkey < 300) a
      JOIN (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
            FROM part WHERE p_partkey < 300) b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@query(
    "q253_entity_resolution",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_Q253_PAIRS}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT DISTINCT a, a FROM edges
                    UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS pid, min(b) AS entity_id FROM reach GROUP BY a)
    SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(pid) AS BIGINT) AS min_member,
           CAST(max(pid) AS BIGINT) AS max_member
    FROM comp GROUP BY 1 ORDER BY entity_id
    """,
)
def q253_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocked fuzzy matching (q246's pairs)
    → connected components (operators/dedup.dup_clusters — transitive
    closure, because A~B and B~C must land in one entity even when A!~C)
    → per-entity summary with the canonical id (= component min).  This is
    the full record-linkage pipeline a catalog/CRM dedup runs, assembled
    from operators that each already proved out separately; the oracle
    replays the closure with a recursive CTE (same pattern as q93)."""
    from .operators.dedup import dup_clusters

    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            "p_name",
            F.substring_index("p_name", " ", 1).alias("blk"),
        )
    )
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"), "blk")
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"), "blk")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("na", "nb") <= 4)
        .select("id_a", "id_b")
    )
    comp = dup_clusters(pairs)
    return (
        comp.groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("min_member"),
            F.max("doc_id").alias("max_member"),
        )
        .orderBy("entity_id")
    )


# ---------------------------------------------------------------------------
# q254: point-in-time feature assembly (feature-store join)
# ---------------------------------------------------------------------------


@query(
    "q254_pit_features",
    oracle="""
    WITH buys AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND user_id < 50
    ),
    clicks AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'click' AND user_id < 50
    ),
    views AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'view' AND user_id < 50
    )
    SELECT b.event_id, b.user_id,
           CAST(b.ts AS VARCHAR) AS ts,
           round(b.value, 4) AS label_value,
           CAST((SELECT count(*) FROM views v
                 WHERE v.user_id = b.user_id AND v.ts <= b.ts) AS BIGINT)
             AS n_views_asof,
           round((SELECT c.value FROM clicks c
                  WHERE c.user_id = b.user_id AND c.ts <= b.ts
                  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), 4)
             AS last_click_value
    FROM buys b ORDER BY b.user_id, b.ts, b.event_id
    """,
)
def q254_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly (the feature-store
    join): for every purchase event, attach (a) the running view count
    as-of the purchase instant and (b) the most recent click value as-of
    it — using only information available at label time, the property that
    prevents feature leakage.  Built from one running-count window and one
    backward as-of join (operators/temporal.asof_join, q87's operator) —
    each a single key-partitioned shuffle; the oracle states the same
    semantics as correlated subqueries (fine at oracle scale, and the
    window/as-of forms ARE the scale path)."""
    from pyspark.sql import Window

    from .operators.temporal import asof_join

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 50)
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(1).alias("one")
    )
    # running view count via union trick: count views at-or-before each buy
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = buys.withColumn("__side", F.lit(1)).unionByName(
        views.withColumn("__side", F.lit(0)), allowMissingColumns=True
    )
    counted = (
        u.withColumn(
            "n_views_asof", F.sum(F.coalesce(F.col("one"), F.lit(0))).over(w)
        )
        .filter(F.col("__side") == 1)
        .select("event_id", "user_id", "ts", "value", "n_views_asof")
    )
    out = asof_join(counted, clicks, "user_id", "ts", right_prefix="c_")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.round("value", 4).alias("label_value"),
        F.col("n_views_asof").cast("bigint").alias("n_views_asof"),
        F.round("c_value", 4).alias("last_click_value"),
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# q255: distributed covariance matrix (PCA prep)
# ---------------------------------------------------------------------------


@query(
    "q255_covariance_matrix",
    oracle="""
    WITH v AS (
      SELECT vec_id, (embedding[1:8])::DOUBLE[] AS e FROM embeddings
    ),
    ex AS (
      SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) - 1 AS k
      FROM v
    ),
    g AS (
      SELECT a.k AS i, b.k AS j, sum(a.x * b.x) AS gv
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    m AS (SELECT k, avg(x) AS mk, count(*) AS n FROM ex GROUP BY 1)
    SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
           round(gv / mi.n - mi.mk * mj.mk, 6) AS cov
    FROM g JOIN m mi ON g.i = mi.k JOIN m mj ON g.j = mj.k
    ORDER BY i, j
    """,
)
def q255_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix over an embedding slice (operators/
    linalg.covariance_matrix) — the PCA / whitening preprocessing
    reduction: every row contributes its outer product, partial sums
    combine map-side, and the result is d² scalars regardless of row
    count.  Demonstrated on the first 8 dims (64 cells); the operator
    docstring states the block-panel recipe for large d.  The slice is
    cast to double *before* multiplying so both engines run the identical
    IEEE path."""
    from .operators.linalg import covariance_matrix

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias(
            "e"
        ),
    )
    out = covariance_matrix(e, "e")
    return out.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.round("cov", 6).alias("cov"),
    ).orderBy("i", "j")


# ---------------------------------------------------------------------------
# q256: nearest-direction as-of join
# ---------------------------------------------------------------------------


@query(
    "q256_asof_nearest",
    oracle="""
    WITH buys AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id < 50
    ),
    clicks AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'click' AND user_id < 50
    )
    SELECT b.event_id, b.user_id, CAST(b.ts AS VARCHAR) AS ts,
           round((SELECT c.value FROM clicks c
                  WHERE c.user_id = b.user_id
                  ORDER BY abs(epoch_us(c.ts) - epoch_us(b.ts)),
                           (c.ts > b.ts), c.event_id
                  LIMIT 1), 4) AS nearest_click_value
    FROM buys b ORDER BY b.user_id, b.ts, b.event_id
    """,
)
def q256_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/temporal.asof_join,
    direction='nearest' — completing pandas merge_asof's direction
    surface over the backward/forward pair q87 pinned): each purchase
    grabs the click closest in time on either side, ties preferring the
    at-or-before match.  Still one shuffle: both directional fills ride
    the same hash partitioning by key (one exchange, two window sorts),
    then a per-row gap comparison picks the winner — no second join, no
    range explosion."""
    from .operators.temporal import asof_join

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 50)
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(buys, clicks, "user_id", "ts", direction="nearest", right_prefix="c_")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.round("c_value", 4).alias("nearest_click_value"),
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# q257: small-file compaction
# ---------------------------------------------------------------------------


@query(
    "q257_compaction",
    oracle="""
    SELECT CAST(40 AS BIGINT) AS files_before,
           CAST(4 AS BIGINT)  AS files_after,
           CAST(count(*) AS BIGINT) AS rows
    FROM events WHERE user_id < 100
    """,
)
def q257_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/layout.compact_files) — the
    maintenance job that keeps a streaming-ingested table scannable: a
    deliberately fragmented 40-file copy of an events slice is rewritten
    into 4 range-sorted files (repartitionByRange(ts) +
    sortWithinPartitions, so per-file min-max ts stats become selective
    again).  The audit row (files before/after, row count) is the query
    result; the oracle pins the fixture's file counts and recomputes the
    row count from source — proving the rewrite is lossless.  At 100 TB
    this runs per partition directory over a small-file threshold."""
    from .catalog_sources import _scratch
    from .operators.layout import compact_files

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 100)
    src = _scratch("frag_events", sf_dir)
    dst = _scratch("compact_events", sf_dir)
    ev.repartition(40).write.mode("overwrite").parquet(src)
    audit = compact_files(spark, src, dst, target_files=4, sort_cols=["ts"])
    return _lrd(spark, 
        [
            (
                audit["files_before"],
                audit["files_after"],
                audit["rows"],
            )
        ],
        "files_before bigint, files_after bigint, rows bigint",
    )


# ---------------------------------------------------------------------------
# q258: Kaplan-Meier survival (user retention with censoring)
# ---------------------------------------------------------------------------


@query(
    "q258_kaplan_meier",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             date_diff('day', min(o_orderdate), max(o_orderdate)) AS t,
             max(o_orderdate) < TIMESTAMP '2000-06-01' AS observed
      FROM orders GROUP BY 1
    ),
    per_t AS (
      SELECT t, sum(CASE WHEN observed THEN 1 ELSE 0 END) AS d, count(*) AS c
      FROM u GROUP BY 1
    ),
    risk AS (
      SELECT t, d, sum(c) OVER (ORDER BY t DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS n_at_risk
      FROM per_t
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           round(CASE WHEN max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
                          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) = 1
                 THEN 0.0
                 ELSE exp(sum(ln(CASE WHEN d < n_at_risk
                                      THEN 1 - d * 1.0 / n_at_risk
                                      ELSE 1 END))
                          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW))
                 END, 6) AS survival
    FROM risk WHERE d > 0 ORDER BY t
    """,
)
def q258_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-retention curve with right censoring
    (operators/stats.kaplan_meier): lifetime = days between a customer's
    first and last order; customers still ordering near the dataset's
    horizon (last order ≥ 2000-06-01) are *censored* — they join every
    risk set up to their horizon but never count as churn events, the
    correction that keeps naive retention curves from biasing down.  The
    subject table collapses to per-distinct-day counts before any window,
    so the ordered windows run over the day axis (hundreds of rows at a
    6-year span), never over customers; the survival product is the
    identical exp(Σ ln) form in both engines."""
    from .operators.stats import kaplan_meier

    o = table(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("t"),
        (F.max("o_orderdate") < F.lit("2000-06-01").cast("timestamp")).alias("observed"),
    )
    out = kaplan_meier(u, "t", "observed")
    return out.select(
        F.col("t").cast("bigint").alias("t"),
        "n_at_risk",
        "d_events",
        F.round("survival", 6).alias("survival"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# q346: top principal component by fixed-round power iteration
# ---------------------------------------------------------------------------


@query(
    "q346_power_iteration_pc",
    oracle="""
    WITH v AS MATERIALIZED (SELECT vec_id, (embedding[1:8])::DOUBLE[] AS e FROM embeddings),
    ex AS MATERIALIZED (SELECT vec_id, unnest(e) AS xv, generate_subscripts(e, 1) - 1 AS k
           FROM v),
    g AS MATERIALIZED (SELECT a.k AS i, b.k AS j, sum(a.xv * b.xv) AS gv
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
    m AS MATERIALIZED (SELECT k, avg(xv) AS mk, count(*) AS n FROM ex GROUP BY 1),
    c AS MATERIALIZED (SELECT g.i, g.j,
                 floor((gv / mi.n - mi.mk * mj.mk) * 1000000) / 1000000 AS c
          FROM g JOIN m mi ON g.i = mi.k JOIN m mj ON g.j = mj.k),
    x0 AS MATERIALIZED (SELECT DISTINCT i AS j, CAST(1.0 AS DOUBLE) AS x FROM c),
    y1 AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x0.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x0 ON x0.j = c.j GROUP BY c.i),
    n1 AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY i)), (a, b) -> a + b * b)) AS nrm FROM y1),
    x1 AS MATERIALIZED (SELECT i AS j, y / nrm AS x FROM y1, n1),
    y2 AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x1.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x1 ON x1.j = c.j GROUP BY c.i),
    n2 AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY i)), (a, b) -> a + b * b)) AS nrm FROM y2),
    x2 AS MATERIALIZED (SELECT i AS j, y / nrm AS x FROM y2, n2),
    y3 AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x2.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x2 ON x2.j = c.j GROUP BY c.i),
    n3 AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY i)), (a, b) -> a + b * b)) AS nrm FROM y3),
    x3 AS MATERIALIZED (SELECT i AS j, y / nrm AS x FROM y3, n3),
    y4 AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x3.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x3 ON x3.j = c.j GROUP BY c.i),
    n4 AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY i)), (a, b) -> a + b * b)) AS nrm FROM y4),
    x4 AS MATERIALIZED (SELECT i AS j, y / nrm AS x FROM y4, n4),
    y5 AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x4.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x4 ON x4.j = c.j GROUP BY c.i),
    n5 AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY i)), (a, b) -> a + b * b)) AS nrm FROM y5),
    x5 AS MATERIALIZED (SELECT i AS j, y / nrm AS x FROM y5, n5),
    yf AS MATERIALIZED (SELECT c.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c.c * x5.x ORDER BY c.j)), (a, b) -> a + b) AS y
           FROM c JOIN x5 ON x5.j = c.j GROUP BY c.i),
    ray AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(x5.x * yf.y ORDER BY yf.i)), (a, b) -> a + b) AS r
            FROM yf JOIN x5 ON x5.j = yf.i),
    tr AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(c ORDER BY i)), (a, b) -> a + b) AS t
           FROM c WHERE i = j)
    SELECT CAST(x5.j AS INT) AS i,
           floor(x5.x * 1000000) / 1000000 AS comp,
           floor(ray.r * 1000000) / 1000000 AS rayleigh,
           floor(ray.r / tr.t * 1000000) / 1000000 AS var_frac
    FROM x5, ray, tr ORDER BY i
    """,
)
def q346_power_iteration_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding slice by 5 fixed power-
    iteration rounds (operators/linalg.power_iteration) over the floor-
    quantized covariance matrix (q255's reduction) — PCA without any
    driver-side eigensolver: the matrix stays a d²-row frame, each round
    is one broadcast join + d-row shuffle, and rounds are pure functions
    of the quantized input, so the oracle unrolls the identical IEEE
    path (ordered folds everywhere; floor-at-6 quantization makes the
    cross-engine float-sum drift in the covariance irrelevant).  Also
    emits the Rayleigh quotient (top eigenvalue estimate) and the
    variance fraction it explains (vs the trace)."""
    from .operators.linalg import (
        covariance_matrix,
        fold_ordered,
        matvec_ordered,
        power_iteration,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias(
            "e"
        ),
    )
    # d² = 64 rows: ONE partition (a 32-way shuffle of 64 rows costs more
    # in stage latency than it will ever buy), persisted once for the rounds
    cq = covariance_matrix(e, "e").select(
        "i", "j", (F.floor(F.col("cov") * 1e6) / 1e6).alias("cov")
    )
    cq = cq.coalesce(1).persist()
    x = power_iteration(cq, iters=5)
    c = cq.select("i", "j", F.col("cov").alias("c"))
    yf = matvec_ordered(c, x.select(F.col("i").alias("j"), "x"))
    ray = fold_ordered(
        yf.join(x, "i").select("i", (F.col("x") * F.col("y")).alias("p")),
        "i",
        "p",
        lambda a, v: a + v,
    ).select(F.col("acc").alias("r"))
    tr = fold_ordered(
        c.filter(F.col("i") == F.col("j")).select("i", "c"),
        "i",
        "c",
        lambda a, v: a + v,
    ).select(F.col("acc").alias("t"))
    return (
        x.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("i").cast("int").alias("i"),
            (F.floor(F.col("x") * 1e6) / 1e6).alias("comp"),
            (F.floor(F.col("r") * 1e6) / 1e6).alias("rayleigh"),
            (F.floor(F.col("r") / F.col("t") * 1e6) / 1e6).alias("var_frac"),
        )
        .orderBy("i")
    )
