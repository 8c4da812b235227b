"""Catalog round 6 (continued): q259-q287.

TextRank keyword extraction (graph ∘ ranking composition), offline policy
evaluation (IPS / SNIPS / ESS), calibration reliability + Brier score, the
interval×interval overlap join, referential-integrity / k-anonymity /
sequence-gap governance audits, approx-sketch error certificates (HLL,
percentile, count-min, mergeable-HLL rollup), skew-rewrite exactness pins
(salted agg + join), samplers and encoders (A-ES reservoir, mixture
weights, target encoding, feature hashing), ranking eval (nDCG/MRR,
phrase search), BFS k-hop, OHLC bars, backtest folds, streaming drift,
schema evolution, dynamic partition pruning, and null-semantics pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import load_events, query, table
from .sources.lakehouse_util import local_rows_df as _lrd

__all__: list[str] = []


# ---------------------------------------------------------------------------
# q259: TextRank keyword extraction
# ---------------------------------------------------------------------------


def _q259_oracle() -> str:
    # unrolled 2-iteration integer fixed-point PageRank (q135's discipline)
    # over the bigram co-occurrence graph, string-keyed
    return """
    WITH t0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tl
      FROM documents WHERE doc_id < 100
    ),
    t AS (SELECT * FROM t0 WHERE len(tl) >= 2),
    bg AS (
      SELECT unnest(tl[1:len(tl) - 1]) AS a, unnest(tl[2:len(tl)]) AS b
      FROM t
    ),
    e AS (SELECT DISTINCT a AS src, b AS dst FROM bg WHERE a <> b
          UNION SELECT DISTINCT b, a FROM bg WHERE a <> b),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    c1 AS (SELECT e.dst AS node, sum((85 * r0.r) // (100 * deg.outdeg)) AS s
           FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
    r1 AS (SELECT n.node, CAST(150000 + COALESCE(c1.s, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN c1 USING (node)),
    c2 AS (SELECT e.dst AS node, sum((85 * r1.r) // (100 * deg.outdeg)) AS s
           FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
    r2 AS (SELECT n.node, CAST(150000 + COALESCE(c2.s, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN c2 USING (node))
    SELECT node AS keyword, r FROM r2 ORDER BY r DESC, keyword LIMIT 20
    """


@query("q259_textrank", oracle=_q259_oracle())
def q259_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction — PageRank over the word co-occurrence
    graph (Mihalcea & Tarau '04): adjacent-word bigrams become undirected
    edges, the stationary rank surfaces the corpus's central vocabulary.
    Pure composition: the bigram builder is array expressions, the rank is
    the existing integer fixed-point ``operators/graph.pagerank`` (2
    iterations, damping 0.85 — deterministic integer arithmetic both
    engines replay exactly, q135's discipline), and the top-20 sits under
    a total order.  Scale: edges are DISTINCT bigrams (vocab²-bounded, in
    practice near-linear in corpus), each rank round is one join +
    aggregate."""
    from .operators.graph import pagerank

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.filter(F.split("text", " "), lambda x: x != "").alias("tl")
        )
        .filter(F.size("tl") >= 2)
    )
    bg = d.select(
        F.explode(
            F.expr(
                "transform(slice(tl, 1, size(tl)-1),"
                " (x, i) -> struct(x AS a, element_at(tl, i+2) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    edges = (
        bg.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(bg.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    r = pagerank(edges, "src", "dst", n_iter=2)
    return (
        r.select(F.col("node").alias("keyword"), "r")
        .orderBy(F.desc("r"), "keyword")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q260: offline policy evaluation (IPS / SNIPS / ESS)
# ---------------------------------------------------------------------------


@query(
    "q260_policy_eval",
    oracle="""
    WITH logged AS (
      SELECT value AS reward,
             CASE WHEN event_type = 'purchase' THEN 1.0 / 0.2 ELSE 0.0 END AS w
      FROM events
    )
    SELECT round(avg(w * reward), 4) AS v_ips,
           round(sum(w * reward) / sum(w), 4) AS v_snips,
           round(pow(sum(w), 2) / sum(w * w), 2) AS ess,
           CAST(count(*) AS BIGINT) AS n_logged
    FROM logged
    """,
)
def q260_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline (off-policy) evaluation of a target policy from logged
    bandit feedback — the counterfactual "what would this policy have
    earned" estimate that gates policy rollouts without an online test.
    Logged policy: uniform over the 5 event actions (propensity 0.2, by
    construction of the fixture).  Target policy: always 'purchase'.
    Reports IPS (unbiased, high variance), self-normalized IPS (biased,
    low variance — the practical default), and the effective sample size
    (Σw)²/Σw² that tells you how much logged data actually supports the
    target policy.  One scan, one aggregate — embarrassingly scalable."""
    ev = load_events(spark, sf_dir)
    logged = ev.select(
        F.col("value").alias("reward"),
        F.when(F.col("event_type") == "purchase", 1.0 / 0.2)
        .otherwise(0.0)
        .alias("w"),
    )
    return logged.agg(
        F.round(F.avg(F.col("w") * F.col("reward")), 4).alias("v_ips"),
        F.round(
            F.sum(F.col("w") * F.col("reward")) / F.sum("w"), 4
        ).alias("v_snips"),
        F.round(F.pow(F.sum("w"), 2) / F.sum(F.col("w") * F.col("w")), 2).alias(
            "ess"
        ),
        F.count(F.lit(1)).alias("n_logged"),
    )


# ---------------------------------------------------------------------------
# q261: calibration reliability diagram + Brier score
# ---------------------------------------------------------------------------


@query(
    "q261_reliability",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#score'), 1, 8))
               ::UBIGINT / 4294967296.0 AS score,
             CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS label
      FROM events
    ),
    binned AS (
      SELECT CAST(floor(score * 10) AS INT) AS bin, score, label,
             avg(pow(score - label, 2)) OVER () AS brier
      FROM scored
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS avg_score,
           round(avg(label), 6) AS pos_rate,
           round(max(brier), 6) AS brier
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q261_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability diagram + Brier score — the model-eval
    verb: decile-binned predicted probability vs observed positive rate,
    with the overall Brier (mean squared probability error) alongside.
    The fixture's 'model' is a deterministic md5-derived score (both
    engines replay it bit-for-bit), so the diagram shows a flat
    uncalibrated baseline — the operator working, not a claim about the
    fixture.  Scale: one scan → 10-bin aggregate; the global Brier rides
    a whole-frame window over the already-binned rows."""
    ev = load_events(spark, sf_dir)
    score = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#score"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / 4294967296.0
    )
    scored = ev.select(
        score.alias("score"),
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("label"),
    )
    w = Window.partitionBy()
    binned = scored.select(
        F.floor(F.col("score") * 10).cast("int").alias("bin"),
        "score",
        "label",
        F.avg((F.col("score") - F.col("label")) ** 2).over(w).alias("brier"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(F.avg("label"), 6).alias("pos_rate"),
            F.round(F.max("brier"), 6).alias("brier"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q262: interval×interval overlap join (sessions × campaigns)
# ---------------------------------------------------------------------------


@query(
    "q262_interval_overlap",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id < 40
    ),
    sid AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM d
    ),
    sessions AS (
      SELECT user_id, epoch(min(ts)) AS s_lo, epoch(max(ts)) AS s_hi
      FROM sid GROUP BY user_id, sid
    ),
    campaigns AS (
      SELECT i AS day,
             epoch(make_timestamp(2024, 1, i, 10, 0, 0)) AS c_lo,
             epoch(make_timestamp(2024, 1, i, 14, 0, 0)) AS c_hi
      FROM range(1, 31) t(i)
    )
    SELECT CAST(c.day AS INT) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM sessions s JOIN campaigns c
      ON s.s_lo <= c.c_hi AND c.c_lo <= s.s_hi
    GROUP BY 1 ORDER BY 1
    """,
)
def q262_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/temporal.
    interval_overlap_join): which user sessions overlap which campaign
    windows — the attribution join both sides of which are *intervals*,
    completing the temporal-join family (as-of q87, point-in-interval
    q88).  The operator buckets both interval sets by a fixed width and
    equi-joins on the bucket, with the first-overlap-bucket rule emitting
    each pair exactly once — the theta join the oracle writes would plan
    as a nested loop at scale.  Sessions come from the same
    gaps-and-islands construction both engines share (q85)."""
    from .operators.temporal import interval_overlap_join

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 40)
    wlag = Window.partitionBy("user_id").orderBy("ts")
    wcum = wlag.rowsBetween(Window.unboundedPreceding, 0)
    sid = (
        ev.select(
            "user_id",
            "ts",
            F.when(
                (
                    F.col("ts").cast("long")
                    - F.lag(F.col("ts").cast("long")).over(wlag)
                    > 1800
                )
                | F.lag("ts").over(wlag).isNull(),
                1,
            )
            .otherwise(0)
            .alias("new_s"),
        )
        .withColumn("sid", F.sum("new_s").over(wcum))
    )
    sessions = sid.groupBy("user_id", "sid").agg(
        F.min(F.col("ts").cast("long")).alias("s_lo"),
        F.max(F.col("ts").cast("long")).alias("s_hi"),
    )
    campaigns = spark.range(1, 31).select(
        F.col("id").cast("int").alias("day"),
        F.unix_timestamp(
            F.make_timestamp(
                F.lit(2024), F.lit(1), F.col("id"), F.lit(10), F.lit(0), F.lit(0)
            )
        ).alias("c_lo"),
        F.unix_timestamp(
            F.make_timestamp(
                F.lit(2024), F.lit(1), F.col("id"), F.lit(14), F.lit(0), F.lit(0)
            )
        ).alias("c_hi"),
    )
    j = interval_overlap_join(
        sessions, "s_lo", "s_hi", campaigns, "c_lo", "c_hi", bucket_width=14400.0
    )
    return (
        j.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q263: referential-integrity audit
# ---------------------------------------------------------------------------


@query(
    "q263_ref_integrity",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS orphan_lineitems,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        AS orphan_orders,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
        AS orphan_customers,
      CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem,
      CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders
    """,
)
def q263_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the FK chain lineitem→orders→
    customer→nation: orphan counts per edge in one report row — the
    constraint check a lakehouse runs after every load (parquet enforces
    nothing).  Each orphan count is a left-anti join (hash, AQE-sized);
    the parent side of each check is the smaller table, so Catalyst
    broadcasts it.  Composes with the erasure cascade (q224): run this
    after deletes to prove no dangling children."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    # one lazy plan: each audit is a scalar aggregate branch, cross-joined
    # into the single report row (no driver-side .count() round trips)
    a1 = (
        li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    a2 = (
        o.join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    a3 = (
        c.join(n.select("n_nationkey"), c["c_nationkey"] == n["n_nationkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_customers"))
    )
    t1 = li.agg(F.count(F.lit(1)).alias("n_lineitem"))
    t2 = o.agg(F.count(F.lit(1)).alias("n_orders"))
    return a1.crossJoin(a2).crossJoin(a3).crossJoin(t1).crossJoin(t2)


# ---------------------------------------------------------------------------
# q264: HLL approx-distinct error-bound certificate
# ---------------------------------------------------------------------------


@query(
    "q264_hll_bound",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM lineitem
    """,
)
def q264_hll_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog error-bound certificate: the documented 100 TB
    substitution (``approx_count_distinct`` for exact distinct) is only
    trustworthy if its error bound actually holds — this query *checks*
    it inside the oracle gate: Spark computes both the exact distinct and
    the HLL++ estimate (rsd=0.02) and asserts |approx−exact|/exact ≤
    3·rsd; the oracle pins the exact count and the claim.  A Spark
    regression that blew the bound would fail the gate.  (The approx
    value itself is engine-specific, so the *certificate*, not the
    estimate, is the cross-engine contract.)"""
    li = table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count_distinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_approx"),
    )
    return agg.select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")
            <= 3 * 0.02
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# q265: salted two-phase aggregation (skew mitigation, exactness pinned)
# ---------------------------------------------------------------------------


@query(
    "q265_salted_agg",
    oracle="""
    SELECT l_suppkey, count(*) AS count
    FROM lineitem GROUP BY 1 ORDER BY l_suppkey
    """,
)
def q265_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.salted_agg_count):
    (key, salt) partial counts then a key-level merge — the manual skew
    break for reduce-side hot keys, with the salt a *deterministic* hash
    of the row (a rand() salt double-counts on task retry — the
    correctness trap this operator exists to avoid).  The oracle is the
    plain GROUP BY: equality certifies the two-phase rewrite is exact,
    which is the entire point of pinning it here."""
    from .operators.skew import salted_agg_count

    li = table(spark, sf_dir, "lineitem")
    return salted_agg_count(li, "l_suppkey", n_salts=8).orderBy("l_suppkey")


# ---------------------------------------------------------------------------
# q266: approx-percentile rank-error certificate
# ---------------------------------------------------------------------------


@query(
    "q266_approx_pct_bound",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok
    FROM lineitem
    """,
)
def q266_approx_pct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx rank-error certificate — the other half of the
    "swap exact percentiles for approx at 100 TB" claim made throughout
    (q26/q240/q247/q251): with accuracy=10000 the KLL-style sketch
    guarantees rank error ≤ n/accuracy; this query computes the true rank
    of each approximate quantile (one count-under pass against the
    broadcast scalars) and asserts it lands within the bound (+1 for
    boundary discreteness).  The oracle pins the claims as literals —
    a sketch regression fails the gate."""
    li = table(spark, sf_dir, "lineitem")
    acc = 10000
    apx = li.agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9)),
            F.lit(acc),
        ).alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    j = li.crossJoin(F.broadcast(apx))
    ranks = j.agg(
        F.max("n").alias("n"),
        F.sum(
            (F.col("l_extendedprice") <= F.element_at("qs", 1)).cast("long")
        ).alias("r25"),
        F.sum(
            (F.col("l_extendedprice") <= F.element_at("qs", 2)).cast("long")
        ).alias("r50"),
        F.sum(
            (F.col("l_extendedprice") <= F.element_at("qs", 3)).cast("long")
        ).alias("r90"),
    )

    def ok(rank_col: str, p: float):
        tol = F.col("n") / acc + 1
        return (
            F.abs(F.col(rank_col) - F.lit(p) * F.col("n")) <= tol
        )

    return ranks.select(
        F.col("n").cast("bigint").alias("n"),
        ok("r25", 0.25).alias("p25_ok"),
        ok("r50", 0.5).alias("p50_ok"),
        ok("r90", 0.9).alias("p90_ok"),
    )


# ---------------------------------------------------------------------------
# q267: weighted reservoir sampling (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------


@query(
    "q267_weighted_reservoir",
    oracle="""
    WITH u AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#res'), 1, 8))
                ::UBIGINT + 0.5) / 4294967296.0 AS uv
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, n_chars, pow(uv, 1.0 / n_chars) AS k FROM u
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, round(k, 8) AS k
    FROM keyed ORDER BY k DESC, doc_id LIMIT 25
    """,
)
def q267_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling *without* replacement via Efraimidis-Spirakis
    A-ES: each row draws key = u^(1/w) (u uniform from the md5 hash
    family, w = document length) and the k largest keys are the sample —
    inclusion probability proportional to weight, single pass, no
    sampling state, and fully mergeable (the top-k of a union is the
    top-k of per-partition top-ks: TakeOrderedAndProject does exactly
    that).  Complements the Bernoulli per-row `training.weighted_sample`
    with the fixed-size-k guarantee.  Deterministic: the draw is a pure
    function of doc_id, so the sample is stable under retries and
    repartitioning — the property random() samplers lose."""
    d = table(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#res"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            + 0.5
        )
        / 4294967296.0
    )
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.pow(u, 1.0 / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.select("doc_id", "n_chars", F.round("k", 8).alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q268: temperature-scaled dataset mixture weights
# ---------------------------------------------------------------------------


@query(
    "q268_mixture_weights",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_docs, sum(n_chars) AS n_chars
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs, n_chars, pow(n_docs, 0.3) AS raw
      FROM s
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           round(raw / sum(raw) OVER (), 6) AS mix_p,
           CAST(round(10000 * raw / sum(raw) OVER ()) AS BIGINT)
             AS alloc_10k
    FROM w ORDER BY source
    """,
)
def q268_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled dataset mixing weights (the multilingual /
    multi-source training-mixture rule, á la mT5: p_s ∝ n_s^α with
    α=0.3): upsamples small sources, tempers the head, and emits the
    per-source document allocation for a 10k-doc training budget.  Feeds
    directly into the deterministic samplers (q94 hash_split /
    q267 reservoir) to materialize the mixture.  One tiny aggregate —
    the window runs over the source axis."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy()
    raw = F.pow(F.col("n_docs"), 0.3)
    return s.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round(raw / F.sum(raw).over(w), 6).alias("mix_p"),
        F.round(10000 * raw / F.sum(raw).over(w), 0)
        .cast("bigint")
        .alias("alloc_10k"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q269: streaming per-day drift monitor (TVD vs static reference)
# ---------------------------------------------------------------------------


@query(
    "q269_stream_drift",
    oracle="""
    WITH binned AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 11
                  ELSE CAST(floor((value - 0.0) / 50.0) + 1 AS INT) END AS bin
      FROM events
    ),
    ref AS (
      SELECT bin, count(*) * 1.0 / (SELECT count(*) FROM binned) AS p
      FROM binned GROUP BY 1
    ),
    day_tot AS (SELECT win_start, count(*) AS dn FROM binned GROUP BY 1),
    day_bin AS (SELECT win_start, bin, count(*) AS n FROM binned GROUP BY 1, 2),
    grid AS (
      SELECT d.win_start, r.bin, r.p, d.dn, COALESCE(b.n, 0) AS n
      FROM day_tot d CROSS JOIN ref r
      LEFT JOIN day_bin b ON b.win_start = d.win_start AND b.bin = r.bin
    )
    SELECT CAST(win_start AS VARCHAR) AS win_start,
           CAST(max(dn) AS BIGINT) AS n_day,
           round(0.5 * sum(abs(n * 1.0 / dn - p)), 6) AS tvd
    FROM grid GROUP BY win_start ORDER BY win_start
    """,
)
def q269_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: a REAL Structured Streaming query
    (readStream → watermark → per-day binned histogram, availableNow)
    feeds a batch post-step that scores each day's value distribution
    against the whole-corpus reference by total variation distance — the
    production shape for "alert when today's traffic stops looking like
    the reference", here with full availableNow batch parity against the
    SQL oracle.  The streaming state is nbins+2 counters per open window;
    the TVD join runs on the tiny (days × bins) grid.  Composes the
    streaming histogram (streaming/ops.stream_binned_histogram) with the
    drift discipline of q214/q239."""
    from .catalog_rank import _stream_events
    from .streaming import ops as st

    stream = _stream_events(spark, sf_dir)
    per_day = st.run_available_now(
        st.stream_binned_histogram(
            stream, window="1 day", watermark="2 days", lo=0.0, hi=500.0, nbins=10
        ),
        "q269_sink",
    )
    # the memory-sink frame appears in three branches of one plan; rename
    # through fresh projections so the self-joins carry distinct attributes
    ref = per_day.groupBy(F.col("bin").alias("rbin")).agg(F.sum("n").alias("rn"))
    tot = ref.agg(F.sum("rn").alias("N"))
    refp = ref.crossJoin(F.broadcast(tot)).select(
        "rbin", (F.col("rn") / F.col("N")).alias("p")
    )
    day_tot = per_day.groupBy(F.col("win_start").alias("dws")).agg(
        F.sum("n").alias("dn")
    )
    day_bin = per_day.select(
        F.col("win_start").alias("bws"), F.col("bin").alias("bbin"), "n"
    )
    grid = (
        day_tot.crossJoin(F.broadcast(refp))
        .join(
            day_bin,
            (F.col("dws") == F.col("bws")) & (F.col("rbin") == F.col("bbin")),
            "left",
        )
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumnRenamed("dws", "win_start")
    )
    return (
        grid.groupBy("win_start")
        .agg(
            F.max("dn").cast("bigint").alias("n_day"),
            F.round(
                0.5 * F.sum(F.abs(F.col("n") / F.col("dn") - F.col("p"))), 6
            ).alias("tvd"),
        )
        .select(
            F.col("win_start").cast("string").alias("win_start"), "n_day", "tvd"
        )
        .orderBy("win_start")
    )


# ---------------------------------------------------------------------------
# q270: multi-source BFS hop distances (k-hop neighborhood)
# ---------------------------------------------------------------------------


@query(
    "q270_bfs_levels",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst
      FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(node, d) AS (
      SELECT * FROM (VALUES (0::BIGINT, 0), (1::BIGINT, 0), (2::BIGINT, 0),
                            (3::BIGINT, 0), (4::BIGINT, 0)) t(node, d)
      UNION
      SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.node
      WHERE r.d < 4
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM reach GROUP BY node ORDER BY node
    """,
)
def q270_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (operators/graph.bfs_levels): fewest
    hops from the seed set {0..4} within 4 hops on the undirected mod-500
    order/part graph (q135's graph) — the k-hop-neighborhood /
    blast-radius verb that completes the graph family next to PageRank
    (influence), connected components (membership), and triangles
    (density).  Each round is one join + min-aggregate with the same
    lineage-truncation guard as dup_clusters; the oracle replays it as a
    depth-bounded recursive CTE."""
    from .operators.graph import bfs_levels

    li = table(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    e = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    out = bfs_levels(e, "src", "dst", seeds=[0, 1, 2, 3, 4], max_hops=4)
    return out.select(
        "node", F.col("dist").cast("int").alias("dist")
    ).orderBy("node")


# ---------------------------------------------------------------------------
# q271: IR ranking quality — nDCG@10 + MRR over BM25
# ---------------------------------------------------------------------------


def _q271_oracle() -> str:
    from .catalog_rank import _q134_oracle

    return f"""
    WITH scores AS ({_q134_oracle()}),
    lab AS (
      SELECT s.doc_id, s.score,
             CASE WHEN list_contains(string_split(d.text, ' '), 'stream')
                  THEN 1 ELSE 0 END AS rel
      FROM scores s JOIN documents d USING (doc_id)
      WHERE s.score > 0
    ),
    ranked AS (
      SELECT doc_id, rel,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM lab
    ),
    dcg AS (
      SELECT sum(CASE WHEN rk <= 10 THEN rel / log2(rk + 1) ELSE 0 END) AS dcg,
             min(CASE WHEN rel = 1 THEN rk END) AS first_rel,
             sum(rel) AS n_rel
      FROM ranked
    )
    SELECT round(dcg / list_sum(list_transform(
             range(1, CAST(least(10, n_rel) AS BIGINT) + 1),
             i -> 1.0 / log2(i + 1))), 6) AS ndcg10,
           round(CASE WHEN first_rel IS NULL THEN 0.0
                      ELSE 1.0 / first_rel END, 6) AS mrr,
           CAST(n_rel AS BIGINT) AS n_rel
    FROM dcg
    """


@query("q271_ndcg", oracle=_q271_oracle())
def q271_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation — nDCG@10 and MRR over the BM25 ranking
    (q134's scorer, operators/ranking.bm25_score) with 'contains stream'
    as the relevance label: the IR-eval verbs that close the search loop
    (index q140 → score q134 → fuse q205 → *evaluate*).  The ranking
    window runs only over docs matching at least one query term
    (score > 0), and the ideal-DCG normalizer folds over a ≤10-element
    integer sequence — both bounded.  Spark and DuckDB compute the
    identical fixed-order BM25 float path, so ranks agree exactly."""
    from .catalog_rank import _BM25_TERMS
    from .operators import ranking as rk

    d = table(spark, sf_dir, "documents")
    scores = rk.bm25_score(d, "doc_id", "text", _BM25_TERMS, k1=1.2, b=0.75)
    lab = (
        scores.join(d.select("doc_id", "text"), "doc_id")
        .filter(F.col("score") > 0)
        .select(
            "doc_id",
            "score",
            F.array_contains(F.split("text", " "), "stream")
            .cast("int")
            .alias("rel"),
        )
    )
    w = Window.orderBy(F.desc("score"), "doc_id")
    ranked = lab.select("rel", F.row_number().over(w).alias("rk"))
    agg = ranked.agg(
        F.sum(
            F.when(F.col("rk") <= 10, F.col("rel") / F.log2(F.col("rk") + 1)).otherwise(
                0.0
            )
        ).alias("dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
        F.sum("rel").alias("n_rel"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(10), F.col("n_rel")).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    return agg.select(
        F.round(F.col("dcg") / idcg, 6).alias("ndcg10"),
        F.round(
            F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                1.0 / F.col("first_rel")
            ),
            6,
        ).alias("mrr"),
        F.col("n_rel").cast("bigint").alias("n_rel"),
    )


# ---------------------------------------------------------------------------
# q272: k-anonymity audit
# ---------------------------------------------------------------------------


@query(
    "q272_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS INT) AS bal_band,
             count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(min(n) AS BIGINT) AS min_group,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
             AS risk_share
    FROM g
    """,
)
def q272_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier triple
    (nation, market segment, account-balance band): how many
    quasi-identifier groups are small enough to re-identify members, and
    what share of rows they expose — the privacy check run before any
    data release, complementing the PII scan/redact (q97) and erasure
    cascade (q224).  One groupBy over the quasi-identifiers, one bounded
    rollup; generalizing a identifier (widening bal_band) is the
    remediation lever and just changes the grouping expression."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("n") < 5).cast("int")).cast("bigint").alias("groups_below_k"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.min("n").cast("bigint").alias("min_group"),
        F.round(
            F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("risk_share"),
    )


# ---------------------------------------------------------------------------
# q273: two-proportion z-test (cohort conversion significance)
# ---------------------------------------------------------------------------


@query(
    "q273_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS x0,
             sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)    AS n0,
             sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS x1,
             sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)    AS n1
      FROM u
    )
    SELECT round(x0 * 1.0 / n0, 6) AS p0,
           round(x1 * 1.0 / n1, 6) AS p1,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round((x0 * 1.0 / n0 - x1 * 1.0 / n1)
                 / sqrt(((x0 + x1) * 1.0 / (n0 + n1))
                        * (1 - (x0 + x1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z,
           abs((x0 * 1.0 / n0 - x1 * 1.0 / n1)
               / sqrt(((x0 + x1) * 1.0 / (n0 + n1))
                      * (1 - (x0 + x1) * 1.0 / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1))) > 1.96 AS significant
    FROM s
    """,
)
def q273_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on cohort conversion (did the user ever
    purchase), pooled-variance form — the significance readout that sits
    on top of the A/B machinery (q234 bootstrap gives the uncertainty
    band, q245 CUPED shrinks the variance, this gives the classical
    decision rule at α=0.05).  Per-user rollup then a single scalar
    aggregate; every engine computes the identical closed form."""
    ev = load_events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).withColumn("cohort", F.col("user_id") % 2)
    s = u.agg(
        F.sum(F.when(F.col("cohort") == 0, F.col("conv")).otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("conv")).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n1"),
    )
    p0 = F.col("x0") / F.col("n0")
    p1 = F.col("x1") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")) / (F.col("n0") + F.col("n1"))
    z = (p0 - p1) / F.sqrt(pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1")))
    return s.select(
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q274: rolling-origin backtest folds
# ---------------------------------------------------------------------------


@query(
    "q274_backtest_folds",
    oracle="""
    WITH folds AS (
      SELECT i AS fold,
             make_timestamp(1996 + i, 1, 1, 0, 0, 0) AS train_end,
             make_timestamp(1997 + i, 1, 1, 0, 0, 0) AS test_end
      FROM range(0, 4) t(i)
    )
    SELECT CAST(fold AS INT) AS fold,
           CAST(train_end AS VARCHAR) AS train_end,
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_orderdate < f.train_end) AS BIGINT) AS n_train,
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_orderdate >= f.train_end
                   AND o.o_orderdate < f.test_end) AS BIGINT) AS n_test
    FROM folds f ORDER BY fold
    """,
)
def q274_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest folds — the
    time-series-safe alternative to random k-fold CV, where every fold
    trains strictly before it tests (the temporal cousin of the
    point-in-time join q254's leakage guarantee): four folds with train
    cut-offs 1996..1999 and one-year test windows, with per-fold row
    counts.  One range-join of the 4-row fold spec against the orders
    scan (broadcast, bucket-free: the fold table is tiny) — the fold
    assignment an actual backtest pipeline feeds into q94's hash_split
    machinery."""
    folds = spark.range(0, 4).select(
        F.col("id").cast("int").alias("fold"),
        F.make_timestamp(
            (F.lit(1996) + F.col("id")).cast("int"),
            F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0),
        ).alias("train_end"),
        F.make_timestamp(
            (F.lit(1997) + F.col("id")).cast("int"),
            F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0),
        ).alias("test_end"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("timestamp").alias("od")
    )
    j = o.crossJoin(F.broadcast(folds))
    return (
        j.groupBy("fold", "train_end")
        .agg(
            F.sum((F.col("od") < F.col("train_end")).cast("int"))
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                (
                    (F.col("od") >= F.col("train_end"))
                    & (F.col("od") < F.col("test_end"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_test"),
        )
        .select(
            "fold",
            F.col("train_end").cast("string").alias("train_end"),
            "n_train",
            "n_test",
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q275: OHLC / VWAP bars
# ---------------------------------------------------------------------------


@query(
    "q275_ohlc_bars",
    oracle="""
    WITH t AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS bar, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    o AS (
      SELECT bar, ts, event_id, value,
             row_number() OVER (PARTITION BY bar ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY bar ORDER BY ts DESC, event_id DESC)
               AS rl
      FROM t
    )
    SELECT CAST(bar AS VARCHAR) AS bar,
           round(max(CASE WHEN rf = 1 THEN value END), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max(CASE WHEN rl = 1 THEN value END), 4) AS close,
           CAST(count(*) AS BIGINT) AS n_trades,
           round(sum(value * value) / sum(value), 6) AS vwap
    FROM o GROUP BY bar ORDER BY bar
    """,
)
def q275_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC + VWAP bars over purchase events — the market-data
    aggregation verb (open/close need *ordered* firsts per bar, high/low/
    vwap are plain aggregates): open/close pin their rows with
    deterministic row_numbers (tie-broken on event_id) instead of relying
    on Spark's first()/last() shuffle-order, which is not reproducible —
    the same determinism discipline as q21.  Here "volume" is the value
    itself, so vwap = Σv²/Σv.  One shuffle keyed by bar; windows run
    within bars."""
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    t = ev.select(
        F.date_trunc("day", "ts").alias("bar"), "ts", "event_id", "value"
    )
    wf = Window.partitionBy("bar").orderBy("ts", "event_id")
    wl = Window.partitionBy("bar").orderBy(F.desc("ts"), F.desc("event_id"))
    o = t.select(
        "bar",
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return (
        o.groupBy("bar")
        .agg(
            F.round(F.max(F.when(F.col("rf") == 1, F.col("value"))), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(F.when(F.col("rl") == 1, F.col("value"))), 4).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            F.round(
                F.sum(F.col("value") * F.col("value")) / F.sum("value"), 6
            ).alias("vwap"),
        )
        .select(F.col("bar").cast("string").alias("bar"), "open", "high", "low", "close", "n_trades", "vwap")
        .orderBy("bar")
    )


# ---------------------------------------------------------------------------
# q276: leave-one-out target encoding
# ---------------------------------------------------------------------------


@query(
    "q276_target_encoding",
    oracle="""
    WITH lab AS (
      SELECT o_custkey, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    g AS (
      SELECT cat, sum(y) AS sy, count(*) AS cn, avg(y) AS cat_mean
      FROM lab GROUP BY 1
    ),
    gm AS (SELECT avg(y) AS gmean FROM lab)
    SELECT cat,
           CAST(cn AS BIGINT) AS n,
           round(cat_mean, 6) AS cat_mean,
           round((sy + 20 * gmean) / (cn + 20), 6) AS smoothed,
           round((sy - cat_mean) / (cn - 1), 6) AS loo_for_positive
    FROM g CROSS JOIN gm ORDER BY cat
    """,
)
def q276_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding of a categorical feature (order priority →
    P(status = F)) with the two leakage controls a real feature pipeline
    needs: additive smoothing toward the global mean (m=20 pseudo-counts
    — guards rare categories) and the leave-one-out form ((Σy − y_i)/
    (n−1), shown for a positive-label row) that keeps a row's own label
    out of its feature.  Per-category sums broadcast back to rows at
    apply time; this query emits the encoder table itself — category
    stats, smoothed and LOO encodings — which is what gets persisted and
    reused across training runs."""
    o = table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    g = lab.groupBy("cat").agg(
        F.sum("y").alias("sy"),
        F.count(F.lit(1)).alias("cn"),
        F.avg("y").alias("cat_mean"),
    )
    glob = lab.agg(F.avg("y").alias("gmean"))
    return (
        g.crossJoin(F.broadcast(glob))
        .select(
            "cat",
            F.col("cn").cast("bigint").alias("n"),
            F.round("cat_mean", 6).alias("cat_mean"),
            F.round(
                (F.col("sy") + 20 * F.col("gmean")) / (F.col("cn") + 20), 6
            ).alias("smoothed"),
            F.round(
                (F.col("sy") - F.col("cat_mean")) / (F.col("cn") - 1), 6
            ).alias("loo_for_positive"),
        )
        .orderBy("cat")
    )


# ---------------------------------------------------------------------------
# q277: sequence-gap detection (missing-range audit)
# ---------------------------------------------------------------------------


@query(
    "q277_sequence_gaps",
    oracle="""
    WITH k AS (SELECT DISTINCT event_id AS id FROM events
               WHERE event_type = 'purchase'),
    g AS (
      SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM k
    )
    SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - id - 1 AS BIGINT) AS gap_len
    FROM g WHERE nxt - id > 1
    ORDER BY gap_start LIMIT 50
    """,
)
def q277_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: missing ranges in the purchase event-id sequence
    (first 50 gaps) — the data-completeness check for any
    supposed-to-be-contiguous id space (ingest offsets, CDC sequence
    numbers, partition indexes).  Gaps-and-islands via the TWO-PHASE lead
    (operators/temporal.sequence_gaps): range-partitioned per-partition
    lead + O(partitions) boundary stitching — no single-partition window
    over the distinct keys (plan_lint-clean); at 100 TB the same shape
    runs per partition-directory.  The fixture's purchase event-ids are a
    ~1-in-5 subset of a dense sequence, so real gaps abound (this
    fixture's orderkeys are contiguous, unlike dbgen's sparse ones —
    hence the event subset)."""
    from .operators.temporal import sequence_gaps

    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return (
        sequence_gaps(ev, "event_id")
        .orderBy("gap_start")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q278: feature hashing (the hashing trick)
# ---------------------------------------------------------------------------


@query(
    "q278_feature_hashing",
    oracle="""
    WITH f AS (
      SELECT c_custkey,
             CAST(('0x' || substr(md5('seg=' || c_mktsegment), 1, 8))::UBIGINT
                  % 32 AS INT) AS h_seg,
             CAST(('0x' || substr(md5('nat=' || CAST(c_nationkey AS VARCHAR)),
                                  1, 8))::UBIGINT % 32 AS INT) AS h_nat
      FROM customer
    ),
    u AS (
      SELECT h_seg AS dim FROM f
      UNION ALL SELECT h_nat FROM f
    )
    SELECT dim, CAST(count(*) AS BIGINT) AS n
    FROM u GROUP BY dim ORDER BY dim
    """,
)
def q278_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): categorical features map to a
    fixed 32-dim space via ``md5(feature_name || '=' || value) mod d`` —
    no vocabulary build, no fit step, bounded width no matter how many
    categories arrive, collisions by design (and quantified here: the
    per-dimension load census IS the collision report).  The field-name
    prefix keeps same-valued features in different fields from colliding
    systematically.  Per-row cost is one hash per feature in codegen;
    the census is one bounded aggregate."""
    c = table(spark, sf_dir, "customer")

    def h(prefix: str, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 32
        ).cast("int")

    f = c.select(
        h("seg=", F.col("c_mktsegment")).alias("h_seg"),
        h("nat=", F.col("c_nationkey")).alias("h_nat"),
    )
    u = f.select(F.col("h_seg").alias("dim")).unionAll(
        f.select(F.col("h_nat").alias("dim"))
    )
    return (
        u.groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q279: schema evolution (mergeSchema read across file generations)
# ---------------------------------------------------------------------------


@query(
    "q279_schema_evolution",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN s_suppkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_bal,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
           round(sum(CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END), 2)
             AS bal_sum
    FROM supplier
    """,
)
def q279_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 writes
    suppliers WITHOUT the balance column, generation 2 adds it;
    ``mergeSchema`` unifies the directory into one frame where gen-1 rows
    read the new column as null — the additive-column evolution every
    long-lived table undergoes.  Half the keys land in each generation
    (s_suppkey mod 2), so ``n_with_bal`` counts exactly the evolved half
    and ``bal_sum`` proves values survived; the oracle recomputes from
    the source (count(s_acctbal) over the full table == gen-2 rows
    because the split is by parity and sums are parity-split too...
    no — the oracle must model the null half: see the WHERE)."""
    from .catalog_sources import _scratch

    s = table(spark, sf_dir, "supplier")
    path = _scratch("evolve_supplier", sf_dir)
    g1 = s.filter(F.col("s_suppkey") % 2 == 0).select("s_suppkey", "s_name")
    g2 = s.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    g1.write.mode("overwrite").parquet(f"{path}/gen=1")
    g2.write.mode("overwrite").parquet(f"{path}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s_acctbal").alias("n_with_bal"),
        F.sum("s_suppkey").cast("bigint").alias("key_sum"),
        F.round(F.sum("s_acctbal"), 2).alias("bal_sum"),
    )


# ---------------------------------------------------------------------------
# q280: dynamic partition pruning
# ---------------------------------------------------------------------------


@query(
    "q280_dynamic_pruning",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_name IN ('NATION_6', 'NATION_7')
    GROUP BY 1 ORDER BY 1
    """,
)
def q280_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    Hive-partitioned by customer nation (a one-time layout job), and a
    selective dim-side filter (two nations) prunes fact partitions AT
    RUNTIME through the join — the Spark mechanism that makes star-schema
    queries scan 2/25ths instead of everything when the filter is on the
    dimension, not the fact.  The plan carries a ``dynamicpruning``
    subquery on the partitioned scan (pinned by the companion plan test).
    At 100 TB this is THE lever for dimension-filtered fact scans; the
    partition column choice comes from the dominant filter dimension."""
    from .catalog_sources import _scratch

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    path = _scratch("orders_by_nation", sf_dir)
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .select("o_orderkey", "o_custkey", "o_totalprice", "c_nationkey")
            .write.mode("overwrite")
            .partitionBy("c_nationkey")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    dim = n.filter(F.col("n_name").isin("NATION_6", "NATION_7"))
    return (
        fact.join(dim, fact["c_nationkey"] == dim["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q281: phrase search via positional posting lists
# ---------------------------------------------------------------------------


@query(
    "q281_phrase_search",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tl
      FROM documents
    ),
    b AS (
      SELECT doc_id, unnest(tl[1:len(tl) - 1]) AS a, unnest(tl[2:len(tl)]) AS w
      FROM t WHERE len(tl) >= 2
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM b WHERE a = 'table' AND w = 'hash'
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q281_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search ("table hash") via POSITIONAL posting lists: the term
    index stores (doc, position), and a phrase match is a self-join of the
    two term postings on doc with positions differing by exactly 1 — the
    inverted-index upgrade from bag-of-words AND (q218) to exact phrase
    semantics, the way a real search engine executes quoted queries.
    Postings are filtered to the two query terms BEFORE the join, so cost
    is O(matching postings), and the join keys on doc_id — hash join,
    AQE-splittable.  The oracle replays it with zipped adjacent-token
    pairs."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("pos", "term"),
    )
    pa = toks.filter(F.col("term") == "table").select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = toks.filter(F.col("term") == "hash").select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    hits = pa.join(
        pb,
        (F.col("doc_id") == F.col("doc_b")) & (F.col("pb") == F.col("pa") + 1),
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q282: SLA latency quantile report
# ---------------------------------------------------------------------------


@query(
    "q282_latency_quantiles",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99,
           round(max(value), 4) AS p100
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q282_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-dashboard staple: per-event-type p50/p95/p99/max — exact
    interpolated percentiles here (Spark `percentile` == DuckDB
    `quantile_cont`), with the same documented 100 TB substitution as the
    rest of the percentile family (`percentile_approx`, whose rank-error
    bound q266 certifies).  One shuffle on the 5-key group; the tail
    quantiles are why monitoring reads quantiles and never averages."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
            F.round(F.max("value"), 4).alias("p100"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q283: salted join exactness pin
# ---------------------------------------------------------------------------


@query(
    "q283_salted_join",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c.c_acctbal), 2) AS bal_sum
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q283_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join exactness pin (operators/skew.salted_join, q265's
    companion for the JOIN side): the big side salts on a deterministic
    row hash, the small side replicates into every salt — each hot key
    spreads over n_salts shuffle partitions while the result stays
    IDENTICAL to the plain join, which the plain-join oracle certifies.
    (Deterministic salt, not rand(): a retried task must re-produce the
    same salt or rows double/vanish — the correctness trap the operator
    guards.)"""
    from .operators.skew import salted_join

    c = table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nk"
    )
    n = table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nk")
    j = salted_join(c, n, "nk", n_salts=8)
    return (
        j.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q284: count-min overestimate certificate
# ---------------------------------------------------------------------------


@query(
    "q284_cms_bound",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ),
    exact AS (SELECT term, count(*) AS n FROM tok GROUP BY 1),
    top AS (SELECT term, n FROM exact ORDER BY n DESC, term LIMIT 10),
    tot AS (SELECT count(*) AS n_total FROM tok)
    SELECT term, CAST(top.n AS BIGINT) AS n_exact,
           TRUE AS never_under, TRUE AS within_eps
    FROM top CROSS JOIN tot ORDER BY term
    """,
)
def q284_cms_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch guarantee certificate (the third certificate next
    to HLL q264 and percentile q266): for the 10 most frequent terms the
    sketch estimate must (a) NEVER undercount — structural, the min of
    sums each containing the true count — and (b) overcount by at most
    ε·N with ε = e/width (standard CMS bound at ~99.9% for depth 4; a
    deterministic hash family makes the check reproducible).  Spark
    computes exact counts AND sketch lookups (operators/sketches, the
    same build/lookup as q211) and asserts both; the oracle pins the
    exact counts and the claims."""
    from .operators.sketches import countmin_build, countmin_lookup

    depth, width = 4, 1024
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("term")
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = exact.orderBy(F.desc("n"), "term").limit(10)
    tot = tok.agg(F.count(F.lit(1)).alias("n_total"))
    sketch = countmin_build(tok, "term", depth=depth, width=width)
    est = countmin_lookup(sketch, top.select("term"), "term", depth=depth, width=width)
    eps = 2.718281828459045 / width
    return (
        top.join(est.withColumnRenamed("est", "cms"), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("n").cast("bigint").alias("n_exact"),
            (F.col("cms") >= F.col("n")).alias("never_under"),
            (F.col("cms") <= F.col("n") + F.lit(eps) * F.col("n_total")).alias(
                "within_eps"
            ),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# q285: mergeable HLL sketch rollup (sketch once, re-aggregate forever)
# ---------------------------------------------------------------------------


@query(
    "q285_hll_merge",
    oracle="""
    WITH per_region AS (
      SELECT n.n_regionkey AS region,
             count(DISTINCT o.o_custkey) AS n_exact
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    )
    SELECT CAST(region AS INT) AS region,
           CAST(n_exact AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM per_region ORDER BY region
    """,
)
def q285_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (Spark 4 Datasketches surface:
    hll_sketch_agg → hll_union_agg → hll_sketch_estimate): per-NATION
    distinct-customer sketches built once, then merged up to REGION level
    *without touching the raw data again* — the pattern that makes
    distinct-count dashboards feasible at 100 TB (daily/partition sketches
    persisted, any rollup is a cheap union of ≤4 KB summaries).  The
    certificate discipline of q264: Spark computes the merged estimate AND
    the exact region-level distinct and asserts the 3σ bound (lgK=14 →
    rsd ≈ 1.04/√2^14 ≈ 0.8%); the oracle pins the exact counts and the
    claim."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        n, c["c_nationkey"] == n["n_nationkey"]
    )
    per_nation = base.groupBy("n_regionkey", "n_nationkey").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk")
    )
    per_region = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = base.groupBy(F.col("n_regionkey").alias("region_e")).agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    rsd = 1.04 / (2 ** 14) ** 0.5
    return (
        per_region.join(
            exact, per_region["n_regionkey"] == exact["region_e"]
        )
        .select(
            F.col("n_regionkey").cast("int").alias("region"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (
                F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact")
                <= 3 * rsd
            ).alias("within_bound"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q286: null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------


@query(
    "q286_nullsafe_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 5 END AS k
      FROM orders WHERE o_orderkey < 200
    ),
    b AS (
      SELECT CASE WHEN i = 5 THEN NULL ELSE i END AS k,
             'grp_' || CAST(i AS VARCHAR) AS tag
      FROM range(0, 6) t(i)
    )
    SELECT coalesce(CAST(a.k AS VARCHAR), 'NULL') AS k,
           b.tag, CAST(count(*) AS BIGINT) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q286_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark ``<=>`` == SQL IS NOT DISTINCT
    FROM): NULL keys MATCH each other instead of vanishing — the
    semantics a dimension with an explicit "unknown" bucket needs, and
    the complement of the standard null-drop equi-join the join family
    (q10-q17) pinned.  Still a hash join: Catalyst plans <=> as an
    equi-join key (null-safe), not a theta join."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k"),
    )
    b = spark.range(0, 6).select(
        F.when(F.col("id") == 5, None).otherwise(F.col("id")).alias("kb"),
        F.concat(F.lit("grp_"), F.col("id").cast("string")).alias("tag"),
    )
    j = a.join(b, a["k"].eqNullSafe(b["kb"]))
    return (
        j.groupBy(
            F.coalesce(F.col("k").cast("string"), F.lit("NULL")).alias("k"),
            "tag",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k", "tag")
    )


# ---------------------------------------------------------------------------
# q287: the NOT IN null trap (vs NOT EXISTS)
# ---------------------------------------------------------------------------


@query(
    "q287_not_in_trap",
    oracle="""
    WITH probe AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 100),
    blocklist AS (
      SELECT CASE WHEN i = 3 THEN NULL ELSE i * 10 END AS bk
      FROM range(0, 5) t(i)
    )
    SELECT
      CAST((SELECT count(*) FROM probe
            WHERE k NOT IN (SELECT bk FROM blocklist)) AS BIGINT)
        AS not_in_count,
      CAST((SELECT count(*) FROM probe p
            WHERE NOT EXISTS (SELECT 1 FROM blocklist b WHERE b.bk = p.k))
        AS BIGINT) AS not_exists_count,
      CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe
    """,
)
def q287_not_in_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, demonstrated and pinned: with a NULL in the
    blocklist, ``NOT IN`` is three-valued-logic poisoned (k <> NULL is
    UNKNOWN, so NO row qualifies — not_in_count = 0) while ``NOT
    EXISTS`` does what everyone means (null-anti-join semantics).  Both
    engines agree on the standard; the query documents WHY this repo's
    erasure/decontamination pipelines (q224, q96) are built on anti
    joins, never NOT IN subqueries.  Catalyst plans NOT IN as a
    null-aware anti join — correct and notoriously expensive; NOT EXISTS
    plans as a plain left-anti hash join."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    o.createOrReplaceTempView("q287_probe")
    bl = spark.range(0, 5).select(
        F.when(F.col("id") == 3, None).otherwise(F.col("id") * 10).alias("bk")
    )
    bl.createOrReplaceTempView("q287_block")
    return spark.sql(
        """
        SELECT
          CAST((SELECT count(*) FROM q287_probe
                WHERE o_orderkey NOT IN (SELECT bk FROM q287_block)) AS BIGINT)
            AS not_in_count,
          CAST((SELECT count(*) FROM q287_probe p
                WHERE NOT EXISTS (SELECT 1 FROM q287_block b
                                  WHERE b.bk = p.o_orderkey)) AS BIGINT)
            AS not_exists_count,
          CAST((SELECT count(*) FROM q287_probe) AS BIGINT) AS n_probe
        """
    )


# ---------------------------------------------------------------------------
# q288: ROC-AUC via the rank statistic (Mann-Whitney U)
# ---------------------------------------------------------------------------


@query(
    "q288_auc",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#score'), 1, 8))
               ::UBIGINT / 4294967296.0
             + CASE WHEN value > 50.0 THEN 0.15 ELSE 0.0 END AS score,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS label
      FROM events
    ),
    ranked AS (
      SELECT label,
             rank() OVER (ORDER BY score) AS rk,
             count(*) OVER (PARTITION BY score) AS ties
      FROM scored
    ),
    agg AS (
      SELECT sum(CASE WHEN label = 1 THEN rk + (ties - 1) / 2.0 ELSE 0 END)
               AS rsum,
             sum(label) AS np, sum(1 - label) AS nn
      FROM ranked
    )
    SELECT round((rsum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
           CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
    FROM agg
    """,
)
def q288_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC via the Mann-Whitney rank statistic — AUC = (ΣR₊ −
    n₊(n₊+1)/2)/(n₊n₋) with midrank tie correction — completing the
    model-eval trio (reliability/Brier q261, this, and the threshold
    metrics any of them derive).  The fixture score is the q261 md5 score
    plus a +0.15 signal bump for positives, so AUC lands meaningfully
    above 0.5 (the metric detecting real signal, not a coin flip).
    Scale: the exact rank needs a global sort, so above the scale.py row
    threshold the query auto-degrades to the binned-ECDF formulation
    (q237's trick): bucket scores into B=1000 bins, AUC = Σ_b pos_b ·
    (negs-below_b + neg_b/2) / (n₊n₋) — one scan-parallel aggregate plus
    a window over ≤B rows (bounded by B, never by data).  |Δ AUC| ≤ the
    largest bin's probability mass; parity pinned in
    tests/test_scale_mode.py."""
    from .scale import use_approx

    ev = load_events(spark, sf_dir)
    score = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#score"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / 4294967296.0
        + F.when(F.col("value") > 50.0, 0.15).otherwise(0.0)
    )
    scored = ev.select(
        score.alias("score"),
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("label"),
    )
    if use_approx(ev, path=f"{sf_dir}/events.parquet"):
        B = 1000
        bounds = scored.agg(
            F.min("score").alias("lo"), F.max("score").alias("hi")
        )
        binned = (
            scored.crossJoin(F.broadcast(bounds))
            .select(
                F.least(
                    F.lit(B - 1),
                    F.floor(
                        (F.col("score") - F.col("lo"))
                        / (F.col("hi") - F.col("lo") + F.lit(1e-12))
                        * B
                    ).cast("int"),
                ).alias("bin"),
                "label",
            )
            .groupBy("bin")
            .agg(
                F.sum("label").alias("np_b"),
                F.sum(1 - F.col("label")).alias("nn_b"),
            )
        )
        wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        contrib = binned.select(
            "np_b",
            "nn_b",
            F.coalesce(F.sum("nn_b").over(wb), F.lit(0)).alias("nn_below"),
        )
        agg = contrib.agg(
            F.sum(
                F.col("np_b") * (F.col("nn_below") + F.col("nn_b") / 2.0)
            ).alias("u"),
            F.sum("np_b").alias("np"),
            F.sum("nn_b").alias("nn"),
        )
        return agg.select(
            F.round(F.col("u") / (F.col("np") * F.col("nn")), 6).alias("auc"),
            F.col("np").cast("bigint").alias("n_pos"),
            F.col("nn").cast("bigint").alias("n_neg"),
        )
    wr = Window.orderBy("score")
    wt = Window.partitionBy("score")
    ranked = scored.select(
        "label",
        F.rank().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("ties"),
    )
    agg = ranked.agg(
        F.sum(
            F.when(
                F.col("label") == 1,
                F.col("rk") + (F.col("ties") - 1) / 2.0,
            ).otherwise(0.0)
        ).alias("rsum"),
        F.sum("label").alias("np"),
        F.sum(1 - F.col("label")).alias("nn"),
    )
    return agg.select(
        F.round(
            (F.col("rsum") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
    )


# ---------------------------------------------------------------------------
# q289: rolling median (robust moving statistic)
# ---------------------------------------------------------------------------


@query(
    "q289_rolling_median",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 6
    )
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM d ORDER BY user_id, ts, event_id
    """,
)
def q289_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event median per user — the robust moving statistic
    (EWMA q206 smooths but chases outliers; a rolling median ignores
    them).  Spark's exact ``percentile`` runs as a window aggregate over
    the trailing frame; DuckDB's windowed ``quantile_cont`` replays the
    identical interpolation.  Cost: a per-row sort buffer of frame size —
    fine for small frames (7 here); above the scale.py row threshold the
    window swaps to ``percentile_approx`` (bounded sketch per frame — the
    wide-frame/100 TB form; on a ≤7-row frame the sketch is exact up to
    even-count interpolation, the bound pinned in
    tests/test_scale_mode.py)."""
    from .scale import APPROX_ACCURACY, use_approx

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 6)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    if use_approx(load_events(spark, sf_dir), path=f"{sf_dir}/events.parquet"):
        med = F.percentile_approx("value", F.lit(0.5), F.lit(APPROX_ACCURACY))
    else:
        med = F.percentile("value", F.lit(0.5))
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(med.over(w).cast("double"), 6).alias("med7"),
        )
        .orderBy("user_id", F.col("event_id"))
    )


# ---------------------------------------------------------------------------
# q290: heterogeneous-format federation
# ---------------------------------------------------------------------------


@query(
    "q290_format_federation",
    oracle="""
    SELECT n_nationkey % 3 AS shard,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY 1 ORDER BY 1
    """,
)
def q290_format_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-format federation: the same logical table lives in
    three physical formats at once (shard 0 → parquet, shard 1 → csv,
    shard 2 → json — the real state of any long-lived lake mid-migration),
    and one unionByName query reads across all of them with aligned
    schemas.  The oracle aggregates the source table; equality proves no
    shard lost rows or mangled types through its format.  Scale: each
    shard scan keeps its own format reader and pushdown; the union is
    plan-level only (no shuffle until the aggregate)."""
    from .catalog_sources import _scratch
    from .sources import files as fs

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = _scratch("fed_nation", sf_dir)
    n.filter(F.col("n_nationkey") % 3 == 0).write.mode("overwrite").parquet(
        f"{base}/pq"
    )
    n.filter(F.col("n_nationkey") % 3 == 1).write.mode("overwrite").option(
        "header", "true"
    ).csv(f"{base}/csv")
    n.filter(F.col("n_nationkey") % 3 == 2).write.mode("overwrite").json(
        f"{base}/json"
    )
    schema = "n_nationkey int, n_name string"
    pq = spark.read.schema(schema).parquet(f"{base}/pq")
    cs = spark.read.schema(schema).option("header", "true").csv(f"{base}/csv")
    js = spark.read.schema(schema).json(f"{base}/json")
    fed = pq.unionByName(cs).unionByName(js)
    return (
        fed.groupBy((F.col("n_nationkey") % 3).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q291: retractable incremental view maintenance
# ---------------------------------------------------------------------------


@query(
    "q291_retractable_ivm",
    oracle="""
    WITH remaining AS (
      SELECT o_orderpriority AS pri, o_totalprice
      FROM orders WHERE o_orderkey >= 1000
    )
    SELECT pri, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS s,
           round(avg(o_totalprice), 4) AS mean
    FROM remaining GROUP BY 1 ORDER BY 1
    """,
)
def q291_retractable_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable incremental view maintenance
    (operators/merge.retract_agg_state): the running per-priority state
    (q210's mergeable form) absorbs a DELETION batch (orderkey < 1000) by
    subtracting the deleted rows' state — count/sum/sum-of-squares are
    group-invertible so the maintained view equals a from-scratch
    recompute over the remaining rows, which the oracle performs.
    (Min/max are NOT invertible: the operator nulls them with an
    ``extrema_stale`` flag when a deleted extremum touches them — dropped
    here since the oracle checks the invertible measures.)  Cost: one
    key-shuffle over the DELETED slice only, never a history rescan —
    erasure compliance (q224) meeting materialized aggregates."""
    from .operators.merge import agg_state, retract_agg_state

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"), "o_totalprice", "o_orderkey"
    )
    full_state = agg_state(o, ["pri"], "o_totalprice")
    deleted = o.filter(F.col("o_orderkey") < 1000)
    del_state = agg_state(deleted, ["pri"], "o_totalprice")
    maintained = retract_agg_state(full_state, del_state, ["pri"])
    return maintained.select(
        "pri",
        F.col("n").cast("bigint").alias("n"),
        F.round("s", 2).alias("s"),
        F.round(F.col("s") / F.col("n"), 4).alias("mean"),
    ).orderBy("pri")


# ---------------------------------------------------------------------------
# q292: URL canonicalization dedup
# ---------------------------------------------------------------------------


@query(
    "q292_url_dedup",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'HTTP://Example-' || CAST(doc_id % 40 AS VARCHAR)
               || '.COM/path/' || CAST(doc_id % 7 AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR)
               || '&utm_campaign=x#frag' AS url
      FROM documents WHERE doc_id < 500
    ),
    canon AS (
      SELECT doc_id,
             lower(string_split(string_split(url, '://')[2], '/')[1])
               || '/' ||
               string_split(string_split(string_split(url, '://')[2], '?')[1],
                            '/')[2]
               || '/' ||
               string_split(string_split(string_split(url, '://')[2], '?')[1],
                            '/')[3]
               || '?id=' ||
               regexp_extract(url, 'id=([0-9]+)', 1) AS curl
      FROM urls
    )
    SELECT CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(min(doc_id) AS BIGINT) AS sample_survivor
    FROM canon
    """,
)
def q292_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the web-crawl curation step exact text
    hashing can't do: scheme/host case-folded, tracking parameters
    (utm_*) stripped, fragments dropped, the id parameter kept — so
    `HTTP://Example-1.COM/path/2?utm_source=feed&id=0&utm_campaign=x#frag`
    and its clean twin collapse to one canonical key.  The fixture
    synthesizes 500 messy URLs over 40×7×3 true identities; the audit row
    counts raw vs canonical.  Spark side uses parse_url + regexp (JVM
    codegen); the oracle rebuilds the same canonical string with split/
    regexp primitives — two implementations, one normalization contract."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    url = F.concat(
        F.lit("HTTP://Example-"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit(".COM/path/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("&utm_campaign=x#frag"),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.lower(F.parse_url("url", F.lit("HOST")))
    path = F.parse_url("url", F.lit("PATH"))
    idv = F.regexp_extract("url", r"id=([0-9]+)", 1)
    canon = u.select(
        "doc_id",
        F.concat(host, path, F.lit("?id="), idv).alias("curl"),
    )
    return canon.agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.count_distinct("curl").alias("n_canonical"),
        F.min("doc_id").cast("bigint").alias("sample_survivor"),
    ).select(
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_canonical").cast("bigint").alias("n_canonical"),
        "sample_survivor",
    )


# ---------------------------------------------------------------------------
# q293: duplication-rate report by source
# ---------------------------------------------------------------------------


@query(
    "q293_dup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 6)
             AS dup_rate
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q293_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report — the curation dashboard number
    that decides which crawl sources get dedup budget: exact-dup rate =
    1 − distinct(md5(text))/docs per source.  The shuffle carries 32-byte
    digests (the q70 discipline), grouped by source; at 100 TB this is
    the cheap screening pass that routes high-dup sources into the full
    MinHash-LSH pipeline (q72) and lets clean sources skip it."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.md5("text")).alias("n_unique"),
            F.round(
                1.0 - F.count_distinct(F.md5("text")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_unique").cast("bigint").alias("n_unique"),
            "dup_rate",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q294: rolling 7-day distinct users (mergeable sketches over a window)
# ---------------------------------------------------------------------------


@query(
    "q294_rolling_uniques",
    oracle="""
    WITH days AS (
      SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS day FROM events
    ),
    pairs AS (
      SELECT d.day, e.user_id
      FROM days d JOIN events e
        ON time_bucket(INTERVAL '1 day', e.ts) <= d.day
       AND time_bucket(INTERVAL '1 day', e.ts) > d.day - INTERVAL '7 days'
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM pairs GROUP BY day ORDER BY day
    """,
)
def q294_rolling_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users — the metric plain windowing CANNOT
    compute at scale because distinct counts don't merge... unless the
    daily partials are HLL sketches: one pass builds per-day sketches,
    each day then unions its trailing 7 sketches (a days×7 self-join over
    a tiny table) and estimates.  No rescan of raw events per window —
    the whole point.  Certificate discipline: Spark also computes the
    exact rolling distinct (affordable at fixture scale, the oracle pins
    it) and asserts the lgK=14 estimate lands within 3σ ≈ 2.4%."""
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    a = daily.select(F.col("day").alias("anchor"))
    trailing = a.join(
        daily,
        (F.col("day") <= F.col("anchor"))
        & (F.col("day") > F.date_sub(F.col("anchor"), 7)),
    )
    est = trailing.groupBy("anchor").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = (
        ev.select(F.col("day").alias("eday"), "user_id")
        .join(
            a.withColumnRenamed("anchor", "xanchor"),
            (F.col("eday") <= F.col("xanchor"))
            & (F.col("eday") > F.date_sub(F.col("xanchor"), 7)),
        )
        .groupBy("xanchor")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    rsd = 1.04 / (2 ** 14) ** 0.5
    return (
        est.join(exact, est["anchor"] == exact["xanchor"])
        .select(
            F.col("anchor").cast("string").alias("day"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (
                F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact")
                <= 3 * rsd
            ).alias("within_bound"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q295: time-to-convert distribution
# ---------------------------------------------------------------------------


@query(
    "q295_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    fp AS (
      SELECT e.user_id, min(e.ts) AS first_buy
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY 1
    ),
    lag AS (
      SELECT fv.user_id % 2 AS cohort,
             date_diff('second', fv.first_view, fp.first_buy) AS lag_s
      FROM fv JOIN fp ON fv.user_id = fp.user_id
    )
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(lag_s, 0.5), 4) AS median_lag_s,
           round(quantile_cont(lag_s, 0.9), 4) AS p90_lag_s
    FROM lag GROUP BY 1 ORDER BY 1
    """,
)
def q295_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per cohort, the median and p90 lag
    from a user's first view to their first at-or-after purchase — the
    product metric behind "how long does conversion take", built on the
    same leakage-safe at-or-after discipline as the PIT join (q254) and
    read as quantiles, not means (conversion lags are heavy-tailed —
    q282's lesson).  Two per-user min-aggregates, one broadcast-sized
    join, one bounded quantile group.  Above the scale.py row threshold
    the per-cohort quantiles auto-degrade to ``percentile_approx``
    (mergeable sketch — no cohort-wide value buffer at 100 TB); rank-error
    bound pinned in tests/test_scale_mode.py."""
    from .scale import APPROX_ACCURACY, use_approx

    ev = load_events(spark, sf_dir)
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_buy"))
    )
    lag = fv.join(fp, "user_id").select(
        (F.col("user_id") % 2).alias("cohort"),
        (
            F.col("first_buy").cast("long") - F.col("first_view").cast("long")
        ).alias("lag_s"),
    )
    if use_approx(ev, path=f"{sf_dir}/events.parquet"):
        def pct(q):
            return F.percentile_approx(
                "lag_s", F.lit(q), F.lit(APPROX_ACCURACY)
            ).cast("double")
    else:
        def pct(q):
            return F.percentile("lag_s", F.lit(q))
    return (
        lag.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(pct(0.5), 4).alias("median_lag_s"),
            F.round(pct(0.9), 4).alias("p90_lag_s"),
        )
        .select(
            F.col("cohort").cast("bigint").alias("cohort"),
            "n_converted",
            "median_lag_s",
            "p90_lag_s",
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# q296: exact packed-bitmap semi-join (dense-domain membership)
# ---------------------------------------------------------------------------


@query(
    "q296_bitmap_semijoin",
    oracle="""
    WITH build AS (
      SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_nationkey % 5 = 2
    ),
    words AS (
      SELECT CAST(k // 64 AS BIGINT) AS w,
             bit_or(CASE WHEN k % 64 = 63 THEN -9223372036854775808
                         ELSE 1::BIGINT << CAST(k % 64 AS INT) END) AS bits
      FROM build GROUP BY 1
    ),
    probe AS (
      SELECT l.l_suppkey, (words.bits >> CAST(l.l_suppkey % 64 AS INT)) & 1 = 1
               AS member
      FROM lineitem l
      LEFT JOIN words ON words.w = CAST(l.l_suppkey // 64 AS BIGINT)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
           CAST((SELECT count(*) FROM lineitem l JOIN build b
                 ON l.l_suppkey = b.k) AS BIGINT) AS n_true
    FROM probe
    """,
)
def q296_bitmap_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact packed-bitmap semi-join — the dense-integer-domain complement
    to the probabilistic Bloom reduction (q242): build keys pack into
    ⌈domain/64⌉ int64 words (bit_or aggregate), the probe tests
    ``(words[key>>6] >> (key & 63)) & 1`` via an equi-join on the word
    index — EXACT membership (n_member == n_true, asserted by the oracle's
    independent true-join count), zero false positives, and the bitmap is
    domain/8 bytes regardless of build count.  Bloom when the key space is
    huge/sparse; bitmap when it's dense and bounded — the audit row states
    which trade this is.  The oracle spells word-bit 63 as the sign-bit
    literal: DuckDB range-checks ``1::BIGINT << 63`` (sf0.1 gate finding —
    the supplier key domain first reaches bit 63 at that scale)."""
    s = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 2)
    li = table(spark, sf_dir, "lineitem")
    build = s.select(F.col("s_suppkey").alias("k")).distinct()
    words = build.groupBy(
        (F.col("k") / 64).cast("bigint").alias("w")
    ).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(k % 64 AS INT))")).alias("bits")
    )
    probe = li.join(
        F.broadcast(words),
        (F.col("l_suppkey") / 64).cast("bigint") == F.col("w"),
        "left",
    ).withColumn(
        "member",
        F.coalesce(
            F.expr("(shiftright(bits, CAST(l_suppkey % 64 AS INT)) & 1) = 1"),
            F.lit(False),
        ),
    )
    truth = li.join(F.broadcast(build), li["l_suppkey"] == build["k"]).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    agg = probe.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("member").cast("int")).alias("n_member"),
    )
    return agg.crossJoin(F.broadcast(truth)).select(
        F.col("n_probe").cast("bigint").alias("n_probe"),
        F.col("n_member").cast("bigint").alias("n_member"),
        F.col("n_true").cast("bigint").alias("n_true"),
    )


# ---------------------------------------------------------------------------
# q297: consistent-hashing shard assignment + minimal-movement proof
# ---------------------------------------------------------------------------


def _q297_ring(n_shards: int, vnodes: int) -> str:
    # ring points as a VALUES list: md5('shard<j>#v<i>') 32-bit position
    pts = ", ".join(
        f"({j}, CAST(('0x' || substr(md5('shard{j}#v{i}'), 1, 8))::UBIGINT AS BIGINT))"
        for j in range(n_shards)
        for i in range(vnodes)
    )
    return f"(VALUES {pts}) ring(shard, pos)"


@query(
    "q297_consistent_hashing",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ch'), 1, 8))
                  ::UBIGINT AS BIGINT) AS h
      FROM documents
    ),
    r8 AS (SELECT * FROM {_q297_ring(8, 16)}),
    r9 AS (SELECT * FROM {_q297_ring(9, 16)}),
    a8 AS (
      SELECT doc_id,
             coalesce(
               (SELECT shard FROM r8 WHERE pos >= h ORDER BY pos, shard LIMIT 1),
               (SELECT shard FROM r8 ORDER BY pos, shard LIMIT 1)) AS s8
      FROM docs
    ),
    a9 AS (
      SELECT doc_id,
             coalesce(
               (SELECT shard FROM r9 WHERE pos >= h ORDER BY pos, shard LIMIT 1),
               (SELECT shard FROM r9 ORDER BY pos, shard LIMIT 1)) AS s9
      FROM docs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           round(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS moved_frac,
           (sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) * 1.0 / count(*) < 0.25)
             AS minimal_movement
    FROM a8 JOIN a9 USING (doc_id)
    """,
)
def q297_consistent_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing shard assignment with the minimal-movement
    property PROVEN on the data: docs hash onto a ring of 8 shards × 16
    virtual nodes (clockwise-successor rule, wrap at the top); adding a
    9th shard re-homes only the ring arcs the new shard claims — the
    audit row shows the moved fraction (expected ≈ 1/9 ≈ 11%, asserted
    < 25%) versus the ~8/9 a mod-N reshard would move.  This is how a
    100 TB store re-shards without a full shuffle.  Implementation: the
    144-point ring is a broadcast literal; assignment is min-over-
    successors in codegen (the oracle's correlated LIMIT 1 restated as
    an aggregate); everything md5-deterministic."""
    n_sh, vn = 8, 16

    def ring_df(n_shards: int):
        import hashlib

        pts = [
            (
                j,
                int(
                    hashlib.md5(f"shard{j}#v{i}".encode()).hexdigest()[:8], 16
                ),
            )
            for j in range(n_shards)
            for i in range(vn)
        ]
        return _lrd(spark, pts, "shard int, pos bigint")

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#ch"))), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )

    def assign(ring, out_col: str):
        # successor = min (pos, shard) with pos >= h; wrap to global min
        j = d.crossJoin(F.broadcast(ring))
        succ = (
            j.filter(F.col("pos") >= F.col("h"))
            .groupBy("doc_id")
            .agg(F.min(F.struct("pos", "shard")).alias("st"))
            .select("doc_id", F.col("st.shard").alias(out_col))
        )
        wrap = ring.agg(F.min(F.struct("pos", "shard")).alias("st")).select(
            F.col("st.shard").alias("__wrap")
        )
        return (
            d.select("doc_id")
            .join(succ, "doc_id", "left")
            .crossJoin(F.broadcast(wrap))
            .select(
                "doc_id",
                F.coalesce(F.col(out_col), F.col("__wrap")).alias(out_col),
            )
        )

    a8 = assign(ring_df(8), "s8")
    a9 = assign(ring_df(9), "s9")
    j = a8.join(a9, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("s8") != F.col("s9")).cast("int")).alias("n_moved"),
    ).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_moved").cast("bigint").alias("n_moved"),
        F.round(F.col("n_moved") / F.col("n_docs"), 6).alias("moved_frac"),
        (F.col("n_moved") / F.col("n_docs") < 0.25).alias("minimal_movement"),
    )


# ---------------------------------------------------------------------------
# q298: ABC (Pareto) revenue classification
# ---------------------------------------------------------------------------


@query(
    "q298_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, sum(l_extendedprice) AS r FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT l_suppkey, r,
             sum(r) OVER (ORDER BY r DESC, l_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(r) OVER () AS cum_share
      FROM rev
    ),
    cls AS (
      SELECT CASE WHEN cum_share <= 0.5 THEN 'A'
                  WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS klass, r
      FROM ranked
    )
    SELECT klass, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(r) / sum(sum(r)) OVER (), 6) AS revenue_share
    FROM cls GROUP BY klass ORDER BY klass
    """,
)
def q298_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of suppliers by revenue: cumulative-
    share cut at 50%/80% — the inventory-management census behind "which
    20% of keys carry 80% of the value" (and, operationally, which keys
    deserve the hot-key treatment of operators/skew).  The input scan
    collapses to per-supplier revenue BEFORE the ranking, and the running
    share itself is the two-phase distributed global_cumsum (key-axis
    cardinality is dim-bounded here but 10^8 at a web-scale key census —
    no single-partition window either way; plan_lint-clean); the grand
    total rides as a 1-row broadcast."""
    from .operators.training import global_cumsum

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(F.sum("l_extendedprice").alias("r"))
    c = global_cumsum(
        rev.withColumn("__negr", -F.col("r")),
        ["__negr", "l_suppkey"],
        "r",
        out_col="__cum",
        out_type=None,
    )
    tot = rev.agg(F.sum("r").alias("__tot"))
    ranked = c.crossJoin(F.broadcast(tot)).select(
        "r", (F.col("__cum") / F.col("__tot")).alias("cum_share")
    )
    cls = ranked.select(
        F.when(F.col("cum_share") <= 0.5, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C")
        .alias("klass"),
        "r",
    )
    out = cls.groupBy("klass").agg(
        F.count(F.lit(1)).alias("n_suppliers"), F.sum("r").alias("sr")
    )
    w3 = Window.partitionBy()  # 3-class census rows — bounded
    return (
        out.select(
            "klass",
            "n_suppliers",
            F.round(F.col("sr") / F.sum("sr").over(w3), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("klass")
    )


# ---------------------------------------------------------------------------
# q299: mixture-allocation sampling (q268 ∘ q267)
# ---------------------------------------------------------------------------


@query(
    "q299_mixture_sample",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_docs, pow(count(*), 0.3) AS raw
      FROM documents GROUP BY 1
    ),
    alloc AS (
      SELECT source, n_docs,
             CAST(round(2000 * raw / sum(raw) OVER ()) AS BIGINT) AS alloc
      FROM s
    ),
    keyed AS (
      SELECT source, doc_id,
             pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#res'), 1, 8))
                  ::UBIGINT + 0.5) / 4294967296.0, 1.0 / n_chars) AS k
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, k,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id)
               AS rk
      FROM keyed
    )
    SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs, a.alloc,
           CAST(count(r.doc_id) AS BIGINT) AS n_sampled
    FROM alloc a LEFT JOIN ranked r
      ON r.source = a.source AND r.rk <= a.alloc
    GROUP BY a.source, a.n_docs, a.alloc
    ORDER BY a.source
    """,
)
def q299_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing the training mixture end-to-end: the temperature
    allocation (q268, p ∝ n^0.3 over a 2000-doc budget) feeds per-source
    A-ES weighted reservoirs (q267, key = u^(1/len)) — each source
    returns exactly its allocated k (or everything it has), length-
    weighted, deterministic under retries.  Per-source top-k is a rank
    window partitioned by source (bounded per-source state); the
    allocation table is broadcast-sized.  The composition every
    multi-source pretraining run executes between "weights decided" and
    "tokens packed" (q126's sequence packing picks up from here)."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = Window.partitionBy()
    raw = F.pow(F.col("n_docs"), 0.3)
    alloc = s.select(
        "source",
        "n_docs",
        F.round(2000 * raw / F.sum(raw).over(tot), 0)
        .cast("bigint")
        .alias("alloc"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#res"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    keyed = d.select(
        "source", "doc_id", F.pow(u, 1.0 / F.col("n_chars")).alias("k")
    )
    wr = Window.partitionBy("source").orderBy(F.desc("k"), "doc_id")
    ranked = keyed.select("source", "doc_id", F.row_number().over(wr).alias("rk"))
    picked = ranked.join(
        F.broadcast(alloc.select(F.col("source").alias("asrc"), "alloc")),
        (F.col("source") == F.col("asrc")) & (F.col("rk") <= F.col("alloc")),
    )
    per_src = picked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    return (
        alloc.join(per_src, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "alloc",
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("bigint").alias(
                "n_sampled"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q300: pretraining-curation pipeline capstone (one lazy plan)
# ---------------------------------------------------------------------------


@query(
    "q300_curation_pipeline",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, text, n_chars,
             len(string_split(text, ' ')) AS wc
      FROM documents
    ),
    screened AS (
      SELECT * FROM d WHERE n_chars >= 100 AND wc >= 20
    ),
    surv AS (
      SELECT min(doc_id) AS doc_id FROM screened GROUP BY md5(text)
    ),
    sdocs AS (
      SELECT s.* FROM screened s JOIN surv ON s.doc_id = surv.doc_id
    ),
    bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id < 10),
    cs AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM sdocs
    ),
    bs AS (
      SELECT bench_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM bench
    ),
    contam AS (
      SELECT DISTINCT c.doc_id
      FROM cs c JOIN bs b ON c.s = b.s
      GROUP BY c.doc_id, b.bench_id HAVING count(DISTINCT c.s) >= 2
    ),
    clean AS (
      SELECT * FROM sdocs WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    sampled AS (
      SELECT * FROM clean
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cur'), 1, 8))
            ::UBIGINT < 2147483648
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST((SELECT count(*) FROM screened x WHERE x.source = d.source)
             AS BIGINT) AS n_screened,
           CAST((SELECT count(*) FROM sdocs x WHERE x.source = d.source)
             AS BIGINT) AS n_deduped,
           CAST((SELECT count(*) FROM clean x WHERE x.source = d.source)
             AS BIGINT) AS n_clean,
           CAST((SELECT count(*) FROM sampled x WHERE x.source = d.source)
             AS BIGINT) AS n_sampled,
           CAST(coalesce((SELECT sum(wc) FROM sampled x
                          WHERE x.source = d.source), 0) AS BIGINT)
             AS sampled_tokens
    FROM d GROUP BY d.source ORDER BY d.source
    """,
)
def q300_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-curation pipeline as ONE lazy plan — the capstone
    composition: cheap screen (length + word count) → exact-dedup
    survivor selection (md5 digests, q70) → benchmark decontamination
    (5-gram overlap vs docs 0-9, q96's operator) → deterministic hash
    sample at 50% (q94's discipline) → per-source funnel census with
    sampled token mass.  Every stage is an operator that already proved
    out alone; the value here is the single declarative plan: Catalyst
    sees the whole funnel, pushes the screen into the scan, reuses the
    shuffle keys, and nothing materializes between stages.  (The LSH
    near-dup stage (q72) slots between dedup and decontam in production;
    scoped out here to keep the oracle tractable — its own queries carry
    that proof.)"""
    from .operators.dedup import decontaminate, exact_dedup

    d = table(spark, sf_dir, "documents").withColumn(
        "wc", F.size(F.split("text", " "))
    )
    screened = d.filter((F.col("n_chars") >= 100) & (F.col("wc") >= 20))
    surv_ids = exact_dedup(screened, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    sdocs = screened.join(surv_ids, "doc_id")
    bench = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    from .operators.cache import persist_tracked

    # The funnel census below fans sdocs/clean into five aggregation
    # branches; without a persisted survivor table each branch re-runs
    # the screen+dedup chain (and the 3 clean-derived branches re-ran
    # the 5-gram decontamination join too — measured 38 parquet scans in
    # one plan).  Persist the SLIM survivor projection (ids + source +
    # wc, no text) and the tiny contaminated-id set; decontamination
    # itself still reads the full text exactly once.
    contam = persist_tracked(
        decontaminate(sdocs, bench, "doc_id", "text", "doc_id", "text")
        .select("doc_id")
        .distinct()
    )
    sdocs = persist_tracked(sdocs.select("doc_id", "source", "wc"))
    clean = sdocs.join(contam, "doc_id", "left_anti")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#cur"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    sampled = clean.filter(u32 < 2147483648)

    def per_src(df, name):
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    toks = sampled.groupBy("source").agg(F.sum("wc").alias("sampled_tokens"))
    out = (
        per_src(d, "n_raw")
        .join(per_src(screened, "n_screened"), "source", "left")
        .join(per_src(sdocs, "n_deduped"), "source", "left")
        .join(per_src(clean, "n_clean"), "source", "left")
        .join(per_src(sampled, "n_sampled"), "source", "left")
        .join(toks, "source", "left")
    )
    z = F.lit(0)
    return out.select(
        "source",
        F.col("n_raw").cast("bigint").alias("n_raw"),
        F.coalesce(F.col("n_screened"), z).cast("bigint").alias("n_screened"),
        F.coalesce(F.col("n_deduped"), z).cast("bigint").alias("n_deduped"),
        F.coalesce(F.col("n_clean"), z).cast("bigint").alias("n_clean"),
        F.coalesce(F.col("n_sampled"), z).cast("bigint").alias("n_sampled"),
        F.coalesce(F.col("sampled_tokens"), z).cast("bigint").alias(
            "sampled_tokens"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q301: resample to a regular grid + forward fill
# ---------------------------------------------------------------------------


@query(
    "q301_resample_ffill",
    oracle="""
    WITH agg AS (
      SELECT user_id, time_bucket(INTERVAL '6 hours', ts) AS slot,
             round(avg(value), 6) AS v
      FROM events WHERE user_id < 5 GROUP BY 1, 2
    ),
    grid AS (
      SELECT u.user_id, g.slot
      FROM (SELECT DISTINCT user_id FROM agg) u
      CROSS JOIN (SELECT unnest(generate_series(
                    TIMESTAMP '2024-01-01',
                    TIMESTAMP '2024-01-30 18:00:00',
                    INTERVAL '6 hours')) AS slot) g
    ),
    joined AS (
      SELECT g.user_id, g.slot, a.v,
             last_value(a.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM grid g LEFT JOIN agg a
        ON a.user_id = g.user_id AND a.slot = g.slot
    )
    SELECT user_id, CAST(slot AS VARCHAR) AS slot, v_filled,
           (v IS NULL) AS was_gap
    FROM joined ORDER BY user_id, slot
    """,
)
def q301_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling an irregular event series onto a regular 6-hour grid
    with forward fill — the telemetry-regularization recipe in one plan:
    bucket-aggregate (mean per occupied slot) → LEFT JOIN against the
    generated full grid (sequence(), in-plan — no driver-side calendar)
    → operators/temporal.forward_fill carries the last observation over
    the gaps, with ``was_gap`` marking synthesized rows.  Grid size =
    users × slots is the bounded output contract; the input scan reduces
    to occupied slots before the join."""
    from .operators.temporal import forward_fill

    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 5)
    # 6-hour slots: truncate epoch seconds to the 6h boundary
    agg6 = (
        ev.groupBy(
            "user_id",
            F.timestamp_seconds(
                (F.col("ts").cast("long") / 21600).cast("bigint") * 21600
            ).alias("slot"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    users = agg6.select("user_id").distinct()
    slots = spark.sql(
        "SELECT explode(sequence(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-30 18:00:00', INTERVAL 6 HOURS)) AS slot"
    )
    grid = users.crossJoin(slots)
    joined = grid.join(agg6, ["user_id", "slot"], "left").withColumn(
        "was_gap", F.col("v").isNull()
    )
    filled = forward_fill(
        joined.withColumn("v_filled", F.col("v")),
        "v_filled",
        partition_cols=["user_id"],
        order_cols=["slot"],
    )
    return filled.select(
        "user_id",
        F.col("slot").cast("string").alias("slot"),
        "v_filled",
        "was_gap",
    ).orderBy("user_id", "slot")


# ---------------------------------------------------------------------------
# q302: data-contract dead-letter routing
# ---------------------------------------------------------------------------


@query(
    "q302_dead_letter",
    oracle="""
    WITH checked AS (
      SELECT CASE
               WHEN value < 0 OR value > 400 THEN 'value_out_of_range'
               WHEN event_type NOT IN
                    ('click', 'view', 'purchase', 'signup', 'error')
                 THEN 'unknown_event_type'
               WHEN ts < TIMESTAMP '2024-01-01'
                 OR ts >= TIMESTAMP '2024-02-01' THEN 'ts_out_of_window'
               ELSE 'ok' END AS verdict
      FROM events
    )
    SELECT verdict, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
    FROM checked GROUP BY verdict ORDER BY verdict
    """,
)
def q302_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement with dead-letter routing: every record is
    checked against the table's contract (value range, event-type enum,
    timestamp window) and routed to its FIRST violated rule — the verdict
    census that drives an ingest's dead-letter queue (the same posture as
    corrupt-record ingestion q250, one level up: syntactically valid rows
    that are semantically out of contract).  First-match-wins makes the
    routing deterministic when a row violates several rules; the split
    itself is a single codegen'd CASE — at 100 TB the router is free, the
    dead-letter WRITE is the cost (and is partitioned by verdict)."""
    ev = load_events(spark, sf_dir)
    verdict = (
        F.when((F.col("value") < 0) | (F.col("value") > 400), "value_out_of_range")
        .when(
            ~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            ),
            "unknown_event_type",
        )
        .when(
            (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
            | (F.col("ts") >= F.lit("2024-02-01").cast("timestamp")),
            "ts_out_of_window",
        )
        .otherwise("ok")
    )
    checked = ev.select(verdict.alias("verdict"))
    tot = Window.partitionBy()
    return (
        checked.groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "verdict",
            "n",
            F.round(F.col("n") / F.sum("n").over(tot), 6).alias("share"),
        )
        .orderBy("verdict")
    )


# ---------------------------------------------------------------------------
# q303: anti-entropy repair — per-bucket fingerprint divergence localization
# ---------------------------------------------------------------------------


@query(
    "q303_anti_entropy",
    oracle="""
    WITH replica_a AS (
      SELECT s_suppkey, s_name, s_acctbal FROM supplier
    ),
    replica_b AS (
      SELECT s_suppkey, s_name,
             CASE WHEN s_suppkey = 42 THEN s_acctbal + 1.0
                  ELSE s_acctbal END AS s_acctbal
      FROM supplier
    ),
    fa AS (
      SELECT s_suppkey % 16 AS bucket,
             CAST(sum(CAST(('0x' || substr(md5(
               CAST(s_suppkey AS VARCHAR) || '|' || s_name || '|'
               || CAST(s_acctbal AS VARCHAR)), 1, 15))::UBIGINT AS HUGEINT))
               % 2305843009213693951 AS BIGINT) AS fp_a,
             count(*) AS n_a
      FROM replica_a GROUP BY 1
    ),
    fb AS (
      SELECT s_suppkey % 16 AS bucket,
             CAST(sum(CAST(('0x' || substr(md5(
               CAST(s_suppkey AS VARCHAR) || '|' || s_name || '|'
               || CAST(s_acctbal AS VARCHAR)), 1, 15))::UBIGINT AS HUGEINT))
               % 2305843009213693951 AS BIGINT) AS fp_b,
             count(*) AS n_b
      FROM replica_b GROUP BY 1
    )
    SELECT CAST(fa.bucket AS BIGINT) AS bucket,
           (fa.fp_a <> fb.fp_b) AS diverged,
           CAST(fa.n_a AS BIGINT) AS n_rows
    FROM fa JOIN fb ON fa.bucket = fb.bucket
    WHERE fa.fp_a <> fb.fp_b OR fa.n_a <> fb.n_b
    ORDER BY bucket
    """,
)
def q303_anti_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy repair scan: two replicas of a table compare per-BUCKET
    content fingerprints (q223's order-independent md5-sum mod 2⁶¹−1,
    bucketed on key mod 16) and only diverging buckets surface — the
    Merkle-style localization that lets replica repair transfer 1/16th of
    the table instead of diffing everything.  The fixture plants one
    mutated row (supplier 42's balance) in replica B; exactly bucket
    42 % 16 = 10 must emerge, which the oracle independently recomputes.
    Scale: one scan per replica reduced to 16 scalars each — divergence
    detection costs two fingerprint passes regardless of table size,
    recursing into finer buckets only where fingerprints disagree."""
    M = 2305843009213693951

    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    rb = s.withColumn(
        "s_acctbal",
        F.when(F.col("s_suppkey") == 42, F.col("s_acctbal") + 1.0).otherwise(
            F.col("s_acctbal")
        ),
    )

    def bucket_fp(df: DataFrame, fp_name: str, n_name: str) -> DataFrame:
        ser = F.concat_ws(
            "|",
            F.col("s_suppkey").cast("string"),
            F.col("s_name"),
            F.col("s_acctbal").cast("string"),
        )
        d = F.conv(F.substring(F.md5(ser), 1, 15), 16, 10).cast("decimal(38,0)")
        return (
            df.select((F.col("s_suppkey") % 16).alias("bucket"), d.alias("d"))
            .groupBy("bucket")
            .agg(
                (F.sum("d") % M).cast("bigint").alias(fp_name),
                F.count(F.lit(1)).alias(n_name),
            )
        )

    fa = bucket_fp(s, "fp_a", "n_a")
    fb = bucket_fp(rb, "fp_b", "n_b")
    j = fa.join(fb, "bucket")
    return (
        j.filter(
            (F.col("fp_a") != F.col("fp_b")) | (F.col("n_a") != F.col("n_b"))
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            (F.col("fp_a") != F.col("fp_b")).alias("diverged"),
            F.col("n_a").cast("bigint").alias("n_rows"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q304: write-audit-publish (WAP)
# ---------------------------------------------------------------------------


@query(
    "q304_write_audit_publish",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_staged,
           CAST(0 AS BIGINT) AS n_contract_violations,
           TRUE AS published,
           CAST(count(*) AS BIGINT) AS n_live
    FROM orders WHERE o_totalprice > 0
    """,
)
def q304_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: new data lands in a STAGING path, an audit
    plan checks the contract (row count > 0, no negative totals, no null
    keys), and only a passing audit promotes the staging directory to the
    live path — readers never observe a half-written or contract-
    violating table.  The audit row (staged count, violations, published
    flag, live count re-read from the published path) is the query
    result; the oracle recomputes the expected counts from the source.
    At 100 TB the promote is a metastore pointer swap (or directory
    rename), never a rewrite — the pattern table formats productize and
    plain parquet pipelines implement exactly like this."""
    import os
    import shutil

    from .catalog_sources import _scratch

    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    staging = _scratch("wap_staging", sf_dir)
    live = _scratch("wap_live", sf_dir)
    o.write.mode("overwrite").parquet(staging)

    staged = spark.read.parquet(staging)
    audit = staged.agg(
        F.count(F.lit(1)).alias("n_staged"),
        F.sum(
            (
                (F.col("o_totalprice") <= 0) | F.col("o_orderkey").isNull()
            ).cast("int")
        ).alias("n_contract_violations"),
    ).collect()[0]
    ok = audit["n_contract_violations"] == 0 and audit["n_staged"] > 0
    if ok:
        if os.path.exists(live):
            shutil.rmtree(live)
        os.replace(staging, live)  # atomic directory promote
    n_live = spark.read.parquet(live).count() if ok else 0
    return _lrd(spark, 
        [(audit["n_staged"], audit["n_contract_violations"], ok, n_live)],
        "n_staged bigint, n_contract_violations bigint, published boolean,"
        " n_live bigint",
    )


# ---------------------------------------------------------------------------
# q305: idempotent re-run proof (keyed upsert, run twice)
# ---------------------------------------------------------------------------


@query(
    "q305_idempotent_rerun",
    oracle="""
    SELECT CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_after_first,
           CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_after_second,
           TRUE AS idempotent
    FROM supplier
    """,
)
def q305_idempotent_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent re-run proof: applying the SAME keyed upsert batch twice
    (operators/merge.merge_upsert) leaves the target bit-identical — the
    at-least-once-delivery survival property every batch pipeline needs
    (schedulers re-run failed jobs; a non-idempotent append double-counts).
    The query runs the merge twice from an empty target and compares
    counts plus a full-row checksum equality; append-style ingestion gets
    the same guarantee from the manifest-committed sinks
    (sources/python_source) and hash-keyed dedup (q70) — this pins the
    merge path."""
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    empty = s.filter(F.lit(False))
    from .operators.merge import merge_upsert

    once = merge_upsert(empty, s, ["s_suppkey"])
    twice = merge_upsert(once, s, ["s_suppkey"])
    a = once.agg(F.count_distinct("s_suppkey").alias("n_after_first"))
    b = twice.agg(F.count_distinct("s_suppkey").alias("n_after_second"))
    fp1 = once.agg(
        F.sum(F.conv(F.substring(F.md5(F.concat_ws("|", "s_suppkey", "s_name", "s_acctbal")), 1, 12), 16, 10).cast("bigint")).alias("f1")
    )
    fp2 = twice.agg(
        F.sum(F.conv(F.substring(F.md5(F.concat_ws("|", "s_suppkey", "s_name", "s_acctbal")), 1, 12), 16, 10).cast("bigint")).alias("f2")
    )
    return (
        a.crossJoin(b)
        .crossJoin(fp1)
        .crossJoin(fp2)
        .select(
            F.col("n_after_first").cast("bigint").alias("n_after_first"),
            F.col("n_after_second").cast("bigint").alias("n_after_second"),
            (
                (F.col("n_after_first") == F.col("n_after_second"))
                & (F.col("f1") == F.col("f2"))
            ).alias("idempotent"),
        )
    )


# ---------------------------------------------------------------------------
# q306: late-arriving dimension handling
# ---------------------------------------------------------------------------


@query(
    "q306_late_dimension",
    oracle="""
    WITH dim_early AS (
      SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 3 <> 0
    ),
    phase1 AS (
      SELECT l.l_orderkey, l.l_suppkey, e.s_name
      FROM lineitem l LEFT JOIN dim_early e ON l.l_suppkey = e.s_suppkey
      WHERE l.l_orderkey < 3000
    ),
    parked AS (SELECT * FROM phase1 WHERE s_name IS NULL),
    dim_late AS (
      SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 3 = 0
    ),
    resolved AS (
      SELECT p.l_orderkey, p.l_suppkey, d.s_name
      FROM parked p JOIN dim_late d ON p.l_suppkey = d.s_suppkey
    )
    SELECT CAST((SELECT count(*) FROM phase1) AS BIGINT) AS n_facts,
           CAST((SELECT count(*) FROM phase1 WHERE s_name IS NOT NULL)
             AS BIGINT) AS n_resolved_p1,
           CAST((SELECT count(*) FROM parked) AS BIGINT) AS n_parked,
           CAST((SELECT count(*) FROM resolved) AS BIGINT) AS n_resolved_p2,
           ((SELECT count(*) FROM parked) = (SELECT count(*) FROM resolved))
             AS fully_resolved
    """,
)
def q306_late_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts join the dimension as it
    exists at load time (phase 1), unmatched facts PARK instead of being
    dropped or poisoned with defaults, and the next dimension delivery
    resolves the parked set (phase 2) — the warehouse pattern for dims
    that trail their facts (new products, just-registered users).  The
    audit row proves conservation: parked == late-resolved, nothing lost.
    Both joins are plain broadcast-able equi-joins; the parked buffer is
    the only extra state and is bounded by the dim's lateness window."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dim_early = s.filter(F.col("s_suppkey") % 3 != 0)
    dim_late = s.filter(F.col("s_suppkey") % 3 == 0)
    phase1 = li.select("l_orderkey", "l_suppkey").join(
        F.broadcast(dim_early), li["l_suppkey"] == dim_early["s_suppkey"], "left"
    )
    parked = phase1.filter(F.col("s_name").isNull()).select(
        "l_orderkey", "l_suppkey"
    )
    resolved = parked.join(
        F.broadcast(dim_late), parked["l_suppkey"] == dim_late["s_suppkey"]
    )
    a = phase1.agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum(F.col("s_name").isNotNull().cast("int")).alias("n_resolved_p1"),
    )
    b = parked.agg(F.count(F.lit(1)).alias("n_parked"))
    c = resolved.agg(F.count(F.lit(1)).alias("n_resolved_p2"))
    return (
        a.crossJoin(b)
        .crossJoin(c)
        .select(
            F.col("n_facts").cast("bigint").alias("n_facts"),
            F.col("n_resolved_p1").cast("bigint").alias("n_resolved_p1"),
            F.col("n_parked").cast("bigint").alias("n_parked"),
            F.col("n_resolved_p2").cast("bigint").alias("n_resolved_p2"),
            (F.col("n_parked") == F.col("n_resolved_p2")).alias(
                "fully_resolved"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q307: aggregate navigator (answer from the cube, prove it == the facts)
# ---------------------------------------------------------------------------


@query(
    "q307_aggregate_navigator",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mon, o_orderpriority AS pri,
             sum(o_totalprice) AS rev, count(*) AS cnt
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(mon AS VARCHAR) AS mon,
           CAST(sum(cnt) AS BIGINT) AS n_orders,
           round(sum(rev), 2) AS revenue,
           TRUE AS matches_facts
    FROM monthly WHERE mon >= TIMESTAMP '2000-01-01'
    GROUP BY mon ORDER BY mon
    """,
)
def q307_aggregate_navigator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation: a daily (day × priority) cube is maintained
    once, and the monthly revenue question is answered by RE-AGGREGATING
    THE CUBE — never rescanning the fact table — with the equality to the
    fact-level answer asserted in the result (``matches_facts``).  This is
    the materialized-rollup discipline every BI layer runs on: additive
    measures (sum, count) roll up losslessly from any finer grain, and the
    cube is smaller than the facts by the grain ratio, so the 100 TB fact
    scan happens once per load, not once per dashboard refresh.  (The
    incremental-maintenance half of this story is q210/q291's mergeable
    state.)"""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("cnt")
    )
    from_cube = (
        daily.filter(F.col("day") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy(F.date_trunc("month", "day").alias("mon"))
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )
    from_facts = (
        o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy(F.date_trunc("month", "o_orderdate").alias("fmon"))
        .agg(
            F.count(F.lit(1)).alias("f_n"),
            F.round(F.sum("o_totalprice"), 2).alias("f_rev"),
        )
    )
    j = from_cube.join(from_facts, from_cube["mon"] == from_facts["fmon"], "full_outer")
    return (
        j.select(
            F.col("mon").cast("date").cast("string").alias("mon"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "revenue",
            (
                (F.col("n_orders") == F.col("f_n"))
                & (F.col("revenue") == F.col("f_rev"))
            ).alias("matches_facts"),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# q308: CDC log compaction (keep-latest per key)
# ---------------------------------------------------------------------------


@query(
    "q308_cdc_compaction",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    ranked AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, CAST(ts AS VARCHAR) AS ts, event_id,
           round(value, 4) AS value
    FROM ranked WHERE rn = 1 ORDER BY user_id
    """,
)
def q308_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: collapse an append-only change log to the
    LATEST record per key (event-time order, event_id tie-break — the
    deterministic discipline shuffle-order "last()" cannot give) — the
    keep-latest compaction every CDC-ingested table runs before serving,
    and the batch shape of streaming dropDuplicates-keep-last.  One
    row_number window per key partition; at 100 TB this is exactly the
    sortWithinPartitions + per-key head that compaction jobs (q257)
    pipeline with the file rewrite."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_id",
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q309: period-over-period growth report
# ---------------------------------------------------------------------------


@query(
    "q309_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             sum(o_totalprice) AS rev, count(*) AS n
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY 1
    )
    SELECT CAST(CAST(mon AS DATE) AS VARCHAR) AS mon,
           CAST(n AS BIGINT) AS n_orders,
           round(rev, 2) AS revenue,
           round((rev - lag(rev) OVER (ORDER BY mon))
                 / lag(rev) OVER (ORDER BY mon) * 100, 4) AS mom_pct
    FROM m ORDER BY mon
    """,
)
def q309_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth — the period-over-period report every BI
    layer serves: monthly revenue with lag-based percent change (first
    month null by definition).  The scan reduces to the month axis before
    the lag window, so the ordered window is bounded by the reporting
    range; composes with the aggregate navigator (q307): in production
    this reads the cube, not the facts."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("mon")
    return (
        m.select(
            F.col("mon").cast("date").cast("string").alias("mon"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.round("rev", 2).alias("revenue"),
            F.round(
                (F.col("rev") - F.lag("rev").over(w))
                / F.lag("rev").over(w)
                * 100,
                4,
            ).alias("mom_pct"),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# q310: sessionized bounce rate
# ---------------------------------------------------------------------------


@query(
    "q310_bounce_rate",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sid AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM d
    ),
    sessions AS (
      SELECT user_id, sid, time_bucket(INTERVAL '1 day', min(ts)) AS day,
             count(*) AS n_events
      FROM sid GROUP BY 1, 2
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate
    FROM sessions GROUP BY day ORDER BY day
    """,
)
def q310_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions with exactly one event,
    attributed to the day the session STARTED (min ts — the attribution
    rule stated, because midnight-spanning sessions must land somewhere
    deterministic).  Same gaps-and-islands sessionization both engines
    share (q85/q262); the scan reduces to per-session rows, then a
    day-bounded census.  The web-analytics staple that q85's session
    counts and q295's conversion lags sit beside."""
    ev = load_events(spark, sf_dir)
    wlag = Window.partitionBy("user_id").orderBy("ts")
    wcum = wlag.rowsBetween(Window.unboundedPreceding, 0)
    sid = ev.select(
        "user_id",
        "ts",
        F.when(
            (
                F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wlag)
                > 1800
            )
            | F.lag("ts").over(wlag).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).withColumn("sid", F.sum("new_s").over(wcum))
    sessions = sid.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("int")).alias("n_bounces"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_sessions",
            F.col("n_bounces").cast("bigint").alias("n_bounces"),
            F.round(F.col("n_bounces") / F.col("n_sessions"), 6).alias(
                "bounce_rate"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q311: weighted mean / weighted variance
# ---------------------------------------------------------------------------


@query(
    "q311_weighted_moments",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_discount) / sum(l_extendedprice), 6)
             AS w_mean_disc,
           round(sum(l_extendedprice * l_discount * l_discount)
                   / sum(l_extendedprice)
                 - pow(sum(l_extendedprice * l_discount)
                       / sum(l_extendedprice), 2), 8) AS w_var_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def q311_weighted_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted discount moments per return flag: weighted mean
    Σwx/Σw and weighted population variance Σwx²/Σw − mean² — the
    money-weighted statistics an unweighted avg silently misstates when
    line values vary by orders of magnitude.  Pure partial aggregates
    (three weighted sums), one shuffle on the 3-key group — the weighted
    counterpart of q26's plain moments."""
    li = table(spark, sf_dir, "lineitem")
    w, x = F.col("l_extendedprice"), F.col("l_discount")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(w * x) / F.sum(w), 6).alias("w_mean_disc"),
            F.round(
                F.sum(w * x * x) / F.sum(w) - (F.sum(w * x) / F.sum(w)) ** 2, 8
            ).alias("w_var_disc"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q312: cumulative new-user growth curve
# ---------------------------------------------------------------------------


@query(
    "q312_new_user_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, time_bucket(INTERVAL '1 day', min(ts)) AS day
      FROM events GROUP BY 1
    ),
    daily AS (SELECT day, count(*) AS n_new FROM first_seen GROUP BY 1)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily ORDER BY day
    """,
)
def q312_new_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative new-user curve: each user attributed to their
    first-seen day, daily cohort sizes, running total — the growth chart.
    The "distinct so far" trap solved the scalable way: a running
    count(DISTINCT) window is unmergeable, but first-seen attribution is
    one min-per-user aggregate and the cumulative sum runs over the
    bounded day axis.  (q294's sketch union solves the sliding-window
    variant of the same problem.)"""
    ev = load_events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.col("day").cast("string").alias("day"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q313: Zipf fit of the token frequency distribution
# ---------------------------------------------------------------------------


@query(
    "q313_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rk FROM freq
    )
    SELECT round(regr_slope(ln(f), ln(rk)), 6) AS zipf_slope,
           round(regr_r2(ln(f), ln(rk)), 6) AS r2,
           CAST(count(*) AS BIGINT) AS vocab
    FROM ranked
    """,
)
def q313_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) (natural text ≈ −1; synthetic or degenerate
    corpora deviate — a cheap corpus-health fingerprint next to the
    Gopher repetition filters q95).  The regression runs on the
    vocab-bounded rank table via the regr_* aggregates both engines
    share; the rank window is vocabulary-bounded, never corpus-bounded."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.desc("f"), "t")
    ranked = freq.select("f", F.row_number().over(w).alias("rk"))
    return ranked.agg(
        F.round(F.regr_slope(F.log("f"), F.log("rk")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("rk")), 6).alias("r2"),
        F.count(F.lit(1)).alias("vocab"),
    )


# ---------------------------------------------------------------------------
# q314: perfect-order rate (composite fulfillment SLA)
# ---------------------------------------------------------------------------


@query(
    "q314_perfect_order_rate",
    oracle="""
    WITH flags AS (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(1 - has_return) AS BIGINT) AS n_perfect,
           round(sum(1 - has_return) * 1.0 / count(*), 6) AS perfect_rate
    FROM flags
    """,
)
def q314_perfect_order_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-order rate: share of orders with NO returned line — the
    composite fulfillment SLA that must aggregate at the ORDER grain
    (a line-level return rate double-counts multi-line orders — the
    grain mistake this query exists to pin).  Max-flag rollup to orders,
    then one census row; both aggregates are map-side partial."""
    li = table(spark, sf_dir, "lineitem")
    flags = li.groupBy("l_orderkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_return")
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(1 - F.col("has_return")).cast("bigint").alias("n_perfect"),
        F.round(F.sum(1 - F.col("has_return")) / F.count(F.lit(1)), 6).alias(
            "perfect_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q315: hashed linear quality-classifier inference (fastText-style)
# ---------------------------------------------------------------------------

import math as _math

_W315 = [round(_math.sin(i + 1.0), 6) for i in range(32)]
_W315_SQL = "[" + ", ".join(f"{w:.6f}" for w in _W315) + "]"


@query(
    "q315_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, len(toks) AS n,
             -0.1 + CASE WHEN len(toks) > 0 THEN
               list_reduce(list_concat([0.0::DOUBLE], list_transform(toks, x ->
                 ({_W315_SQL})[1 + CAST(
                   ('0x' || substr(md5(x || '#hls'), 1, 8))::UBIGINT % 32
                   AS INT)]
               )), (s, x) -> s + x) / len(toks)
             ELSE 0.0 END AS m
      FROM t
    )
    SELECT doc_id, n AS n_tokens, floor(m * 1000000) / 1000000 AS margin,
           floor(1.0 / (1.0 + exp(-m)) * 1000000) / 1000000 AS prob
    FROM s ORDER BY doc_id
    """,
)
def q315_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference over documents
    (operators/text.hashed_linear_score) — the CCNet-shape "quality
    classifier" scoring pass of a corpus-filtering pipeline, as one
    codegen'd scan: md5 token→bucket hashing, array-literal weight lookup,
    mean pooling, sigmoid.  The fixture weight vector (32 buckets,
    sin-derived literals formatted identically into both engines) stands
    in for trained weights; the oracle replays the exact hash, lookup and
    left-to-right float fold, so the probability matches to 6 decimals.
    No shuffle, no explode, no Python — the 100 TB plan is the scan."""
    from .operators.text import hashed_linear_score

    d = table(spark, sf_dir, "documents")
    out = hashed_linear_score(
        d, "doc_id", "text", weights=_W315, bias=-0.1, salt="hls"
    )
    # floor-at-6 on both engines (round() tie-breaks differ on .xxxxxx5 —
    # sf0.1 gate finding; floor of the same double is engine-stable)
    return out.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("margin") * 1e6) / 1e6).alias("margin"),
        (F.floor(F.col("prob") * 1e6) / 1e6).alias("prob"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q316: Bloom-screened decontamination (compact membership summary)
# ---------------------------------------------------------------------------


@query(
    "q316_bloom_decontaminate",
    oracle="""
    WITH bs AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM documents WHERE doc_id < 10
    ),
    pos AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 1, 8))::UBIGINT % 4096 AS BIGINT) AS p FROM bs
      UNION SELECT DISTINCT CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 9, 8))::UBIGINT % 4096 AS BIGINT) FROM bs
      UNION SELECT DISTINCT CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 17, 8))::UBIGINT % 4096 AS BIGINT) FROM bs
    ),
    bits AS (SELECT list(p ORDER BY p) AS bl FROM pos),
    cs AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1), i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM documents WHERE doc_id >= 10
    ),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM cs GROUP BY 1),
    probe AS (
      SELECT doc_id, s,
             list_contains(bl, CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 1, 8))::UBIGINT % 4096 AS BIGINT))
             AND list_contains(bl, CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 9, 8))::UBIGINT % 4096 AS BIGINT))
             AND list_contains(bl, CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '#b'), 17, 8))::UBIGINT % 4096 AS BIGINT)) AS pass
      FROM cs CROSS JOIN bits
    ),
    flg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_flagged,
             CAST(sum(CASE WHEN s IN (SELECT s FROM bs) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_true
      FROM probe WHERE pass GROUP BY 1
    )
    SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
           f.n_flagged, f.n_true
    FROM tot t JOIN flg f USING (doc_id)
    ORDER BY doc_id
""",
)
def q316_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened decontamination (operators/dedup.bloom_decontaminate)
    — the at-scale form of the q96 contamination sweep: the benchmark's
    5-gram shingle set reduces to a k=3 / m=4096 Bloom bitmap (<= 4096
    integers broadcast once, vs broadcasting every exploded benchmark
    shingle), corpus shingles probe it map-side with NO join, and the
    exact shingle join verifies only the bloom-passing residue
    (candidates-then-verify, the LSH discipline).  Per-doc audit output
    quantifies the realized false-positive load (n_flagged - n_true);
    true contamination can never be missed because a benchmark shingle
    always passes its own Bloom positions.  Hash family: the md5-window
    construction shared with q242/MinHash, replayed bit-for-bit in the
    oracle."""
    from .operators.dedup import bloom_decontaminate

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 10)
    bench = d.filter(F.col("doc_id") < 10)
    out = bloom_decontaminate(
        corpus, bench, "doc_id", "text", "text", shingle_n=5, m=4096, k=3
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# q317: bigram language-model log-prob scoring (corpus-likelihood quality)
# ---------------------------------------------------------------------------


@query(
    "q317_bigram_logprob",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents WHERE doc_id < 100
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(w) - 1, 0) + 1),
               i -> {'a': w[i], 'b': w[i + 1]})) AS g
      FROM base
    ),
    g2 AS (SELECT doc_id, g.a AS a, g.b AS b FROM grams),
    unis AS (SELECT unnest(w) AS t FROM base),
    c1 AS (SELECT t AS a, count(*) AS c1 FROM unis GROUP BY 1),
    c2 AS (SELECT a, b, count(*) AS c2 FROM g2 GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT t) AS V FROM unis),
    scored AS (
      SELECT g2.doc_id,
             ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.V)) AS lp
      FROM g2 JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             avg(lp) AS alp
      FROM scored GROUP BY 1
    )
    SELECT b.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           round(p.alp, 6) AS avg_logprob,
           round(exp(-p.alp), 6) AS ppl
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    ORDER BY doc_id
    """,
)
def q317_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-likelihood quality scoring (operators/text.bigram_logprob):
    each document's average log-probability under the corpus's own add-1
    smoothed bigram LM, plus perplexity — the KenLM-shape filter signal
    (q208 surprisal is the unigram version; conditioning on the previous
    word catches improbable transitions).  Two Heaps'-bounded count
    tables, one n-gram-keyed join (AQE skew-split territory for
    "of the"-class bigrams), V as a 1-row broadcast.  Restricted to
    doc_id < 100 so the oracle's self-model matches exactly."""
    from .operators.text import bigram_logprob

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = bigram_logprob(d, "doc_id", "text", alpha=1.0)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("ppl", 6).alias("ppl"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q318: set-containment join (subset-duplicate detection)
# ---------------------------------------------------------------------------


@query(
    "q318_containment_dedup",
    oracle="""
    WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    corpus AS (
      SELECT s.doc_id,
             CASE WHEN s.doc_id % 7 = 0 AND s.doc_id > 0
                  THEN array_to_string((string_split(p.text, ' '))[1:12], ' ')
                  ELSE s.text END AS text
      FROM src s LEFT JOIN src p ON p.doc_id = s.doc_id - 1
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1) + 1),
               i -> array_to_string((string_split(lower(text), ' '))[i:i+1], ' ')))
               AS tk
      FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_filter(a.tk, x -> list_contains(b.tk, x))) * 1.0
                 / len(a.tk), 6) AS containment
    FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
    WHERE len(list_filter(a.tk, x -> list_contains(b.tk, x))) * 1.0
          / len(a.tk) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q318_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate detection via exact set-containment join
    (operators/setjoin.prefix_containment_join): every 7th document is
    deterministically replaced by a 12-word truncation of its predecessor
    (the classic excerpt/truncation duplicate both engines construct
    identically), and the bigram-shingle containment join finds exactly
    the 8 excerpt→source pairs at containment >= 0.8 — pairs symmetric
    Jaccard (q72/q249) scores near zero and MinHash banding under-recalls
    by design (collision probability tracks Jaccard, not containment).
    Candidates come from the rare-first prefix against a full shingle
    inventory (complete by the PRETTI invariant); the oracle is the
    brute-force ordered all-pairs on the same 60-doc corpus, which the
    prefix filter must reproduce exactly."""
    from .operators.dedup import shingle as _shingle
    from .operators.setjoin import prefix_containment_join

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pred = d.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("__ptext")
    )
    corpus = (
        d.join(pred, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") > 0),
                F.array_join(F.slice(F.split(F.col("__ptext"), " "), 1, 12), " "),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    toks = corpus.select(
        "doc_id",
        F.array_distinct(_shingle(F.lower(F.col("text")), 2)).alias("tk"),
    )
    out = prefix_containment_join(toks, "doc_id", "tk", threshold=0.8)
    return out.select(
        F.col("id_a"), F.col("id_b"), F.round("containment", 6).alias("containment")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q319: n-gram novelty screen (first-seen attribution)
# ---------------------------------------------------------------------------


@query(
    "q319_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             md5(unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
               i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' ')))))
               AS h
      FROM documents WHERE doc_id < 200
    ),
    first AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first.first_id = sh.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(sum(CASE WHEN first.first_id = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM sh JOIN first USING (h)
    GROUP BY 1 ORDER BY 1
    """,
)
def q319_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in ingestion order
    (operators/text.ngram_novelty): the fraction of each doc's distinct
    3-gram shingles the corpus sees first in that doc — 0 for a verbatim
    recycle of earlier text, ~1 for fresh prose; the partial-recycling
    price signal between exact dedup and pairwise Jaccard, computed with
    no pair materialization.  The shuffle carries md5 digests (32 B),
    never shingle text; first-seen is one partial-agg min per digest.
    Conservation invariant: sum(n_novel) over the corpus == its distinct
    digest count."""
    from .operators.text import ngram_novelty

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = ngram_novelty(d, "doc_id", "text", n=3)
    return out.select(
        "doc_id",
        "n_shingles",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        F.round("novelty", 6).alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q320: length-bucketed padding-efficiency audit
# ---------------------------------------------------------------------------


@query(
    "q320_padding_efficiency",
    oracle="""
    WITH seqs AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             CASE WHEN len(string_split(text, ' ')) <= 16 THEN 16
                  WHEN len(string_split(text, ' ')) <= 32 THEN 32
                  WHEN len(string_split(text, ' ')) <= 64 THEN 64
                  WHEN len(string_split(text, ' ')) <= 128 THEN 128
                  ELSE NULL END AS bucket_cap
      FROM documents
    ),
    g AS (SELECT max(n) AS gmax FROM seqs)
    SELECT bucket_cap,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(count(*) * bucket_cap - sum(n) AS BIGINT) AS bucket_padded,
           CAST(count(*) * g.gmax - sum(n) AS BIGINT) AS naive_padded,
           round(1.0 - (count(*) * bucket_cap - sum(n)) * 1.0
                 / (count(*) * g.gmax - sum(n)), 6) AS saved_frac
    FROM seqs CROSS JOIN g
    GROUP BY bucket_cap, g.gmax ORDER BY bucket_cap
    """,
)
def q320_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit (operators/training.padding_efficiency):
    pad tokens are wasted FLOPs, and the saving from bucketing sequences by
    length before batching — versus padding everything to the global max —
    is exactly what this one-scan report quantifies per bucket
    (boundaries 16/32/64/128 cover the fixture's 10-99-word docs).  One
    codegen'd CASE + a #buckets-row aggregate; global max as a 1-row
    broadcast; total-token conservation across boundary choices makes
    boundary tuning a grid search over the same scan."""
    from .operators.training import padding_efficiency

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    return padding_efficiency(d, "doc_id", "n_tok", [16, 32, 64, 128])


# ---------------------------------------------------------------------------
# q321: sorted-neighborhood blocking (record linkage)
# ---------------------------------------------------------------------------


@query(
    "q321_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part WHERE p_partkey <= 300
    ),
    pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_name AS key_a, b.p_name AS key_b
      FROM ranked a JOIN ranked b
        ON b.rn > a.rn AND b.rn <= a.rn + 3
    )
    SELECT id_a, id_b,
           CAST(len(list_filter(string_split(key_a, ' '),
                                x -> list_contains(string_split(key_b, ' '), x)))
             AS BIGINT) AS shared_words
    FROM pairs
    WHERE len(list_filter(string_split(key_a, ' '),
                          x -> list_contains(string_split(key_b, ' '), x))) >= 2
    ORDER BY id_a, id_b
    """,
)
def q321_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking
    (operators/dedup.sorted_neighborhood_pairs): parts ordered by name,
    candidates = every pair within a 4-wide sliding window, verified here
    by full-name word overlap (the fixture's 2-word part names) — the near-miss pairs ("blush lavender
    chiffon..." neighbors) that equality blocking on an exact key would
    scatter into different blocks.  The global order is the two-phase
    distributed rank (no single-partition window, same machinery as
    q125/q249); the pair join is an integer-rank equi-join, uniform by
    construction."""
    from .operators.dedup import sorted_neighborhood_pairs

    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    cands = sorted_neighborhood_pairs(p, "p_partkey", "p_name", window=4)
    shared = F.size(
        F.filter(
            F.split(F.col("key_a"), " "),
            lambda x: F.array_contains(F.split(F.col("key_b"), " "), x),
        )
    )
    return (
        cands.select(
            F.col("id_a"), F.col("id_b"), shared.cast("bigint").alias("shared_words")
        )
        .filter(F.col("shared_words") >= 2)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# q322: incremental novelty against a persisted first-seen index
# ---------------------------------------------------------------------------


@query(
    "q322_incremental_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             md5(unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
               i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' ')))))
               AS h
      FROM documents WHERE doc_id < 200
    ),
    first AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first.first_id = sh.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(sum(CASE WHEN first.first_id = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM sh JOIN first USING (h)
    WHERE sh.doc_id >= 100
    GROUP BY 1 ORDER BY 1
    """,
)
def q322_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion-batch novelty
    (operators/text.ngram_novelty_incremental): docs 0-99 stand in as the
    already-indexed corpus (its first-seen digest index materialized by
    ngram_digest_index — the persisted artifact a daily pipeline appends
    to), docs 100-199 as today's batch; the batch probes the index with
    one digest equi-join and the old corpus is never rescanned.  The
    oracle is the BATCH novelty over the full union restricted to the new
    docs — the parity the incremental decomposition must preserve
    (first-seen attribution splits exactly across the index boundary)."""
    from .operators.text import ngram_digest_index, ngram_novelty_incremental

    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 100)
    new = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    idx = ngram_digest_index(old, "doc_id", "text", n=3)
    per_doc, _delta = ngram_novelty_incremental(new, idx, "doc_id", "text", n=3)
    return per_doc.select(
        "doc_id",
        "n_shingles",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        F.round("novelty", 6).alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q323: data-mixture rate calculator
# ---------------------------------------------------------------------------


@query(
    "q323_mixture_rates",
    oracle="""
    WITH census AS (
      SELECT source AS domain,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
      FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
      GROUP BY 1
    ),
    rated AS (
      SELECT domain, avail,
             CASE domain WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.05
                         ELSE 0.0 END AS tshare
      FROM census
    ),
    r2 AS (
      SELECT domain, avail, tshare,
             least(1.0, tshare * 3000.0 / avail) AS rate,
             tshare * 3000.0 > avail AS epoch_capped,
             CAST(floor(least(1.0, tshare * 3000.0 / avail) * avail) AS BIGINT)
               AS sampled
      FROM rated
    )
    SELECT domain, avail AS available_tokens,
           CAST(round(tshare, 6) AS DOUBLE) AS target_share,
           CAST(round(rate, 6) AS DOUBLE) AS rate,
           sampled AS sampled_tokens,
           CAST(round(sampled * 1.0 / sum(sampled) OVER (), 6) AS DOUBLE)
             AS achieved_share,
           epoch_capped
    FROM r2 ORDER BY domain
    """,
)
def q323_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rate calculator (operators/training.mixture_rates):
    a DoReMi-style target weight vector (50/30/15/5 over four sources)
    plus a 3000-token budget turn into the per-domain sampling rates
    stratified_sample executes — with single-epoch caps surfaced as
    ``epoch_capped`` (the 50%-weight domain can't fill its share from
    ~1350 available tokens, so its rate pins at 1.0 and the achieved
    shares shift; the calculator shows the shortfall instead of silently
    upsampling).  Census = one groupBy over the corpus; everything else
    is arithmetic over #domains rows + a 1-row broadcast."""
    from .operators.training import mixture_rates

    d = table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    census = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    return mixture_rates(
        census,
        "source",
        "n_tokens",
        {"src0": 0.5, "src1": 0.3, "src2": 0.15, "src3": 0.05},
        3000,
    )


# ---------------------------------------------------------------------------
# q324: Matryoshka truncation recall audit (coarse-to-fine ANN)
# ---------------------------------------------------------------------------


@query(
    "q324_mrl_truncation_audit",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
    tn AS (
      SELECT vec_id,
             list_transform(emb[1:8], x ->
               x / sqrt(list_dot_product(emb[1:8], emb[1:8]))) AS t8,
             emb
      FROM e WHERE vec_id <> 0
    ),
    qn AS (
      SELECT list_transform(qemb[1:8], x ->
               x / sqrt(list_dot_product(qemb[1:8], qemb[1:8]))) AS qt8,
             qemb
      FROM q
    ),
    scored AS (
      SELECT vec_id,
             list_dot_product(t8, qt8) AS cos_trunc,
             list_dot_product(emb, qemb)
               / (sqrt(list_dot_product(emb, emb))
                  * sqrt(list_dot_product(qemb, qemb))) AS cos_full
      FROM tn, qn
    ),
    full_topk AS (
      SELECT vec_id FROM scored ORDER BY cos_full DESC, vec_id LIMIT 10
    )
    SELECT s.vec_id, round(s.cos_trunc, 6) AS cos_trunc,
           round(s.cos_full, 6) AS cos_full,
           s.vec_id IN (SELECT vec_id FROM full_topk) AS in_full_topk
    FROM scored s
    ORDER BY s.cos_trunc DESC, s.vec_id LIMIT 10
    """,
)
def q324_mrl_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall audit
    (operators/similarity.truncate_normalize): the coarse pass of a
    coarse-to-fine search ranks by 8-of-64-dim truncated-renormalized
    cosine (8x less IO per vector), and each coarse top-10 row reports its
    full-dim cosine plus whether it belongs to the TRUE full-dim top-10 —
    recall measured inside the oracle gate, not assumed (the same
    audit-first discipline as the Bloom q242/q316 and quantization q209
    certificates).  All math is codegen'd array ops; both rankings plan as
    TakeOrderedAndProject."""
    from .operators.similarity import _dot, as_double, cosine, truncate_normalize

    e = table(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding")
    cand = truncate_normalize(
        e.filter(F.col("vec_id") != 0), "embedding", 8, out_col="t8"
    ).crossJoin(
        F.broadcast(
            truncate_normalize(qrow, "embedding", 8, out_col="qt8").select(
                F.col("embedding").alias("qemb"), "qt8"
            )
        )
    )
    scored = cand.select(
        "vec_id",
        _dot(F.col("t8"), F.col("qt8")).alias("cos_trunc"),
        cosine(as_double(F.col("embedding")), as_double(F.col("qemb"))).alias(
            "cos_full"
        ),
    )
    full_topk = (
        scored.orderBy(F.col("cos_full").desc(), "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("__fid"))
    )
    return (
        scored.join(
            F.broadcast(full_topk), scored["vec_id"] == F.col("__fid"), "left"
        )
        .select(
            "vec_id",
            F.round("cos_trunc", 6).alias("cos_trunc"),
            F.round("cos_full", 6).alias("cos_full"),
            F.col("__fid").isNotNull().alias("in_full_topk"),
        )
        .orderBy(F.col("cos_trunc").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q325: cross-split contamination (leakage) audit
# ---------------------------------------------------------------------------


@query(
    "q325_split_leakage",
    oracle="""
    WITH h AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               / 4294967296.0 AS u
      FROM documents WHERE doc_id < 150
    ),
    tr AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))))
               AS s
      FROM h WHERE u < 0.8
    ),
    te AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))))
               AS s
      FROM h WHERE u >= 0.8
    ),
    pairs AS (
      SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
             count(DISTINCT te.s) AS shared
      FROM te JOIN tr ON te.s = tr.s
      GROUP BY 1, 2 HAVING count(DISTINCT te.s) >= 2
    )
    SELECT test_id,
           CAST(count(*) AS BIGINT) AS n_train_matches,
           CAST(max(shared) AS BIGINT) AS max_shared
    FROM pairs GROUP BY 1 ORDER BY test_id
    """,
)
def q325_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: after the deterministic 80/20 hash
    split (q94's operator), which held-out docs share >= 2 distinct 3-gram
    shingles with ANY training doc — and with how many?  Runs q96's
    decontamination machinery with the TRAIN split as the corpus and the
    TEST split as the benchmark: the eval-integrity report every training
    run should publish beside its metrics (a held-out doc paraphrasing
    training text inflates eval scores silently).  Hash split + shingle
    join are both md5/string-exact in the oracle; at scale this is one
    broadcast of the test side's shingles (the small split) against the
    train stream — same shape and cost as q96."""
    from .operators.dedup import decontaminate
    from .operators.text import hash_split

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    split = hash_split(d, "doc_id", {"train": 0.8, "test": 0.2})
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    test = split.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_id"), "text"
    )
    pairs = decontaminate(
        train, test, "doc_id", "text", "test_id", "text", shingle_n=3, min_shared=2
    )
    # decontaminate returns (corpus_id=doc_id, bench_id=test_id, shared)
    return (
        pairs.groupBy(F.col("bench_id").alias("test_id"))
        .agg(
            F.count(F.lit(1)).alias("n_train_matches"),
            F.max("shared_ngrams").cast("bigint").alias("max_shared"),
        )
        .orderBy("test_id")
    )


# ---------------------------------------------------------------------------
# q339: isotonic calibration (PAVA fit via the minimax characterization)
# ---------------------------------------------------------------------------


@query(
    "q339_isotonic_calibration",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#iso'), 1, 8))
               ::UBIGINT / 4294967296.0 AS score,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#lbl'), 1, 8))
               ::UBIGINT / 4294967296.0 AS coin
      FROM events),
    lab AS (
      SELECT LEAST(GREATEST(CAST(floor((score - 0.0) / 0.1) AS INT), 0), 9) AS bin,
             coin
      FROM scored),
    lab2 AS (
      SELECT bin,
             CASE WHEN coin < 0.2 + 0.05 * bin + 0.25 * (bin % 2)
                  THEN 1 ELSE 0 END AS y
      FROM lab),
    bins AS (SELECT bin, CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
             FROM lab2 GROUP BY bin),
    cums AS (SELECT bin, s, n,
                    sum(s) OVER (ORDER BY bin) AS cs,
                    sum(n) OVER (ORDER BY bin) AS cn
             FROM bins),
    pairs AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(k.cs - (j.cs - j.s) AS DOUBLE)
               / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg_jk
      FROM cums j JOIN cums k ON j.bin <= k.bin),
    im AS (
      SELECT i.bin AS i, p.j, min(p.avg_jk) AS m
      FROM bins i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
      GROUP BY i.bin, p.j),
    iso AS (SELECT i, max(m) AS iso_rate FROM im GROUP BY i)
    SELECT b.bin, b.n, CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS pos_rate,
           iso.iso_rate
    FROM bins b JOIN iso ON iso.i = b.bin ORDER BY bin
    """,
)
def q339_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration fit (operators/stats.isotonic_calibrate) — the
    PAVA step that turns q261's reliability DIAGNOSIS into a calibration
    MAP: least-squares monotone positive-rate curve over 10 score bins, via
    the minimax characterization iso[i] = max_{j<=i} min_{k>=i} avg(j..k).
    The fixture's md5-coin label probability deliberately ZIG-ZAGS across
    bins (0.2, 0.5, 0.3, 0.6, ...), so the pool-adjacent-violators pooling
    genuinely fires and the oracle checks real pooling, not a pass-through.
    Every interval average is one exact integer division; min/max over
    those are engine-deterministic, so values match bit-for-bit.  Scale:
    one map-side-combined aggregation to 10 rows; the O(bins^3) minimax
    runs on the bounded bin axis (same policy as ks_2sample/q247)."""
    from .operators.stats import isotonic_calibrate

    ev = load_events(spark, sf_dir)

    def _u(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("event_id").cast("string"), F.lit(salt))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            / 4294967296.0
        )

    scored = ev.select(_u("#iso").alias("score"), _u("#lbl").alias("coin"))
    bin_i = F.least(
        F.greatest(F.floor((F.col("score") - 0.0) / 0.1).cast("int"), F.lit(0)),
        F.lit(9),
    )
    lab = scored.select(
        "score",
        F.when(
            F.col("coin")
            < 0.2 + 0.05 * bin_i.cast("double") + 0.25 * (bin_i % 2).cast("double"),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    out = isotonic_calibrate(lab, "score", "y", nbins=10, lo=0.0, hi=1.0)
    return out.orderBy("bin")


# ---------------------------------------------------------------------------
# q348: precision-recall threshold sweep + best-F1 pick
# ---------------------------------------------------------------------------


@query(
    "q348_pr_curve",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#score'), 1, 8))
               ::UBIGINT / 4294967296.0
             + CASE WHEN value > 50.0 THEN 0.15 ELSE 0.0 END AS score,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS label
      FROM events
    ),
    grid AS (SELECT unnest(generate_series(0, 11)) / 10.0 AS t),
    cells AS (
      SELECT t,
             CAST(sum(CASE WHEN score >= t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score >= t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score <  t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored CROSS JOIN grid GROUP BY t
    ),
    m AS (
      SELECT t, tp, fp, fn,
             CASE WHEN tp + fp = 0 THEN NULL
                  ELSE tp / (tp + fp) END AS precision,
             CASE WHEN tp + fn = 0 THEN NULL
                  ELSE tp / (tp + fn) END AS recall,
             (2 * tp) / (2 * tp + fp + fn) AS f1
      FROM cells
    )
    SELECT round(t, 1) AS t, tp, fp, fn,
           floor(precision * 1000000) / 1000000 AS precision,
           floor(recall * 1000000) / 1000000 AS recall,
           floor(f1 * 1000000) / 1000000 AS f1,
           f1 = max(f1) OVER () AS is_best
    FROM m ORDER BY t
    """,
)
def q348_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall threshold sweep with a best-F1 pick — the
    operating-point companion to q288's AUC and q261's reliability
    (pick the filter cutoff a curation classifier should actually run
    at).  Same deterministic md5 score fixture as q288.  Shape: the
    12-point threshold grid broadcasts into ONE corpus scan (every row
    contributes to all thresholds; counts combine map-side into 12
    groups), confusion cells are integers, and every metric is a single
    IEEE division — floor-at-6 only for display.  The best-F1 flag is a
    window max over the 12-row result, and NULL-guarded precision
    documents the empty-prediction edge."""
    ev = load_events(spark, sf_dir)
    score = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#score"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / 4294967296.0
        + F.when(F.col("value") > 50.0, 0.15).otherwise(0.0)
    )
    scored = ev.select(
        score.alias("score"),
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("label"),
    )
    grid = spark.range(0, 12).select((F.col("id") / 10.0).alias("t"))
    cells = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("t")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("label") == 1), 1)
                .otherwise(0)
            ).cast("bigint").alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("label") == 0), 1)
                .otherwise(0)
            ).cast("bigint").alias("fp"),
            F.sum(
                F.when((F.col("score") < F.col("t")) & (F.col("label") == 1), 1)
                .otherwise(0)
            ).cast("bigint").alias("fn"),
        )
    )
    pp = F.col("tp") + F.col("fp")
    p = F.col("tp") + F.col("fn")
    m = cells.select(
        "t",
        "tp",
        "fp",
        "fn",
        F.when(pp == 0, None)
        .otherwise(F.col("tp").cast("double") / pp)
        .alias("precision"),
        F.when(p == 0, None)
        .otherwise(F.col("tp").cast("double") / p)
        .alias("recall"),
        (
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )
    w = Window.partitionBy()
    return m.select(
        F.round("t", 1).alias("t"),
        "tp",
        "fp",
        "fn",
        (F.floor(F.col("precision") * 1e6) / 1e6).alias("precision"),
        (F.floor(F.col("recall") * 1e6) / 1e6).alias("recall"),
        (F.floor(F.col("f1") * 1e6) / 1e6).alias("f1"),
        (F.col("f1") == F.max("f1").over(w)).alias("is_best"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# q349: difference-in-differences readout
# ---------------------------------------------------------------------------


@query(
    "q349_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT user_id % 2 AS arm,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n, avg(value) AS y
      FROM events GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        max(CASE WHEN arm = 1 AND post = 1 THEN y END) AS t_post,
        max(CASE WHEN arm = 1 AND post = 0 THEN y END) AS t_pre,
        max(CASE WHEN arm = 0 AND post = 1 THEN y END) AS c_post,
        max(CASE WHEN arm = 0 AND post = 0 THEN y END) AS c_pre
      FROM cells
    )
    SELECT CAST(c.arm AS BIGINT) AS arm, CAST(c.post AS INT) AS post, c.n,
           round(c.y, 4) AS mean_value,
           round((w.t_post - w.t_pre) - (w.c_post - w.c_pre), 4) AS did
    FROM cells c, wide w ORDER BY arm, post
    """,
)
def q349_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    complement of q245's CUPED (no covariate model, just the parallel-
    trends contrast): arm = user_id mod 2, period split mid-January,
    DiD = (treat_post - treat_pre) - (ctrl_post - ctrl_pre) attached to
    the four cell means.  One map-side-partial aggregate to 4 cells, a
    1-row pivot broadcast back — nothing scales with data but the scan.
    Rounded at 4 (float mean; the repo's cross-engine tolerance
    convention for sum-order-dependent aggregates, as in q245)."""
    ev = load_events(spark, sf_dir)
    split = F.lit("2024-01-16").cast("timestamp")
    cells = ev.groupBy(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("post"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.avg("value").alias("y"))
    pick = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("post") == p), F.col("y"))
    )
    wide = cells.agg(
        pick(1, 1).alias("t_post"),
        pick(1, 0).alias("t_pre"),
        pick(0, 1).alias("c_post"),
        pick(0, 0).alias("c_pre"),
    )
    return (
        cells.crossJoin(F.broadcast(wide))
        .select(
            F.col("arm").cast("bigint").alias("arm"),
            F.col("post").cast("int").alias("post"),
            "n",
            F.round("y", 4).alias("mean_value"),
            F.round(
                (F.col("t_post") - F.col("t_pre"))
                - (F.col("c_post") - F.col("c_pre")),
                4,
            ).alias("did"),
        )
        .orderBy("arm", "post")
    )


# ---------------------------------------------------------------------------
# q350: winsorized / trimmed robust moments per group
# ---------------------------------------------------------------------------


@query(
    "q350_winsorized_stats",
    oracle="""
    WITH cuts AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.05) AS lo,
             quantile_cont(c_acctbal, 0.95) AS hi
      FROM customer GROUP BY 1
    ),
    w AS (
      SELECT c.c_mktsegment,
             least(greatest(c.c_acctbal, lo), hi) AS wv,
             CASE WHEN c.c_acctbal >= lo AND c.c_acctbal <= hi
                  THEN c.c_acctbal END AS tv
      FROM customer c JOIN cuts USING (c_mktsegment)
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(wv), 4) AS winsor_mean,
           round(stddev_pop(wv), 4) AS winsor_std,
           round(avg(tv), 4) AS trimmed_mean,
           CAST(count(tv) AS BIGINT) AS n_kept
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def q350_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed robust moments per market segment — the
    outlier-resistant mean/std between plain avg and q240's MAD family:
    clamp (winsorize) account balances to the exact per-group [p05, p95]
    band, and separately drop (trim) everything outside it.  Spark
    percentile == DuckDB quantile_cont (same linear interpolation) keeps
    the cut points bit-equal.  Shape: one exact-percentile aggregate per
    group broadcast back onto the scan, then plain map-side-partial
    moments — no sort, no window.  Above the scale.py threshold the
    cuts would auto-degrade to percentile_approx exactly as q247 does
    (same sketch, same error certificate)."""
    c = table(spark, sf_dir, "customer")
    cuts = c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.05)).alias("lo"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("hi"),
    )
    w = c.join(F.broadcast(cuts), "c_mktsegment").select(
        "c_mktsegment",
        F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi")).alias(
            "wv"
        ),
        F.when(
            (F.col("c_acctbal") >= F.col("lo"))
            & (F.col("c_acctbal") <= F.col("hi")),
            F.col("c_acctbal"),
        ).alias("tv"),
    )
    return (
        w.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("wv"), 4).alias("winsor_mean"),
            F.round(F.stddev_pop("wv"), 4).alias("winsor_std"),
            F.round(F.avg("tv"), 4).alias("trimmed_mean"),
            F.count("tv").cast("bigint").alias("n_kept"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q353: decision-stump split search (binned Gini)
# ---------------------------------------------------------------------------


@query(
    "q353_decision_stump",
    oracle="""
    WITH f AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS x, label % 2 AS y FROM embeddings
    ),
    bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM f),
    binned AS (
      SELECT least(15, CAST(floor((x - lo) / (hi - lo + 1e-12) * 16) AS INT))
               AS bin, y
      FROM f, bounds
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM binned GROUP BY 1
    ),
    grid AS (SELECT unnest(generate_series(1, 15)) AS s),
    tot AS (SELECT sum(n) AS nt, sum(pos) AS pt FROM bins),
    cells AS (
      SELECT g.s,
             CAST(coalesce(sum(CASE WHEN b.bin < g.s THEN b.n END), 0) AS BIGINT) AS nl,
             CAST(coalesce(sum(CASE WHEN b.bin < g.s THEN b.pos END), 0) AS BIGINT) AS pos_l
      FROM grid g CROSS JOIN bins b GROUP BY 1
    ),
    scored AS (
      SELECT s, nl, nt - nl AS nr, pos_l, pt - pos_l AS pos_r,
             CASE WHEN nl = 0 THEN CAST(0 AS DOUBLE)
                  ELSE 1 - ((pos_l / nl) * (pos_l / nl)
                          + ((nl - pos_l) / nl) * ((nl - pos_l) / nl)) END AS gl,
             CASE WHEN nt - nl = 0 THEN CAST(0 AS DOUBLE)
                  ELSE 1 - (((pt - pos_l) / (nt - nl)) * ((pt - pos_l) / (nt - nl))
                          + (((nt - nl) - (pt - pos_l)) / (nt - nl))
                          * (((nt - nl) - (pt - pos_l)) / (nt - nl))) END AS gr
      FROM cells, tot
    ),
    wg AS (
      SELECT s, nl, nr, pos_l, pos_r,
             (nl * gl + nr * gr) / (nl + nr) AS gini
      FROM scored
    )
    SELECT CAST(s AS INT) AS split_bin,
           floor((lo + s * (hi - lo + 1e-12) / 16) * 1000000) / 1000000
             AS threshold,
           nl, nr, pos_l, pos_r,
           floor(gini * 1000000) / 1000000 AS gini,
           gini = min(gini) OVER () AS is_best
    FROM wg, bounds ORDER BY split_bin
    """,
)
def q353_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decision-stump training: the best 1-D threshold split
    of embedding dim 0 against the parity label, by weighted Gini over
    16 equal-width bins — the weak-learner primitive under boosted
    quality classifiers (and the q315 hashed-linear family's tree-side
    counterpart).  The classic distributed-tree trick (approximate
    split search on HISTOGRAMS, XGBoost/LightGBM-style): the corpus
    reduces to 16 integer bin cells in one map-side-partial pass, and
    the 15-candidate sweep runs on the bounded cell table — a tiny
    grid×bins cross, never a re-scan per candidate.  All Gini inputs
    are integers; every ratio is written with identical association on
    both engines, so the floor-at-6 display values and the is-best
    argmin flag replay exactly."""
    f = table(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        (F.col("label") % 2).alias("y"),
    )
    bounds = f.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = f.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(15),
            F.floor(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo") + F.lit(1e-12))
                * 16
            ).cast("int"),
        ).alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    grid = spark.range(1, 16).select(F.col("id").alias("s"))
    tot = bins.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("pt")
    )
    cells = (
        grid.crossJoin(F.broadcast(bins))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("bin") < F.col("s"), F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias("nl"),
            F.coalesce(
                F.sum(F.when(F.col("bin") < F.col("s"), F.col("pos"))), F.lit(0)
            )
            .cast("bigint")
            .alias("pos_l"),
        )
    )
    c = cells.crossJoin(F.broadcast(tot)).select(
        "s",
        "nl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        "pos_l",
        (F.col("pt") - F.col("pos_l")).alias("pos_r"),
    )

    def _gini(pos, n):
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return F.when(n == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - (p * p + q * q)
        )

    wg = c.select(
        "s",
        "nl",
        "nr",
        "pos_l",
        "pos_r",
        (
            (
                F.col("nl") * _gini(F.col("pos_l"), F.col("nl"))
                + F.col("nr") * _gini(F.col("pos_r"), F.col("nr"))
            )
            / (F.col("nl") + F.col("nr"))
        ).alias("gini"),
    )
    w = Window.partitionBy()
    return (
        wg.crossJoin(F.broadcast(bounds))
        .select(
            F.col("s").cast("int").alias("split_bin"),
            (
                F.floor(
                    (
                        F.col("lo")
                        + F.col("s") * (F.col("hi") - F.col("lo") + F.lit(1e-12)) / 16
                    )
                    * 1e6
                )
                / 1e6
            ).alias("threshold"),
            "nl",
            "nr",
            "pos_l",
            "pos_r",
            (F.floor(F.col("gini") * 1e6) / 1e6).alias("gini"),
            (F.col("gini") == F.min("gini").over(w)).alias("is_best"),
        )
        .orderBy("split_bin")
    )


# ---------------------------------------------------------------------------
# q354: split-conformal prediction intervals + coverage audit
# ---------------------------------------------------------------------------


@query(
    "q354_conformal_interval",
    oracle="""
    WITH cal AS (
      SELECT event_type, value FROM events WHERE user_id % 5 <> 0
    ),
    test AS (
      SELECT event_type, value FROM events WHERE user_id % 5 = 0
    ),
    pred AS (
      SELECT event_type, quantile_cont(value, 0.5) AS yhat FROM cal GROUP BY 1
    ),
    resid AS (
      SELECT c.event_type, abs(c.value - p.yhat) AS r
      FROM cal c JOIN pred p USING (event_type)
    ),
    qhat AS (
      SELECT event_type, quantile_cont(r, 0.9) AS q FROM resid GROUP BY 1
    ),
    cov AS (
      SELECT t.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN abs(t.value - p.yhat) <= q.q
                           THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM test t JOIN pred p USING (event_type) JOIN qhat q USING (event_type)
      GROUP BY 1
    )
    SELECT c.event_type,
           round(p.yhat, 4) AS yhat,
           round(q.q, 4) AS half_width,
           c.n_test, c.covered,
           c.covered / c.n_test AS coverage
    FROM cov c JOIN pred p USING (event_type) JOIN qhat q USING (event_type)
    ORDER BY c.event_type
    """,
)
def q354_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with a held-out coverage audit
    (Vovk/Lei-Wasserman shape, the distribution-free uncertainty wrapper
    production scoring pipelines bolt onto any point predictor): the
    calibration split (80% of users) fits a per-event-type median
    predictor and takes the 0.9 quantile of absolute residuals as the
    interval half-width; the disjoint test split then counts how often
    the true value lands inside — coverage ≈ 0.9 by the conformal
    guarantee.  Every statistic is an exact order-statistic (median /
    quantile_cont interpolate SORTED values — multiset-deterministic,
    no float-sum reassociation anywhere), so the boundary comparisons
    replay bit-exactly and the coverage counts are integers.  Shape: two
    per-type percentile aggregates broadcast onto the test scan; the
    splits partition one table read."""
    ev = load_events(spark, sf_dir)
    cal = ev.filter(F.col("user_id") % 5 != 0).select("event_type", "value")
    test = ev.filter(F.col("user_id") % 5 == 0).select("event_type", "value")
    pred = cal.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("yhat")
    )
    resid = cal.join(F.broadcast(pred), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("yhat")).alias("r")
    )
    qhat = resid.groupBy("event_type").agg(
        F.percentile("r", F.lit(0.9)).alias("q")
    )
    cov = (
        test.join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("yhat")) <= F.col("q"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        cov.join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .select(
            "event_type",
            F.round("yhat", 4).alias("yhat"),
            F.round("q", 4).alias("half_width"),
            "n_test",
            "covered",
            (F.col("covered").cast("double") / F.col("n_test")).alias("coverage"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q356: mutual-information feature ranking (binned, vs label)
# ---------------------------------------------------------------------------


@query(
    "q356_mi_feature_rank",
    oracle="""
    WITH f AS (
      SELECT u.k - 1 AS dim, CAST(u.x AS DOUBLE) AS x, label % 2 AS y
      FROM (SELECT embedding, label,
                   unnest(embedding[1:8]) AS x,
                   generate_subscripts(embedding[1:8], 1) AS k
            FROM embeddings) u
    ),
    bounds AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM f GROUP BY 1
    ),
    binned AS (
      SELECT f.dim,
             least(7, CAST(floor((x - lo) / (hi - lo + 1e-12) * 8) AS INT)) AS b,
             y
      FROM f JOIN bounds USING (dim)
    ),
    cells AS (
      SELECT dim, b, y, CAST(count(*) AS BIGINT) AS n
      FROM binned GROUP BY 1, 2, 3
    ),
    margs AS (
      SELECT dim, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1
    ),
    mb AS (SELECT dim, b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1, 2),
    my AS (SELECT dim, y, CAST(sum(n) AS BIGINT) AS ny FROM cells GROUP BY 1, 2),
    mi AS (
      SELECT c.dim,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((c.n / m.nt) * ln((c.n * m.nt) / (CAST(mb.nb AS DOUBLE) * my.ny))
                    ORDER BY c.b, c.y)),
               (a, v) -> a + v) AS mi_nats
      FROM cells c
      JOIN margs m USING (dim)
      JOIN mb ON mb.dim = c.dim AND mb.b = c.b
      JOIN my ON my.dim = c.dim AND my.y = c.y
      GROUP BY c.dim
    )
    SELECT CAST(dim AS INT) AS dim, round(mi_nats, 6) AS mi_nats,
           CAST(row_number() OVER (ORDER BY mi_nats DESC, dim ASC) AS INT)
             AS rnk
    FROM mi ORDER BY rnk
    """,
)
def q356_mi_feature_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking: I(dim_k; label) over 8
    equal-width bins for each of the first 8 embedding dims — the
    filter-method feature selector (sklearn's SelectKBest shape) that
    complements q353's single-stump split search with an all-features
    screen.  The corpus reduces to dim×bin×label integer cells in one
    map-side-partial pass (one posexplode scan, grouped once); MI is an
    ordered fold of (p log p-ratio) terms over the bounded 16-cell axis
    per dim, so the only data-sized work is the scan.  All probabilities
    are single IEEE divisions of integers; ln at round-6 is the
    q313/q317 cross-engine convention; the rank is a window over 8
    rows."""
    f = (
        table(spark, sf_dir, "embeddings")
        .select(
            F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "xf"),
            (F.col("label") % 2).alias("y"),
        )
        .select("dim", F.col("xf").cast("double").alias("x"), "y")
    )
    bounds = f.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = f.join(F.broadcast(bounds), "dim").select(
        "dim",
        F.least(
            F.lit(7),
            F.floor(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo") + F.lit(1e-12))
                * 8
            ).cast("int"),
        ).alias("b"),
        "y",
    )
    cells = binned.groupBy("dim", "b", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    margs = cells.groupBy("dim").agg(F.sum("n").cast("bigint").alias("nt"))
    mb = cells.groupBy("dim", "b").agg(F.sum("n").cast("bigint").alias("nb"))
    my = cells.groupBy("dim", "y").agg(F.sum("n").cast("bigint").alias("ny"))
    terms = (
        cells.join(F.broadcast(margs), "dim")
        .join(F.broadcast(mb), ["dim", "b"])
        .join(F.broadcast(my), ["dim", "y"])
        .select(
            "dim",
            "b",
            "y",
            (
                (F.col("n").cast("double") / F.col("nt"))
                * F.log(
                    (F.col("n") * F.col("nt"))
                    / (F.col("nb").cast("double") * F.col("ny"))
                )
            ).alias("t"),
        )
    )
    mi = terms.groupBy("dim").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("b"), F.col("y"), F.col("t").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("mi_nats")
    )
    w = Window.orderBy(F.col("mi_nats").desc(), F.col("dim").asc())
    return mi.select(
        F.col("dim").cast("int").alias("dim"),
        F.round("mi_nats", 6).alias("mi_nats"),
        F.row_number().over(w).cast("int").alias("rnk"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# q357: Theil-Sen robust trend over the daily-revenue series
# ---------------------------------------------------------------------------


@query(
    "q357_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             round(sum(value), 4) AS y
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT (b.y - a.y) / (b.d - a.d) AS m
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    mhat AS (SELECT quantile_cont(m, 0.5) AS m FROM slopes),
    bhat AS (
      SELECT quantile_cont(y - mhat.m * d, 0.5) AS b0
      FROM daily, mhat
    )
    SELECT round(mhat.m, 6) AS slope,
           round(bhat.b0, 6) AS intercept,
           CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs
    FROM mhat, bhat
    """,
)
def q357_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate of the daily-revenue series: the
    median of all pairwise slopes, with the median-residual intercept —
    the breakdown-resistant alternative to q202's least-squares
    regression aggregates (one wild day cannot move it).  The all-pairs
    step runs on the AGGREGATED day axis (the corpus reduces to ~31
    daily rows first, so the pair join is axis-bounded, never
    data-bounded — at any corpus size the series length is the knob);
    both medians are exact order statistics, multiset-deterministic on
    both engines.  Daily sums are rounded at 4 BEFORE the pair algebra
    (the float-aggregate tolerance convention) so every slope is a
    division of identical doubles."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    slopes = (
        a.crossJoin(b)
        .filter(F.col("db") > F.col("da"))
        .select(
            ((F.col("yb") - F.col("ya")) / (F.col("db") - F.col("da"))).alias("m")
        )
    )
    mhat = slopes.agg(F.percentile("m", F.lit(0.5)).alias("m"))
    bhat = (
        daily.crossJoin(F.broadcast(mhat))
        .agg(
            F.percentile(F.col("y") - F.col("m") * F.col("d"), F.lit(0.5)).alias(
                "b0"
            )
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    n_pairs = slopes.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        mhat.crossJoin(F.broadcast(bhat))
        .crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            F.round("m", 6).alias("slope"),
            F.round("b0", 6).alias("intercept"),
            "n_days",
            "n_pairs",
        )
    )


# ---------------------------------------------------------------------------
# q358: two-feature closed-form OLS (normal equations via Cramer)
# ---------------------------------------------------------------------------


@query(
    "q358_ols_two_features",
    oracle="""
    WITH o AS (
      SELECT l_orderkey AS k,
             CAST(sum(l_quantity) AS DOUBLE) AS x1,
             CAST(count(*) AS DOUBLE) AS x2,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS y
      FROM lineitem GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
             sum(x1 * x2) AS s12, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      FROM o
    ),
    c AS (
      SELECT n,
             s11 - s1 * s1 / n AS a11,
             s22 - s2 * s2 / n AS a22,
             s12 - s1 * s2 / n AS a12,
             s1y - s1 * sy / n AS b1,
             s2y - s2 * sy / n AS b2,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM s
    )
    SELECT round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 4) AS beta1,
           round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 4) AS beta2,
           round(my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * m1
                    - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * m2,
                 4) AS beta0,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def q358_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature closed-form OLS — order revenue regressed on total
    quantity and line count, solved by Cramer's rule on the centered
    2x2 normal equations.  This is how multi-feature linear models
    actually train at 100 TB: ONE pass of map-side-partial moment sums
    (9 scalars regardless of row count; for d features it is
    d(d+3)/2+1 — the Gram-reduction shape of q255), then closed-form
    algebra on the 1-row result.  Extends q202's built-in single-
    regressor aggregates to the multivariate case.  Round-6/4 display
    is the float-aggregate tolerance convention (moment sums are
    order-dependent; the determinant algebra is identical IEEE on both
    engines given the same sums; round-4 absorbs the partial-sum drift,
    which at these coefficient magnitudes exceeds 1e-6, as the sf-gate
    measured)."""
    li = table(spark, sf_dir, "lineitem")
    o = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum("l_quantity").cast("double").alias("x1"),
        F.count(F.lit(1)).cast("double").alias("x2"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("y"),
    )
    s = o.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    c = s.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("a11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("a22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("a12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("b1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("b2"),
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    return c.select(
        F.round(beta1, 4).alias("beta1"),
        F.round(beta2, 4).alias("beta2"),
        F.round(
            F.col("my") - beta1 * F.col("m1") - beta2 * F.col("m2"), 4
        ).alias("beta0"),
        F.col("n").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# q359: quantile treatment effects
# ---------------------------------------------------------------------------


@query(
    "q359_quantile_treatment_effects",
    oracle="""
    WITH units AS (
      SELECT user_id, user_id % 2 AS arm, round(sum(value), 4) AS y
      FROM events GROUP BY 1, 2
    ),
    qq AS (
      SELECT quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9])
               FILTER (arm = 1) AS qt,
             quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9])
               FILTER (arm = 0) AS qc
      FROM units
    ),
    g AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS q,
                 generate_subscripts([0.1, 0.25, 0.5, 0.75, 0.9], 1) AS i)
    SELECT CAST(g.q AS DOUBLE) AS q, round(qt[g.i], 4) AS y_treat, round(qc[g.i], 4) AS y_ctrl,
           round(qt[g.i] - qc[g.i], 4) AS qte
    FROM qq, g ORDER BY g.q
    """,
)
def q359_quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: per-quantile arm contrasts of the
    user-level outcome — where an experiment readout goes when the mean
    (q245/q349) hides distributional movement (heavy-tail gains, median
    flat).  Per-user outcomes are rounded BEFORE the quantile (identical
    multisets on both engines — the q357 discipline), and every quantile
    is an exact order statistic; above the scale.py threshold they would
    degrade to the percentile sketch with q266's error certificate.
    Shape: one user rollup + one grouped percentile aggregate over the
    5-point quantile grid — the grid rides the aggregate, not the data."""
    ev = load_events(spark, sf_dir)
    units = ev.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        F.round(F.sum("value"), 4).alias("y")
    )
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    qarr = F.array(*[F.lit(q) for q in qs])
    agg = units.agg(
        F.percentile(F.when(F.col("arm") == 1, F.col("y")), qarr).alias("qt"),
        F.percentile(F.when(F.col("arm") == 0, F.col("y")), qarr).alias("qc"),
    )
    grid = _lrd(spark, [(i, q) for i, q in enumerate(qs)], ["i", "q"])
    return (
        grid.crossJoin(F.broadcast(agg))
        .select(
            "q",
            F.round(F.element_at("qt", (F.col("i") + 1).cast("int")), 4).alias("y_treat"),
            F.round(F.element_at("qc", (F.col("i") + 1).cast("int")), 4).alias("y_ctrl"),
            F.round(
                F.element_at("qt", (F.col("i") + 1).cast("int"))
                - F.element_at("qc", (F.col("i") + 1).cast("int")),
                4,
            ).alias("qte"),
        )
        .orderBy("q")
    )
