"""Catalog round 6: statistical testing, spatial join, Bloom semi-join, ORC.

q236-q244 — the monitoring / data-quality statistics a production pipeline
reports (KS, chi-squared, PSI, MAD outliers), the grid-cell spatial join, an
explicit Bloom-filter semi-join reduction, hour-of-day seasonal
decomposition, a Pareto frontier (skyline), and the native ORC format
round-trip.  Every query keeps the established discipline: identical aliases
both sides, floats rounded in-query, every LIMIT under a total order, and
post-scan structures bounded (bins, cells, contingency cells, frontier rows)
so the plans survive a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import ORACLE, QUERIES, load_events, query, table

__all__: list[str] = []


# ---------------------------------------------------------------------------
# q236: ORC round-trip (native columnar format #2)
# ---------------------------------------------------------------------------


@query(
    "q236_orc_roundtrip",
    oracle="""
    SELECT count(*)                        AS n_rows,
           CAST(sum(p_size) AS BIGINT)     AS size_sum,
           round(sum(p_retailprice), 2)    AS price_sum,
           min(p_name)                     AS min_name,
           max(p_partkey)                  AS max_key
    FROM part
    """,
)
def q236_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (sources/files.write_orc/read_orc —
    Spark-native, zero extra jars): the second first-class columnar format
    next to parquet (q92), completing the format matrix csv/json/text/xml/
    arrow-ipc/parquet/orc.  The oracle aggregates the original parquet;
    equality proves type fidelity through the ORC writer/reader.  Scale:
    ORC gets the same stripe-level predicate pushdown + column pruning as
    parquet — format choice is a storage-layout decision, not a plan
    change."""
    from .catalog_sources import _scratch
    from .sources import files as fs

    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size", "p_retailprice"
    )
    path = _scratch("orc_part", sf_dir)
    fs.write_orc(p, path)
    back = fs.read_orc(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("p_size").cast("bigint").alias("size_sum"),
        F.round(F.sum("p_retailprice"), 2).alias("price_sum"),
        F.min("p_name").alias("min_name"),
        F.max("p_partkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q237: two-sample Kolmogorov-Smirnov drift statistic
# ---------------------------------------------------------------------------


@query(
    "q237_ks_test",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 1001
                  ELSE CAST(floor((value - 0.0) / 0.5) + 1 AS INT) END AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pb AS (SELECT bin, sum(is_a) AS ca, sum(1 - is_a) AS cb FROM b GROUP BY bin),
    e AS (
      SELECT sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1.0 / sum(ca) OVER () AS fa,
             sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1.0 / sum(cb) OVER () AS fb,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
      FROM pb
    )
    SELECT round(max(abs(fa - fb)), 6) AS ks_stat,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b
    FROM e
    """,
)
def q237_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic (operators/stats.ks_2sample): max ECDF gap
    between the 'click' and 'view' event-value distributions, evaluated on
    1000 fixed-width bins.  Binning bounds the ECDF support so the one
    ordered window runs over ≤1002 rows no matter the input size — the
    distributed-KS trade stated, not hidden (D_binned ≤ D_exact with error
    ≤ max bin mass).  Complements the TVD drift monitor (q214) with the
    classical sup-norm statistic."""
    from .operators.stats import ks_2sample

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view")
    )
    out = ks_2sample(
        ev, "value", F.col("event_type") == "click", lo=0.0, hi=500.0, nbins=1000
    )
    return out.select(
        F.round("ks_stat", 6).alias("ks_stat"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )


# ---------------------------------------------------------------------------
# q238: chi-squared independence + Cramér's V
# ---------------------------------------------------------------------------


@query(
    "q238_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type AS r, user_id % 4 AS c, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT r, sum(o) AS rn FROM cells GROUP BY 1),
    cm AS (SELECT c, sum(o) AS cn FROM cells GROUP BY 1),
    t  AS (SELECT sum(o) AS n FROM cells),
    j  AS (SELECT coalesce(cells.o, 0) AS o, rn, cn, n
           FROM rm CROSS JOIN cm
           LEFT JOIN cells ON cells.r IS NOT DISTINCT FROM rm.r
                          AND cells.c IS NOT DISTINCT FROM cm.c
           CROSS JOIN t),
    a  AS (SELECT sum(pow(o - rn * cn / n, 2) / (rn * cn / n)) AS chi2,
                  max(n) AS n
           FROM j),
    d  AS (SELECT count(DISTINCT r) + max(CASE WHEN r IS NULL THEN 1 ELSE 0 END) AS nr,
                  count(DISTINCT c) + max(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS nc
           FROM cells)
    SELECT round(chi2, 6) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 6) AS cramers_v,
           CAST(n AS BIGINT) AS n
    FROM a CROSS JOIN d
    """,
)
def q238_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence (operators/stats.chi2_independence)
    between event type and a user-cohort segment (user_id mod 4), with
    Cramér's V effect size.  The scan collapses to the contingency-cell
    table (5×4 here) before any join; margins and the total derive from the
    cells, so post-scan cost is bounded by the category cross-product."""
    from .operators.stats import chi2_independence

    ev = load_events(spark, sf_dir).withColumn("segment", F.col("user_id") % 4)
    out = chi2_independence(ev, "event_type", "segment")
    return out.select(
        F.round("chi2", 6).alias("chi2"),
        "dof",
        F.round("cramers_v", 6).alias("cramers_v"),
        "n",
    )


# ---------------------------------------------------------------------------
# q239: Population Stability Index (score drift)
# ---------------------------------------------------------------------------


@query(
    "q239_psi",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                  WHEN o_totalprice >= 500000.0 THEN 11
                  ELSE CAST(floor((o_totalprice - 0.0) / 50000.0) + 1 AS INT)
             END AS bin,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0
             END AS is_ref
      FROM orders
    ),
    pb AS (SELECT bin, sum(is_ref) AS cr, sum(1 - is_ref) AS cc
           FROM b GROUP BY bin),
    pr AS (
      SELECT greatest(cr * 1.0 / sum(cr) OVER (), 1e-6) AS p,
             greatest(cc * 1.0 / sum(cc) OVER (), 1e-6) AS q,
             sum(cr) OVER () AS n_ref, sum(cc) OVER () AS n_cur
      FROM pb
    )
    SELECT round(sum((q - p) * ln(q / p)), 6) AS psi,
           CAST(max(n_ref) AS BIGINT) AS n_ref,
           CAST(max(n_cur) AS BIGINT) AS n_cur
    FROM pr
    """,
)
def q239_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/stats.psi): order-value
    distribution shift between the pre-1998 reference period and the
    current period, over 10 fixed-width bins with the conventional 1e-6
    floor for empty bins.  The standard model-monitoring drift score
    (<0.1 stable, >0.25 major shift) as a single bounded aggregate — scan
    → 12-row bin table → one row out, no joins, no unbounded window."""
    from .operators.stats import psi

    o = table(spark, sf_dir, "orders")
    out = psi(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        lo=0.0,
        hi=500000.0,
        nbins=10,
    )
    return out.select(
        F.round("psi", 6).alias("psi"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
    )


# ---------------------------------------------------------------------------
# q240: MAD robust z-score outliers
# ---------------------------------------------------------------------------


@query(
    "q240_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med,
             count(*) AS n
      FROM lineitem GROUP BY 1
    ),
    dev AS (
      SELECT med.g, abs(l.l_extendedprice - med.med) AS absdev, med.med, med.n
      FROM lineitem l JOIN med ON l.l_returnflag = med.g
    ),
    mad AS (SELECT g, quantile_cont(absdev, 0.5) AS mad, avg(absdev) AS meanad
            FROM dev GROUP BY 1),
    z AS (
      SELECT dev.g, dev.med, mad.mad, dev.n,
             CASE WHEN mad.mad > 0 THEN dev.absdev / (1.4826 * mad.mad)
                  WHEN mad.meanad > 0 THEN dev.absdev / (1.253314 * mad.meanad)
                  ELSE 0.0 END AS absz
      FROM dev JOIN mad ON dev.g = mad.g
    )
    SELECT g AS l_returnflag,
           round(max(med), 4) AS med,
           round(max(mad), 4) AS mad,
           CAST(max(n) AS BIGINT) AS n,
           CAST(sum(CASE WHEN absz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(max(absz), 6) AS max_absz
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q240_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per return flag (operators/stats.
    mad_outliers): modified z-scores from median/MAD — the robust
    alternative to the Tukey fences already in operators/observability.
    Two exact-percentile passes with broadcast join-backs (medians are not
    algebraic; two passes is the honest distributed shape).  Spark
    ``percentile`` == DuckDB ``quantile_cont`` keeps the oracle
    bit-aligned; above the scale.py row threshold both passes auto-degrade
    to ``percentile_approx`` (parity bound in tests/test_scale_mode.py)."""
    from .operators.stats import mad_outliers
    from .scale import use_approx

    li = table(spark, sf_dir, "lineitem")
    out = mad_outliers(
        li,
        "l_returnflag",
        "l_extendedprice",
        approx=use_approx(li, path=f"{sf_dir}/lineitem.parquet"),
    )
    return out.select(
        "l_returnflag",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n",
        "n_outliers",
        F.round("max_absz", 6).alias("max_absz"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q241: grid-cell spatial join (radius search)
# ---------------------------------------------------------------------------


@query(
    "q241_spatial_pairs",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#lat'), 1, 8))
               ::UBIGINT % 100000 / 1000.0 AS x,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#lon'), 1, 8))
               ::UBIGINT % 100000 / 1000.0 AS y
      FROM customer WHERE c_custkey < 800
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt(pow(a.x - b.x, 2) + pow(a.y - b.y, 2)), 6) AS dist
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE sqrt(pow(a.x - b.x, 2) + pow(a.y - b.y, 2)) < 0.5
    ORDER BY id_a, id_b
    """,
)
def q241_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search via grid-cell spatial join (operators/spatial.
    grid_neighbor_pairs): every customer gets a deterministic synthetic
    (x, y) position (md5-derived — both engines replay it), and the query
    finds all pairs within distance 0.5 on a 100×100 plane.  The operator
    buckets points into r-sized cells and joins only the 3×3 neighborhood
    — candidate sets bounded by local density, one equi-join shuffle keyed
    by cell, AQE-splittable if a cell is hot.  The oracle brute-forces
    all pairs (fine at 800 points; the operator is the scale path)."""
    from .operators.spatial import grid_neighbor_pairs

    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 800)

    def coord(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 100000
            / 1000.0
        )

    pts = c.select(
        F.col("c_custkey").alias("id"),
        coord("#lat").alias("x"),
        coord("#lon").alias("y"),
    )
    out = grid_neighbor_pairs(pts, "id", "x", "y", radius=0.5)
    return out.select(
        "id_a", "id_b", F.round("dist", 6).alias("dist")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q242: Bloom-filter semi-join reduction
# ---------------------------------------------------------------------------


def _bloom_oracle(m: int = 1024) -> str:
    def pos(key: str, i: int) -> str:
        return (
            f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || '#b'), {1 + 8 * i}, 8))"
            f"::UBIGINT % {m} AS BIGINT)"
        )

    return f"""
    WITH build AS (
      SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey = 5
    ),
    pos AS (
      SELECT DISTINCT {pos('s_suppkey', 0)} AS p FROM build
      UNION SELECT DISTINCT {pos('s_suppkey', 1)} FROM build
      UNION SELECT DISTINCT {pos('s_suppkey', 2)} FROM build
    ),
    bits AS (SELECT list(p ORDER BY p) AS bs FROM pos),
    probe AS (
      SELECT list_contains(bs, {pos('l_suppkey', 0)})
             AND list_contains(bs, {pos('l_suppkey', 1)})
             AND list_contains(bs, {pos('l_suppkey', 2)}) AS bloom_pass,
             l_suppkey IN (SELECT s_suppkey FROM build) AS true_match
      FROM lineitem CROSS JOIN bits
    )
    SELECT count(*) AS n_probe,
           CAST(sum(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(sum(CASE WHEN bloom_pass AND NOT true_match THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos
    FROM probe
    """


@query("q242_bloom_semijoin", oracle=_bloom_oracle())
def q242_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join reduction (operators/bloom): build a
    k=3, m=1024 Bloom bitmap from nation-5 suppliers, probe every lineitem
    row map-side (broadcast bitmap, no probe shuffle), and audit it against
    the true semi-join — bloom-pass vs true-match vs false-positive counts
    in one row.  This is Spark's runtime row-level filter made first-class:
    usable before non-join stages and shippable across jobs, with the fp
    rate quantified instead of assumed.  The hash family is the same
    engine-agnostic md5-window construction as the MinHash/LSH suite."""
    from .operators.bloom import semi_join_compare

    s = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5)
    li = table(spark, sf_dir, "lineitem")
    return semi_join_compare(li, "l_suppkey", s, "s_suppkey", m=1024, k=3)


# ---------------------------------------------------------------------------
# q243: hour-of-day seasonal decomposition
# ---------------------------------------------------------------------------


@query(
    "q243_seasonal_index",
    oracle="""
    WITH hb AS (
      SELECT event_type, hour(ts) AS hr, sum(value) AS sv, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(hr AS INT) AS hr, CAST(cnt AS BIGINT) AS n,
           round(sv / cnt, 6) AS hour_avg,
           round((sv / cnt) /
                 (sum(sv) OVER (PARTITION BY event_type)
                  / sum(cnt) OVER (PARTITION BY event_type)), 6)
             AS seasonal_index
    FROM hb ORDER BY event_type, hr
    """,
)
def q243_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition: per (event type, hour) mean
    value and its ratio to the type's overall mean — the multiplicative
    seasonal index that deseasonalizes a metric before trend analysis
    (composing with the EWMA/Holt/CUSUM family q206/q235/q228).  The scan
    reduces to type×24 partial aggregates before the window; the windowed
    type-total is computed from those aggregates (sum-of-sums /
    sum-of-counts, not avg-of-avgs — weighting stated and replayed by the
    oracle)."""
    ev = load_events(spark, sf_dir)
    hb = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.sum("value").alias("sv"), F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type")
    return hb.select(
        "event_type",
        F.col("hr").cast("int").alias("hr"),
        F.col("cnt").cast("bigint").alias("n"),
        F.round(F.col("sv") / F.col("cnt"), 6).alias("hour_avg"),
        F.round(
            (F.col("sv") / F.col("cnt"))
            / (F.sum("sv").over(w) / F.sum("cnt").over(w)),
            6,
        ).alias("seasonal_index"),
    ).orderBy("event_type", "hr")


# ---------------------------------------------------------------------------
# q244: Pareto frontier (skyline)
# ---------------------------------------------------------------------------


@query(
    "q244_pareto_frontier",
    oracle="""
    WITH best AS (
      SELECT p_size, min(p_retailprice) AS minp FROM part GROUP BY 1
    ),
    sky AS (
      SELECT p_size, minp,
             min(minp) OVER (ORDER BY p_size DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_larger
      FROM best
    )
    SELECT CAST(p_size AS INT) AS p_size, round(minp, 2) AS min_price
    FROM sky
    WHERE best_larger IS NULL OR best_larger > minp
    ORDER BY p_size
    """,
)
def q244_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) over parts: maximize size, minimize
    retail price — the rows no other row dominates.  The scalable shape:
    collapse to per-size minima first (bounded by distinct sizes), then a
    single running-min sweep in size-descending order marks dominated
    rows; the only single-partition structure is the ≤50-row aggregate,
    never the input.  (A naive skyline is an O(n²) dominance anti-join —
    the same trap as all-pairs dedup, avoided the same way: reduce before
    comparing.)"""
    p = table(spark, sf_dir, "part")
    best = p.groupBy("p_size").agg(F.min("p_retailprice").alias("minp"))
    w = (
        Window.orderBy(F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = best.withColumn("best_larger", F.min("minp").over(w))
    return (
        sky.filter(F.col("best_larger").isNull() | (F.col("best_larger") > F.col("minp")))
        .select(
            F.col("p_size").cast("int").alias("p_size"),
            F.round("minp", 2).alias("min_price"),
        )
        .orderBy("p_size")
    )
