"""Query catalog: one named query per operator capability (SURVEY §2 / §7.4).

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES`` plus (where SQL-expressible) a DuckDB oracle string in ``ORACLE``.
The driver runs both at sf0.01 and compares row-count + schema +
order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* floating aggregates are rounded identically on both sides (the rounding is
  part of the query, so the emitted values are bit-comparable across engines);
* any LIMIT is preceded by a *total* order (tie-broken on a unique key) so both
  engines pick the same rows.

Scale notes are inline per query; the general posture (SURVEY §7.2.11): AQE on,
broadcast hints on dim tables, no collect() in operator paths, aggregates are
map-side partial by construction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from .sources.files import read_parquet
from .sources.lakehouse_util import local_rows_df as _lrd

__all__ = ["QUERIES", "ORACLE", "table"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _ts_is_nanos(path: str) -> bool:
    """True when the parquet ``ts`` column at ``path`` (a file or a directory
    of files) is TIMESTAMP(NANOS), read from a footer without a Spark job.  A
    path pyarrow cannot open counts as nanos, so Spark can still read it."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        t = ds.dataset(path, format="parquet").schema.field("ts").type
    except (OSError, KeyError, ValueError, pa.ArrowException):
        return True
    return pa.types.is_timestamp(t) and t.unit == "ns"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events loader.  Testdata generations have stored ``ts``
    as TIMESTAMP(NANOS) (which Spark's parquet reader rejects — read nanos as
    long via the legacy conf and rebuild), as TIMESTAMP(MICROS) without UTC
    adjustment (read as TIMESTAMP_NTZ), or as plain TIMESTAMP.  Normalize all
    three to a session-tz (UTC) TimestampType column so every downstream query
    sees identical wall-clock values regardless of the physical encoding.

    Only a nanos file turns ``spark.sql.legacy.parquet.nanosAsLong`` on, and
    then the conf stays on: the parquet reader reads it again when the
    returned plan executes, so restoring it here would break that plan.  Any
    other file leaves the session conf as it was."""
    if _ts_is_nanos(f"{sf_dir}/events.parquet"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = table(spark, sf_dir, "events")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":  # legacy nanos-as-long
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type != "timestamp":  # timestamp_ntz: same wall clock, UTC session
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = " ".join(oracle.split())
        return fn

    return deco


# ---------------------------------------------------------------------------
# Spine: scan -> filter -> project -> aggregate -> sort  (SURVEY §7.1)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                            AS sum_qty,
           round(sum(l_extendedprice), 2)                                       AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
           round(avg(l_quantity), 6)                                            AS avg_qty,
           round(avg(l_extendedprice), 6)                                       AS avg_price,
           round(avg(l_discount), 6)                                            AS avg_disc,
           count(*)                                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's lazy pipeline (lazyframe.rs:324-363) plus the
    group-aggregate its engine could never run (evaluation.rs:126).

    Scale: predicate pushes to the parquet scan; agg is map-side partial into a
    6-group shuffle — the classic scan-bound TPC-H Q1 shape that survives any
    scale-up (shuffle size is O(groups x partitions), not O(rows)).
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_select_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           l_quantity
    FROM lineitem
    WHERE l_quantity > 45.0 AND l_discount >= 0.05
    ORDER BY l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q02_select_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select + with_column (arith calc) + filter + total-order sort + limit —
    the eager-API chain of reference dataframe.rs:782-836.

    Scale: projection+predicate both push into the scan; TakeOrderedAndProject
    keeps only 100 rows per partition (no global sort materialization).
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45.0) & (F.col("l_discount") >= 0.05))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            "l_quantity",
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "q06_revenue_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24.0
    """,
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive predicate + global aggregate.

    Scale: all four predicates reach the parquet scan (PushedFilters), global
    agg is a single partial->final pair; zero-row shuffle regardless of SF.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.04, 0.06))
        & (F.col("l_quantity") < 24.0)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4): inner/left/right/full multi-key, semi/anti upside
# ---------------------------------------------------------------------------


@query(
    "q10_join_inner",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS order_cnt,
           round(sum(o.o_totalprice), 2) AS total_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q10_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi join (reference functions/join.rs:19-137) + agg.

    Scale: customer is the smaller side -> broadcast hint removes the shuffle
    of the orders fact table entirely; agg shuffles only 5 groups.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q11_join_left_nulls",
    oracle="""
    SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS order_cnt
    FROM customer c LEFT JOIN
      (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    HAVING count(o.o_orderkey) = 0
    ORDER BY c.c_custkey
    """,
)
def q11_join_left_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched rows (reference functions/join.rs:45-68),
    then counting the null side — customers with no big-ticket orders.

    Scale: shuffle-hash/SMJ on c_custkey; count(col) skips nulls exactly as SQL.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .filter(F.col("order_cnt") == 0)
        .orderBy("c_custkey")
    )


@query(
    "q12_join_right",
    oracle="""
    SELECT n.n_name, count(s.s_suppkey) AS supp_cnt
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q12_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (reference functions/join.rs:70-92): all nations kept,
    suppliers counted where present."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(n, s["s_nationkey"] == n["n_nationkey"], "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("supp_cnt"))
        .orderBy("n_name")
    )


@query(
    "q13_join_full",
    oracle="""
    WITH hi_cust AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
         big_ord AS (SELECT o_custkey, count(*) AS cnt FROM orders
                     WHERE o_totalprice > 400000 GROUP BY o_custkey)
    SELECT count(*) AS n_rows,
           count(h.c_custkey) AS n_left,
           count(b.o_custkey) AS n_right,
           CAST(coalesce(sum(b.cnt), 0) AS BIGINT) AS sum_cnt
    FROM hi_cust h FULL OUTER JOIN big_ord b ON h.c_custkey = b.o_custkey
    """,
)
def q13_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (reference functions/join.rs:109-133): both unmatched
    sides survive with nulls; aggregate fingerprint keeps the oracle compact."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    hi = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    j = hi.join(big, hi["c_custkey"] == big["o_custkey"], "outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_custkey").alias("n_left"),
        F.count("o_custkey").alias("n_right"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("sum_cnt"),
    )


@query(
    "q14_join_multikey",
    oracle="""
    SELECT l.l_returnflag, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS price_sum
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN lineitem l2 ON l2.l_orderkey = l.l_orderkey AND l2.l_linenumber = l.l_linenumber
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q14_join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key equi join (reference JoinCriteria, expression.rs:342-346):
    composite key (orderkey, linenumber) — the reference concatenated key bytes
    into one hash key (functions/join.rs:139-215); Spark's SMJ/SHJ does the
    same via multi-column shuffle keys."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    li2 = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_linenumber").alias("r_linenumber"),
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner")
        .join(
            li2,
            (li["l_orderkey"] == li2["r_orderkey"])
            & (li["l_linenumber"] == li2["r_linenumber"]),
            "inner",
        )
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q15_join_semi_anti",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_semi,
      (SELECT count(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_anti
    """,
)
def q15_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti joins — absent from the reference (SURVEY §2.4 'free
    upside'); Spark left_semi/left_anti avoid materializing the right side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    n_semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").count()
    n_anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").count()
    return _lrd(spark, [(n_semi, n_anti)], "n_semi bigint, n_anti bigint")


@query(
    "q16_join_star_tpch5",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q16_join_star_tpch5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join.

    Scale: nation/region/supplier broadcast (tiny at any SF); the only big
    shuffles are customer⋈orders and orders⋈lineitem on their keys — exactly
    the two Catalyst must do; AQE reorders/rescales the rest.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5): full AggregateFunction enum
# ---------------------------------------------------------------------------


@query(
    "q20_agg_catalog",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2)            AS sum_qty,
           round(min(l_extendedprice), 2)       AS min_price,
           round(max(l_extendedprice), 2)       AS max_price,
           round(avg(l_discount), 6)            AS avg_disc,
           count(*)                             AS cnt,
           count(DISTINCT l_suppkey)            AS cnt_distinct_supp,
           round(stddev(l_quantity), 5)         AS std_qty,
           round(variance(l_quantity), 5)       AS var_qty,
           round(skewness(l_quantity) * (count(*) - 2)
                 / sqrt(count(*) * (count(*) - 1.0)), 5) AS skew_qty,
           round(kurtosis_pop(l_quantity), 5)   AS kurt_qty,
           CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_ln
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q20_agg_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full AggregateFunction enum (reference expression.rs:695-710),
    including the five rejected at plan time (expression.rs:202-210) and with
    ``min`` actually computing min (reference kernel bug,
    functions/aggregate.rs:22-31).

    Spark skewness/kurtosis are population (g1/excess-g2); DuckDB's are
    sample-corrected, so the oracle converts (skew: *(n-2)/sqrt(n(n-1));
    kurtosis: kurtosis_pop).
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct(F.col("l_suppkey")).alias("cnt_distinct_supp"),
            F.round(F.stddev("l_quantity"), 5).alias("std_qty"),
            F.round(F.variance("l_quantity"), 5).alias("var_qty"),
            F.round(F.skewness("l_quantity"), 5).alias("skew_qty"),
            F.round(F.kurtosis("l_quantity"), 5).alias("kurt_qty"),
            F.sum_distinct(F.col("l_linenumber")).cast("bigint").alias("sum_distinct_ln"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q21_first_last",
    oracle="""
    SELECT o_orderpriority,
           min(o_orderkey) AS first_key,
           max(o_orderkey) AS last_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q21_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last (reference AggregateFunction::First/Last) made deterministic:
    Spark's first/last are order-dependent, so the deterministic equivalent is
    min/max over the ordering key — same capability, stable answer."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q22_uniques",
    oracle="""
    SELECT DISTINCT c_mktsegment AS segment FROM customer ORDER BY segment
    """,
)
def q22_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column::uniques (reference table.rs:293-341) == distinct on one column.

    Scale: partial distinct per partition before the shuffle (Spark plans
    HashAggregate twice), so shuffle size is O(distinct values).
    """
    c = table(spark, sf_dir, "customer")
    return c.select(F.col("c_mktsegment").alias("segment")).distinct().orderBy("segment")


@query(
    "q23_hist",
    oracle="""
    WITH b AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem),
    bk AS (
      SELECT least(10, greatest(1,
               CAST(floor((l_quantity - b.mn) / ((b.mx - b.mn) / 10)) AS INT) + 1)) AS bucket
      FROM lineitem, b WHERE l_quantity IS NOT NULL
    )
    SELECT bucket, count(*) AS count FROM bk GROUP BY bucket ORDER BY bucket
    """,
)
def q23_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column::hist (reference table.rs:244-290) as a distributed two-pass
    width-bucket group-by; bucket arithmetic uses the identical floor formula
    on both engines so double math is bit-equal."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_quantity").alias("mn"), F.max("l_quantity").alias("mx")
    ).collect()[0]
    mn, mx = float(bounds["mn"]), float(bounds["mx"])
    width = (mx - mn) / 10
    bucket = F.least(
        F.lit(10),
        F.greatest(
            F.lit(1),
            F.floor((F.col("l_quantity") - F.lit(mn)) / F.lit(width)).cast("int") + 1,
        ),
    )
    return (
        li.where(F.col("l_quantity").isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .count()
        .orderBy("bucket")
    )


@query(
    "q23b_hist_density",
    oracle="""
    WITH b AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS mn,
                      CAST(max(l_quantity) AS DOUBLE) AS mx,
                      count(l_quantity)               AS total
               FROM lineitem),
    bk AS (
      SELECT least(10, greatest(1,
               CAST(floor((l_quantity - b.mn) / ((b.mx - b.mn) / 10)) AS INT) + 1)) AS bucket
      FROM lineitem, b WHERE l_quantity IS NOT NULL
    )
    SELECT bucket,
           b.mn + (bucket - 1) * ((b.mx - b.mn) / 10)      AS lo,
           b.mn + bucket * ((b.mx - b.mn) / 10)            AS hi,
           count(*) / b.total / ((b.mx - b.mn) / 10)       AS density
    FROM bk, b GROUP BY bucket, b.mn, b.mx, b.total ORDER BY bucket
    """,
)
def q23b_hist_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column::hist density mode (reference table.rs:244-290 normalizes
    counts to count/total/width) via operators/histogram.hist(density=True).
    No rounding on either side: both engines evaluate (count/total)/width in
    the same association over IEEE doubles, so the values are bit-equal."""
    from .operators.histogram import hist

    li = table(spark, sf_dir, "lineitem")
    return hist(li, "l_quantity", nbins=10, density=True)


# ---------------------------------------------------------------------------
# Sort / top-k (SURVEY §2.6) and set ops (§2.7)
# ---------------------------------------------------------------------------


@query(
    "q30_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_orderstatus DESC, total ASC, o_orderkey
    LIMIT 50
    """,
)
def q30_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column lexicographic sort, mixed directions (reference
    dataframe.rs:194-222), tie-broken to a total order for the limit."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.col("o_orderstatus").desc(), F.col("total").asc(), F.col("o_orderkey"))
        .limit(50)
    )


@query(
    "q31_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY total DESC, o_orderkey
    LIMIT 10
    """,
)
def q31_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k = sort+limit (SURVEY §2.6); Spark plans TakeOrderedAndProject
    (k rows per partition -> k at driver), the only scalable top-k."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.col("total").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q32_set_ops",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
         rich   AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT
      (SELECT count(*) FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich)) AS n_intersect,
      (SELECT count(*) FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers))    AS n_except,
      (SELECT count(*) FROM (SELECT k FROM buyers UNION SELECT k FROM rich))     AS n_union
    """,
)
def q32_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect (the reference's lone set-op stub, dataframe.rs:251-253) plus
    union/except upside (SURVEY §2.7)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    buyers = o.select(F.col("o_custkey").alias("k")).distinct()
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    n_i = buyers.intersect(rich).count()
    n_e = rich.exceptAll(buyers).distinct().count()
    n_u = buyers.union(rich).distinct().count()
    return _lrd(spark, 
        [(n_i, n_e, n_u)], "n_intersect bigint, n_except bigint, n_union bigint"
    )


# ---------------------------------------------------------------------------
# Scalar function catalog (SURVEY §2.8)
# ---------------------------------------------------------------------------


@query(
    "q40_scalar_math",
    oracle="""
    SELECT c_custkey,
           round(abs(c_acctbal), 6)                    AS abs_bal,
           round(sqrt(abs(c_acctbal)), 6)              AS sqrt_bal,
           round(exp(c_acctbal / 10000.0), 6)          AS exp_bal,
           round(ln(abs(c_acctbal) + 1.0), 6)          AS ln_bal,
           round(log10(abs(c_acctbal) + 1.0), 6)       AS log10_bal,
           round(sin(c_acctbal / 1000.0), 6)           AS sin_bal,
           round(cos(c_acctbal / 1000.0), 6)           AS cos_bal,
           round(atan2(c_acctbal, 1000.0), 6)          AS atan2_bal,
           CAST(ceil(c_acctbal) AS BIGINT)             AS ceil_bal,
           CAST(floor(c_acctbal) AS BIGINT)            AS floor_bal,
           round(cbrt(abs(c_acctbal)), 6)              AS cbrt_bal,
           CAST(sign(c_acctbal) AS DOUBLE)             AS sign_bal
    FROM customer
    WHERE c_custkey < 500
    ORDER BY c_custkey
    """,
)
def q40_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math kernel catalog (reference functions/scalar.rs:106-458): abs, sqrt,
    exp, ln, log10, trig, atan2, ceil/floor, cbrt, signum — all JVM built-ins
    inside whole-stage codegen; results rounded to 6dp since libm results may
    differ in the last ulp across engines."""
    c = table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return (
        c.filter(F.col("c_custkey") < 500)
        .select(
            "c_custkey",
            F.round(F.abs(bal), 6).alias("abs_bal"),
            F.round(F.sqrt(F.abs(bal)), 6).alias("sqrt_bal"),
            F.round(F.exp(bal / 10000.0), 6).alias("exp_bal"),
            F.round(F.log(F.abs(bal) + 1.0), 6).alias("ln_bal"),
            F.round(F.log10(F.abs(bal) + 1.0), 6).alias("log10_bal"),
            F.round(F.sin(bal / 1000.0), 6).alias("sin_bal"),
            F.round(F.cos(bal / 1000.0), 6).alias("cos_bal"),
            F.round(F.atan2(bal, F.lit(1000.0)), 6).alias("atan2_bal"),
            F.ceil(bal).cast("bigint").alias("ceil_bal"),
            F.floor(bal).cast("bigint").alias("floor_bal"),
            F.round(F.cbrt(F.abs(bal)), 6).alias("cbrt_bal"),
            F.signum(bal).alias("sign_bal"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q41_scalar_string",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                       AS lower_name,
           upper(p_brand)                      AS upper_brand,
           trim(p_type)                        AS trim_type,
           substring(p_name, 1, 8)             AS name_prefix,
           length(p_name)                      AS name_len,
           concat(p_brand, ':', p_type)        AS brand_type,
           replace(p_name, ' ', '_')           AS snake_name,
           reverse(p_brand)                    AS rev_brand,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           split_part(p_name, ' ', 1)          AS first_word
    FROM part
    WHERE p_partkey < 500
    ORDER BY p_partkey
    """,
)
def q41_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String kernel catalog (reference functions/scalar.rs:315-489): lower,
    upper, trim, substring (reference is 0-based char-wise, scalar.rs:428-440;
    we keep SQL 1-based — documented deviation per SURVEY §7.3), length,
    concat, replace, reverse, lpad, split."""
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            F.lower("p_name").alias("lower_name"),
            F.upper("p_brand").alias("upper_brand"),
            F.trim("p_type").alias("trim_type"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.regexp_replace(F.col("p_name"), " ", "_").alias("snake_name"),
            F.reverse("p_brand").alias("rev_brand"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
            F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q42_scalar_temporal",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(year(l_shipdate) AS INT)       AS ship_year,
           CAST(month(l_shipdate) AS INT)      AS ship_month,
           CAST(dayofmonth(l_shipdate) AS INT) AS ship_day,
           CAST(quarter(l_shipdate) AS INT)    AS ship_quarter,
           CAST(l_shipdate AS DATE)            AS ship_date,
           CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month_start
    FROM lineitem
    WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q42_scalar_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal catalog (reference has only ``hour`` implemented,
    functions/scalar.rs:267-273; year/month/day/quarter/to_date/date_trunc are
    its declared stubs, scalar.rs:205-494)."""
    li = table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.year(d).alias("ship_year"),
            F.month(d).alias("ship_month"),
            F.dayofmonth(d).alias("ship_day"),
            F.quarter(d).alias("ship_quarter"),
            d.cast("date").alias("ship_date"),
            F.date_trunc("month", d).alias("ship_month_start"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q43_scalar_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                          AS price_band,
           coalesce(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_or_default,
           greatest(o_totalprice, 150000.0)              AS floor_price,
           least(o_totalprice, 150000.0)                 AS cap_price
    FROM orders
    WHERE o_orderkey < 200
    ORDER BY o_orderkey
    """,
)
def q43_scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional catalog: when/otherwise (reference stub scalar.rs:492),
    coalesce (:180), greatest (:264), least (:286), nullif."""
    o = table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return (
        o.filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.when(tp > 300000, "high")
            .when(tp > 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
            ).alias("status_or_default"),
            F.greatest(tp, F.lit(150000.0)).alias("floor_price"),
            F.least(tp, F.lit(150000.0)).alias("cap_price"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q44_scalar_hash_fmt",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                                   AS md5_name,
           CAST(length(c_name) AS BIGINT)                 AS len_name,
           upper(substring(md5(c_name), 1, 8))           AS md5_prefix,
           printf('%.2f', round(c_acctbal, 2))           AS fmt_bal
    FROM customer WHERE c_custkey < 100 ORDER BY c_custkey
    """,
)
def q44_scalar_hash_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/format catalog (reference stubs md5 scalar.rs:338, sha1:389,
    sha2:390, format_number:259)."""
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.md5(F.col("c_name")).alias("md5_name"),
            F.length("c_name").cast("bigint").alias("len_name"),
            F.upper(F.substring(F.md5(F.col("c_name")), 1, 8)).alias("md5_prefix"),
            F.format_string("%.2f", F.round(F.col("c_acctbal"), 2)).alias("fmt_bal"),
        )
        .orderBy("c_custkey")
    )


# --- register extension catalogs (imported for their @query side effects) ---
from . import catalog_window, catalog_array, catalog_scalar2, catalog_scalar3, catalog_llm, catalog_sources, catalog_reshape, catalog_tpch, catalog_tpch2, catalog_training, catalog_rank, catalog_pipeline, catalog_analytics, catalog_stats, catalog_stats2, catalog_stats3, catalog_stats4, catalog_round6, catalog_round7, catalog_round8, catalog_round9, catalog_round9b, catalog_round10, catalog_round11, catalog_round12  # noqa: E402,F401
