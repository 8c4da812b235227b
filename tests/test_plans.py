"""Plan-shape guardrails (SURVEY §7.2.11): pushdown reaches the scan, dims
broadcast, top-k avoids global sort, codegen covers the hot path.  A failure
here means a scale regression even if results stay correct."""

from __future__ import annotations

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from rust_dataframe_spark import catalog
from rust_dataframe_spark.plans import inspect as pi

SF = "/root/testdata/sf0.001"


def test_q01_pushdown_and_pruning(spark):
    df = catalog.QUERIES["q01_pricing_summary"](spark, SF)
    assert "l_shipdate" in pi.pushed_filters(df)
    cols = set(pi.read_schema_columns(df))
    assert "l_orderkey" not in cols  # unused columns pruned from the scan
    assert {"l_quantity", "l_returnflag"} <= cols


def test_q06_all_predicates_pushed(spark):
    df = catalog.QUERIES["q06_revenue_forecast"](spark, SF)
    pushed = pi.pushed_filters(df)
    for c in ["l_shipdate", "l_discount", "l_quantity"]:
        assert c in pushed
    assert set(pi.read_schema_columns(df)) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_dim_join_broadcasts(spark):
    df = catalog.QUERIES["q10_join_inner"](spark, SF)
    assert pi.has_broadcast_join(df)


def test_star_join_broadcasts_dims(spark):
    df = catalog.QUERIES["q16_join_star_tpch5"](spark, SF)
    assert pi.has_broadcast_join(df)
    # only the two fact shuffles (customer⋈orders, orders⋈lineitem) + agg
    assert pi.exchange_count(df) <= 3


def test_topk_is_take_ordered(spark):
    df = catalog.QUERIES["q31_topk"](spark, SF)
    assert pi.has_take_ordered(df)
    assert pi.exchange_count(df) == 0  # no full shuffle for top-k


def test_codegen_after_execution(spark):
    df = catalog.QUERIES["q01_pricing_summary"](spark, SF)
    df.collect()  # finalize the AQE plan
    assert pi.codegen_stage_count(df) >= 1


def test_filter_scan_reads_two_columns_only(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 10).select("l_orderkey")
    assert set(pi.read_schema_columns(df)) == {"l_orderkey", "l_quantity"}


def test_asof_join_single_exchange(spark):
    """The union+window as-of join must cost exactly one shuffle (on the key),
    like a plain equi join — the whole point vs a non-equi theta join."""
    from rust_dataframe_spark.operators import temporal as tp

    left = spark.createDataFrame([(1, 10, "a")], "k bigint, ts bigint, v string")
    right = spark.createDataFrame([(1, 5, 1.0)], "k bigint, ts bigint, p double")
    out = tp.asof_join(left, right, "k", "ts")
    assert pi.exchange_count(out) == 1


def test_range_join_is_hash_join(spark):
    """Bucketed range join plans as a hash join (broadcast here — small
    bands), never BroadcastNestedLoopJoin on the BETWEEN predicate."""
    from rust_dataframe_spark.operators import temporal as tp

    rows = spark.range(1000).select(F.col("id"), (F.col("id") % 50).cast("double").alias("v"))
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 30.0)], "label string, lo double, hi double"
    )
    out = tp.range_join(rows, "v", bands, "lo", "hi", bucket_width=8.0)
    plan = pi.physical_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Hive-partitioned layout: a filter on the partition column must show up
    as PartitionFilters (directory pruning), not a data filter."""
    from rust_dataframe_spark.sources import files as fs

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "part_lineitem")
    fs.write_parquet(li, path, partition_by=["l_returnflag"])
    back = fs.read_parquet(spark, path).filter(F.col("l_returnflag") == "A")
    plan = pi.formatted_plan(back)
    assert "PartitionFilters" in plan
    line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "l_returnflag" in line


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Co-located bucketed tables: same key, same bucket count -> the join
    itself needs no shuffle (the one exchange below is the later groupBy)."""
    from rust_dataframe_spark.sources import files as fs

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderstatus")
    fs.write_bucketed(li, "t_li_bucketed", ["l_orderkey"], 8,
                      path=str(tmp_path / "li"), sort_cols=["l_orderkey"])
    fs.write_bucketed(o, "t_o_bucketed", ["o_orderkey"], 8,
                      path=str(tmp_path / "o"), sort_cols=["o_orderkey"])
    try:
        a, b = spark.table("t_li_bucketed"), spark.table("t_o_bucketed")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.join(b, a["l_orderkey"] == b["o_orderkey"]).groupBy("o_orderstatus").count()
            plan = pi.physical_plan(j)
            assert "SortMergeJoin" in plan
            # only the groupBy exchange — the join reads bucket-aligned scans
            assert pi.exchange_count(j) == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_q104_semi_join_shape(spark):
    df = catalog.QUERIES["q104_tpch_q18"](spark, SF)
    df.collect()  # finalize AQE decisions
    assert "LeftSemi" in pi.physical_plan(df)


def test_q99_pivot_two_phase_agg(spark):
    df = catalog.QUERIES["q99_pivot"](spark, SF)
    # Spark pivots in two aggregate phases: agg by (yr, status), then
    # PivotFirst agg by yr — both map-side partial, so each shuffle carries
    # O(groups x values) rows — plus the presentation sort's range exchange
    assert pi.exchange_count(df) <= 3


def test_q107_variant_no_extra_shuffle(spark):
    df = catalog.QUERIES["q107_variant_json"](spark, SF)
    # elementwise variant extraction: only the presentation sort may exchange
    assert pi.exchange_count(df) <= 1


def test_q98_groups_window_single_hash_exchange(spark):
    df = catalog.QUERIES["q98_window_groups"](spark, SF)
    plan = pi.physical_plan(df)
    assert "Window" in plan
    # both windows partition on o_orderstatus -> one hash exchange, plus the
    # final presentation sort's range exchange
    assert pi.exchange_count(df) <= 2


def test_q109_subqueries_decorrelate_to_joins(spark):
    df = catalog.QUERIES["q109_subqueries"](spark, SF)
    plan = pi.physical_plan(df)
    # EXISTS -> left semi, NOT EXISTS -> left anti; no per-row subquery loops
    assert "LeftSemi" in plan and "LeftAnti" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q72_lsh_near_dup",
        "q76_embedding_neardup",
        "q89_srp_near_dup",
        "q161_incremental_dedup",
        "q209_srp_multiprobe",
        "q249_prefix_setjoin",
        "q318_containment_dedup",
    ],
)
def test_similarity_joins_are_equi_joins(spark, name):
    """Every candidates -> verify join (operators/pairs.py) generates
    candidates on a key and verifies on the pair ids — equi-joins only, so
    no all-pairs BroadcastNestedLoopJoin or CartesianProduct (VERDICT r1
    #1)."""
    plan = pi.physical_plan(catalog.QUERIES[name](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_join_no_single_partition_window(spark):
    """The prefix-filter set-join needs no vocabulary rank: each doc sorts
    its own ``(count, token)`` pairs, a global total order.  So q249's plan
    holds no window, no single-partition funnel and no range exchange but
    the one under its ORDER BY — at web scale the token vocabulary is
    10^8+."""
    df = catalog.QUERIES["q249_prefix_setjoin"](spark, SF)
    plan = pi.physical_plan(df)
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    ranged = [ln for ln in plan.splitlines() if "rangepartitioning" in ln]
    assert len(ranged) == 1 and "rangepartitioning(id_a" in ranged[0], ranged


def test_q249_catalog_call_runs_no_jobs(spark):
    """Building q249's plan is pure plan construction: no sampling job, no
    offsets collect, no schema inference once the input's schema is
    known."""
    q249 = catalog.QUERIES["q249_prefix_setjoin"]
    q249(spark, SF)  # the first call may infer the input file's schema
    assert spark_jobs(spark, lambda: q249(spark, SF)) == 0


def test_pack_sequences_no_single_partition_window(spark):
    """The global running sum must be the two-phase distributed prefix sum —
    never a naive Window.orderBy that funnels the corpus through one task."""
    df = catalog.QUERIES["q125_pack_sequences"](spark, SF)
    plan = pi.physical_plan(df)
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition cumsum is still a window


def test_ivf_cell_partition_pruning(spark, tmp_path):
    """SCALE.md's IVF claim, pinned: store `cell` as a partition column and a
    probe of nprobe cells becomes directory pruning — the scan never touches
    the other cells' files."""
    from rust_dataframe_spark.operators import similarity as sim

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent_rows = e.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cent_rows]
    path = str(tmp_path / "ivf_cells")
    sim.ivf_assign(e, "vec_id", "embedding", cents).write.partitionBy("cell").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("cell").isin([0, 1]))
    plan = pi.physical_plan(probe)
    assert "PartitionFilters" in plan and "cell" in plan
    cells_seen = {r["cell"] for r in probe.select("cell").distinct().collect()}
    assert cells_seen <= {0, 1}


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """A selective dim predicate should induce a runtime bloom filter on the
    fact side of a shuffle join (row-level runtime filtering): the fact scan
    pre-filters to keys that can match, which at 100 TB is the difference
    between shuffling the full fact table and a fraction of it.  Broadcast
    joins get this for free; this guards the shuffle-join path."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for key in confs:
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = pi.formatted_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for key, val in old.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_join_hints_control_strategy(spark):
    """Join-strategy hints are the manual override when statistics mislead:
    broadcast() forces a map-side join, shuffle_hash avoids the sort of
    sort-merge for size-skewed pairs.  Guard that both reach the physical
    plan (Catalyst honors hints over its own choice)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    b = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    assert pi.has_broadcast_join(b)
    sh = li.hint("shuffle_hash").join(
        o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey
    )
    assert "ShuffledHashJoin" in pi.physical_plan(sh)


def test_scalar_crossjoin_is_single_row_broadcast(spark):
    """q133/q140 attach corpus scalars (N, total-bigrams) by crossJoin of a
    1-row keyless aggregate, which plans as BroadcastNestedLoopJoin — the
    RIGHT use of NLJ (broadcasting one row), unlike q76's former all-pairs
    NLJ.  Pin the shape: exactly one NLJ, its build side an IdentityBroadcast
    of a keyless HashAggregate, and no CartesianProduct anywhere."""
    for name in ["q133_tfidf", "q140_bigram_lift"]:
        df = catalog.QUERIES[name](spark, SF)
        p = pi.physical_plan(df)
        assert "CartesianProduct" not in p, name
        assert p.count("BroadcastNestedLoopJoin") == 1, name
        assert "IdentityBroadcastMode" in p, name
        assert "keys=[]" in p.replace("Keys: []", "keys=[]"), name


def test_sql_udf_inlines_no_python_eval(spark):
    """A SQL-defined UDF must inline into the Catalyst plan (codegen like a
    built-in) — if BatchEvalPython/ArrowEvalPython appears, something routed
    it through the Python worker and the 10-100x UDF penalty is back."""
    df = catalog.QUERIES["q148_sql_udf"](spark, SF)
    p = pi.physical_plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    df.collect()
    assert pi.codegen_stage_count(df) >= 1


def test_line_dedup_blocklist_broadcasts(spark):
    """q155's hot-line blocklist must come back as a broadcast hash join —
    a sort-merge join there would shuffle the whole exploded corpus twice."""
    df = catalog.QUERIES["q155_line_dedup"](spark, SF)
    plan = pi.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_select_no_single_partition_window(spark):
    """q158's running token total must use the two-phase prefix sum, never a
    global one-task window (Exchange SinglePartition)."""
    df = catalog.QUERIES["q158_budget_select"](spark, SF)
    assert "SinglePartition" not in pi.physical_plan(df)


def test_persisted_band_index_probe_no_index_exchange(spark, tmp_path):
    """q161's scale story, materialized: the corpus LSH band index persisted
    as a bucketed table means a daily ingest batch probes it with an
    exchange on the (small) batch side only — the (huge) index is read
    bucket-aligned, never reshuffled."""
    from rust_dataframe_spark.operators import dedup as dd
    from rust_dataframe_spark.sources import files as fs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = dd.lsh_band_index(docs, "doc_id", "text")
    fs.write_bucketed(idx, "t_band_index", ["band", "bh"], 8,
                      path=str(tmp_path / "idx"), sort_cols=["band", "bh"])
    try:
        persisted = spark.table("t_band_index")
        batch = dd.lsh_band_index(
            docs.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 500).alias("doc_id"), "text"
            ),
            "doc_id", "text",
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = batch.withColumnRenamed("doc_id", "new_id").join(
                persisted, ["band", "bh"]
            )
            plan = pi.physical_plan(probe)
            assert "SortMergeJoin" in plan
            # one exchange total: the batch side; the index scan is bucketed
            assert pi.exchange_count(probe) == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_band_index")


def test_q169_q10_shape(spark):
    """Q10: nation broadcasts; top-20 is TakeOrderedAndProject."""
    df = catalog.QUERIES["q169_tpch_q10"](spark, SF)
    assert pi.has_broadcast_join(df)
    assert pi.has_take_ordered(df)


def test_q170_q7_nation_filter_before_fact_shuffle(spark):
    """Q7: the two-nation restriction must prune the dim scans (broadcast
    joins), leaving the fact side shuffles + one agg exchange."""
    df = catalog.QUERIES["q170_tpch_q7"](spark, SF)
    assert pi.has_broadcast_join(df)
    assert pi.exchange_count(df) <= 4


def test_q171_pipeline_single_partition_only_for_scalars(spark):
    """The end-to-end pipeline may funnel to one task ONLY for 1-row scalar
    aggregates (corpus token total, min source chars — the identity-broadcast
    pattern); the budget stage's window must stay the distributed prefix sum
    and the corpus itself must never pass through a SinglePartition exchange."""
    import re

    df = catalog.QUERIES["q171_pipeline_e2e"](spark, SF)
    lines = pi.physical_plan(df).splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            # AQE may interpose ShuffleQueryStage / AQEShuffleRead wrapper
            # nodes between the exchange and its consuming aggregate — walk
            # up past them to the real parent operator
            j = i - 1
            while j >= 0 and re.search(
                r"QueryStage|AQEShuffleRead|InputAdapter|WholeStageCodegen",
                lines[j],
            ):
                j -= 1
            parent = lines[j] if j >= 0 else ""
            assert "HashAggregate(keys=[]" in parent, (
                f"non-scalar SinglePartition exchange: {parent.strip()}"
            )


def test_runtime_bloom_filter_prunes_fact_join(spark):
    """Selective fact⋈fact join: with runtime bloom filters on, Catalyst
    aggregates a bloom over the filtered side's keys and probes it on the
    big side BEFORE the shuffle (InjectRuntimeFilter).  Results must be
    identical with and without."""
    from rust_dataframe_spark.context import enable_runtime_bloom_filters

    d = "/root/testdata/sf0.001"
    prev_bloom = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def q():
        o = spark.read.parquet(f"{d}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("s"))
        )

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        baseline = q().collect()
        enable_runtime_bloom_filters(spark, application_side_min_scan="1KB")
        df = q()
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized  # filter built on the filtered side
        assert "might_contain" in optimized  # probe pushed into the big side
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, baseline))
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev_bloom)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_pq_adc_plan_is_narrow_topk(spark):
    """q204: PQ encode + ADC is one codegen'd map over the scan feeding
    TakeOrderedAndProject — no shuffle of vectors, no join."""
    df = catalog.QUERIES["q204_pq_adc"](spark, SF)
    plan = pi.physical_plan(df)
    assert pi.has_take_ordered(df)
    assert pi.exchange_count(df) == 0
    assert "Join" not in plan


def test_weighted_jaccard_all_hash_joins(spark):
    """q207: blocking + verify compiles to equi hash joins only — the
    entity-resolution contract (no NLJ, no cartesian)."""
    df = catalog.QUERIES["q207_weighted_jaccard"](spark, SF)
    plan = pi.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rrf_fusion_no_nlj(spark):
    """q205: component rankings are top-k-bounded; the fuse is equi-join
    only.  (The 1-row corpus-stats crossJoin inside BM25 broadcasts and is
    allowed; what must not appear is a non-broadcast cartesian.)"""
    df = catalog.QUERIES["q205_rrf_fusion"](spark, SF)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_ewma_single_shuffle(spark):
    """q206: the EWMA fold rides the per-key window sort — exactly one
    exchange (hash by user) beyond the scan."""
    df = catalog.QUERIES["q206_ewma_smooth"](spark, SF)
    assert pi.exchange_count(df) <= 2  # key shuffle (+ final order-by range)


def test_incremental_agg_no_extra_shuffles(spark):
    """q210: two partial-agg branches + one key merge — bounded exchanges
    (2 partial aggs + 1 join + final sort), nothing single-partition except
    the 3-row result sort."""
    df = catalog.QUERIES["q210_incremental_agg"](spark, SF)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_countmin_sketch_is_two_aggregates(spark):
    """q211: build + lookup are hash aggregates; the sketch side of the
    probe join broadcasts (it is <= depth*width rows by construction)."""
    df = catalog.QUERIES["q211_countmin"](spark, SF)
    assert pi.has_broadcast_join(df)


def test_drift_totals_broadcast(spark):
    """q214: the 1-row totals crossJoin must plan as a broadcast, never a
    shuffled cartesian."""
    df = catalog.QUERIES["q214_drift_tvd"](spark, SF)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_spatial_join_is_equi_join(spark):
    """q241: the grid-cell join must plan as an equi-join on (jx, jy) —
    never a cartesian/NLJ over points (the whole point of cell bucketing)."""
    df = catalog.QUERIES["q241_spatial_pairs"](spark, SF)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_no_sort_merge(spark):
    """q242: the probe side joins only against broadcast one-row/tiny
    frames (bitmap + truth set) — no sort-merge join, no probe-side
    repartition-by-key anywhere in the plan."""
    df = catalog.QUERIES["q242_bloom_semijoin"](spark, SF)
    plan = pi.physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert pi.has_broadcast_join(df)


def test_equidepth_no_window_no_global_sort(spark):
    """q247: equi-depth bucketing must avoid the ntile shape — no Window
    operator, no global Sort of the input; the cuts row broadcasts."""
    df = catalog.QUERIES["q247_equidepth_hist"](spark, SF)
    plan = pi.physical_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_mad_outliers_broadcast_joinbacks(spark):
    """q240: the two scalar-per-group join-backs (median, MAD) broadcast —
    the fact table is never shuffled for a 3-row dimension."""
    df = catalog.QUERIES["q240_mad_outliers"](spark, SF)
    assert pi.has_broadcast_join(df)
    assert "CartesianProduct" not in pi.physical_plan(df)


def test_interval_overlap_is_equi_join(spark):
    """q262: the interval×interval join must plan on the bucket key —
    never the raw theta overlap (nested loop)."""
    df = catalog.QUERIES["q262_interval_overlap"](spark, SF)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_active(spark):
    """q280: the partitioned fact scan must carry a dynamicpruning
    subquery fed by the filtered dim — the runtime partition-skip lever."""
    df = catalog.QUERIES["q280_dynamic_pruning"](spark, SF)
    plan = df._jdf.queryExecution().toString().lower()
    assert "dynamicpruning" in plan


def test_q315_classifier_is_one_shuffle_free_scan(spark):
    """The hashed linear classifier must stay a pure scan: weight lookup is
    an array literal, pooling a per-row fold — zero exchanges."""
    df = catalog.QUERIES["q315_quality_classifier"](spark, SF)
    # the only allowed exchange is the final orderBy's range partitioning
    plan = pi.physical_plan(df)
    import re

    n_ex = len(re.findall(r"Exchange", plan))
    assert n_ex <= 1, plan  # just the presentation sort
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q318_containment_no_single_partition_window(spark):
    df = catalog.QUERIES["q318_containment_dedup"](spark, SF)
    plan = pi.physical_plan(df)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_q318_inventory_reads_the_persisted_ranks(spark):
    """Both sides of the containment candidate join read the persisted rank
    frame: outside the cached subplans no ``collect_list`` aggregate is left,
    so the per-doc rank pipeline runs once."""
    plan = pi.physical_plan(catalog.QUERIES["q318_containment_dedup"](spark, SF))
    outside, cached_at = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in line else None
        outside.append(line)
    assert not [ln for ln in outside if "collect_list" in ln]


def test_q321_sorted_neighborhood_no_single_partition_window(spark):
    """The global blocking-key order must be the two-phase rank, never a
    naive Window.orderBy over the corpus."""
    df = catalog.QUERIES["q321_sorted_neighborhood"](spark, SF)
    plan = pi.physical_plan(df)
    assert "SinglePartition" not in plan


def test_sequence_gaps_two_phase_matches_naive(spark):
    """Boundary stitching: gaps spanning range-partition boundaries must be
    found — parity with the naive single-window form on a gappy id set."""
    from rust_dataframe_spark.operators.temporal import sequence_gaps

    ids = [i for i in range(1, 500) if i % 7 != 0 and i % 11 != 3]
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    got = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in sequence_gaps(df, "event_id").collect()
    )
    expect = []
    s = sorted(ids)
    for a, b in zip(s, s[1:]):
        if b - a > 1:
            expect.append((a + 1, b - 1, b - a - 1))
    assert got == expect
    plan = pi.physical_plan(sequence_gaps(df, "event_id"))
    assert "SinglePartition" not in plan


def test_two_phase_primitives_pin_the_range_exchange(spark):
    """global_row_number / global_cumsum / sequence_gaps must read the SAME
    materialized range exchange in both their jobs: repartitionByRange
    samples boundaries per physical plan, so an un-persisted ranged frame
    can land rows in different partitions between the offsets-collect job
    and the output job once upstream exceeds the boundary sample — the
    __pid-keyed offset CASE would then stitch onto the wrong partitioning
    (ADVICE r4, HIGH).  Pin: the output plan scans the cache
    (InMemoryTableScan), i.e. the frame the offsets were computed from."""
    from rust_dataframe_spark.operators import temporal as tp
    from rust_dataframe_spark.operators import training as tr
    from rust_dataframe_spark.operators.cache import release

    df = spark.range(1, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    for out in (
        tr.global_row_number(df, ["k"]),
        tr.global_cumsum(df, "k", "v"),
        tp.sequence_gaps(df.filter(F.col("id") % 17 != 0), "k"),
    ):
        assert "InMemoryTableScan" in pi.physical_plan(out)
    # correctness still holds through the cache
    rn = {r["k"]: r["rn"] for r in tr.global_row_number(df, ["k"]).collect()}
    assert rn == {k: k for k in range(1, 2000)}
    release()


def test_catalog_wide_plan_lint_passes(spark):
    """tools/plan_lint.py over every registered query: zero CartesianProduct,
    zero unreviewed BroadcastNestedLoopJoin, zero unreviewed
    SinglePartition-window funnels, zero plan-time errors."""
    import tools.plan_lint as pl

    assert pl.main() == 0


def test_q369_boosted_stumps_single_data_pass(spark):
    """The GBDT claim, pinned: the corpus is read into the histogram cells
    ONCE (persisted InMemoryRelation) — both split sweeps, the residual
    bookkeeping and the SSE reuse the cells; no per-round re-scan and no
    CartesianProduct anywhere."""
    from rust_dataframe_spark.operators import cache as oc

    df = catalog.QUERIES["q369_boosted_stumps"](spark, SF)
    plan = pi.physical_plan(df)
    oc.release()
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # the persisted cell table


def test_q374_dbscan_no_cartesian_and_collapsed_coords(spark):
    """DBSCAN's scale claims, pinned: the epsilon join is an equi-join on
    grid cells (no CartesianProduct / no BroadcastNestedLoopJoin over the
    corpus), and the pipeline aggregates to DISTINCT coordinates before
    the grid join (the coincident-point collapse that keeps the 50x
    replicated run alive)."""
    from rust_dataframe_spark.operators import cache as oc

    df = catalog.QUERIES["q374_dbscan"](spark, SF)
    plan = pi.physical_plan(df)
    oc.release()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q377_wasserstein_no_single_partition_window(spark):
    """W1/KS ride the two-phase primitives: no Window fed by an
    Exchange SinglePartition (the distinct-value axis is range
    partitioned; per-partition windows + driver boundary stitch)."""
    import tools.plan_lint as pl
    from rust_dataframe_spark.operators import cache as oc

    df = catalog.QUERIES["q377_wasserstein"](spark, SF)
    plan = pi.physical_plan(df)
    oc.release()
    assert not pl.window_on_single_partition(plan)


def test_q366_mann_whitney_no_single_partition_window(spark):
    """The global mid-rank prefix is the two-phase global_cumsum — never a
    naive Window.orderBy over the corpus."""
    import tools.plan_lint as pl
    from rust_dataframe_spark.operators import cache as oc

    df = catalog.QUERIES["q366_mann_whitney"](spark, SF)
    plan = pi.physical_plan(df)
    oc.release()
    assert not pl.window_on_single_partition(plan)


def test_filtered_ann_predicate_pushed_below_candidate_join(spark):
    """q388: the metadata predicate must reach the corpus parquet scan
    (PushedFilters), i.e. sit BELOW the probe/candidate join — vectors
    failing the filter are never decoded or shuffled."""
    df = catalog.QUERIES["q388_filtered_ann"](spark, SF)
    assert "label" in pi.pushed_filters(df)


@pytest.mark.parametrize("name", [
    "q452_iceberg_table", "q453_hudi_table", "q480_delta_stream_sink",
])
def test_driver_local_frames_scan_as_local_relations(spark, name):
    """The file->partition maps of the lakehouse readers and q480's census
    rows are Arrow-built LocalRelations: no pickled ``Scan ExistingRDD``
    (a Python worker round trip per job) in the returned plan."""
    from rust_dataframe_spark.operators import cache as oc

    df = catalog.QUERIES[name](spark, SF)
    plan = pi.physical_plan(df)
    oc.release()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
