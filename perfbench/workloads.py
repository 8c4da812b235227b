"""The benchmark's workloads: pinned query lists and the input scale.

Each workload is a list of ``catalog.QUERIES`` names, run one query at a
time (a closed loop with one client).  The lists are pinned here rather than
taken from ``bench.py`` so that the benchmark's work does not change when the
bench harness's headline set does.
"""

from __future__ import annotations

# Row counts of the generated inputs scale with SF (lineitem = 6M x SF rows).
SF = 0.01
# The inputs are generated from this seed; ``--seed`` permutes query order.
DATA_SEED = 20240101

WORKLOADS: dict[str, list[str]] = {
    # Catalyst-plan queries over functions/ and the TPC-H suite: nearly all
    # time is Spark executing the returned plan, with no driver loops.  The
    # control that a change to driver-side loops or fixture writers must
    # leave unchanged.
    "relational": [
        "q01_pricing_summary",
        "q06_revenue_forecast",
        "q10_join_inner",
        "q20_agg_catalog",
        "q52_window_running",
        "q57_json",
        "q85_sessionization",
        "q103_tpch_q3",
        "q169_tpch_q10",
        "q189_tpch_q13",
        "q197_tpch_q22",
    ],
    # Queries whose catalog call runs eager Spark jobs before the returned
    # plan exists: a fixed-point loop (q128), a filter-and-verify
    # set-similarity join (q249), and lakehouse fixture writers whose plans
    # read the table back (q480 as a stream).
    "eager": [
        "q128_kmeans",
        "q249_prefix_setjoin",
        "q452_iceberg_table",
        "q453_hudi_table",
        "q480_delta_stream_sink",
    ],
}

# Warm seconds per pass of each workload on a 4-core box; ``--seconds``
# buys round(seconds / PASS_S) timed passes.  A fixed pass count, not a
# deadline, bounds the window, so two versions of the program compared at
# the same ``--seconds`` do the same work from the same warm-up state.
PASS_S = {"relational": 6.0, "eager": 8.0}
# Untimed passes after the correctness pass.  JIT warm-up of the driver JVM
# goes on for about 40 s of query work: relational pass totals fell about
# 30% from the first to the fourth pass after the correctness pass, so the
# timed passes start once roughly that much work has run.
WARM_PASSES = {"relational": 2, "eager": 1}

# Per-query layer metrics are reported for the driver-loop operators.
PER_QUERY = ["q128_kmeans", "q249_prefix_setjoin"]

# Lakehouse queries are summed per table format, streaming readers apart.
FAMILY = {
    "q452_iceberg_table": "iceberg",
    "q453_hudi_table": "hudi",
    "q480_delta_stream_sink": "stream",
}
