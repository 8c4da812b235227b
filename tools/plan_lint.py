"""Catalog-wide physical-plan linter: every registered query's plan, scanned
for scale anti-patterns — the automated generalization of the hand-picked
plan tests in tests/test_plans.py and the bench-only audit in EXPLAIN.md.

Patterns flagged per query:

* ``CartesianProduct`` — always wrong.
* ``BroadcastNestedLoopJoin`` — wrong unless the broadcast side is a 1-row
  scalar attachment (the repo's standard crossJoin(broadcast(1-row-agg))
  shape).  Heuristic: BNLJ whose broadcast subtree contains an Aggregate
  or a LocalTableScan of literals is counted as a scalar attachment;
  anything else is listed for human review.
* ``Exchange SinglePartition`` feeding a Window — the one-task funnel.
  Subtree-scoped (r5): a Window is flagged only when the shallowest
  exchange among ITS OWN descendants is SinglePartition, so a scalar
  aggregate elsewhere in the plan no longer taints a properly
  hash-partitioned window.  Bounded-by-construction windows (bin/day/band
  axes) still show the pattern, so hits are LISTED with the query name for
  review rather than hard-failed; the curated allowlist below records the
  reviewed-and-bounded cases with the reason.
* ``Scan ExistingRDD`` — a scan of an existing RDD: a frame built from a
  pickled Python RDD, whose every job runs a Python worker round trip, or
  a checkpointed frame.  Driver-local rows of the pinned flat types are
  Arrow-built LocalRelations (``lakehouse_util.local_rows_df``), so the
  pickled frames that remain show up in this ``rdd-review`` list: a review
  list, not a lint failure.

Writes PLANLINT.md (or appends with --only).  Usage:
python tools/plan_lint.py [--sf DIR] [--only qA qB ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_dataframe_spark import catalog
from rust_dataframe_spark.context import get_spark
from rust_dataframe_spark.operators import cache as opcache
from rust_dataframe_spark.plans import inspect as pi

SF = "/root/testdata/sf0.001"

# Reviewed SinglePartition windows, each bounded by construction (axis size,
# not corpus size).  A NEW query showing SinglePartition and not listed here
# fails the lint.
SINGLE_PARTITION_ALLOW: dict[str, str] = {
    # bin/bucket/day/band axes — cardinality fixed by the query, not the data
    "q23_hist": "window over the fixed histogram bin axis",
    "q23b_hist_density": "window over the fixed histogram bin axis",
    "q237_binned_auc": "cumulative over 1000 fixed score bins",
    "q239_psi": "totals over the fixed bin axis",
    "q240_psi_drift": "totals over the fixed bin axis",
    "q247_equidepth_hist": "bucket presentation sort over 10 rows",
    "q248_benford": "window over the 9-digit axis",
    "q252_seasonal_anomaly": "seasonal index over 24 hour-of-day rows",
    "q243_seasonal_index": "seasonal index over 24 hour-of-day rows",
    "q261_reliability": "window over 10 calibration bins",
    "q339_isotonic_calibration": "PAVA cumsum over 10 calibration bins "
    "(the corpus is reduced to the bin axis before the window)",
    "q266_approx_pct_bound": "rank check over the 9 tested quantiles",
    "q348_pr_curve": "best-F1 window max over the 12-row threshold grid "
    "(the corpus is reduced to the grid axis before the window)",
    "q353_decision_stump": "argmin flag over the 15-row split-candidate "
    "grid (the corpus is reduced to 16 histogram cells before the sweep)",
    "q356_mi_feature_rank": "rank over the 8-row feature axis (the corpus "
    "is reduced to dim*bin*label cells before the window)",
    "q282_latency_quantiles": "window over the bounded quantile axis",
    "q367_bh_fdr": "BH step-up rank over the bounded event-type test "
    "family (~5 rows; the corpus is reduced to the group axis first)",
    "q372_changepoint_scan": "cumulative + argmax over the bounded "
    "~31-row day axis (corpus reduced to per-day integer cells first)",
    "q375_sprt_monitor": "LLR cumulative over the bounded day axis "
    "(corpus reduced to per-day integer cells first)",
    "q379_stream_sprt": "LLR cumulative over the bounded day axis "
    "(the streaming sink already reduced the corpus to per-day cells)",
    "q288_auc": "exact path: documented global rank; auto-degrades to the "
    "binned form above the scale.py threshold",
    "q294_rolling_uniques": "sketch union over the day axis",
    "q295_time_to_convert": "presentation window over 2 cohorts",
    "q309_mom_growth": "lag over the bounded month axis",
    "q312_new_user_curve": "cumulative over the bounded day axis",
    "q313_zipf_fit": "rank over the vocab-bounded frequency table subset",
    "q392_unigram_m_step": "whole-frame grand-total window over the "
    "VOCAB-sized per_piece table (round-12: replaced the agg+crossJoin "
    "that re-executed the corpus-scanning E-step subtree twice; the "
    "window input is the bounded piece axis, reduced before the window)",
    "q324_mrl_truncation_audit": "top-10 presentation windows",
    # reviewed in the round-4 lint sweep (2026-08-14)
    "q53_window_ntile_cume": "demonstrates the reference's unpartitioned "
    "window verbs themselves (§2.10 parity) — the op under test IS global",
    "q133_tfidf": "rank over the bounded top-terms list",
    "q171_pipeline_e2e": "bounded presentation list in the e2e demo",
    "q205_rrf_fusion": "ranks over bounded top-k fusion input lists",
    "q237_ks_test": "ECDF over <=1002 fixed value bins",
    "q244_pareto_frontier": "running-min sweep over the <=50-value "
    "distinct-size axis (input collapsed before the window)",
    "q258_kaplan_meier": "survival product over the bounded event-time axis",
    "q268_mixture_weights": "domain-axis arithmetic (handful of rows)",
    "q271_ndcg": "rank windows over bounded per-query result lists",
    "q298_abc_analysis": "3-row class-census share (running share itself is "
    "the two-phase global_cumsum)",
    "q299_mixture_sample": "domain-axis arithmetic (handful of rows)",
    "q302_dead_letter": "verdict census over the fixed rule classes",
}

# Reviewed BroadcastNestedLoopJoins: every entry is either a deliberate
# bounded brute-force baseline or a 1-row broadcast attachment the scalar
# heuristic can't see.  A NEW BNLJ not listed here fails the lint.
BNLJ_ALLOW: dict[str, str] = {
    "q73_ngram_jaccard": "deliberate 40-doc brute-force baseline validating "
    "the LSH path (docstring-gated)",
    "q163_knn_join": "exact kNN: 8-query broadcast vs corpus — the exact-"
    "verify counterpart of IVF/SRP (which is the corpus-sized-query path)",
    "q164_hard_negatives": "same exact-kNN shape as q163 (small query side "
    "broadcast by design)",
    "q324_mrl_truncation_audit": "1-row query-vector broadcast attachment "
    "(no Aggregate in the 1-row subtree, so the scalar heuristic misses it)",
    "q342_jl_distortion": "bounded 16x16 audit pair-join (vec_id<16 both "
    "sides, non-equi id_a<id_b); the projection under audit is elementwise",
    # surfaced by the r5 subtree-scoped heuristic (the old whole-plan check
    # classified these bnlj-scalar-ok); each reviewed as a BOUNDED-literal
    # broadcast fan-out, not a corpus-vs-corpus nested loop:
    "q17_join_cross": "deliberate 5x25 cross-join demo (§2.4 upside row); "
    "docstring-gated to tiny dims",
    "q274_backtest_folds": "4-row fold-spec literal broadcast against the "
    "orders scan — fan-out bounded by the fold count",
    "q297_consistent_hashing": "144-point hash-ring literal broadcast; "
    "per-doc fan-out fixed at ring size by construction",
    "q301_resample_ffill": "120-slot calendar-grid broadcast; grid = users "
    "x slots is the query's stated output contract",
    "q329_ivf_recall": "exact-kNN ground-truth side broadcasts the 6-row "
    "query batch (same shape as q163/q164); the IVF side under audit is "
    "cell-pruned equi-joins",
    "q388_filtered_ann": "q329's exact shape on the FILTERED corpus: the "
    "ground-truth knn_join broadcasts the 6-row query batch; the filtered "
    "IVF side under audit is predicate-pushed cell-pruned equi-joins "
    "(PushedFilters plan-pinned in tests/test_plans.py)",
    "q330_lsh_quality": "deliberate 80-doc bounded all-pairs ground truth "
    "(q73's gating note) feeding the LSH precision/recall certificate; the "
    "LSH stage under audit is band equi-joins",
    "q357_theil_sen": "pairwise-slope join on the AGGREGATED ~31-row day "
    "axis (non-equi d<d'), axis-bounded by construction",
    "q361_embedding_health": "bounded residue-slice pair sample (two 1/7 "
    "id-slices crossed) — the audit's stated sampling design; fixed-size "
    "strata at corpus scale",
    "q348_pr_curve": "12-row threshold-grid Range broadcast fan-out "
    "(crossJoin(broadcast(spark.range(12))) — bounded by the grid literal; "
    "the Range source is neither Aggregate nor LocalTableScan so the "
    "scalar heuristic cannot see it)",
}


def _depth(line: str) -> int:
    """Column where the node label starts in a Spark tree-string line.

    Tree prefixes are built from ``' '``, ``':'``, ``'+'``, ``'-'``; the
    label (possibly ``*(N)``-codegen-prefixed) starts at the first other
    character.  Children of a node are exactly the following lines with a
    strictly greater depth."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _subtree(lines: list[str], idx: int) -> list[str]:
    """The node at ``lines[idx]`` plus all its descendants."""
    d = _depth(lines[idx])
    out = [lines[idx]]
    for line in lines[idx + 1 :]:
        if line.strip() and _depth(line) <= d:
            break
        out.append(line)
    return out


def bnlj_all_scalar(plan: str) -> bool:
    """True iff EVERY BroadcastNestedLoopJoin in ``plan`` broadcasts a
    scalar attachment: its broadcast child subtree (the shallowest
    BroadcastExchange/BroadcastQueryStage under the BNLJ node — an
    indentation-scoped parse, NOT the whole plan string) contains an
    Aggregate or a LocalTableScan of literals.  A BNLJ with no resolvable
    broadcast subtree (e.g. ReusedExchange) or a non-scalar one returns
    False and must be allowlisted or fixed (ADVICE r4: the old whole-plan
    check matched the HashAggregate present in nearly every query, so it
    could never flag anything)."""
    lines = plan.splitlines()
    verdicts = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        sub = _subtree(lines, i)[1:]  # descendants only
        bx = [
            j
            for j, sline in enumerate(sub)
            if "BroadcastExchange" in sline or "BroadcastQueryStage" in sline
        ]
        if not bx:
            verdicts.append(False)
            continue
        shallowest = min(bx, key=lambda j: _depth(sub[j]))
        bsub = "\n".join(_subtree(sub, shallowest))
        verdicts.append("Aggregate" in bsub or "LocalTableScan" in bsub)
    return bool(verdicts) and all(verdicts)


def window_on_single_partition(plan: str) -> bool:
    """True iff some Window node in ``plan`` is actually FED by an
    ``Exchange SinglePartition`` — the one-task funnel.  Subtree-scoped
    like :func:`bnlj_all_scalar`: for each Window line, the shallowest
    Exchange/ShuffleQueryStage among its descendants is the exchange that
    partitions the window's input; only if that exchange is
    SinglePartition is the window global.  (The old whole-plan
    co-occurrence check flagged any query combining a scalar aggregate —
    which legitimately plans Exchange SinglePartition — with a properly
    hash-partitioned window, e.g. q355's per-doc argmax next to its
    vocabulary-count scalar.)  A Window with no descendant exchange at
    all (ReusedExchange/LocalTableScan input) is treated as global —
    conservative, reviewable via the allowlist."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        stripped = line.lstrip(" :+-*(0123456789)")
        # exact Window nodes only: WindowGroupLimit's map-side Partial node
        # legitimately sits BELOW the exchange (no exchange in its subtree)
        # and must not trip the no-exchange-is-global rule
        if not (
            stripped.startswith("Window [")
            or stripped.startswith("WindowExec")
            or stripped.startswith("RunningWindowFunction")
        ):
            continue
        sub = _subtree(lines, i)[1:]
        ex = [
            j
            for j, sline in enumerate(sub)
            if "Exchange" in sline or "ShuffleQueryStage" in sline
        ]
        if not ex:
            return True
        shallowest = min(ex, key=lambda j: _depth(sub[j]))
        if "SinglePartition" in sub[shallowest]:
            return True
    return False


def main() -> int:
    only_fail = "--fail-only" in sys.argv
    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    rows = []
    n_cart = n_bnlj_review = n_sp_new = n_err = n_rdd = 0
    names = sorted(catalog.QUERIES)
    only: list[str] = []
    if "--only" in sys.argv:
        only = [a for a in sys.argv[sys.argv.index("--only") + 1 :]
                if not a.startswith("-")]
        names = [n for n in names if n in only]
    t0 = time.time()
    for name in names:
        try:
            df = catalog.QUERIES[name](spark, SF)
            plan = pi.physical_plan(df)
        except Exception as e:  # plan-time failure is itself a finding
            rows.append((name, f"ERR {type(e).__name__}: {str(e)[:80]}"))
            n_err += 1
            continue
        finally:
            opcache.release()
        findings = []
        if "CartesianProduct" in plan:
            findings.append("CARTESIAN")
            n_cart += 1
        if "BroadcastNestedLoopJoin" in plan:
            if name in BNLJ_ALLOW:
                findings.append("bnlj-allowed")
            elif bnlj_all_scalar(plan):
                # every BNLJ's own broadcast-child subtree is a 1-row
                # aggregate / literal table (crossJoin(broadcast(agg)))
                findings.append("bnlj-scalar-ok")
            else:
                findings.append("BNLJ-review")
                n_bnlj_review += 1
        if window_on_single_partition(plan):
            if name in SINGLE_PARTITION_ALLOW:
                findings.append("sp-allowed")
            else:
                findings.append("SP-NEW")
                n_sp_new += 1
        if "Scan ExistingRDD" in plan:
            findings.append("rdd-review")
            n_rdd += 1
        if findings:
            rows.append((name, " ".join(findings)))

    lines = [
        "# PLANLINT — catalog-wide physical-plan anti-pattern scan",
        "",
        f"{len(names)} queries planned at sf0.001; generated by tools/plan_lint.py. "
        f"Hard findings: CARTESIAN={n_cart}, "
        f"BNLJ-review={n_bnlj_review}, new-unreviewed-SinglePartition={n_sp_new}, "
        f"plan-errors={n_err}. Review list: pickled-RDD scans "
        f"(rdd-review)={n_rdd}.",
        "",
        "| query | finding |",
        "|---|---|",
    ]
    for name, f in rows:
        if only_fail and not any(
            t in f for t in ("CARTESIAN", "BNLJ-review", "SP-NEW", "ERR")
        ):
            continue
        note = SINGLE_PARTITION_ALLOW.get(name, "")
        lines.append(f"| {name} | {f}{' — ' + note if note and 'sp-allowed' in f else ''} |")
    lines.append("")
    lines.append(
        "`sp-allowed` rows are reviewed bounded-axis windows (reason inline); "
        "`bnlj-scalar-ok` rows are 1-row scalar broadcast attachments; "
        "`rdd-review` rows scan an existing RDD (`Scan ExistingRDD`): a "
        "pickled Python frame (a `mapInPandas` feeder, a non-flat-typed "
        "`local_rows_df`) or a checkpointed one.  Any "
        "CARTESIAN / BNLJ-review / SP-NEW row is a lint failure."
    )
    out = "\n".join(lines) + "\n"
    mode = "a" if only else "w"
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANLINT.md"), mode) as fh:
        if only:
            fh.write(f"\n## Incremental lint ({len(names)} queries)\n\n")
        fh.write(out)
    print(out.splitlines()[2])
    print(f"planned {len(names)} queries in {time.time()-t0:.0f}s", file=sys.stderr)
    bad = n_cart + n_bnlj_review + n_sp_new + n_err
    print(f"{'FAIL' if bad else 'PASS'}: {bad} hard findings")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
