"""Benchmark harness: times catalog queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints one JSON record.

    python bench.py [--reps N] [query_name ...]

With no names it times the HEADLINE set, writes the full record to
BENCH_SUMMARY.json and prints it shrunk to one line of at most 1900 bytes.
With names it times those, in the given order, prints their full record and
leaves BENCH_SUMMARY.json alone; run it once per SPARK_GRAFT_SF_DIR to
measure a query across scale factors.  An unknown name exits before Spark
starts.

Methodology: a q31 warm-up, one untimed pass over the names (it pays JVM JIT,
whole-stage codegen and parquet footer reads, which amortize to zero on a
long-lived cluster), then ``--reps`` timed passes in the same order; each
name reports its median over the timed passes.  Every run is perfbench's
``run_query``: build (the catalog call, eager driver jobs included), exec
(the returned plan written to a noop sink, so every column is evaluated and
nothing is collected) and release (the query's persists dropped, outside the
timed total), each under a Spark job group of its own.  ``queries`` holds
build + exec seconds, ``census`` the per-phase seconds, jobs and stages, and
``floor_ms`` the empty-job floor of the session.  A query that raises is
listed in ``failed`` and the run exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rust_dataframe_spark import catalog
from rust_dataframe_spark.context import get_spark

# Headline set: the scan/agg/join/sort/window spine plus extension operators.
# Kept in sync with catalog as operators land.
# Headline policy (BASELINE.md, round 10): the CORE set is STABLE —
# the scan/agg/join/sort/window spine, the TPC-H suite, and one
# representative per operator family (dedup, ANN, text, stats, EM,
# training-data ops, lakehouse, one codec rep per media family).  The
# per-query regression signal lives here and names are only ADDED for
# genuinely new families.  Bounded-fixture format-matrix queries sit
# in ROTATION_POOL: each round benches a deterministic 8-name slice
# (keyed by ROUND), so every codec re-benches periodically while the
# recorded core stays comparable round over round — regressions in
# rotated-out codecs are caught by pytest + local 3-rep records.
ROUND = 13

CORE = [
    "q01_pricing_summary",
    "q02_select_filter_project",
    "q06_revenue_forecast",
    "q10_join_inner",
    "q11_join_left_nulls",
    "q14_join_multikey",
    "q16_join_star_tpch5",
    "q103_tpch_q3",
    "q104_tpch_q18",
    "q169_tpch_q10",
    "q170_tpch_q7",
    "q183_tpch_q2",
    "q185_tpch_q8",
    "q186_tpch_q9",
    "q189_tpch_q13",
    "q192_tpch_q16",
    "q196_tpch_q21",
    "q197_tpch_q22",
    "q20_agg_catalog",
    "q23_hist",
    "q26_stats_corr",
    "q31_topk",
    "q33_sort_nulls",
    "q52_window_running",
    "q55_scalar_math2",
    "q57_json",
    "q61_explode_wordcount",
    "q84_event_tumbling",
    "q85_sessionization",
    "q87_asof_join",
    "q88_range_join",
    "q70_exact_dedup",
    "q72_lsh_near_dup",
    "q75_embedding_topk",
    "q77_srp_buckets",
    "q86_ivf_topk",
    "q89_srp_near_dup",
    "q78_text_quality",
    "q80_fingerprint",
    "q94_hash_split",
    "q95_repetition",
    "q202_regression_agg",
    "q203_dsir_weights",
    "q204_pq_adc",
    "q207_weighted_jaccard",
    "q209_srp_multiprobe",
    "q210_incremental_agg",
    "q214_drift_tvd",
    "q223_table_fingerprint",
    "q226_rag_e2e",
    "q227_poisson_bootstrap",
    "q240_mad_outliers",
    "q242_bloom_semijoin",
    "q247_equidepth_hist",
    "q249_prefix_setjoin",
    "q285_hll_merge",
    "q288_auc",
    "q294_rolling_uniques",
    "q300_curation_pipeline",
    "q315_quality_classifier",
    "q319_ngram_novelty",
    "q326_span_excision",
    "q327_png_decode",
    "q328_cdc_dedup",
    "q329_ivf_recall",
    "q335_unigram_tokenize",
    "q336_unigram_em_estep",
    "q337_aho_corasick",
    "q338_mmd_embedding_drift",
    "q339_isotonic_calibration",
    "q340_misra_gries_hh",
    "q342_jl_distortion",
    "q366_mann_whitney",
    "q368_permutation_test",
    "q369_boosted_stumps",
    "q374_dbscan",
    "q377_wasserstein",
    "q387_jpeg_decode",
    "q388_filtered_ann",
    "q389_schema_evolution",
    "q390_spearman",
    "q391_kruskal_wallis",
    "q392_unigram_m_step",
    "q393_fleiss_kappa",
    "q394_group_sequential_obf",
    "q396_unigram_em",
    "q397_avi_frames",
    "q398_no_split_packing",
    "q399_g711_audio",
    "q403_kneser_ney",
    "q404_bradley_terry",
    "q410_unigram_em_earlystop",
    "q420_warc_extract",
    "q421_archive_explode",
    "q444_zstd_lz4_shards",
    "q445_protobuf_logs",
    "q451_delta_log",
    "q452_iceberg_table",
    "q453_hudi_table",
    "q454_feed_discovery",
    "q455_iceberg_pos_deletes",
    "q456_hudi_mor_log",
    "q457_vorbis_decode",
    "q458_delta_column_mapping",
    "q459_delta_deletion_vectors",
    "q460_iceberg_eq_deletes",
    "q461_delta_checkpoint_formats",
    "q462_iceberg_schema_evolution",
    "q463_delta_colmap_id_mode",
    "q464_delta_change_data_feed",
    "q465_iceberg_incremental",
    "q466_hudi_incremental",
    "q467_delta_maintenance",
    "q468_iceberg_expiry",
    "q469_iceberg_stats_pruning",
    "q470_delta_data_skipping",
    "q471_iceberg_name_mapping",
    "q472_delta_drop_column",
    "q473_hudi_mor_incremental",
    "q474_delta_optimize_dv",
    "q475_iceberg_transform_pruning",
    "q476_iceberg_avro_files",
    "q477_delta_cdf_stream",
    "q478_iceberg_append_stream",
    "q479_hudi_incr_stream",
    "q480_delta_stream_sink",
    "q481_hudi_clean",
    "q482_iceberg_refs",
    "q483_iceberg_orc_files",
    "q484_iceberg_wap",
    "q485_delta_restore",
]

ROTATION_POOL = [
    "q334_gif_frames",
    "q395_progressive_jpeg",
    "q400_ima_adpcm",
    "q401_png_matrix",
    "q402_ms_adpcm",
    "q405_gif_composite",
    "q406_stereo_ima_adpcm",
    "q407_stereo_ms_adpcm",
    "q408_pgcopy_roundtrip",
    "q409_arithmetic_jpeg",
    "q414_mp4_frames",
    "q415_ogg_flac",
    "q416_mp3_census",
    "q417_tiff_matrix",
    "q418_bmp_matrix",
    "q419_mkv_frames",
    "q422_epub_text",
    "q423_subtitle_align",
    "q424_hierarchical_jpeg",
    "q425_robots_filter",
    "q426_url_canonical",
    "q427_exif_orientation",
    "q428_pnm_matrix",
    "q429_wiki_extract",
    "q430_id3_tags",
    "q431_ipynb_cells",
    "q432_license_lang",
    "q433_chat_turns",
    "q434_schema_filter",
    "q435_mbox_extract",
    "q436_pdf_extract",
    "q437_bitext_align",
    "q438_image_transcode",
    "q439_aiff_au",
    "q440_csv_quarantine",
    "q441_tiff_ext_matrix",
    "q442_ccitt_fax",
    "q443_apng_composite",
    "q446_msgpack_events",
    "q447_avro_snappy",
    "q448_cbor_events",
    "q449_jpeg_in_tiff",
    "q450_sqlite_ingest",
]

_rot = [ROTATION_POOL[(ROUND * 8 + i) % len(ROTATION_POOL)]
        for i in range(8)]
HEADLINE = CORE + _rot


def _box_load() -> tuple[dict, int]:
    """Box-load stamp and the number of foreign Spark JVMs, from one pair of
    procfs scans 250 ms apart.

    The stamp is the 1/5/15-min loadavg plus up to 5 busy foreign processes:
    any command line burning more than half a core between the scans, so a
    non-JVM CPU hog shows in the record too.  The count is of ``java``
    processes with spark on the command line.  Foreign means not this
    process nor a descendant of it: the bench's own driver JVM may be
    started through a wrapper, so the ancestor chain is walked, not the
    parent pid alone.  Best-effort: a procfs error contributes nothing."""
    me = os.getpid()

    def scan() -> dict[int, tuple[str, int, int]]:
        procs = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
                parts = rest.split()  # state ppid ... utime(11) stime(12)
                procs[int(p)] = (comm.split("(", 1)[1], int(parts[1]),
                                 int(parts[11]) + int(parts[12]))
            except (OSError, ValueError, IndexError):
                continue
        return procs

    def cmdline(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().replace(b"\0", b" ").decode("utf-8", "replace").strip()
        except OSError:
            return "?"

    stamp: dict = {"loadavg": None, "busy_procs": []}
    try:
        with open("/proc/loadavg") as f:
            stamp["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        pass
    try:
        before = scan()
        time.sleep(0.25)
        after = scan()
    except OSError:
        return stamp, 0

    def foreign(pid: int) -> bool:
        for _ in range(64):  # cycle guard
            if pid == me:
                return False
            if pid <= 1 or pid not in after:
                return True
            pid = after[pid][1]
        return True

    clk = os.sysconf("SC_CLK_TCK") or 100
    busy, jvms = [], 0
    for pid, (comm, _, t1) in after.items():
        if not foreign(pid):
            continue
        if comm == "java" and "spark" in cmdline(pid).lower():
            jvms += 1
        frac = (t1 - before[pid][2]) / (0.25 * clk) if pid in before else 0.0
        if frac > 0.5:
            busy.append({"pid": pid, "cpu": round(frac, 2), "cmd": cmdline(pid)[:80]})
    busy.sort(key=lambda d: -d["cpu"])
    stamp["busy_procs"] = busy[:5]
    return stamp, jvms


def _printed_line(out: dict, budget: int = 1900) -> str:
    """``out`` as one JSON line of at most ``budget`` bytes: the census goes,
    the load stamp shrinks to loadavg and busy-process counts, and the
    fastest queries leave ``queries`` until it fits, for readers that keep
    only about 2000 bytes of stdout; the full record is in
    BENCH_SUMMARY.json, which the line names.  Slowest-first keeps the
    printed subset stable round over round."""
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= budget:
        return line
    timings = out["queries"]
    pruned = {k: v for k, v in out.items() if k != "census"}
    pruned["box_load"] = {
        k: {"loadavg": v["loadavg"], "busy_n": len(v["busy_procs"])}
        for k, v in out["box_load"].items()
    }
    pruned["detail"] = "BENCH_SUMMARY.json"
    keep = dict.fromkeys(sorted(timings, key=lambda n: -timings[n]))
    line = json.dumps(pruned, separators=(",", ":"))
    while len(line) > budget and keep:
        keep.popitem()  # drop the fastest query still kept
        pruned["queries"] = {n: timings[n] for n in keep}
        pruned["queries_omitted"] = len(timings) - len(keep)
        line = json.dumps(pruned, separators=(",", ":"))
    return line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Time catalog queries; see bench.py's docstring.")
    ap.add_argument("names", nargs="*", help="queries to time (default: HEADLINE)")
    ap.add_argument("--reps", type=int, default=1, help="timed passes (default 1)")
    args = ap.parse_args(argv)
    names = args.names or HEADLINE
    unknown = [n for n in names if n not in catalog.QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    from perfbench.run import NoSpans, floor_ms, per_query, run_query

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_before, jvms_before = _box_load()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once with the cheapest query
    catalog.QUERIES["q31_topk"](spark, sf_dir).collect()
    floor = floor_ms(spark)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    failed: list[str] = []
    # pass 0 is the untimed warm-up; --reps N (clean-room mode, VERDICT r4
    # #1) reports per-name medians, robust to a one-off hiccup in any pass
    for n_pass in range(args.reps + 1):
        for name in names:
            rec = run_query(spark, name, f"bench/{n_pass}/{name}", sf_dir, NoSpans(), None)
            if rec is None:
                failed.append(name)
            elif n_pass:
                runs[name].append(rec)

    q = per_query(runs)
    timings = {n: round(r["total_s"], 3) for n, r in q.items()}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the stable comparable core (BASELINE.md policy): totals over
        # CORE survive both set growth and codec rotation
        "core_total": round(sum(t for n, t in timings.items() if n in set(CORE)), 3),
        "rotation": _rot,
        # the requested core count (VERDICT r12 #5) and the parallelism
        # the session actually ran with
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "floor_ms": round(floor, 3),
        "census": {
            n: {k: round(v, 3) if k.endswith("_s") else v
                for k, v in r.items() if k != "total_s"}
            for n, r in q.items()
        },
    }
    if args.reps > 1:
        out["reps"] = args.reps
    if failed:
        out["failed"] = list(dict.fromkeys(failed))
    # VERDICT r8 #8: the total over the previous record's names, so the
    # round-over-round signal survives growth of the headline set
    summary = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SUMMARY.json")
    try:
        with open(summary) as f:
            prev_names = set(json.load(f).get("queries") or {})
    except (OSError, ValueError):
        prev_names = set()
    common = [n for n in timings if n in prev_names]
    if common:
        out["comparable_total"] = round(sum(timings[n] for n in common), 3)
        out["comparable_n"] = len(common)
    # solo guard (VERDICT r5 #7, r11 #8): contention from foreign Spark
    # JVMs or any busy process, at the start and the end of the run
    load_after, jvms_after = _box_load()
    out["other_spark_jvms"] = max(jvms_before, jvms_after)
    out["contended"] = out["other_spark_jvms"] > 0
    out["box_load"] = {"start": load_before, "end": load_after}

    if args.names:
        print(json.dumps(out, separators=(",", ":")))
    else:
        if not failed:  # a run with a failure must not pass as a smaller total
            try:
                with open(summary, "w") as f:
                    json.dump(out, f, separators=(",", ":"))
            except OSError:
                pass  # read-only checkout: the printed line is still authoritative
        print(_printed_line(out))
    return 1 if failed else 0


if __name__ == "__main__":
    rc = main()
    # the CLI owns its session: stop the driver JVM before exit, so a run
    # started right after this one finds no dying Spark JVM on the box
    # (in-process callers of main() share their session and keep it)
    from perfbench.run import stop_jvm

    stop_jvm(get_spark("bench"))
    sys.exit(rc)
