"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Paths are resolved from this file, so any working directory works.  One
process runs one workload as a closed loop with one client: one query at a
time on Spark ``local[<cpus>]``.

* Set-up: generate the inputs (``datagen``), start the session with
  ``context.get_spark()``, run an untimed pass that collects every query and
  compares it with its ``catalog.ORACLE`` SQL run by DuckDB on the same
  files, time the empty-job floor, then run ``WARM_PASSES`` untimed passes.
  ``setup_s`` runs from process start to the first timed query.
* Timed window: ``round(--seconds / PASS_S)`` passes over the workload, each
  in a ``--seed``-shuffled order.  Per query run it times the catalog call
  (build), the noop-sink write of the returned frame (exec) and
  ``operators.cache.release(blocking=True)`` plus ``clearCache`` (release),
  and counts Spark jobs and stages of build and exec through one job group
  per phase and run.
* ``--trace 1`` then stops the session, starts a new one with the Spark event
  log on, warms it, runs the same passes with spans recorded, and prints the
  per-layer metrics instead of the end-to-end ones.

Everything the run writes stays under ``.perfbench_work/`` (deleted at exit)
and ``.perfbench_out/`` (per-query record and spans) in the repository root.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    DATA_SEED, FAMILY, PASS_S, PER_QUERY, SF, WARM_PASSES, WORKLOADS)

FLOOR_REPS = 21


def process_age_s() -> float:
    """Seconds since this process started, from procfs (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process-tree memory


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(p))
        except (OSError, ValueError, IndexError):
            continue
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class PeakRSS(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


# --------------------------------------------------------------------------
# environment and session


def prepare_env(work: str) -> None:
    """Keep every file the program and Spark write inside ``work`` and make
    the package importable by Python workers from any working directory."""
    for d in ("tmp", "local", "vendor", "io", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM, the launcher's too: temp files in work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_VENDOR_DIR"] = os.path.join(work, "vendor")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, event_log: bool):
    """``context.get_spark()`` with the benchmark's extra settings added to
    ``context.default_builder``, which ``get_spark`` builds from."""
    from rust_dataframe_spark import context

    base = getattr(context, "_perfbench_base_builder", context.default_builder)
    context._perfbench_base_builder = base
    conf = session_conf(work, event_log)

    def builder(app_name: str = "rust-dataframe-spark"):
        b = base(app_name)
        for k, v in conf.items():
            b = b.config(k, v)
        return b

    context.default_builder = builder
    t0 = time.perf_counter()
    spark = context.get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, session_s


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# correctness


def load_canon_rows():
    spec = importlib.util.spec_from_file_location(
        "_perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


def check_pass(spark, names: list[str], sf_dir: str) -> list[str]:
    """Collect every query once (untimed) and compare it with its DuckDB
    oracle.  Returns the names that raised or did not match."""
    import duckdb

    from rust_dataframe_spark import catalog
    from rust_dataframe_spark.operators import cache

    canon_rows = load_canon_rows()
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    sc = spark.sparkContext
    bad = []
    for name in names:
        sc.setJobGroup(f"check/{name}", name)
        try:
            df = catalog.QUERIES[name](spark, sf_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(catalog.ORACLE[name])
            dcols = [d[0] for d in res.description]
            ok = (sorted(cols) == sorted(dcols)
                  and canon_rows(cols, rows) == canon_rows(dcols, res.fetchall()))
            if not ok:
                print(f"# {name}: does not match its oracle", file=sys.stderr)
        except Exception as e:  # a raised query is a failed run, not an abort
            print(f"# {name}: raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            ok = False
        finally:
            cache.release(blocking=True)
            spark.catalog.clearCache()
        if not ok:
            bad.append(name)
    con.close()
    return bad


# --------------------------------------------------------------------------
# timed window


class NoSpans:
    def start(self, *a, **k):
        return None

    def end(self, span_id) -> None:
        pass


def census(tracker, group: str) -> tuple[int, int]:
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def run_query(spark, name: str, group: str, sf_dir: str, spans, parent):
    """One query run.  Returns its record, or None if it raised."""
    from rust_dataframe_spark import catalog
    from rust_dataframe_spark.operators import cache

    sc = spark.sparkContext
    q = spans.start(f"query:{name}", parent, group)
    rec = None
    try:
        sc.setJobGroup(f"{group}/build", name)
        s = spans.start("build", q, group)
        t0 = time.perf_counter()
        df = catalog.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        spans.end(s)
        sc.setJobGroup(f"{group}/exec", name)
        s = spans.start("exec", q, group)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spans.end(s)
        rec = {"build_s": t1 - t0, "exec_s": t2 - t1}
    except Exception as e:
        print(f"# {name}: raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
    sc.setJobGroup(f"{group}/release", name)
    s = spans.start("release", q, group)
    t3 = time.perf_counter()
    cache.release(blocking=True)
    spark.catalog.clearCache()
    release_s = time.perf_counter() - t3
    spans.end(s)
    spans.end(q)
    if rec is not None:
        tracker = sc.statusTracker()
        rec["release_s"] = release_s
        rec["build_jobs"], rec["build_stages"] = census(tracker, f"{group}/build")
        rec["exec_jobs"], rec["exec_stages"] = census(tracker, f"{group}/exec")
    return rec


def timed_window(spark, names, passes, seed, sf_dir, tag, spans):
    """``passes`` passes, each in a seeded order.  Returns the runs per
    query, the names of failed runs, and the peak resident memory of the
    process tree (driver JVM and Python workers included) in MB."""
    rng = random.Random(seed)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    failed: list[str] = []
    rss = PeakRSS()
    rss.start()
    try:
        for n_pass in range(passes):
            order = list(names)
            rng.shuffle(order)
            p = spans.start(f"pass:{n_pass}")
            for name in order:
                group = f"{tag}/{n_pass}/{name}"
                rec = run_query(spark, name, group, sf_dir, spans, p)
                if rec is None:
                    failed.append(name)
                else:
                    rec["group"] = group
                    runs[name].append(rec)
            spans.end(p)
    finally:
        peak_mb = rss.stop()
    return runs, failed, peak_mb


def per_query(runs: dict[str, list[dict]]) -> dict[str, dict[str, float]]:
    """Median over a query's runs of each field, plus of build+exec."""
    out = {}
    for name, recs in runs.items():
        if not recs:
            continue
        row = {k: statistics.median(r[k] for r in recs)
               for k in recs[0] if k != "group"}
        row["total_s"] = statistics.median(r["build_s"] + r["exec_s"] for r in recs)
        out[name] = row
    return out


def counts(runs: dict[str, list[dict]], log: dict | None = None) -> dict:
    """Per-run job and stage counts of each query, plus task counts from
    the event log when there is one."""
    out = {}
    for name, recs in runs.items():
        out[name] = []
        for r in recs:
            row = {k: r[k] for k in ("build_jobs", "build_stages", "exec_jobs", "exec_stages")}
            if log is not None:
                for phase in ("build", "exec"):
                    row[f"{phase}_tasks"] = int(
                        log.get(f"{r['group']}/{phase}", {}).get("tasks", 0))
            out[name].append(row)
    return out


def floor_ms(spark) -> float:
    """Median wall time of an empty one-row noop job."""
    times = []
    for _ in range(FLOOR_REPS):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


# --------------------------------------------------------------------------
# metrics


def end_to_end(setup_s, q, attempted, n_failed) -> dict:
    totals = [r["total_s"] for r in q.values()]
    return {
        "setup_s": (setup_s, "s"),
        "total_s": (sum(totals), "s"),
        "geomean_s": (math.exp(statistics.fmean(math.log(t) for t in totals)), "s"),
        "ok_frac": ((attempted - n_failed) / attempted, "fraction"),
    }


def per_layer(session_s, floor, q, runs, log, overhead_s, peak_mb) -> dict:
    """Per-layer metrics of the traced window: sums over queries of each
    query's median over its runs."""
    def med_log(name: str, phase: str, key: str) -> float:
        return statistics.median(
            log.get(f"{r['group']}/{phase}", {}).get(key, 0.0) for r in runs[name])

    m = {
        "context.session_s": (session_s, "s"),
        "context.floor_ms": (floor, "ms"),
        "catalog.build_s": (sum(r["build_s"] for r in q.values()), "s"),
        "catalog.build_jobs": (sum(r["build_jobs"] for r in q.values()), "count"),
        "catalog.executor_run_s": (sum(med_log(n, "build", "executor_run_s") for n in q), "s"),
        "exec.exec_s": (sum(r["exec_s"] for r in q.values()), "s"),
        "exec.exec_jobs": (sum(r["exec_jobs"] for r in q.values()), "count"),
        "exec.stages": (sum(r["exec_stages"] for r in q.values()), "count"),
        "cache.release_s": (sum(r["release_s"] for r in q.values()), "s"),
        "trace.overhead_s": (overhead_s, "s"),
        "process.peak_rss_mb": (peak_mb, "MB"),
    }
    for key, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"),
                      ("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("tasks", "count")):
        m[f"exec.{key}"] = (sum(med_log(n, "exec", key) for n in q), unit)
    for name in PER_QUERY:
        r = q.get(name, {})
        m[f"{name}.build_s"] = (r.get("build_s", 0.0), "s")
        m[f"{name}.exec_s"] = (r.get("exec_s", 0.0), "s")
        m[f"{name}.jobs"] = (r.get("build_jobs", 0) + r.get("exec_jobs", 0), "count")
    for fam in sorted(set(FAMILY.values())):
        rows = [r for n, r in q.items() if FAMILY.get(n) == fam]
        m[f"{fam}.build_s"] = (sum(r["build_s"] for r in rows), "s")
        m[f"{fam}.exec_s"] = (sum(r["exec_s"] for r in rows), "s")
        m[f"{fam}.jobs"] = (sum(r["build_jobs"] + r["exec_jobs"] for r in rows), "count")
    return m


# --------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    start_wall = time.time() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rust_dataframe_spark", "catalog.py")):
        print(f"perfbench: no rust_dataframe_spark package under {ROOT}", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    prepare_env(work)
    spark = None
    try:
        sf_dir = os.path.join(work, "data", f"sf{SF}")
        t0 = time.perf_counter()
        datagen.write(sf_dir, DATA_SEED, SF)
        datagen_s = time.perf_counter() - t0

        from rust_dataframe_spark import catalog_sources

        # fixture tables of the lakehouse and file-format queries
        catalog_sources._SCRATCH = os.path.join(work, "io")
        spark, session_s = start_session(work, event_log=False)
        t0 = time.perf_counter()
        bad = check_pass(spark, names, sf_dir)
        check_s = time.perf_counter() - t0
        floor = floor_ms(spark)  # also warms the noop-sink write path
        warm_runs, warm_failed, _ = timed_window(
            spark, names, WARM_PASSES[args.workload], args.seed, sf_dir, "warm", NoSpans())
        setup_s = time.time() - start_wall

        passes = max(1, round(args.seconds / PASS_S[args.workload]))
        runs, failed, peak_mb = timed_window(
            spark, names, passes, args.seed, sf_dir, "run", NoSpans())
        q = per_query(runs)
        failed += warm_failed
        attempted = (len(names) + sum(len(r) for r in runs.values())
                     + sum(len(r) for r in warm_runs.values()) + len(failed))
        n_failed = len(bad) + len(failed)
        detail = {"workload": args.workload, "seed": args.seed, "passes": passes,
                  "peak_rss_mb": peak_mb,
                  "setup": {"datagen_s": datagen_s, "session_s": session_s,
                            "check_s": check_s, "setup_s": setup_s},
                  "secs": {n: [[round(r["build_s"], 3), round(r["exec_s"], 3)] for r in rs]
                           for n, rs in runs.items()},
                  "failed_frac": n_failed / attempted,
                  "failed_names": sorted(set(bad) | set(failed)),
                  "queries": q, "counts": counts(runs)}
        if args.trace:
            spark.stop()
            spark, _ = start_session(work, event_log=True)
            timed_window(spark, names, WARM_PASSES[args.workload], args.seed, sf_dir,
                         "trace-warm", NoSpans())
            spans = tracing.Spans()
            t_runs, t_failed, t_peak_mb = timed_window(
                spark, names, passes, args.seed, sf_dir, "trace", spans)
            app_id = spark.sparkContext.applicationId
            spark.stop()
            log = tracing.reduce_event_log(os.path.join(work, "events"))
            shutil.rmtree(os.path.join(work, "events"), ignore_errors=True)
            tq = per_query(t_runs)
            overhead_s = (sum(r["total_s"] for r in tq.values())
                          - sum(r["total_s"] for r in q.values()))
            metrics = per_layer(session_s, floor, tq, t_runs, log, overhead_s, t_peak_mb)
            attempted += sum(len(r) for r in t_runs.values()) + len(t_failed)
            n_failed += len(t_failed)
            spans.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
            detail.update(trace_app=app_id, trace_overhead_s=overhead_s,
                          span_self_s=spans.self_times(), trace_queries=tq,
                          counts=counts(t_runs, log))
        stop_jvm(spark)
        spark = None
        if not args.trace:
            metrics = end_to_end(setup_s, q, attempted, n_failed)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in detail.items()
                      if k not in ("queries", "trace_queries", "counts")}, sort_keys=True))
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
