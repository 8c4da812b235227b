"""bench.py run in-process on two cheap names at the tiny test scale.

A named run times its queries through perfbench's ``run_query``, prints a
record with the per-name census and the empty-job floor, and leaves the
committed BENCH_SUMMARY.json alone.  An unknown name stops the run before
Spark is reached, and a query that raises is listed in ``failed`` with
exit code 1 instead of shrinking the total.
"""

from __future__ import annotations

import json
import os

import pytest
from conftest import SF_DIR

import bench
from rust_dataframe_spark import catalog

NAMES = ["q02_select_filter_project", "q31_topk"]
SUMMARY = os.path.join(os.path.dirname(bench.__file__), "BENCH_SUMMARY.json")


def _run(spark, capsys, monkeypatch, names):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    try:
        rc = bench.main(names)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return rc, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_named_run_records_census(spark, capsys, monkeypatch):
    with open(SUMMARY, "rb") as f:
        before = f.read()
    rc, rec = _run(spark, capsys, monkeypatch, NAMES)
    with open(SUMMARY, "rb") as f:
        assert f.read() == before
    assert rc == 0
    assert "failed" not in rec and "fixture_split" not in rec
    assert rec["floor_ms"] > 0
    assert rec["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert list(rec["queries"]) == NAMES == list(rec["census"])
    for name in NAMES:
        c = rec["census"][name]
        for k in ("build_jobs", "build_stages", "exec_jobs", "exec_stages"):
            assert isinstance(c[k], int) and c[k] >= 0, (name, k, c)
        assert c["exec_jobs"] >= 1
        assert rec["queries"][name] == pytest.approx(c["build_s"] + c["exec_s"], abs=2e-3)
        assert c["release_s"] >= 0


def test_unknown_name_exits_before_spark(capsys, monkeypatch):
    def no_spark(*a, **k):
        raise AssertionError("Spark reached")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as e:
        bench.main(["q31_topk", "q_no_such_query"])
    assert e.value.code != 0
    assert "q_no_such_query" in capsys.readouterr().err


def test_raising_query_is_listed_and_fails_the_run(spark, capsys, monkeypatch):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(catalog.QUERIES, NAMES[0], boom)
    rc, rec = _run(spark, capsys, monkeypatch, NAMES)
    assert rc == 1
    assert rec["failed"] == [NAMES[0]]
    assert list(rec["queries"]) == [NAMES[1]]
