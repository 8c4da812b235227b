"""tools/check.py's DuckDB oracle runner: a query past the timeout is
interrupted and reported as None (recorded as a ``timeout`` failure), and
the connection keeps answering later queries."""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_module():
    spec = importlib.util.spec_from_file_location("_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_runaway_oracle_is_interrupted(monkeypatch):
    check = _check_module()
    monkeypatch.setattr(check, "ORACLE_TIMEOUT_S", 0.5)
    con = duckdb.connect(config={"memory_limit": check.ORACLE_MEMORY_LIMIT})
    t0 = time.monotonic()
    assert check.run_oracle(con, "SELECT count(*) FROM range(100000000000)") is None
    assert time.monotonic() - t0 < 30
    assert check.run_oracle(con, "SELECT 42 AS x") == (["x"], [(42,)])
    con.close()
