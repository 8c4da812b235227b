"""Differential tests of the driver-side fast paths of the eager workload.

* The prefix-filter set joins (``operators/setjoin.py``) against brute
  force over string and bigint tokens, null tokens, partner sizes exactly
  at ``⌈t·|a|⌉`` and thresholds up to 1.0.
* ``similarity.ivf_assign``'s one-expression argmax against a pure-Python
  argmax (ties to the lower id) and, for NaN and infinite components,
  against the per-value ``F.lit`` formulation it replaced.
* ``delta.read_delta``'s scan typed from the log against the same read
  with the schema inferred from a data file's footer.
"""

from __future__ import annotations

import datetime
import itertools
import math
import random
import struct
from decimal import Decimal

import pytest
from pyspark.sql import DataFrameReader, functions as F

from rust_dataframe_spark.operators import similarity as sim
from rust_dataframe_spark.operators.setjoin import (
    prefix_containment_join,
    prefix_jaccard_join,
)
from rust_dataframe_spark.sources.delta import read_delta, write_delta_commit
from rust_dataframe_spark.sources.lakehouse_util import local_rows_df

# ---------------------------------------------------------------------------
# prefix joins
# ---------------------------------------------------------------------------


def _corpus(t: float, token):
    """Random docs plus, per size 20 and 7, a doc and its subset of exactly
    ``⌈t·|a|⌉`` tokens (qualifies at the bound) and one of one token fewer
    (does not), and null tokens: a doc whose nulls hide an exact duplicate,
    a null-only doc and an empty doc."""
    rng = random.Random(int(t * 100))
    docs = [(i, rng.sample(range(12), rng.randint(1, 8))) for i in range(40)]
    nid = 100
    for size in (20, 7):
        base = list(range(50 + size * 10, 50 + size * 11))
        need = math.ceil(round(t * size, 9))
        docs += [(nid, base), (nid + 1, base[:need]), (nid + 2, base[:need - 1] or [999])]
        nid += 3
    docs += [(200, [1, None, 2, 3]), (201, [3, 2, 1]), (202, [None]), (203, []),
             (204, [None, 7]), (205, [7, None])]
    return [(i, [None if x is None else token(x) for x in toks]) for i, toks in docs]


def _sets(docs):
    """Docs as sets of their non-null tokens; docs with none are dropped."""
    out = [(i, {x for x in toks if x is not None}) for i, toks in docs]
    return [(i, s) for i, s in out if s]


def _brute_jaccard(docs, t):
    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(_sets(docs), 2):
        inter = len(sa & sb)
        score = inter / (len(sa) + len(sb) - inter)
        if score >= t:
            out.add((min(ia, ib), max(ia, ib), score))
    return out


def _brute_containment(docs, t):
    out = set()
    for (ia, sa), (ib, sb) in itertools.permutations(_sets(docs), 2):
        score = len(sa & sb) / len(sa)
        if score >= t:
            out.add((ia, ib, score))
    return out


TOKEN_TYPES = {"string": ("string", lambda x: f"w{x}"), "bigint": ("bigint", int)}


@pytest.mark.parametrize("t", [0.5, 0.8, 0.95, 1.0])
@pytest.mark.parametrize("ttype", sorted(TOKEN_TYPES))
@pytest.mark.parametrize(
    "join, brute, score",
    [
        (prefix_jaccard_join, _brute_jaccard, "jaccard"),
        (prefix_containment_join, _brute_containment, "containment"),
    ],
    ids=["jaccard", "containment"],
)
def test_prefix_join_matches_bruteforce(spark, t, ttype, join, brute, score):
    ddl, token = TOKEN_TYPES[ttype]
    docs = _corpus(t, token)
    df = spark.createDataFrame(docs, f"id long, toks array<{ddl}>")
    got = {(r["id_a"], r["id_b"], r[score]) for r in join(df, "id", "toks", threshold=t).collect()}
    want = brute(docs, t)
    assert got == want
    # the boundary pairs are in the expectation, so the size bound and the
    # prefix admit a partner of exactly ⌈t·|a|⌉ tokens
    assert {(p[0], p[1]) for p in want} & {(100, 101), (101, 100)}
    # nulls are ignored: 200 and 201 hold the same non-null tokens
    assert (200, 201, 1.0) in got


# ---------------------------------------------------------------------------
# ivf_assign
# ---------------------------------------------------------------------------


def _dot_fold(v, c):
    acc = 0.0
    for x, y in zip(v, c):
        acc = acc + x * y
    return acc


def _py_assign(vecs, cents):
    """Nearest centroid by the same left-fold dot over unit centroids,
    ties to the lower id."""
    unit = []
    for cid, cv in cents:
        nrm = math.sqrt(sum(x * x for x in cv))
        unit.append((cid, [x / nrm for x in cv]))
    return {
        i: max(unit, key=lambda c: (_dot_fold(v, c[1]), -c[0]))[0] for i, v in vecs
    }


def _lit_assign(df, id_col, vec_col, cents):
    """The per-value ``F.lit`` argmax ``ivf_assign`` used to build."""
    emb = sim.as_double(F.col(vec_col))
    structs = []
    for cid, cv in cents:
        nrm = math.sqrt(sum(x * x for x in cv))
        lits = F.array(*[F.lit(x / nrm) for x in cv])
        structs.append(F.struct(sim._dot(emb, lits).alias("sim"), F.lit(-cid).alias("negid")))
    best = F.greatest(*structs)
    return df.select(F.col(id_col), (-best["negid"]).alias("cell"))


def _cells(df):
    return {r[0]: r[1] for r in df.select(df.columns[0], "cell").collect()}


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (2, [-0.0, -0.0, 1.0]),
    (3, [5e-324, 0.0, 0.0]),
    (4, [0.3, 0.3, 0.3]),
    (5, [-1.0, 2.5e-310, 1e300]),
    (6, [0.0, 0.0, 0.0]),
]


@pytest.mark.parametrize(
    "cents",
    [
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [-0.0, 0.0, 1.0])],
        # ties: equal centroids under two ids, the lower id wins
        [(7, [1.0, 1.0, 1.0]), (3, [2.0, 2.0, 2.0]), (5, [0.0, -1.0, 0.0])],
        [(0, [5e-324, 1.0, -0.0]), (1, [1e-310, 0.1, 1.0 / 3]), (2, [-2.0, 1e-300, 0.7])],
        [(4, [0.2, -0.5, 0.9])],
    ],
    ids=["axes", "ties", "subnormal", "one-centroid"],
)
def test_ivf_assign_matches_python_argmax(spark, cents):
    name = "emb.v`x"  # a dot and a backtick: the column name needs quoting
    df = spark.createDataFrame(VECS, "vec_id int, `emb.v``x` array<double>")
    assert _cells(sim.ivf_assign(df, "vec_id", name, cents)) == _py_assign(VECS, cents)


@pytest.mark.parametrize(
    "cents",
    [
        [(0, [1.0, 0.0, 0.0]), (1, [float("nan"), 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        [(0, [1.0, 0.0, 0.0]), (1, [float("inf"), 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        [(0, [0.0, float("-inf"), 1.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 1.0, 0.0])],
    ],
    ids=["nan", "inf", "-inf"],
)
def test_ivf_assign_non_finite_matches_lit_form(spark, cents):
    vecs = VECS + [(7, [float("nan"), 1.0, 0.0]), (8, [float("inf"), 0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id int, emb array<float>")
    got = _cells(sim.ivf_assign(df, "vec_id", "emb", cents))
    assert got == _cells(_lit_assign(df, "vec_id", "emb", cents))


def test_vector_literal_round_trips(spark):
    rng = random.Random(5)
    vals = [0.0, -0.0, 5e-324, -5e-324, 2.225073858507201e-308, 2.2250738585072014e-308,
            1.7976931348623157e308, -1.7976931348623157e308, 0.1, 1 / 3, 1e16, 1e-5, 123.0,
            float("nan"), float("inf"), float("-inf")]
    vals += [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0] for _ in range(150)]
    vals += [rng.uniform(-1, 1) for _ in range(40)]
    got = spark.range(1).select(F.expr(sim._vec_sql(vals)).alias("v")).first()["v"]
    bits = [struct.pack("<d", x) if x == x else "nan" for x in vals]
    assert [struct.pack("<d", x) if x == x else "nan" for x in got] == bits


# ---------------------------------------------------------------------------
# read_delta
# ---------------------------------------------------------------------------

FLAT_DDL = (
    "b tinyint, s smallint, i int, l bigint, f float, d double, "
    "str string, flag boolean, day date"
)
FLAT_ROWS = [
    (1, 300, 70000, 2**40, 1.5, -0.0, "x", True, datetime.date(2020, 1, 2)),
    (-2, -300, -70000, -(2**40), float("inf"), 5e-324, "", False, datetime.date(1970, 1, 1)),
    (None, None, None, None, None, None, None, None, None),
]
# types outside the driver-side writer's pinned set go through Spark's writer
SPARK_DDL = "id int, amt decimal(12,3), ts timestamp, raw binary"
SPARK_ROWS = [
    (1, Decimal("12.345"), datetime.datetime(2021, 3, 4, 5, 6, 7), b"\x00\x01"),
    (2, None, None, None),
]


def _inferred(monkeypatch, spark, path):
    """read_delta with the scan's schema inferred from a footer instead."""
    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "schema", lambda self, schema: self)
        df = read_delta(spark, path)
        return df.schema, sorted(df.collect(), key=repr)


def _same_as_inferred(monkeypatch, spark, path):
    df = read_delta(spark, path)
    assert (df.schema, sorted(df.collect(), key=repr)) == _inferred(monkeypatch, spark, path)
    return df


@pytest.mark.parametrize("local", [True, False], ids=["driver-writer", "spark-writer"])
def test_read_delta_flat_types_match_inferred_scan(spark, tmp_path, monkeypatch, local):
    path = str(tmp_path / "flat")
    make = local_rows_df if local else lambda s, rows, ddl: s.createDataFrame(rows, ddl)
    src = make(spark, FLAT_ROWS, FLAT_DDL)
    write_delta_commit(spark, path, src)
    write_delta_commit(spark, path, src)
    df = _same_as_inferred(monkeypatch, spark, path)
    assert df.count() == 2 * len(FLAT_ROWS)


def test_read_delta_spark_types_match_inferred_scan(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "spark_types")
    write_delta_commit(spark, path, spark.createDataFrame(SPARK_ROWS, SPARK_DDL))
    _same_as_inferred(monkeypatch, spark, path)


def test_read_delta_partitioned_multi_commit_matches_inferred_scan(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "parts")
    ddl = "p int, id int, q string, name string"
    for k, replace in ((0, False), (1, False), (2, True)):
        rows = [(i % 3, k * 100 + i, "ab"[i % 2], f"n{k}_{i}") for i in range(9 - 3 * k)]
        write_delta_commit(spark, path, spark.createDataFrame(rows, ddl),
                           partition_by=["p", "q"], replace_partitions=replace)
    df = _same_as_inferred(monkeypatch, spark, path)
    # partition columns come back typed from the log, after the data columns
    assert df.columns == ["id", "name", "p", "q"]
    assert dict(df.dtypes)["p"] == "int"
