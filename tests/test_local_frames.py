"""Differential tests of lakehouse_util.local_rows_df: the Arrow-built
frame (every column type in ``_FAST_DATA_TYPES``) against the pickled
``createDataFrame(parallelize(rows))`` frame it replaces — same schema,
rows, partitions, written files and driver-row tag; other types take the
pickled path; bad rows still raise; a names-list schema infers the same
types; and a small frame is collected without a Spark job."""

from __future__ import annotations

import datetime
import decimal
import glob
import math
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from rust_dataframe_spark.sources.lakehouse_util import (
    _FAST_DATA_TYPES,
    local_rows_df,
    tagged_rows,
)
from conftest import spark_jobs


def _pickled(spark, rows, schema):
    """The frame local_rows_df built for every schema before the Arrow
    path: one pickled slice per 4096 rows, a one-slice frame tagged with
    its rows."""
    n = max(1, min(
        spark.sparkContext.defaultParallelism, (len(rows) + 4095) // 4096
    ))
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=n), schema
    )
    if n == 1:
        df._sg_rows = [tuple(r) for r in rows]
    return df


def _canon(v):
    """Exact comparison key: floats by bit pattern (-0.0 != 0.0), NaN
    equal to NaN."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _rows(df):
    return [_canon(tuple(r)) for r in df.collect()]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


PINNED = T.StructType([
    T.StructField("i8", T.ByteType()),
    T.StructField("i16", T.ShortType()),
    T.StructField("i32", T.IntegerType()),
    T.StructField("i64", T.LongType(), False),
    T.StructField("f32", T.FloatType()),
    T.StructField("f64", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("s", T.StringType()),
    T.StructField("d", T.DateType()),
])
PINNED_DDL = (
    "i8 tinyint, i16 smallint, i32 int, i64 bigint not null, f32 float, "
    "f64 double, b boolean, s string, d date"
)

_SPECIAL_F = [
    float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.5e-300,
    1e300, None, 0.1,
]
_SPECIAL_S = ["", "héllo wörld", "日本語", "emoji 🎉", "a\tb\nc", None, "x"]
_SPECIAL_L = [-(2 ** 63), 2 ** 63 - 1, 0, -1, 42]


def _pinned_rows(k):
    return [
        (
            [-128, 127, None, 0][i % 4],
            [-32768, 32767, None][i % 3],
            [-(2 ** 31), 2 ** 31 - 1, None, i][i % 4],
            _SPECIAL_L[i % len(_SPECIAL_L)],
            _SPECIAL_F[i % len(_SPECIAL_F)],
            _SPECIAL_F[(i + 3) % len(_SPECIAL_F)],
            [True, False, None][i % 3],
            _SPECIAL_S[i % len(_SPECIAL_S)],
            [datetime.date(1970, 1, 1), datetime.date(1, 1, 1),
             datetime.date(9999, 12, 31), None,
             datetime.date(2024, 2, 29) + datetime.timedelta(days=i)][i % 5],
        )
        for i in range(k)
    ]


def test_pinned_set_covers_every_type_of_the_schema():
    assert {f.dataType.typeName() for f in PINNED.fields} == _FAST_DATA_TYPES


@pytest.mark.parametrize("k", [0, 1, 30, 4097])
@pytest.mark.parametrize("as_ddl", [False, True])
def test_arrow_frame_equals_pickled_frame(spark, tmp_path, k, as_ddl):
    rows = _pinned_rows(k)
    schema = PINNED_DDL if as_ddl else PINNED
    new = local_rows_df(spark, rows, schema)
    old = _pickled(spark, rows, PINNED)
    assert "ExistingRDD" not in _plan(new)
    assert "ExistingRDD" in _plan(old)
    assert new.schema == old.schema == PINNED
    assert _rows(new) == _rows(old)
    # an empty LocalRelation scans as an empty RDD (0 partitions) where
    # the pickled frame has one empty slice; both write one file below
    assert new.rdd.getNumPartitions() == (
        0 if k == 0 else old.rdd.getNumPartitions())
    assert old.rdd.getNumPartitions() == (2 if k == 4097 else 1)
    assert _canon(tagged_rows(new)) == _canon(tagged_rows(old))
    assert (tagged_rows(new) is None) == (k > 4096)
    counts = []
    for tag, df in (("new", new), ("old", old)):
        out = str(tmp_path / tag)
        df.write.parquet(out)
        counts.append(len(glob.glob(f"{out}/part-*.parquet")))
        back = spark.read.parquet(out)
        assert back.schema.simpleString() == PINNED.simpleString()
        assert sorted(_rows(back), key=repr) == sorted(_rows(old), key=repr)
    assert counts[0] == counts[1]


def test_rows_as_lists_dicts_and_row_objects(spark):
    schema = "a int, d date, s string"
    d = datetime.date(2020, 5, 17)
    rows = [
        [1, d, "x"],
        {"s": "y", "a": 2, "d": d},
        Row(a=3, d=d, s="z"),
        (4, datetime.datetime(2021, 1, 2, 23, 59), None),
    ]
    assert _rows(local_rows_df(spark, rows, schema)) == _rows(
        _pickled(spark, rows, spark._parse_ddl(schema)))


@pytest.mark.parametrize("ddl, rows", [
    ("t timestamp", [(datetime.datetime(2024, 1, 2, 3, 4, 5),), (None,)]),
    ("x decimal(12,3)", [(decimal.Decimal("123456789.125"),), (None,)]),
    ("y binary", [(bytearray(b"\x00\xff"),), (None,)]),
    ("a array<int>", [([1, None, 3],), (None,)]),
    ("st struct<p:int,q:string>", [(Row(p=1, q="z"),), (None,)]),
    ("m map<string,int>", [({"k": 1},), (None,)]),
    ("i int, t timestamp", [(1, datetime.datetime(2024, 1, 2)), (2, None)]),
])
def test_other_types_take_the_pickled_path(spark, ddl, rows):
    new = local_rows_df(spark, rows, ddl)
    old = _pickled(spark, rows, spark._parse_ddl(ddl))
    assert "ExistingRDD" in _plan(new)
    assert new.schema == old.schema
    assert _rows(new) == _rows(old)
    assert new.rdd.getNumPartitions() == old.rdd.getNumPartitions() == 1


@pytest.mark.parametrize("schema, row", [
    ("a int not null, b string", (None, "x")),  # null in non-nullable
    ("a int, b string", ("1", "x")),  # str in an int column
    ("a int, b string", (2 ** 31, "x")),  # out of the int range
    ("a int, b string", (1,)),  # wrong arity
    # accepted by pyarrow's own conversion, refused by the verifier
    ("a int, b string", (True, "x")),  # bool in an int column
    ("a double, b string", (1, "x")),  # int in a double column
])
def test_bad_rows_raise_as_on_the_pickled_path(spark, schema, row):
    with pytest.raises(Exception):
        _pickled(spark, [row], spark._parse_ddl(schema)).collect()
    with pytest.raises(Exception):
        local_rows_df(spark, [row], schema).collect()


def test_names_list_infers_the_pickled_types(spark):
    rows = [
        ("part-0.parquet", 1, None, 2.5, True, "a", datetime.date(2020, 1, 1)),
        ("part-1.parquet", 2, 7, None, None, None, None),
    ]
    names = ["f", "i", "late", "x", "b", "s", "d"]
    new = local_rows_df(spark, rows, names)
    old = _pickled(spark, rows, names)
    assert "ExistingRDD" not in _plan(new)
    assert new.schema == old.schema
    assert [f.dataType.typeName() for f in new.schema.fields] == [
        "string", "long", "long", "double", "boolean", "string", "date"]
    assert _rows(new) == _rows(old)


def test_names_list_with_a_timestamp_takes_the_pickled_path(spark):
    rows = [("f", datetime.datetime(2024, 1, 2, 3, 4))]
    new = local_rows_df(spark, rows, ["k", "t"])
    old = _pickled(spark, rows, ["k", "t"])
    assert "ExistingRDD" in _plan(new)
    assert new.schema == old.schema
    assert _rows(new) == _rows(old)


def test_small_frame_collects_without_a_job(spark):
    """The pickled frame runs one job (a Python worker round trip) per
    collect; the Arrow frame is collected on the driver."""
    rows = [(1, "a", datetime.date(2020, 1, 1))]
    schema = "k bigint, v string, d date"
    new = local_rows_df(spark, rows, schema)
    old = _pickled(spark, rows, spark._parse_ddl(schema))
    assert spark_jobs(spark, new.collect) == 0
    assert spark_jobs(spark, old.collect) == 1
    assert spark_jobs(spark, local_rows_df(spark, [], schema).collect) == 0


def test_field_metadata_is_kept(spark):
    schema = T.StructType([
        T.StructField("a", T.IntegerType(), True, {"parquet.field.id": 7}),
    ])
    df = local_rows_df(spark, [(1,), (2,)], schema)
    assert df.schema == schema
    assert df.schema.fields[0].metadata == {"parquet.field.id": 7}
