"""Differential tests of the memoized parquet reader (``sources.files.read_parquet``).

A read with a memoized schema must be indistinguishable from a plain
``spark.read.parquet``: the same schema, the same rows and the same executed
plan once expression ids are normalized.  It must run no Spark job where the
plain read runs one, must re-infer when the file, the options or an
inference conf changes, and must give every read fresh attribute ids so a
self-join resolves.  The row-count cache of ``scale.use_approx`` shares the
file signature and is checked here too.
"""

from __future__ import annotations

import os
import re
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from rust_dataframe_spark import catalog, scale
from rust_dataframe_spark.context import Context
from rust_dataframe_spark.sources import files

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _field(name: str, typ: pa.DataType, field_id: int | None = None) -> pa.Field:
    meta = None if field_id is None else {b"PARQUET:field_id": str(field_id).encode()}
    return pa.field(name, typ, metadata=meta)


def _all_types_table(n: int) -> pa.Table:
    """``n`` rows over every column kind the catalog reads, the last row all
    null, plus a column that carries a parquet field id."""
    def col(f):
        return [f(i) for i in range(n - 1)] + [None]

    fields = [
        (_field("i", pa.int32()), col(lambda i: i)),
        (_field("l", pa.int64()), col(lambda i: i * 10**10)),
        (_field("s", pa.string()), col(lambda i: f"s{i}")),
        (_field("d", pa.date32()), col(lambda i: date(2024, 1, 1 + i % 28))),
        (_field("b", pa.bool_()), col(lambda i: i % 2 == 0)),
        (_field("x", pa.float64()), col(lambda i: i / 4)),
        (_field("dec", pa.decimal128(12, 2)), col(lambda i: Decimal(i) / 100)),
        (_field("ts", pa.timestamp("us", tz="UTC")),
         col(lambda i: datetime(2024, 1, 1, i % 24, tzinfo=timezone.utc))),
        (_field("ts_ntz", pa.timestamp("us")), col(lambda i: datetime(2024, 2, 1, i % 24))),
        (_field("emb", pa.list_(pa.float32())), col(lambda i: [i / 2, -i / 2])),
        (_field("st", pa.struct([("a", pa.int32()), ("t", pa.string())])),
         col(lambda i: {"a": i, "t": f"t{i}"})),
        (_field("m", pa.map_(pa.string(), pa.int64())), col(lambda i: [(f"k{i}", i)])),
        (_field("fid", pa.int64(), field_id=42), col(lambda i: i * 3)),
    ]
    return pa.Table.from_arrays(
        [pa.array(v, type=f.type) for f, v in fields],
        schema=pa.schema([f for f, _v in fields]),
    )


def _plan(df) -> str:
    """Executed plan with expression ids normalized."""
    return re.sub(r"#\d+L?", "#_", df._jdf.queryExecution().executedPlan().toString())


def _rows(df):
    return sorted(df.collect(), key=repr)


def _assert_same_as_plain(spark, got, path: str, **options) -> None:
    plain = spark.read.options(**options).parquet(path)
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)
    assert _plan(got) == _plan(plain)
    q_got = got.filter(F.col(got.columns[0]).isNotNull()).select(*got.columns[:3])
    q_plain = plain.filter(F.col(plain.columns[0]).isNotNull()).select(*plain.columns[:3])
    assert _plan(q_got) == _plan(q_plain)


def _rewrite(path: str, table: pa.Table) -> None:
    """Write ``table`` over ``path`` with an mtime no earlier than the old
    one's, as a rewrite at the same path does."""
    before = os.stat(path).st_mtime_ns if os.path.exists(path) else 0
    pq.write_table(table, path)
    if os.stat(path).st_mtime_ns <= before:
        os.utime(path, ns=(before + 1, before + 1))


def test_memoized_read_matches_plain_read(spark, tmp_path):
    path = str(tmp_path / "all_types.parquet")
    pq.write_table(_all_types_table(6), path)
    first = {}
    assert spark_jobs(spark, lambda: first.update(df=files.read_parquet(spark, path))) > 0
    second = {}
    assert spark_jobs(spark, lambda: second.update(df=files.read_parquet(spark, path))) == 0
    assert "fid" in second["df"].columns
    assert second["df"].schema["fid"].metadata == first["df"].schema["fid"].metadata
    assert dict(second["df"].dtypes)["ts_ntz"] == "timestamp_ntz"
    for df in (first["df"], second["df"]):
        _assert_same_as_plain(spark, df, path)


def test_testdata_tables_match_plain_read(spark, sf_dir):
    for name in ("lineitem", "embeddings", "events", "documents"):
        path = f"{sf_dir}/{name}.parquet"
        catalog.table(spark, sf_dir, name)
        got = {}
        assert spark_jobs(spark, lambda: got.update(df=catalog.table(spark, sf_dir, name))) == 0
        _assert_same_as_plain(spark, got["df"], path)


def test_options_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "opts.parquet")
    pq.write_table(_all_types_table(4), path)
    files.read_parquet(spark, path)
    assert spark_jobs(spark, lambda: files.read_parquet(spark, path)) == 0
    opts = {"datetimeRebaseMode": "CORRECTED"}
    assert spark_jobs(spark, lambda: files.read_parquet(spark, path, **opts)) > 0
    got = files.read_parquet(spark, path, **opts)
    _assert_same_as_plain(spark, got, path, **opts)


@pytest.mark.parametrize("change", ["schema", "rows"])
def test_rewrite_at_same_path_reads_new_version(spark, tmp_path, change):
    path = str(tmp_path / "v.parquet")
    _rewrite(path, pa.table({"k": pa.array([1, 2, 3], pa.int64())}))
    files.read_parquet(spark, path)
    assert files.read_parquet(spark, path).count() == 3
    if change == "schema":
        new = pa.table({"k": pa.array(["a", "b", "c"]), "v": pa.array([1.0, 2.0, 3.0])})
    else:
        new = pa.table({"k": pa.array(list(range(7)), pa.int64())})
    _rewrite(path, new)
    got = files.read_parquet(spark, path)
    _assert_same_as_plain(spark, got, path)
    assert got.count() == new.num_rows
    assert got.columns == new.column_names


def test_nanos_conf_flip_through_load_events(spark, tmp_path):
    """events.parquet with TIMESTAMP(NANOS) ``ts``: the memo must follow
    ``nanosAsLong``, so a read under each conf value returns that conf's
    type, and ``load_events`` (which turns the conf on) rebuilds ``ts``."""
    sf = str(tmp_path)
    path = f"{sf}/events.parquet"
    ts = [datetime(2024, 1, 1, h, 0, 0, 123456) for h in range(3)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns", tz="UTC")),
        }),
        path,
        version="2.6",
    )
    old = spark.conf.get(NANOS_CONF)
    try:
        spark.conf.set(NANOS_CONF, "true")
        assert dict(files.read_parquet(spark, path).dtypes)["ts"] == "bigint"
        assert dict(files.read_parquet(spark, path).dtypes)["ts"] == "bigint"
        spark.conf.set(NANOS_CONF, "false")

        def plain_type():
            try:
                return dict(spark.read.parquet(path).dtypes)["ts"]
            except Exception as e:  # noqa: BLE001 - the same error is expected
                return type(e).__name__

        def memo_type():
            try:
                return dict(files.read_parquet(spark, path).dtypes)["ts"]
            except Exception as e:  # noqa: BLE001
                return type(e).__name__

        assert memo_type() == plain_type() != "bigint"
        ev = catalog.load_events(spark, sf)
        assert spark.conf.get(NANOS_CONF) == "true"
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = sorted(r["ts"] for r in ev.collect())
        assert got == [t.replace(microsecond=123456) for t in ts]
    finally:
        spark.conf.set(NANOS_CONF, old)


def test_load_events_over_micros_leaves_conf(spark, tmp_path):
    """A TIMESTAMP(MICROS) ``ts`` needs no legacy conf: ``load_events``
    leaves ``nanosAsLong`` at whatever the session had, under both values."""
    sf = str(tmp_path)
    ts = [datetime(2024, 1, 1, h, 0, 0, 123456) for h in range(3)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }),
        f"{sf}/events.parquet",
    )
    old = spark.conf.get(NANOS_CONF)
    try:
        for value in ("false", "true"):
            spark.conf.set(NANOS_CONF, value)
            ev = catalog.load_events(spark, sf)
            assert spark.conf.get(NANOS_CONF) == value
            assert dict(ev.dtypes)["ts"] == "timestamp"
            assert sorted(r["ts"] for r in ev.collect()) == ts
    finally:
        spark.conf.set(NANOS_CONF, old)


def test_self_join_of_two_reads_resolves(spark, sf_dir):
    """The q7 shape: two ``table("nation")`` reads joined on differing
    columns.  Shared attribute ids would make the join condition trivially
    true (or ambiguous); fresh ids give the plain reads' answer."""
    def q7_shape(read):
        n1 = read().select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("a"))
        n2 = read().select(F.col("n_regionkey").alias("k2"), F.col("n_name").alias("b"))
        return sorted(n1.join(n2, F.col("k1") == F.col("k2")).collect())

    def bound_refs(read):
        n1, n2 = read(), read()
        j = n1.join(n2, n1["n_nationkey"] == n2["n_regionkey"])
        return sorted(j.select(n1["n_name"].alias("a"), n2["n_name"].alias("b")).collect())

    catalog.table(spark, sf_dir, "nation")
    memo = q7_shape(lambda: catalog.table(spark, sf_dir, "nation"))
    plain = q7_shape(lambda: spark.read.parquet(f"{sf_dir}/nation.parquet"))
    assert memo == plain
    assert bound_refs(lambda: catalog.table(spark, sf_dir, "nation")) == bound_refs(
        lambda: spark.read.parquet(f"{sf_dir}/nation.parquet"))
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert 0 < len(memo) < n * n


def test_directory_takes_plain_read(spark, tmp_path):
    root = tmp_path / "hive"
    for p in (0, 1):
        d = root / f"p={p}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array([p, p + 10], pa.int64())}), str(d / "f.parquet"))
    path = str(root)
    assert files.file_signature(path) is None
    files.read_parquet(spark, path)
    assert spark_jobs(spark, lambda: files.read_parquet(spark, path)) > 0
    got = files.read_parquet(spark, path)
    assert "p" in got.columns
    _assert_same_as_plain(spark, got, path)
    assert path not in files._SCHEMAS


def test_context_readers_use_the_memo(spark, sf_dir):
    ctx = Context(spark)
    ctx.table(sf_dir, "region")
    assert spark_jobs(spark, lambda: ctx.read_parquet(f"{sf_dir}/region.parquet")) == 0
    assert spark_jobs(spark, lambda: catalog.table(spark, sf_dir, "region")) == 0


def test_use_approx_count_follows_file_version(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(scale.MODE_ENV, "auto")
    monkeypatch.setenv(scale.THRESHOLD_ENV, "15")
    path = str(tmp_path / "counted.parquet")
    _rewrite(path, pa.table({"id": pa.array(range(10), pa.int64())}))
    assert scale.use_approx(files.read_parquet(spark, path), path=path) is False
    _rewrite(path, pa.table({"id": pa.array(range(20), pa.int64())}))
    assert scale.use_approx(files.read_parquet(spark, path), path=path) is True
