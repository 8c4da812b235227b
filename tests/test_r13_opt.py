"""Round-13 optimization pins: the driver-side DATA-FILE fast path
(``lakehouse_util.fast_rows`` gate + ``write_hive_tmp`` + the
per-writer projections) must be equivalent to the Spark write jobs it
replaces.

Covers (OPTIMIZATION_r13.md):
- ``write_hive_tmp`` vs ``df.write.partitionBy(...).parquet``:
  same hive dir layout, same file census (one file per partition
  value for a one-slice frame), same read-back schema AND values
  through ``spark.read.parquet``, footer min/max statistics present,
  ``PARQUET:field_id`` stamping identical to Spark's
  ``parquet.field.id`` metadata path;
- fallback triggers: >4096 rows, unsupported types, null / escaped
  partition values, empty input;
- the Iceberg transform fast path (``_iceberg_local_transform_vals``)
  vs the distributed ``_transform_column`` kernels;
- the Hudi meta-field prepend/coalesce replication;
- end-to-end: a Delta/Iceberg/Hudi table written through the fast
  path reads back identically to one written with the fast path
  disabled (tag stripped).
"""

from __future__ import annotations

import os

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rust_dataframe_spark.sources import delta as d
from rust_dataframe_spark.sources import hudi as h
from rust_dataframe_spark.sources import iceberg as ice
from rust_dataframe_spark.sources.lakehouse_util import (
    fast_rows,
    local_rows_df,
    tagged_rows,
    write_hive_tmp,
)


@pytest.fixture(scope="module")
def spark():
    from rust_dataframe_spark.context import get_spark

    return get_spark("test-r13-opt")


def _canon(rows):
    return sorted(
        tuple(sorted((k, repr(v)) for k, v in r.asDict(True).items()))
        for r in rows
    )


def _untag(df):
    """Strip the fast-path tag: forces the writer's Spark job path."""
    try:
        del df._sg_rows
    except AttributeError:
        pass
    return df


def _census(root):
    out = {}
    for r, _dirs, files in os.walk(root):
        rel = os.path.relpath(r, root)
        pq = sorted(n for n in files if n.endswith(".parquet"))
        if pq:
            out[rel] = len(pq)
    return out


# ---------------------------------------------------------------------------
# write_hive_tmp's driver-side write vs the Spark write job
# ---------------------------------------------------------------------------


def test_hive_tmp_matches_spark_partitioned(spark, tmp_path):
    import pyarrow.parquet as pq

    rows = [(i, f"s{i}", float(i) / 4, i % 3) for i in range(12)]
    ddl = "id int, name string, x double, p int"
    fast = str(tmp_path / "fast")
    slow = str(tmp_path / "slow")
    src = local_rows_df(spark, rows, ddl)
    assert fast_rows(src, src.schema, ["p"]) == rows
    got = {}
    assert spark_jobs(spark, lambda: got.update(
        dirs=write_hive_tmp(src, fast, ["p"], src, err_cls=ValueError)
    )) == 0
    assert got["dirs"] == {("0",): "p=0", ("1",): "p=1", ("2",): "p=2"}
    slow_df = _untag(local_rows_df(spark, rows, ddl))
    assert spark_jobs(spark, lambda: got.update(
        slow=write_hive_tmp(slow_df, slow, ["p"], slow_df, err_cls=ValueError)
    )) > 0
    assert got["slow"] == got["dirs"]
    # same partition dirs, same one-file-per-value census
    cf = {k: v for k, v in _census(fast).items()}
    cs = {k: v for k, v in _census(slow).items()}
    assert cf == cs == {"p=0": 1, "p=1": 1, "p=2": 1}
    # same read-back schema and values (partition col re-inferred)
    got_f = spark.read.parquet(fast)
    got_s = spark.read.parquet(slow)
    assert got_f.schema == got_s.schema
    assert _canon(got_f.collect()) == _canon(got_s.collect())
    # footer stats present on both (data skipping depends on them)
    ff = [os.path.join(r, n) for r, _d2, fs in os.walk(fast)
          for n in fs if n.endswith(".parquet")]
    md = pq.read_metadata(ff[0])
    col = md.row_group(0).column(0)
    assert col.statistics is not None
    assert col.statistics.has_min_max


def test_hive_tmp_field_ids_match_spark(spark, tmp_path):
    import pyarrow.parquet as pq

    from rust_dataframe_spark.sources.fieldid import with_field_ids

    rows = [(i, i * 2) for i in range(5)]
    fast = str(tmp_path / "fast")
    slow = str(tmp_path / "slow")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    out = with_field_ids(
        local_rows_df(spark, rows, "a int, b long"), {"a": 7, "b": 9}
    )
    assert fast_rows(rows, out.schema) == rows
    assert spark_jobs(
        spark, lambda: write_hive_tmp(out, fast, [], rows, err_cls=ValueError)
    ) == 0
    assert spark_jobs(  # ``out`` is derived, so untagged: the Spark path
        spark, lambda: write_hive_tmp(out, slow, [], out, err_cls=ValueError)
    ) > 0

    def ids_of(root):
        f = next(
            os.path.join(r, n) for r, _d2, fs in os.walk(root)
            for n in sorted(fs) if n.endswith(".parquet")
        )
        return {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
            for fld in pq.read_schema(f)
        }

    assert ids_of(fast) == ids_of(slow) == {"a": b"7", "b": b"9"}


def test_hive_tmp_fallbacks(spark):
    schema = StructType.fromDDL("a int")
    pschema = StructType.fromDDL("a int, p string")
    # empty input
    assert fast_rows([], schema) is None
    # >4096 rows (would be a multi-slice frame -> different census)
    assert fast_rows([(i,) for i in range(4097)], schema) is None
    assert fast_rows([(i,) for i in range(4096)], schema) is not None
    # unsupported data type
    assert fast_rows([(None,)], StructType.fromDDL("a timestamp")) is None
    # null partition value (Spark path fail-louds; fast path declines)
    assert fast_rows([(1, None)], pschema, ["p"]) is None
    # partition value Spark would hive-escape
    assert fast_rows([(1, "a b:c")], pschema, ["p"]) is None
    assert fast_rows([(1, "ab")], pschema, ["p"]) == [(1, "ab")]
    # missing field id: one data column stamped, the other not
    part_ids = local_rows_df(spark, [(1, 2)], "a int, b int").select(
        F.col("a").alias("a", metadata={"parquet.field.id": 1}), "b"
    )
    assert fast_rows([(1, 2)], part_ids.schema) is None
    # an untagged DataFrame or a projection that declines
    df = local_rows_df(spark, [(1,)], "a int")
    assert fast_rows(df.select("a"), schema) is None
    assert fast_rows(df, schema, project=lambda rows: None) is None
    assert fast_rows(df, schema) == [(1,)]


def test_hive_tmp_row_order_preserved(spark, tmp_path):
    # positions within a data file are load-bearing for position
    # deletes: input order within each partition group must survive
    import pyarrow.parquet as pq

    rows = [(i, i % 2) for i in (7, 0, 9, 4, 3, 8, 1, 2, 5, 6)]
    fast = str(tmp_path / "fast")
    src = local_rows_df(spark, rows, "id int, p int")
    assert spark_jobs(spark, lambda: write_hive_tmp(
        src, fast, ["p"], src, err_cls=ValueError
    )) == 0
    for p, want in (("p=0", [0, 4, 8, 2, 6]), ("p=1", [7, 9, 3, 1, 5])):
        (f,) = os.listdir(os.path.join(fast, p))
        got = pq.read_table(os.path.join(fast, p, f))["id"].to_pylist()
        assert got == want


# ---------------------------------------------------------------------------
# end-to-end writer equivalence (fast path vs tag-stripped slow path)
# ---------------------------------------------------------------------------


def test_delta_commit_fast_vs_slow(spark, tmp_path):
    rows = [(i, i % 3, i * 2) for i in range(20)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fastd")
    sp_t = str(tmp_path / "slowd")
    d.write_delta_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"],
    )
    d.write_delta_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"],
    )
    assert _census(pa_t) == _census(sp_t)
    a = d.read_delta(spark, pa_t)
    b = d.read_delta(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # per-file stats in the log match (numRecords + min/max)
    import json as _json

    def stats(p):
        _m, adds = d.delta_snapshot_files(spark, p)
        return sorted(
            (a2["partitionValues"]["p"],
             _json.loads(a2["stats"])["numRecords"],
             _json.loads(a2["stats"]).get("minValues"),
             _json.loads(a2["stats"]).get("maxValues"))
            for a2 in adds
        )

    assert stats(pa_t) == stats(sp_t)


def test_delta_commit_fast_vs_slow_id_mode(spark, tmp_path):
    rows = [(i, i % 2, i * 3) for i in range(8)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fastid")
    sp_t = str(tmp_path / "slowid")
    for path, tag in ((pa_t, True), (sp_t, False)):
        frame = local_rows_df(spark, rows, ddl)
        if not tag:
            _untag(frame)
        d.write_delta_commit(
            spark, path, frame, partition_by=["p"],
            column_mapping="id",
        )
    a = d.read_delta(spark, pa_t)
    b = d.read_delta(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())


def test_iceberg_commit_fast_vs_slow_identity(spark, tmp_path):
    rows = [(i, i % 2, i * 5) for i in range(10)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fasti")
    sp_t = str(tmp_path / "slowi")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"],
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"],
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())

    # manifest bounds identical (metadata pruning keys on them)
    def bounds(p):
        _m, files = ice.iceberg_snapshot_files(p)
        return sorted(
            (f["partition"].get("p"), f["record_count"],
             f.get("lower_bounds"), f.get("upper_bounds"))
            for f in files
        )

    assert bounds(pa_t) == bounds(sp_t)


def test_iceberg_commit_fast_vs_slow_transforms(spark, tmp_path):
    from datetime import date, timedelta

    rows = [
        (i, i % 7, date(2024, 3, 1) + timedelta(days=i % 3), f"w{i}")
        for i in range(15)
    ]
    ddl = "id int, k int, d date, s string"
    tr = [("k_b", "k", "bucket[4]"), ("d_day", "d", "day"),
          ("s_t", "s", "truncate[2]")]
    pa_t = str(tmp_path / "fastt")
    sp_t = str(tmp_path / "slowt")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_transforms=tr,
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_transforms=tr,
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())

    def parts(p):
        _m, files = ice.iceberg_snapshot_files(p)
        return sorted(
            (tuple(sorted(f["partition"].items())), f["record_count"])
            for f in files
        )

    assert parts(pa_t) == parts(sp_t)


def test_hudi_commit_fast_vs_slow_meta_fields(spark, tmp_path):
    rows = [(i, i % 2, i * 2) for i in range(10)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fasth")
    sp_t = str(tmp_path / "slowh")
    h.write_hudi_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"], meta_fields=True,
    )
    h.write_hudi_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"], meta_fields=True,
    )
    a = h.read_hudi(spark, pa_t).drop("_hoodie_commit_time")
    b = h.read_hudi(spark, sp_t).drop("_hoodie_commit_time")
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # the meta column exists and is the commit instant in both
    ta = h.read_hudi(spark, pa_t).select("_hoodie_commit_time").distinct()
    assert ta.count() == 1


def test_iceberg_orc_local_matches_distributed(spark, tmp_path):
    rows = [(i, i * 3) for i in range(9)]
    ddl = "id int, v long"
    pa_t = str(tmp_path / "fasto")
    sp_t = str(tmp_path / "slowo")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        file_format="orc",
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        file_format="orc",
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())


def test_iceberg_avro_local_matches_distributed(spark, tmp_path):
    rows = [(i, i * 3) for i in range(9)]
    ddl = "id int, v long"
    pa_t = str(tmp_path / "fasta")
    sp_t = str(tmp_path / "slowa")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        file_format="avro",
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        file_format="avro",
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())


def _gate_off(monkeypatch):
    """Force the size gates shut so the distributed paths run."""
    monkeypatch.setattr(d, "_CP_DRIVER_BYTES", -1)


def test_cdf_rewrite_local_vs_distributed(spark, tmp_path, monkeypatch):
    rows = [(i, i * 10) for i in range(12)]
    ddl = "id int, v long"

    def build(path, fast):
        if not fast:
            monkeypatch.setattr(d, "_CP_DRIVER_BYTES", -1)
        else:
            monkeypatch.setattr(d, "_CP_DRIVER_BYTES", 8 << 20)
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl),
            enable_cdf=True,
        )
        d.update_delta_rows_cdf(spark, path, "id = 5", {"v": "v + 1"})
        d.delete_delta_rows_cdf(spark, path, "id = 7")
        return d.read_delta_changes(
            spark, path, starting_version=0, ending_version=2
        )

    a = build(str(tmp_path / "fastc"), True)
    b = build(str(tmp_path / "slowc"), False)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # the rewritten table itself matches too
    ta = d.read_delta(spark, str(tmp_path / "fastc"))
    tb = d.read_delta(spark, str(tmp_path / "slowc"))
    assert _canon(ta.collect()) == _canon(tb.collect())


def test_cdf_rewrite_local_null_condition(spark, tmp_path, monkeypatch):
    # NULL condition rows drop from BOTH outputs on delete (the
    # distributed filter semantics) — pin the local path replicates it
    rows = [(1, 10), (2, None), (3, 30)]
    ddl = "id int, v long"

    def build(path, fast):
        monkeypatch.setattr(
            d, "_CP_DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl),
            enable_cdf=True,
        )
        d.delete_delta_rows_cdf(spark, path, "v > 15")
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fn"), True)
    b = build(str(tmp_path / "sn"), False)
    assert _canon(a.collect()) == _canon(b.collect())
    # the null-condition row (id=2) vanished in both
    assert sorted(r.id for r in a.collect()) == [1]


def test_compact_local_vs_distributed(spark, tmp_path, monkeypatch):
    rows_a = [(i, i % 2) for i in range(10)]
    rows_b = [(100 + i, i % 2) for i in range(6)]
    ddl = "id int, p int"

    def build(path, fast):
        monkeypatch.setattr(
            d, "_CP_DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows_a, ddl),
            partition_by=["p"],
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows_b, ddl),
            partition_by=["p"],
        )
        d.compact_delta_files(spark, path)
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fo"), True)
    b = build(str(tmp_path / "so"), False)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # one compacted file per partition in both
    assert _census(str(tmp_path / "fo")) == _census(str(tmp_path / "so"))


def test_compact_local_with_dvs(spark, tmp_path, monkeypatch):
    rows = [(i, i * 2) for i in range(10)]
    ddl = "id int, v int"

    def build(path, fast):
        monkeypatch.setattr(
            d, "_CP_DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl)
        )
        _m, adds = d.delta_snapshot_files(spark, path)
        d.write_delta_delete_rows(
            spark, path, {adds[0]["path"]: [2, 5]}
        )
        d.compact_delta_files(spark, path)
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fdv"), True)
    b = build(str(tmp_path / "sdv"), False)
    assert _canon(a.collect()) == _canon(b.collect())
    assert sorted(r.id for r in a.collect()) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_compact_local_refuses_duplicate_basenames(
    spark, tmp_path, monkeypatch
):
    # DV positions are keyed by basename: two live files sharing one
    # (here a copy in a sub-directory) must fail loud on the local path
    # exactly as on the distributed one, never apply a DV to both
    import json as _json
    import shutil as _shutil

    path = str(tmp_path / "dup")
    d.write_delta_commit(
        spark, path, local_rows_df(spark, [(i,) for i in range(6)], "id int")
    )
    _m, adds = d.delta_snapshot_files(spark, path)
    base = adds[0]["path"]
    os.makedirs(os.path.join(path, "sub"))
    _shutil.copy(os.path.join(path, base), os.path.join(path, "sub", base))
    with open(os.path.join(path, "_delta_log", d._commit_name(1)), "w") as fh:
        fh.write(_json.dumps({"add": {
            "path": f"sub/{base}", "partitionValues": {},
            "size": adds[0]["size"], "modificationTime": 1,
            "dataChange": True,
        }}) + "\n")
    d.write_delta_delete_rows(spark, path, {base: [1]})
    monkeypatch.setattr(d, "_CP_DRIVER_BYTES", 8 << 20)
    with pytest.raises(d.DeltaError, match="duplicate data-file basename"):
        d.compact_delta_files(spark, path)


def test_tag_semantics(spark):
    df = local_rows_df(spark, [(1, 2)], "a int, b int")
    assert tagged_rows(df) == [(1, 2)]
    # any transformation drops the tag
    assert tagged_rows(df.select("a")) is None
    assert tagged_rows(df.filter("a = 1")) is None
    # >4096 rows: multi-slice, never tagged
    big = local_rows_df(
        spark, [(i, i) for i in range(5000)], "a int, b int"
    )
    assert tagged_rows(big) is None
