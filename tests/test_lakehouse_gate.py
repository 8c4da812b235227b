"""Differential test of the lakehouse writers' driver-side write gate.

Every lakehouse writer may write a one-slice ``local_rows_df`` frame
driver-side (pyarrow) instead of running a Spark write job.  The contract
is Spark's own: the driver-side write must leave exactly the files the
Spark writer would.  Each case writes the SAME tagged frame twice — once
as is (the gate decides) and once with the tag stripped (always the Spark
path) — and asserts, per data directory:

- identical partition-dir names and file census;
- identical read-back column types and values;
- identical parquet footer statistics (row counts, nulls, min/max);

plus that the driver-side path was taken (no Spark job) exactly when the
types are in the pinned sets.  Types a writer does not support must be
refused identically by both paths.
"""

from __future__ import annotations

import os
from datetime import date, datetime
from decimal import Decimal

import pytest
from conftest import spark_jobs

from rust_dataframe_spark.sources import delta as d
from rust_dataframe_spark.sources import hudi as h
from rust_dataframe_spark.sources import iceberg as ice
from rust_dataframe_spark.sources.lakehouse_util import (
    local_rows_df,
    parse_part_path,
    part_value,
)

# name -> (Spark DDL type, four non-null values with a repeat, so a
# partition column over them makes fewer dirs than rows)
TYPES = {
    "int": ("int", [1, 2, 1, -3]),
    "long": ("bigint", [10, 20, 10, -(2 ** 40)]),
    "string": ("string", ["a", "b", "a", "c-1.x"]),
    "date": ("date", [date(2024, 1, 1), date(2024, 1, 2),
                      date(2024, 1, 1), date(1999, 12, 31)]),
    "bool": ("boolean", [True, False, True, False]),
    "double": ("double", [2.0e-4, 1.5, 2.0e-4, -1e300]),
    "decimal": ("decimal(10,2)", [Decimal("1.50"), Decimal("-2.25"),
                                  Decimal("1.50"), Decimal("0.00")]),
    "timestamp": ("timestamp", [datetime(2024, 1, 1, 12, 30),
                                datetime(2023, 5, 6, 7, 8, 9),
                                datetime(2024, 1, 1, 12, 30),
                                datetime(1970, 1, 1)]),
    "struct": ("struct<a:int,b:string>", [(1, "u"), (2, None), (1, "u"),
                                          (3, "w")]),
}
FAST = ["int", "long", "string", "date", "bool", "double"]
# partition types whose dir string str() renders as Spark does
FAST_PART = ["int", "long", "string", "date"]
META_DIRS = {"_delta_log", "metadata", ".hoodie"}


def _frame_spec(data: list[str], part: str | None):
    """(rows, ddl): an ``id`` column, one ``c_<type>`` data column per
    name in ``data`` (row 1 null), and a ``p`` column of type ``part``."""
    cols = [("id", "int", [0, 1, 2, 3])]
    for t in data:
        ddl, vals = TYPES[t]
        cols.append((f"c_{t}", ddl, [vals[0], None, *vals[2:]]))
    if part is not None:
        cols.append(("p", TYPES[part][0], TYPES[part][1]))
    rows = [tuple(c[2][i] for c in cols) for i in range(4)]
    return rows, ", ".join(f"{n} {t}" for n, t, _v in cols)


def _min_max(st) -> tuple:
    if not st.has_min_max:
        return (None, None)
    try:
        return (repr(st.min), repr(st.max))
    except NotImplementedError:  # INT96 timestamps: compare raw bytes
        return (repr(st.min_raw), repr(st.max_raw))


def _file_summary(path: str):
    """Everything a reader can observe of one data file except its name."""
    if path.endswith(".parquet"):
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        md = pq.read_metadata(path)
        footer = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                footer.append((
                    c.path_in_schema, g.num_rows,
                    None if st is None else (
                        st.null_count, st.has_min_max, *_min_max(st),
                    ),
                ))
        schema, rows = tbl.schema, tbl.to_pylist()
    elif path.endswith(".orc"):
        from pyarrow import orc

        tbl = orc.read_table(path)
        schema, rows, footer = tbl.schema, tbl.to_pylist(), None
    else:
        from rust_dataframe_spark.sources.avro import decode_records

        with open(path, "rb") as fh:
            header, rows = decode_records(fh.read())
        schema, footer = header, None
    fields = (
        [(f.name, str(f.type), f.metadata) for f in schema]
        if not isinstance(schema, dict) else schema
    )
    return (fields, sorted(map(repr, rows)), footer)


def _layout(root: str) -> dict:
    """{data dir relative to the table root: sorted file summaries}."""
    out: dict = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in META_DIRS]
        data = [
            f for f in files
            if f.endswith((".parquet", ".orc", ".avro"))
            and not f.startswith(".")
        ]
        if data:
            out[os.path.relpath(dirpath, root)] = sorted(
                (_file_summary(os.path.join(dirpath, f)) for f in data),
                key=repr,
            )
    return out


def _differential(spark, tmp_path, write, rows, ddl, expect_fast):
    """Write the tagged frame and its tag-stripped twin through
    ``write(path, frame)``; assert identical outcomes."""
    outcomes, gate_jobs = [], None
    for tagged in (True, False):
        frame = local_rows_df(spark, rows, ddl)
        if not tagged:
            del frame._sg_rows
        path = str(tmp_path / ("gate" if tagged else "spark"))
        try:
            jobs = spark_jobs(spark, lambda: write(path, frame))
        except Exception as e:  # refused: must be refused by both
            outcomes.append(("raised", type(e).__name__, str(e)))
            continue
        outcomes.append(("wrote", _layout(path)))
        if tagged:
            gate_jobs = jobs
    assert outcomes[0] == outcomes[1]
    if gate_jobs is not None:
        assert (gate_jobs == 0) == expect_fast, (
            f"driver-side path taken={gate_jobs == 0}, expected {expect_fast}"
        )
    return outcomes[0]


# ---------------------------------------------------------------------------
# parquet: the shared hive-tmp writer behind delta / iceberg / hudi commits
# ---------------------------------------------------------------------------

DELTA_CASES = (
    [("fast", p) for p in [None, *(t for t in TYPES if t != "struct")]]
    + [("all", None), ("all", "int")]
)


@pytest.mark.parametrize("data,part", DELTA_CASES)
def test_delta_parquet_gate_matches_spark(spark, tmp_path, data, part):
    cols = FAST if data == "fast" else list(TYPES)
    rows, ddl = _frame_spec(cols, part)
    out = _differential(
        spark, tmp_path,
        lambda path, df: d.write_delta_commit(
            spark, path, df, partition_by=["p"] if part else None,
        ),
        rows, ddl,
        expect_fast=data == "fast" and part in (None, *FAST_PART),
    )
    assert out[0] == "wrote"
    if part is not None:
        # one dir per distinct value
        assert len(out[1]) == len(set(TYPES[part][1]))


@pytest.mark.parametrize("part", [None, *FAST])
def test_iceberg_parquet_gate_matches_spark(spark, tmp_path, part):
    rows, ddl = _frame_spec(FAST, part)
    out = _differential(
        spark, tmp_path,
        lambda path, df: ice.write_iceberg_commit(
            spark, path, df, partition_by=["p"] if part else None,
        ),
        rows, ddl, expect_fast=part in (None, *FAST_PART),
    )
    assert out[0] == "wrote"


@pytest.mark.parametrize("part", [None, "int", "bool", "double"])
def test_hudi_parquet_gate_matches_spark(spark, tmp_path, part):
    rows, ddl = _frame_spec(FAST, part)
    out = _differential(
        spark, tmp_path,
        lambda path, df: h.write_hudi_commit(
            spark, path, df, partition_by=["p"] if part else None,
        ),
        rows, ddl, expect_fast=part in (None, *FAST_PART),
    )
    assert out[0] == "wrote"


# ---------------------------------------------------------------------------
# ORC and avro: iceberg data files (unpartitioned by the writer's contract)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt,data", [
    ("orc", FAST),
    ("avro", ["int", "long", "string", "bool", "double"]),
])
def test_iceberg_orc_avro_gate_matches_spark(spark, tmp_path, fmt, data):
    rows, ddl = _frame_spec(data, None)
    out = _differential(
        spark, tmp_path,
        lambda path, df: ice.write_iceberg_commit(
            spark, path, df, file_format=fmt,
        ),
        rows, ddl, expect_fast=True,
    )
    assert out[0] == "wrote"
    assert list(out[1]) == ["data"] and len(out[1]["data"]) == 1


@pytest.mark.parametrize("fmt", ["parquet", "orc", "avro"])
@pytest.mark.parametrize("extra", ["decimal", "timestamp", "struct"])
def test_iceberg_unsupported_types_refused_alike(
    spark, tmp_path, fmt, extra
):
    rows, ddl = _frame_spec(["int", extra], None)
    out = _differential(
        spark, tmp_path,
        lambda path, df: ice.write_iceberg_commit(
            spark, path, df, file_format=fmt,
        ),
        rows, ddl, expect_fast=False,
    )
    assert out[0] == "raised"


def test_partitioned_orc_avro_refused_alike(spark, tmp_path):
    rows, ddl = _frame_spec(["int"], "int")
    for fmt in ("orc", "avro"):
        out = _differential(
            spark, tmp_path / fmt,
            lambda path, df: ice.write_iceberg_commit(
                spark, path, df, partition_by=["p"], file_format=fmt,
            ),
            rows, ddl, expect_fast=False,
        )
        assert out[0] == "raised" and "unpartitioned" in out[2]


# ---------------------------------------------------------------------------
# hudi merge-on-read log commits: gated rows vs the collect() path
# ---------------------------------------------------------------------------


def _mor_table(spark, path, ddl, rows):
    h.write_hudi_commit(
        spark, path, local_rows_df(spark, rows, ddl),
        partition_by=["p"], table_type="MERGE_ON_READ", record_key="id",
    )


# partition type and values of the two file groups, and how the reader
# renders the second (the dir value Spark wrote, unescaped)
LOG_PARTS = {
    "int": ("int", [0, 1], "1"),
    "bool": ("boolean", [True, False], "false"),
    "double": ("double", [2.0e-4, 1.5], "1.5"),
    "escaped": ("string", ["e f", "c:d"], "c:d"),
}


@pytest.mark.parametrize("part", list(LOG_PARTS))
def test_hudi_log_commit_gate_matches_collect(spark, tmp_path, part):
    # updates route to their file group by partition VALUE: a bool,
    # double or escaped dir holds Spark's rendering ('false', '2.0E-4',
    # 'c%3Ad'), not str()
    ptype, pv, shown = LOG_PARTS[part]
    ddl = f"id int, s string, x double, b boolean, p {ptype}"
    base = [(i, f"s{i}", i / 4, i % 2 == 0, pv[i % 2]) for i in range(6)]
    ups = [(1, "new", 2.0e-4, True, pv[1]), (4, None, -1.5, False, pv[0])]
    got = []
    for tagged in (True, False):
        path = str(tmp_path / ("gate" if tagged else "collect"))
        _mor_table(spark, path, ddl, base)
        frame = local_rows_df(spark, ups, ddl)
        if not tagged:
            del frame._sg_rows
        jobs = spark_jobs(
            spark, lambda: h.write_hudi_log_commit(spark, path, frame)
        )
        assert (jobs == 0) == tagged
        got.append(sorted(
            map(tuple, h.read_hudi_mor(spark, path).select(
                "id", "s", "x", "b", "p"
            ).collect())
        ))
    assert got[0] == got[1]
    assert len(got[0]) == len(base)
    assert (1, "new", 2.0e-4, True, shown) in got[0]
    # compaction rewrites each file group in place (same fileId, matched
    # to the dir Spark writes by value), so the merged view is unchanged
    h.compact_hudi(spark, path)
    assert sorted(
        map(tuple, h.read_hudi(spark, path).select(
            "id", "s", "x", "b", "p"
        ).collect())
    ) == got[1]


@pytest.mark.parametrize("t", [*FAST, "decimal", "float"])
def test_part_value_inverts_spark_dir_rendering(spark, tmp_path, t):
    # the log router matches rows to dirs through part_value: it must map
    # every dir Spark writes back to the value the rows hold
    ddl, vals = TYPES["double"] if t == "float" else TYPES[t]
    if t == "float":
        ddl = "float"
    df = local_rows_df(spark, list(enumerate(vals)), f"id int, p {ddl}")
    df.write.partitionBy("p").parquet(str(tmp_path / "t"))
    got = {
        part_value(v, df.schema["p"].dataType)
        for d in os.listdir(tmp_path / "t") if d.startswith("p=")
        for _c, v in parse_part_path(d)
    }
    assert got == {r.p for r in df.collect()}


def test_hudi_log_commit_struct_takes_collect_path(spark, tmp_path):
    # the log block's avro schema mapping is primitive-only, so a struct
    # column is refused before any row is converted — by both paths
    ddl = "id int, st struct<a:int,b:string>, p int"
    rows = [(1, (1, "u"), 0), (2, (2, None), 1)]
    errors = []
    for tagged in (True, False):
        path = str(tmp_path / ("gate" if tagged else "collect"))
        _mor_table(spark, path, "id int, p int", [(1, 0), (2, 1)])
        frame = local_rows_df(spark, rows, ddl)
        if not tagged:
            del frame._sg_rows
        with pytest.raises(Exception) as exc:
            h.write_hudi_log_commit(spark, path, frame)
        errors.append((type(exc.value).__name__, str(exc.value)))
    assert errors[0] == errors[1]
    assert "struct" in errors[0][1]


# ---------------------------------------------------------------------------
# iceberg delete files
# ---------------------------------------------------------------------------


def _delete_file_ids(path: str) -> dict:
    import pyarrow.parquet as pq

    (f,) = [
        os.path.join(path, "data", n)
        for n in os.listdir(os.path.join(path, "data"))
        if n.startswith("delete-")
    ]
    return {
        fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
        for fld in pq.read_schema(f)
    }


RESERVED_IDS = {"file_path": b"2147483546", "pos": b"2147483545"}


def test_position_deletes_above_one_slice_all_apply(spark, tmp_path):
    """A delete set above the 4096-row one-slice bound is written by
    Spark; every delete must land in the ONE registered delete file."""
    path = str(tmp_path / "t")
    ice.write_iceberg_commit(
        spark, path,
        spark.range(5000).selectExpr("cast(id as int) id").coalesce(1),
    )
    _m, files = ice.iceberg_snapshot_files(path)
    assert len(files) == 1
    ice.write_iceberg_position_deletes(
        spark, path, [(files[0]["file_path"], p) for p in range(4200)]
    )
    assert ice.read_iceberg(spark, path).count() == 800
    assert _delete_file_ids(path) == RESERVED_IDS


def test_position_deletes_small_set_written_driver_side(spark, tmp_path):
    path = str(tmp_path / "t")
    ice.write_iceberg_commit(
        spark, path, local_rows_df(spark, [(i,) for i in range(6)], "id int")
    )
    _m, files = ice.iceberg_snapshot_files(path)
    jobs = spark_jobs(spark, lambda: ice.write_iceberg_position_deletes(
        spark, path, [(files[0]["file_path"], p) for p in (1, 4)]
    ))
    assert jobs == 0
    assert _delete_file_ids(path) == RESERVED_IDS
    assert sorted(
        r.id for r in ice.read_iceberg(spark, path).collect()
    ) == [0, 2, 3, 5]


def test_equality_deletes_gate_matches_spark(spark, tmp_path):
    ddl = "id int, s string"
    layouts = []
    for tagged in (True, False):
        path = str(tmp_path / ("gate" if tagged else "spark"))
        ice.write_iceberg_commit(
            spark, path,
            local_rows_df(spark, [(i, f"s{i}") for i in range(8)], ddl),
        )
        vals = local_rows_df(spark, [(2, "x"), (5, "y")], ddl)
        if not tagged:
            del vals._sg_rows
        jobs = spark_jobs(spark, lambda: ice.write_iceberg_equality_deletes(
            spark, path, vals, ["id"]
        ))
        # gated: no write job and no count job (the footer counts rows)
        assert (jobs == 0) == tagged
        layouts.append({
            k: [f for f in v if len(f[0]) == 1]  # the 1-column delete file
            for k, v in _layout(path).items()
        })
        assert sorted(
            r.id for r in ice.read_iceberg(spark, path).collect()
        ) == [0, 1, 3, 4, 6, 7]
    assert layouts[0] == layouts[1]


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "hudi"])
def test_escaped_partition_values_read_back(spark, tmp_path, fmt):
    # Spark hive-escapes ':' in the dir name; the commit must move the
    # files from the dir Spark wrote, not from a re-rendered value, and
    # a reader taking values from dir names must unescape them
    write, read = {
        "delta": (d.write_delta_commit, d.read_delta),
        "iceberg": (ice.write_iceberg_commit, ice.read_iceberg),
        "hudi": (h.write_hudi_commit, h.read_hudi),
    }[fmt]
    rows = [(1, "a b"), (2, "c:d"), (3, "e")]
    path = str(tmp_path / "t")
    write(spark, path, local_rows_df(spark, rows, "id int, p string"),
          partition_by=["p"])
    got = read(spark, path).select("id", "p").collect()
    assert sorted(map(tuple, got)) == rows
