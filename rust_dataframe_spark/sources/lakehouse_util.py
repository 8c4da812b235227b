"""Shared lakehouse-reader helper: re-inject per-file metadata
(partition values) over ONE distributed scan.

All three lakehouse readers (sources/delta.py, iceberg.py, hudi.py)
read every live data file in a single ``spark.read.parquet`` scan and
join the per-file partition values back via ``input_file_name()`` with
a broadcast map — no per-partition union chains, scale-safe at 100 TB.

Join key subtlety: ``input_file_name()`` returns a percent-encoded
URI (``file:///…/p=a%20b/part-….parquet``), while the reader holds
decoded filesystem paths, and the two encodings (Hadoop ``Path.toUri``
vs ``urllib.quote``) don't agree on every character.  Rather than
re-implement Hadoop's escaping, the join key is the part-file
BASENAME: every lakehouse writer (Delta/Iceberg/Hudi, Spark's own
committers) embeds a UUID in the file name, so basenames are unique
per table and URI-safe ASCII.  Uniqueness is verified loudly before
the join — a duplicate basename falls back to nothing silently wrong.
"""

from __future__ import annotations

import os
import re
import urllib.parse
import uuid

from pyspark.sql import DataFrame, functions as F


_PRED_RE = __import__("re").compile(
    r"^\s*`?([A-Za-z_]\w*)`?\s*(<=|>=|==|=|<|>)\s*(.+?)\s*$"
)


def parse_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Best-effort parse of ``a AND b AND ...`` into (column, op,
    literal) triples for METADATA-SIDE file pruning.  Conjuncts that
    don't fit the simple col-op-literal shape are dropped — pruning
    is advisory in every caller (the residual filter still runs), so
    a dropped conjunct costs pruning power, never correctness.

    Disjunction guard: an OR (or NOT) anywhere makes the AND-split
    unsound — ``x = 1 AND y = 2 OR z = 3`` would yield a false
    'required' conjunct ``x = 1`` and prune files that only satisfy
    the ``z = 3`` arm, which the residual filter CANNOT restore.  Any
    OR/NOT token (word match, case-insensitive, including inside
    string literals — conservative) disables pruning entirely."""
    import re as _re

    if _re.search(r"(?i)\b(or|not)\b", where):
        return []
    out: list[tuple[str, str, object]] = []
    for part in _re.split(r"(?i)\s+and\s+", where):
        m = _PRED_RE.match(part)
        if not m:
            continue
        col, op, lit = m.groups()
        lit = lit.strip()
        if (lit.startswith("'") and lit.endswith("'")) or (
            lit.startswith('"') and lit.endswith('"')
        ):
            val = lit[1:-1]
            if "'" in val or '"' in val:
                # a quote surviving inside the stripped literal means
                # the AND-split cut through a string — unsound, drop
                continue
            val: object = val
        else:
            try:
                val = int(lit)
            except ValueError:
                try:
                    val = float(lit)
                except ValueError:
                    continue
        out.append((col, op, val))
    return out


def range_survives(lo, hi, op: str, val) -> bool:
    """False only when a file's [lo, hi] value interval PROVES no row
    can satisfy ``column op val``; None bounds always survive."""
    try:
        if op in ("=", "=="):
            if (hi is not None and hi < val) or (
                lo is not None and lo > val
            ):
                return False
        elif op == "<":
            if lo is not None and lo >= val:
                return False
        elif op == "<=":
            if lo is not None and lo > val:
                return False
        elif op == ">":
            if hi is not None and hi <= val:
                return False
        elif op == ">=":
            if hi is not None and hi < val:
                return False
    except TypeError:
        return True  # uncomparable literal: keep the file
    return True


def local_rows_df(spark, rows: list, schema):
    """The one constructor of a DataFrame over driver-local rows.

    ``schema`` is a DDL string, a ``StructType`` or a list of column
    names (types then inferred on the driver from all rows, as
    ``spark.createDataFrame(rows, names)`` does; no inference job).

    When every column type is in ``_FAST_DATA_TYPES`` the rows are
    checked on the driver by pyspark's own type verifier (a null in a
    non-nullable field or a value of the wrong type raises here) and
    handed to the JVM as one Arrow table: a ``LocalTableScan`` that no
    job ever evaluates in a Python worker (a job over a pickled frame
    took 150-250 ms on a 4-core box, a JVM job about 20 ms).  Above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark itself
    turns the table into a JVM RDD, so a large list stays distributed.
    Any other type (timestamp, decimal, binary, nested) takes the
    pickled ``parallelize`` path.

    Either way the frame has one partition per 4096 rows (fixture-sized
    frames get exactly ONE; a ``LocalTableScan`` alone would give
    min(rows, defaultParallelism)), so the layout, and with it the file
    census of a Spark write of the frame, does not depend on the path.
    The one difference: an empty Arrow frame scans as zero partitions,
    not one empty slice (a Spark write of either leaves one file)."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    elif isinstance(schema, (list, tuple)):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    n = max(1, min(
        spark.sparkContext.defaultParallelism, (len(rows) + 4095) // 4096
    ))
    if isinstance(schema, StructType) and fast_schema(schema):
        df = spark.createDataFrame(_arrow_table(rows, schema), schema)
        if len(rows) > 1:  # 0 or 1 rows already scan as one slice
            df = df.coalesce(n)
    else:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, numSlices=n), schema
        )
    if n == 1:
        # Fast-path tag: the lakehouse writers recognize a one-slice
        # local frame and can write its data file DRIVER-SIDE (pyarrow)
        # instead of launching a Spark write job (~0.25-0.4 s each; see
        # write_hive_tmp).  The tag lives on this exact DataFrame
        # object only — any transformation returns an untagged frame,
        # so a derived plan can never be mistaken for driver rows.
        try:
            df._sg_rows = [tuple(r) for r in rows]
        except Exception:
            pass
    return df


def _arrow_table(rows: list, schema):
    """``rows`` as a ``pa.Table`` of ``schema`` after the checks and the
    conversion (``StructType.toInternal``: dates to epoch days) that
    ``spark.createDataFrame`` applies to each row of a pickled frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*map(schema.toInternal, rows))) or [[]] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
        schema=arrow_schema,
    )


def tagged_rows(df: DataFrame) -> list[tuple] | None:
    """Driver-local rows of a one-slice :func:`local_rows_df` frame,
    or None for any other DataFrame (including anything derived from
    a tagged frame by a transformation)."""
    return getattr(df, "_sg_rows", None)


# Types for which the pyarrow fast path is pinned byte-equivalent to
# Spark's writers (tests/test_lakehouse_gate.py: same read-back values,
# same footer min/max stats, same file census) and the Arrow-built
# frames of local_rows_df to its pickled ones (tests/test_local_frames.py:
# same schema, rows, partitions and files).  All flat; anything else
# falls back to the Spark write job and the pickled frame.
_FAST_DATA_TYPES = {
    "integer", "long", "string", "double", "float", "boolean", "date",
    "short", "byte",
}
# Partition-dir values additionally must render to the same directory
# string Spark produces: str() of a bool or a float does not ('True'
# vs 'true', '0.0002' vs '2.0E-4').
_FAST_PART_TYPES = {"integer", "long", "string", "date", "short", "byte"}
# Characters Spark/Hive never escape in a partition dir name.  Anything
# outside (including '%', so unquote() round-trips) falls back.
_SAFE_PART_RE = re.compile(r"^[A-Za-z0-9._+-]+$")
_FIELD_ID = "parquet.field.id"


def fast_schema(schema, part_cols=()) -> bool:
    """True when every column of ``schema`` has a pinned driver-side
    twin: partition columns in ``_FAST_PART_TYPES``, the rest in
    ``_FAST_DATA_TYPES``."""
    return all(
        f.dataType.typeName() in (
            _FAST_PART_TYPES if f.name in part_cols else _FAST_DATA_TYPES
        )
        for f in schema.fields
    )


def fast_rows(src, schema, part_cols=(), project=None):
    """The ONE eligibility gate of every driver-side (pyarrow) write.

    ``src`` is a :func:`local_rows_df` frame (its tag is read; any
    other DataFrame declines) or a driver-local row list; ``schema``
    is the schema of the frame Spark would write, ``part_cols`` its
    partitionBy columns.  ``project`` maps the source rows to rows of
    ``schema`` (a writer's own renames, prepends or derived values) or
    returns None to decline.  Returns the projected rows when a
    driver-side write provably leaves the files Spark's writer would,
    else None: empty input, more than 4096 rows (a multi-slice frame
    writes one file per slice per value), a type outside the pinned
    sets, data columns only partly carrying ``parquet.field.id``, or
    a partition value that is null (Spark fails loud on it) or would
    be hive-escaped."""
    rows = tagged_rows(src) if isinstance(src, DataFrame) else src
    if not rows or len(rows) > 4096 or not fast_schema(schema, part_cols):
        return None
    stamped = {
        _FIELD_ID in f.metadata
        for f in schema.fields if f.name not in part_cols
    }
    if len(stamped) > 1:
        return None
    if project is not None:
        rows = project(rows)
        if rows is None:
            return None
    pidx = [schema.names.index(c) for c in part_cols]
    for r in rows:
        for i in pidx:
            if r[i] is None or not _SAFE_PART_RE.match(str(r[i])):
                return None
    return rows


# Characters Spark escapes as %XX in a hive partition dir name
# (ExternalCatalogUtils.escapePathName, POSIX set).
_HIVE_ESCAPE = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(
    map(chr, range(1, 32))
)


def part_path(cols, vals) -> str:
    """Hive partition path ``c1=v1/c2=v2`` of one partition tuple,
    escaped as Spark escapes dir names.  ``vals`` must already be
    Spark's string rendering (dir values read back, or gated values
    whose ``str()`` is that rendering); inverse of
    :func:`parse_part_path`."""
    def esc(s) -> str:
        return "".join(
            f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in str(s)
        )

    return "/".join(f"{esc(c)}={esc(v)}" for c, v in zip(cols, vals))


def parse_part_path(rel: str) -> list[tuple[str, str]]:
    """``[(column, value string)]`` of a hive partition path, both
    unescaped (``'%'`` itself is escaped, so unquote round-trips)."""
    return [
        tuple(urllib.parse.unquote(x) for x in seg.split("=", 1))
        for seg in rel.split("/") if "=" in seg
    ] if rel else []


def part_value(s: str, dtype):
    """Python value of a parsed dir value under Spark type ``dtype``:
    the inverse of Spark's cast to string (``'true'`` -> True,
    ``'2.0E-4'`` -> 2e-4), so rows match dirs by VALUE, not by a
    re-rendered string.  None for the hive null dir; a string that
    does not parse, or of another type (a timestamp dir is rendered in
    the session time zone, collected rows in the local one), stays a
    string and matches no typed value."""
    import datetime as _dt
    import struct
    from decimal import Decimal, InvalidOperation

    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    t = dtype.typeName()
    try:
        if t == "boolean":
            return {"true": True, "false": False}.get(s, s)
        if t in ("integer", "long", "short", "byte"):
            return int(s)
        if t == "double":
            return float(s)
        if t == "float":  # rows hold the float32 value, widened
            return struct.unpack("f", struct.pack("f", float(s)))[0]
        if t == "decimal":
            return Decimal(s)
        if t == "date":
            return _dt.date.fromisoformat(s)
    except (ValueError, InvalidOperation, OverflowError):
        pass
    return s


def write_hive_tmp(
    out_df: DataFrame,
    tmp: str,
    part_cols: list[str],
    src,
    *,
    err_cls: type[Exception],
    project=None,
) -> dict[tuple, str]:
    """``out_df.write.mode('overwrite').partitionBy(*part_cols)
    .parquet(tmp)``, done driver-side by :func:`write_local` when the
    gate admits ``src`` and ``project`` (guide §5: a distributed write
    job over a driver-local fixture list costs ~0.25-0.4 s of
    scheduling per tiny commit).

    Returns ``{partition value tuple: dir relative to tmp}`` read back
    from the written layout (``{(): ''}`` unpartitioned); values are
    the unescaped dir strings.  A null partition value raises
    ``err_cls``."""
    if not write_local(src, out_df.schema, tmp, part_cols, project):
        if any(_FIELD_ID in f.metadata for f in out_df.schema.fields):
            out_df.sparkSession.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        writer = out_df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
    if not part_cols:
        return {(): ""}
    # Spark hive-escapes special chars in dir names: read the dirs back
    # instead of predicting them.  A value with zero rows writes no
    # dir, so these ARE the written partition set.
    dir_of: dict[tuple, str] = {}
    for root, dirs, _files in os.walk(tmp):
        rel = os.path.relpath(root, tmp).replace(os.sep, "/")
        segs = [] if rel == "." else rel.split("/")
        if len(segs) == len(part_cols) and all("=" in s for s in segs):
            vals = tuple(v for _c, v in parse_part_path(rel))
            if "__HIVE_DEFAULT_PARTITION__" in vals:
                raise err_cls("writer: null partition value (fail-loud)")
            dir_of[vals] = rel
            dirs[:] = []
    return dir_of


def write_local(src, schema, tmp, part_cols=(), project=None) -> bool:
    """The pyarrow half of :func:`write_hive_tmp`: writes the rows
    :func:`fast_rows` admits, in the layout Spark's one-task write
    leaves (hive dirs ``k=v``, ONE part file per partition value in
    input order, every column nullable, snappy, footer min/max on,
    ``parquet.field.id`` metadata stamped as ``PARQUET:field_id``).
    False, with nothing left in ``tmp``, when the gate declines or a
    value does not convert."""
    rows = fast_rows(src, schema, part_cols, project)
    if rows is None:
        return False
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    pidx = [schema.names.index(c) for c in part_cols]
    didx = [i for i, c in enumerate(schema.names) if c not in part_cols]
    fields = [schema.fields[i] for i in didx]
    arrow_schema = to_arrow_schema(StructType([
        StructField(f.name, f.dataType, True) for f in fields
    ]))
    arrow_schema = pa.schema([
        af.with_metadata(
            {b"PARQUET:field_id": str(int(f.metadata[_FIELD_ID])).encode()}
        ) if _FIELD_ID in f.metadata else af
        for af, f in zip(arrow_schema, fields)
    ])
    # stable group by partition tuple: input order within each group is
    # exactly the one-task Spark write's order (positions in the file
    # matter to position-delete fixtures)
    groups: dict[tuple, list[tuple]] = {}
    for r in rows:
        groups.setdefault(tuple(r[i] for i in pidx), []).append(r)
    try:
        for pv, grp in groups.items():
            sub = part_path(part_cols, pv)
            out_dir = os.path.join(tmp, sub) if sub else tmp
            os.makedirs(out_dir, exist_ok=True)
            tbl = pa.Table.from_arrays([
                pa.array([r[i] for r in grp], type=t)
                for i, t in zip(didx, arrow_schema.types)
            ], schema=arrow_schema)
            pq.write_table(
                tbl,
                os.path.join(
                    out_dir, f"part-00000-{uuid.uuid4().hex[:12]}.parquet"
                ),
                compression="snappy",
            )
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        # half-written tmp must not leak into the caller's discovery
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return False
    return True


def assert_unique_basenames(
    paths: list[str], *, err_cls: type[Exception], tag: str
) -> None:
    """Loud duplicate-basename check for any basename-keyed join: the
    file-map join of :func:`attach_file_values` and the position-delete
    / deletion-vector anti-joins.  Two live files sharing a basename in
    different directories would otherwise attach values to, or
    tombstone rows in, the wrong file silently."""
    seen: dict[str, str] = {}
    for path in paths:
        base = os.path.basename(path)
        if base in seen and seen[base] != path:
            raise err_cls(
                f"{tag}: duplicate data-file basename {base!r} "
                "(basename-keyed join would be ambiguous)"
            )
        seen[base] = path


def attach_file_values(
    df: DataFrame,
    spark,
    file_to_vals: list[tuple[str, list]],
    value_cols: list[str],
    *,
    err_cls: type[Exception],
    tag: str,
    key_col: str | None = None,
) -> DataFrame:
    """Broadcast-join ``value_cols`` onto ``df`` keyed by the source
    file of each row.  ``file_to_vals`` is ``[(abs file path,
    [values...]), ...]`` — one entry per live data file.  With
    ``key_col`` the basename was already computed into that column
    (needed when a join sits between the scan and this call, where
    ``input_file_name()`` would be ambiguous); the column is kept."""
    assert_unique_basenames(
        [path for path, _vals in file_to_vals], err_cls=err_cls, tag=tag
    )
    rows = [(os.path.basename(path), *vals) for path, vals in file_to_vals]
    key = key_col or f"__{tag}_file"
    map_df = local_rows_df(
        spark, rows, [key] + [f"__pv_{c}" for c in value_cols]
    )
    if key_col is None:
        df = df.withColumn(
            key, F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
    out = df.join(F.broadcast(map_df), key, "left")
    return out if key_col else out.drop(key)
