"""Apache Iceberg table reader/writer over the PUBLIC table spec
(iceberg.apache.org/spec) — no iceberg-runtime jar.

An Iceberg table is parquet data files + a ``metadata/`` directory:
``vN.metadata.json`` (schemas, partition specs, snapshot list,
current-snapshot-id, ``version-hint.text`` pointer), per-snapshot
**manifest lists** (Avro) naming **manifests** (Avro) whose entries
carry ``data_file`` records — file path, format, a typed ``partition``
record, row counts.  Unlike Delta's log replay, an Iceberg snapshot is
self-contained: the manifest list IS the complete file census.

Reader surface:

* metadata resolution via ``version-hint.text`` (falling back to the
  highest ``vN``), ``format-version`` gate (> 2 fails loud);
* snapshot selection: current or explicit ``snapshot_id=`` time travel;
* manifest-list -> manifest walk through the repo's own pure-stdlib
  Avro codec (nested records/arrays/maps landed for exactly this);
* entry filtering: ``status == 2`` (deleted) rows drop;
* **format-v2 POSITION deletes** (round 10): delete manifests walk
  like data manifests, their ``(file_path, pos)`` parquet tombstones
  apply as ONE broadcast anti-join on ``(data-file basename,
  _metadata.row_index)`` — path identity makes sequence-number
  scoping unnecessary (data files are immutable and paths never
  reused), no per-file loops;
* **format-v2 EQUALITY deletes** (round 10): full sequence-number
  scoping — data files take their data sequence number (entry value
  or manifest inheritance), every equality-delete group applies as a
  broadcast anti-join with null-safe key equality AND ``delete seq >
  data seq``, so keys re-appended after the delete survive (the
  spec's temporal semantics); writers stamp ``last-sequence-number``
  / snapshot / manifest / entry sequence numbers throughout;
* partition columns: source columns already present in the data
  files (the Iceberg norm) read straight through — including tables
  partitioned with bucket/truncate/days transforms; only an ABSENT
  identity column re-injects via the one-scan ``input_file_name``
  broadcast-map join (no per-partition unions), and an absent
  TRANSFORMED column gates loudly because its values are lossy.

The writer half emits spec-shaped tables (each commit writes the data
files in ONE ``partitionBy`` job, one full-rewrite manifest carrying
live entries as EXISTING + new as ADDED, a manifest list, and the next
``vN.metadata.json``) so fixtures are protocol-real, and
dynamic-partition overwrite drops the replaced partitions' entries.

Reference parity: lakehouse-era extension of SURVEY §2.1's table
sources, next to sources/delta.py.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .avro import decode_records, encode_records
from .lakehouse_util import (
    assert_unique_basenames,
    attach_file_values,
    local_rows_df,
    parse_conjuncts as _parse_conjuncts,
    range_survives as _range_survives,
    fast_rows,
    part_path,
    write_hive_tmp,
    write_local,
)

__all__ = [
    "IcebergError",
    "read_iceberg",
    "iceberg_snapshot_files",
    "write_iceberg_commit",
    "write_iceberg_position_deletes",
    "write_iceberg_equality_deletes",
    "evolve_iceberg_schema",
    "read_iceberg_changes",
    "expire_iceberg_snapshots",
    "iceberg_plan_files",
    "parse_name_mapping",
    "set_iceberg_name_mapping",
    "set_iceberg_ref",
    "resolve_iceberg_ref",
    "fast_forward_iceberg",
    "rollback_iceberg",
]


class IcebergError(ValueError):
    """Malformed or unsupported Iceberg table."""


_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_ML_KEYS = ("manifest_path", "manifest_length", "partition_spec_id",
            "content", "sequence_number", "added_snapshot_id")


def _ml_entry(m: dict) -> dict:
    return {k: m.get(k) if k == "sequence_number" else m[k]
            for k in _ML_KEYS}


def _bounds_type(name: str) -> dict:
    # the spec's logical map<int, binary> (field-id keyed single-value
    # bounds) as an array of key/value records
    return {
        "type": "array",
        "items": {
            "type": "record", "name": name,
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"},
            ],
        },
    }


def _manifest_schema(part_fields: list[tuple[str, str]]) -> dict:
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "partition",
                        "fields": [
                            {"name": n, "type": ["null", t]}
                            for n, t in part_fields
                        ],
                    }},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array",
                                       "items": "int"}]},
                    {"name": "lower_bounds",
                     "type": ["null", _bounds_type("k_lower")]},
                    {"name": "upper_bounds",
                     "type": ["null", _bounds_type("k_upper")]},
                ],
            }},
        ],
    }


# ---------------------------------------------------------------------------
# single-value serialization (spec Appendix D) + file-level pruning
# ---------------------------------------------------------------------------


def _sv_encode(t: str, v):
    import struct as _struct

    if t == "date":
        from datetime import date as _date

        if isinstance(v, _date):
            v = (v - _date(1970, 1, 1)).days
        return int(v).to_bytes(4, "little", signed=True)
    if t == "int":
        return int(v).to_bytes(4, "little", signed=True)
    if t == "long":
        return int(v).to_bytes(8, "little", signed=True)
    if t == "float":
        return _struct.pack("<f", float(v))
    if t == "double":
        return _struct.pack("<d", float(v))
    if t == "string":
        return str(v).encode("utf-8")
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    return None  # unencodable type: no bound recorded


def _sv_decode(t: str, b: bytes):
    import struct as _struct

    if t == "int" or t == "date":
        return int.from_bytes(b[:4], "little", signed=True)
    if t == "long":
        return int.from_bytes(b[:8], "little", signed=True)
    if t == "float":
        return _struct.unpack("<f", b[:4])[0]
    if t == "double":
        return _struct.unpack("<d", b[:8])[0]
    if t == "string":
        return b.decode("utf-8")
    if t == "boolean":
        return b[:1] != b"\x00"
    return None


def _parquet_bounds(path: str) -> tuple[dict, dict]:
    """Per-column (min, max) from the parquet footer's row-group
    statistics — footer-only, no data read."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            name = c.path_in_schema
            if name not in mins or st.min < mins[name]:
                mins[name] = st.min
            if name not in maxs or st.max > maxs[name]:
                maxs[name] = st.max
    return mins, maxs


def _file_rows(path: str, ext: str) -> int:
    """Exact row count from the file FOOTER (parquet metadata / ORC
    tail) — the writer's manifest record_count without a Spark count
    job.  Loud on failure: a written file whose footer cannot state
    its row count is corrupt."""
    if ext == "parquet":
        import pyarrow.parquet as pq

        return int(pq.read_metadata(path).num_rows)
    if ext == "orc":
        from .orc import orc_tail_of_file

        return int(orc_tail_of_file(path)["num_rows"])
    raise IcebergError(f"_file_rows: no footer count for {ext!r}")


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) — the Iceberg spec's bucket-
    transform hash (Appendix B).  Pure arithmetic, no lookup tables;
    pinned against the spec's published test vectors in
    tests/test_r12_lakehouse.py (int 34 -> 2017239379, string
    'iceberg' -> 1210000089, date 2017-11-16 -> -653330422)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)

    def rot(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = rot((k * c1) & 0xFFFFFFFF, 15)
        h ^= (k * c2) & 0xFFFFFFFF
        h = (rot(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = rot((k * c1) & 0xFFFFFFFF, 15)
        h ^= (k * c2) & 0xFFFFFFFF
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(value, n: int, ice_type: str) -> int:
    """Spec bucket transform: ``(murmur3(le bytes) & MAX_INT) % n``.
    int/long/date hash as the 8-byte little-endian long; strings as
    UTF-8 bytes."""
    import struct as _struct

    if ice_type in ("int", "long"):
        data = _struct.pack("<q", int(value))
    elif ice_type == "date":
        from datetime import date as _date

        if isinstance(value, str):
            y, m, d = (int(x) for x in value.split("-"))
            value = _date(y, m, d)
        days = (value - _date(1970, 1, 1)).days
        data = _struct.pack("<q", days)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise IcebergError(
            f"bucket transform over type {ice_type!r} unsupported"
        )
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def iceberg_truncate(value, w: int, ice_type: str):
    """Spec truncate transform: ints floor to the bin start
    (``v - (((v % W) + W) % W)`` — Python's %% is already floor-mod);
    strings keep the first W characters."""
    if ice_type in ("int", "long"):
        return int(value) - (int(value) % w)
    if ice_type == "string":
        return str(value)[:w]
    raise IcebergError(
        f"truncate transform over type {ice_type!r} unsupported"
    )


def _date_to_days(val) -> int | None:
    from datetime import date as _date

    if isinstance(val, str):
        try:
            y, m, d = (int(x) for x in val.split("-"))
            return (_date(y, m, d) - _date(1970, 1, 1)).days
        except (ValueError, TypeError):
            return None
    return None


def _transform_survives(pv, tr: str, op: str, val, t: str) -> bool:
    """False only when a file's PARTITION TUPLE value under transform
    ``tr`` PROVES no row can satisfy ``column op val``.  Advisory:
    unrecognized transforms/ops/type mismatches always survive."""
    try:
        if tr == "identity":
            if isinstance(val, str) != (t == "string"):
                return True
            return _range_survives(pv, pv, op, val)
        if tr.startswith("bucket[") and tr.endswith("]"):
            if op not in ("=", "=="):
                return True  # bucket is order-destroying: equality only
            n = int(tr[7:-1])
            if t in ("int", "long") and isinstance(val, int):
                return int(pv) == iceberg_bucket(val, n, t)
            if t == "string" and isinstance(val, str):
                return int(pv) == iceberg_bucket(val, n, t)
            if t == "date" and isinstance(val, str):
                if _date_to_days(val) is None:
                    return True
                return int(pv) == iceberg_bucket(val, n, t)
            return True
        if tr.startswith("truncate[") and tr.endswith("]"):
            w = int(tr[9:-1])
            if t in ("int", "long") and isinstance(val, int):
                lo = int(pv)
                return _range_survives(lo, lo + w - 1, op, val)
            if t == "string" and isinstance(val, str):
                lo = str(pv)
                if op in ("=", "=="):
                    return val[:w] == lo
                if op == "<":
                    return lo < val
                if op == "<=":
                    return lo <= val
                # rows with prefix lo are < lo_next (exclusive sup)
                if lo and ord(lo[-1]) < 0x10FFFF:
                    nxt = lo[:-1] + chr(ord(lo[-1]) + 1)
                    if op in (">", ">=") and val >= nxt:
                        return False
                return True
            return True
        if tr in ("day", "days"):
            if t != "date" or not isinstance(val, str):
                return True
            days = _date_to_days(val)
            if days is None:
                return True
            return _range_survives(int(pv), int(pv), op, days)
    except (TypeError, ValueError):
        return True
    return True


def _file_survives(
    f: dict, conjuncts, cols: dict[int, tuple[str, str]],
    parts: list[tuple[str, str, str, str]] | None = None,
) -> bool:
    """False only when the file's column bounds — or its partition
    tuple under the spec's transforms (round 12: identity point
    values, bucket equality, truncate intervals, day bins) — PROVE no
    row matches every conjunct; missing bounds/tuples always
    survive."""
    name_to = {nm: (fid, t) for fid, (nm, t) in cols.items()}
    lo_raw = {d["key"]: d["value"] for d in (f.get("lower_bounds") or [])}
    hi_raw = {d["key"]: d["value"] for d in (f.get("upper_bounds") or [])}
    part_by_src: dict[str, list[tuple[str, str, str]]] = {}
    for pname, src, t, tr in parts or []:
        part_by_src.setdefault(src, []).append((pname, t, tr))
    pv_tuple = f.get("partition") or {}
    for col, op, val in conjuncts:
        if col in name_to:
            fid, t = name_to[col]
            lo = _sv_decode(t, lo_raw[fid]) if fid in lo_raw else None
            hi = _sv_decode(t, hi_raw[fid]) if fid in hi_raw else None
            if isinstance(val, str) == (t == "string"):
                if not _range_survives(lo, hi, op, val):
                    return False
        for pname, t, tr in part_by_src.get(col, []):
            pv = pv_tuple.get(pname)
            if pv is None:
                continue
            if not _transform_survives(pv, tr, op, val, t):
                return False
    return True


def iceberg_plan_files(
    path: str,
    *,
    where: str | None = None,
    snapshot_id: int | None = None,
    spark=None,
) -> tuple[int, int]:
    """(files kept after bounds pruning, total live files) — the
    metadata-side scan plan for a predicate, without reading data."""
    meta, files, _dels = iceberg_snapshot_files(
        path, snapshot_id=snapshot_id, with_deletes=True, spark=spark
    )
    total = len(files)
    if not where:
        return total, total
    schema_id = None
    if snapshot_id is not None:
        snap = next(
            (s for s in meta.get("snapshots") or []
             if s.get("snapshot-id") == snapshot_id), None
        )
        if snap is not None:
            schema_id = snap.get("schema-id")
    cols = _schema_fields(meta, schema_id)
    parts = _partition_fields(
        meta, allow_transforms=True, schema_id=schema_id
    )
    conjuncts = _parse_conjuncts(where)
    kept = sum(
        1 for f in files if _file_survives(f, conjuncts, cols, parts)
    )
    return kept, total


def _load_metadata(path: str) -> tuple[dict, int]:
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise IcebergError(f"not an Iceberg table: no metadata/ in {path}")
    version = None
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint, encoding="utf-8") as fh:
            version = int(fh.read().strip())
    else:
        vs = [
            int(n[1:].split(".")[0])
            for n in os.listdir(mdir)
            if n.startswith("v") and n.endswith(".metadata.json")
        ]
        if not vs:
            raise IcebergError("no vN.metadata.json files")
        version = max(vs)
    mpath = os.path.join(mdir, f"v{version}.metadata.json")
    if not os.path.exists(mpath):
        raise IcebergError(f"version hint points at missing v{version}")
    with open(mpath, encoding="utf-8") as fh:
        meta = json.load(fh)
    fv = meta.get("format-version", 1)
    if fv > 2:
        raise IcebergError(
            f"format-version {fv} unsupported (fail-loud)"
        )
    return meta, version


def _schema_fields(
    meta: dict, schema_id: int | None = None
) -> dict[int, tuple[str, str]]:
    """field-id -> (name, primitive type), in schema order.  With
    ``schema_id`` the HISTORICAL schema resolves (time travel reads
    use the snapshot's recorded schema-id, so a column renamed later
    still reads under its name as of that snapshot)."""
    schema = None
    if "schemas" in meta:
        sid = (
            schema_id if schema_id is not None
            else meta.get("current-schema-id", 0)
        )
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                schema = s
                break
        if schema is None and schema_id is not None:
            raise IcebergError(f"schema-id {schema_id} not in metadata")
    if schema is None:
        schema = meta.get("schema")
    if schema is None:
        raise IcebergError("metadata carries no schema")
    out = {}
    for f in schema.get("fields", []):
        if not isinstance(f.get("type"), str):
            raise IcebergError(
                f"nested column {f.get('name')!r} unsupported"
            )
        out[f["id"]] = (f["name"], f["type"])
    return out


def _partition_fields(
    meta: dict, *, allow_transforms: bool = False,
    schema_id: int | None = None,
) -> list[tuple[str, str, str, str]]:
    """[(partition field name, source column name, iceberg type,
    transform)] for the current spec.  Non-identity transforms
    (bucket/truncate/days — lossy, values unrecoverable from the
    partition tuple) raise unless ``allow_transforms``; the READ path
    allows them when the data files themselves carry the source
    columns (the Iceberg norm — unlike hive layouts, Iceberg parquet
    stores every column in-file)."""
    spec = None
    if "partition-specs" in meta:
        sid = meta.get("default-spec-id", 0)
        for s in meta["partition-specs"]:
            if s.get("spec-id") == sid:
                spec = s.get("fields", [])
                break
    if spec is None:
        spec = meta.get("partition-spec", [])
    cols = _schema_fields(meta, schema_id)
    out = []
    for f in spec or []:
        tr = f.get("transform", "identity")
        if tr != "identity" and not allow_transforms:
            raise IcebergError(
                f"partition transform {tr!r} unsupported here "
                "(identity only — bucket/truncate/days values are lossy)"
            )
        src = cols.get(f.get("source-id"))
        if src is None:
            raise IcebergError(
                f"partition source-id {f.get('source-id')} not in schema"
            )
        out.append((f["name"], src[0], src[1], tr))
    return out


_ICE_TO_SPARK = {
    "int": "int", "long": "bigint", "string": "string",
    "boolean": "boolean", "float": "float", "double": "double",
    "date": "date",
}


def _spark_type(ice_type: str):
    from pyspark.sql import types as T

    t = {
        "int": T.IntegerType(), "long": T.LongType(),
        "string": T.StringType(), "boolean": T.BooleanType(),
        "float": T.FloatType(), "double": T.DoubleType(),
        "date": T.DateType(),
    }.get(ice_type)
    if t is None:
        raise IcebergError(f"column type {ice_type!r} unsupported")
    return t


def _snapshot_manifest_entries(path: str, meta: dict, want) -> list[dict]:
    """Decoded manifest-list entries for the chosen snapshot."""
    snaps = meta.get("snapshots") or []
    snap = next(
        (s for s in snaps if s.get("snapshot-id") == want), None
    )
    if snap is None:
        raise IcebergError(f"snapshot {want} not in metadata")
    ml_path = snap.get("manifest-list")
    if not ml_path:
        raise IcebergError("snapshot carries no manifest-list")
    with open(_localize(path, ml_path), "rb") as fh:
        _s, manifests = decode_records(fh.read())
    return manifests


# File-axis budget for the live-entry list collected to the driver
# (it parameterizes the one distributed scan) — the Delta
# max_live_files discipline (sources/delta.py) applied to manifests.
_MAX_LIVE_FILES = 1_000_000

# Equality-delete row budget for the broadcast anti-join: below it
# each delete group broadcasts (tiny map-side join); above it the
# join runs SHUFFLED on the null-safe equality keys with the
# sequence-number predicate as an extra join condition — a CDC-heavy
# table with tens of millions of equality-delete rows must not blow
# the broadcast (the keys still hash-partition, so Spark plans a
# sort-merge join, not a nested loop).
_EQ_DELETE_BROADCAST_ROWS = 1_000_000

# Manifest-count threshold above which the manifest WALK itself is
# distributed: each manifest decodes on an executor (the repo's own
# pure-Python Avro codec ships fine in a closure) and only the
# (status, content, file_path, partition, ...) tuples return.  Below
# it, driver-side decode is faster than a Spark job round trip.
_DISTRIBUTE_MANIFESTS_FROM = 64


def _decode_manifest_entries(man_path: str) -> list[dict]:
    with open(man_path, "rb") as fh:
        _s, entries = decode_records(fh.read())
    return entries


def _walk_manifests(
    manifests: list[dict], path: str, spark=None
) -> list[tuple[int, int, list[dict]]]:
    """[(manifest content flag, manifest sequence number, decoded
    entries), ...] — distributed via mapInPandas when the manifest
    list is large and a live SparkSession is available."""
    jobs = [
        (m.get("content", 0), int(m.get("sequence_number") or 0),
         _localize(path, m["manifest_path"]))
        for m in manifests
    ]
    if spark is None or len(jobs) < _DISTRIBUTE_MANIFESTS_FROM:
        return [
            (c, s, _decode_manifest_entries(p)) for c, s, p in jobs
        ]
    import json as _json

    jdf = spark.createDataFrame(
        jobs, "content int, seq bigint, man_path string"
    )

    def work(batches):
        import base64 as _b64
        import json as _json2

        import pandas as pd

        def default(o):
            # manifest bounds values are raw bytes (spec Appendix D
            # single values) — tag + base64 them across the wire
            if isinstance(o, (bytes, bytearray)):
                return {"__b64__": _b64.b64encode(bytes(o)).decode()}
            raise TypeError(type(o).__name__)

        for pdf in batches:
            rows = {"content": [], "seq": [], "entries": []}
            for c, s, p in zip(pdf["content"], pdf["seq"],
                               pdf["man_path"]):
                rows["content"].append(int(c))
                rows["seq"].append(int(s))
                rows["entries"].append(_json2.dumps(
                    _decode_manifest_entries(p), default=default
                ))
            yield pd.DataFrame(rows)

    import base64 as _b64

    def hook(d):
        if set(d) == {"__b64__"}:
            return _b64.b64decode(d["__b64__"])
        return d

    out = [
        (r["content"], r["seq"],
         _json.loads(r["entries"], object_hook=hook))
        for r in jdf.mapInPandas(
            work, "content int, seq bigint, entries string"
        ).collect()
    ]
    return out


def iceberg_snapshot_files(
    path: str,
    *,
    snapshot_id: int | None = None,
    with_deletes: bool = False,
    max_live_files: int = _MAX_LIVE_FILES,
    spark=None,
) -> tuple[dict, list[dict]] | tuple[dict, list[dict], list[dict]]:
    """Returns ``(metadata json, live data_file dicts)`` for the
    chosen snapshot — or, with ``with_deletes=True``, a 3-tuple whose
    last element is the live POSITION-delete file dicts (format v2).
    Without the flag a table carrying delete files raises loudly
    rather than reading deleted rows back as live.  With the flag the
    delete list carries BOTH position (content == 1) and equality
    (content == 2) delete files; ``read_iceberg`` applies both —
    equality deletes with full sequence-number scoping.  Passing
    ``spark``
    distributes the manifest decode for large manifest lists; the
    final live list is bounded by the loud ``max_live_files``
    budget either way."""
    meta, _v = _load_metadata(path)
    snaps = meta.get("snapshots") or []
    if not snaps:
        return (meta, [], []) if with_deletes else (meta, [])
    want = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    manifests = _snapshot_manifest_entries(path, meta, want)
    files: list[dict] = []
    deletes: list[dict] = []
    for man_content, man_seq, entries in _walk_manifests(
        manifests, path, spark
    ):
        if len(files) + len(entries) > max_live_files:
            raise IcebergError(
                f"snapshot exceeds {max_live_files} manifest entries "
                "(raise max_live_files explicitly to proceed)"
            )
        for e in entries:
            if e.get("status") == 2:
                continue  # deleted
            df_ = dict(e.get("data_file") or {})
            content = df_.get("content", 0)
            fmt = df_.get("file_format", "PARQUET").upper()
            if fmt not in ("PARQUET", "AVRO", "ORC"):
                raise IcebergError(
                    f"file format {df_.get('file_format')!r} unsupported"
                )
            if fmt in ("AVRO", "ORC") and content != 0:
                raise IcebergError(
                    f"{fmt} delete files unsupported (data files only)"
                )
            # v2 sequence inheritance: a null entry seq takes the
            # manifest's; absent everywhere (v1 fixtures) -> 0
            seq = e.get("sequence_number")
            df_["_data_seq"] = int(seq) if seq is not None else man_seq
            if man_content == 0:
                if content != 0:
                    raise IcebergError(
                        "delete file inside a data manifest (malformed)"
                    )
                files.append(df_)
            else:
                if content == 2:
                    if not df_.get("equality_ids"):
                        raise IcebergError(
                            "equality delete without equality_ids"
                        )
                elif content != 1:
                    raise IcebergError(
                        "data file inside a delete manifest (malformed)"
                    )
                deletes.append(df_)
    if deletes and not with_deletes:
        raise IcebergError(
            "table carries row-level delete files; use the snapshot "
            "reader (read_iceberg applies them) — ignoring them would "
            "read deleted rows back as live"
        )
    return (meta, files, deletes) if with_deletes else (meta, files)


def _localize(table_path: str, p: str) -> str:
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    if not os.path.isabs(p):
        p = os.path.join(table_path, p)
    return p


def parse_name_mapping(meta: dict) -> dict[str, int] | None:
    """``{physical column name -> field id}`` from the table property
    ``schema.name-mapping.default`` — the Iceberg spec's Column
    Projection rule 2 fallback for data files written WITHOUT parquet
    field ids (Hive-migrated tables, older non-Spark writers).  Flat
    primitive fields only (nested entries refuse, matching
    ``_schema_fields``); a name mapped to two different ids refuses;
    entries without a ``field-id`` are legal per spec (names that
    resolve to nothing) and are skipped.  Returns None when the
    property is absent."""
    raw = (meta.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if not raw:
        return None
    try:
        entries = json.loads(raw)
    except (TypeError, ValueError) as e:
        raise IcebergError(
            f"schema.name-mapping.default is not valid JSON: {e}"
        ) from None
    if not isinstance(entries, list):
        raise IcebergError(
            "schema.name-mapping.default must be a JSON list of "
            "mapped-field entries"
        )
    out: dict[str, int] = {}
    for e in entries:
        if not isinstance(e, dict):
            raise IcebergError("name-mapping entry is not an object")
        if e.get("fields"):
            raise IcebergError(
                "nested name-mapping entries unsupported (flat "
                "primitive schemas only, as with the schema reader)"
            )
        fid = e.get("field-id")
        if fid is None:
            continue  # spec: a mapping entry may omit field-id
        for n in e.get("names") or []:
            if n in out and out[n] != int(fid):
                raise IcebergError(
                    f"name mapping maps {n!r} to two field ids "
                    f"({out[n]} and {int(fid)})"
                )
            out[n] = int(fid)
    return out or None


def _resolve_files_scan(
    spark: SparkSession,
    paths: list[str],
    cols: dict[int, tuple[str, str]],
    parts: list[tuple[str, str, str, str]],
    *,
    name_mapping: dict[str, int] | None = None,
    capture_pos: bool = False,
):
    """Distributed scan of ``paths`` projected to the logical schema
    ``cols``.  Resolution per the spec's Column Projection rules: a
    file's parquet field ids win when present; files without ids
    resolve through ``name_mapping`` (``schema.name-mapping.default``)
    when the table carries one; otherwise guarded name resolution.
    Returns ``(df, present)`` where ``present[i]`` is the set of
    logical column names physically present (resolvable) in file i
    (drives per-file partition injection).

    The returned frame always carries ``__ice_base`` (the scan-time
    data-file basename) and, with ``capture_pos``, ``__ice_pos``
    (``_metadata.row_index``): the name-mapping path may union
    several scans, after which ``_metadata`` no longer resolves —
    so both captures happen ON each leaf scan, here.

    Scale: the union has one leg per DISTINCT resolved-name signature
    (bounded by the number of schema versions that ever wrote the
    table), never per file — a 10^6-file migrated table still plans
    a handful of scans."""
    from .fieldid import probe_field_ids, read_by_field_id

    out_cols = [n for n, _t in cols.values()]
    probe = probe_field_ids(paths, spark)
    stamped = [m is not None for m, _names in probe]

    def _capture(d: DataFrame) -> DataFrame:
        sel = [F.col(f"`{c}`") for c in d.columns] + [
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "__ice_base"
            )
        ]
        if capture_pos:
            sel.append(F.col("_metadata.row_index").alias("__ice_pos"))
        return d.select(*sel)

    if all(stamped):
        # field-id path: one scan, ids matched per file by Spark's
        # parquet reader; absent ids yield nulls (add-evolution)
        df = read_by_field_id(
            spark, paths,
            [(fid, n, _spark_type(t)) for fid, (n, t) in cols.items()],
        )
        present = [
            {n for fid, (n, _t) in cols.items() if fid in m}
            for m, _names in probe
        ]
        return _capture(df), present
    if name_mapping is not None:
        # Column Projection rule 2: unstamped files resolve their
        # physical names through the table's name mapping to field
        # ids; stamped files keep id resolution (ids win).  Mapped
        # fields absent from a file read as null; physical names the
        # mapping doesn't know are simply not projected (the mapping
        # IS the resolution authority, unlike the guarded name path).
        eff: list[dict[int, str]] = []
        for m, names in probe:
            if m is not None:
                eff.append(dict(m))
                continue
            e: dict[int, str] = {}
            for nm in names:
                fid = name_mapping.get(nm)
                if fid is None:
                    continue
                if fid in e:
                    raise IcebergError(
                        f"name mapping resolves two physical columns "
                        f"({e[fid]!r}, {nm!r}) in one file to field "
                        f"id {fid} (ambiguous)"
                    )
                e[fid] = nm
            eff.append(e)
        present = [
            {n for fid, (n, _t) in cols.items() if fid in e}
            for e in eff
        ]
        legs: list[DataFrame] = []
        idx_stamped = [i for i, s in enumerate(stamped) if s]
        if idx_stamped:
            legs.append(_capture(read_by_field_id(
                spark, [paths[i] for i in idx_stamped],
                [(fid, n, _spark_type(t))
                 for fid, (n, t) in cols.items()],
            )))
        groups: dict[tuple, list[int]] = {}
        for i, s in enumerate(stamped):
            if s:
                continue
            sig = tuple(sorted(
                (fid, eff[i][fid]) for fid in eff[i] if fid in cols
            ))
            groups.setdefault(sig, []).append(i)
        from pyspark.sql.types import StructField, StructType

        for sig, idxs in sorted(groups.items()):
            phys_by_fid = dict(sig)
            read_schema = StructType([
                StructField(phys_by_fid[fid], _spark_type(t), True)
                for fid, (_n, t) in cols.items()
                if fid in phys_by_fid
            ])
            leg = spark.read.schema(read_schema).parquet(
                *[paths[i] for i in idxs]
            )
            sel = []
            for fid, (n, t) in cols.items():
                if fid in phys_by_fid:
                    sel.append(
                        F.col(f"`{phys_by_fid[fid]}`").alias(n)
                    )
                else:
                    sel.append(
                        F.lit(None).cast(_spark_type(t)).alias(n)
                    )
            legs.append(_capture(leg.select(*sel)))
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg)
        return df, present
    if any(stamped):
        raise IcebergError(
            "data files mix field-id-stamped and unstamped parquet "
            "and the table has no schema.name-mapping.default — id "
            "resolution would be ambiguous (rewrite the unstamped "
            "files, add a name mapping, or read snapshots that "
            "predate the mix)"
        )
    # name path (legacy/foreign files, no mapping): deterministic
    # explicit schema — but a rename is unresolvable without ids, so
    # a schema column missing from EVERY file alongside unknown
    # physical names refuses loudly instead of reading nulls
    names_union: set[str] = set()
    for _m, names in probe:
        names_union.update(names)
    logical = set(out_cols)
    unknown = names_union - logical
    missing = logical - names_union
    part_src = {src for _n, src, _t, _tr in parts}
    missing_beyond_parts = missing - part_src
    if missing_beyond_parts and unknown:
        raise IcebergError(
            f"schema columns {sorted(missing_beyond_parts)} absent "
            f"from every data file while unknown physical columns "
            f"{sorted(unknown)} are present, and the files carry "
            "no parquet field ids — a rename cannot be resolved "
            "by name (fail-loud; a schema.name-mapping.default "
            "table property would make it resolvable)"
        )
    from pyspark.sql.types import StructField, StructType

    read_schema = StructType([
        StructField(n, _spark_type(t), True)
        for n, t in cols.values()
    ])
    df = spark.read.schema(read_schema).parquet(*paths)
    present = [set(names) & logical for _m, names in probe]
    return _capture(df), present


_ICE_TO_ARROW = {
    "int": "int32", "long": "int64", "string": "string",
    "boolean": "bool_", "float": "float32", "double": "float64",
}


def _avro_files_scan(
    spark: SparkSession,
    paths: list[str],
    cols: dict[int, tuple[str, str]],
    *,
    capture_pos: bool = False,
):
    """Distributed scan of AVRO data files (round 12): a binaryFile
    scan over the explicit file list (one task per file) + stdlib
    container decode in ``mapInArrow``.  Columns resolve by the Avro
    writer schema's per-field ``field-id`` attribute — the Iceberg
    spec REQUIRES Avro data-file schemas to carry them, so files
    without complete ids refuse loudly.  Returns ``(df, present)``
    shaped exactly like ``_resolve_files_scan`` (``__ice_base``
    always captured; ``__ice_pos`` = record ordinal when asked).

    The driver reads only each file's HEADER (schema-sized, a few
    hundred bytes) for the presence census; record payloads decode on
    executors."""
    from .avro import _MAGIC, _read_meta, decode_records

    present: list[set[str]] = []
    for p in paths:
        with open(p, "rb") as fh:
            head = fh.read(1 << 20)
        buf = memoryview(head)
        if bytes(buf[:4]) != _MAGIC:
            raise IcebergError(f"{p}: not an Avro container")
        hmeta, _pos = _read_meta(buf, 4)
        sch = json.loads(hmeta["avro.schema"].decode())
        ids = set()
        for fld in sch.get("fields", []):
            if fld.get("field-id") is None:
                raise IcebergError(
                    f"{p}: Avro data-file field {fld.get('name')!r} "
                    "carries no field-id attribute (the spec requires "
                    "them; fail-loud)"
                )
            ids.add(int(fld["field-id"]))
        present.append(
            {n for fid, (n, _t) in cols.items() if fid in ids}
        )
    out_fields = []
    for fid, (n, t) in cols.items():
        if t not in _ICE_TO_ARROW:
            raise IcebergError(
                f"AVRO data files: column type {t!r} unsupported"
            )
        out_fields.append((fid, n, t))
    ddl = ", ".join(
        f"`{n}` {_ICE_TO_SPARK[t]}" for _fid, n, t in out_fields
    ) + ", `__ice_base` string"
    if capture_pos:
        ddl += ", `__ice_pos` bigint"
    want = list(out_fields)
    cap = capture_pos

    def _decode(batches):
        import pyarrow as pa

        for batch in batches:
            names_in = batch.schema.names
            path_col = batch.column(names_in.index("path"))
            content_col = batch.column(names_in.index("content"))
            for i in range(batch.num_rows):
                blob = content_col[i].as_py()
                fpath = path_col[i].as_py()
                sch, rows = decode_records(blob)
                by_id = {
                    int(f["field-id"]): f["name"]
                    for f in sch.get("fields", [])
                }
                arrays, names = [], []
                for fid, n, t in want:
                    phys = by_id.get(fid)
                    vals = [
                        (r.get(phys) if phys is not None else None)
                        for r in rows
                    ]
                    arrays.append(pa.array(
                        vals, type=getattr(pa, _ICE_TO_ARROW[t])()
                    ))
                    names.append(n)
                base = fpath.rsplit("/", 1)[-1]
                arrays.append(pa.array([base] * len(rows)))
                names.append("__ice_base")
                if cap:
                    arrays.append(pa.array(
                        list(range(len(rows))), type=pa.int64()
                    ))
                    names.append("__ice_pos")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    raw = spark.read.format("binaryFile").load(paths)
    return raw.select("path", "content").mapInArrow(
        _decode, schema=ddl
    ), present


def _orc_bounds(path: str) -> tuple[dict, dict]:
    """Per-column (min, max) from the ORC footer statistics — the
    stdlib tail parse, footer-only (the parquet twin is
    ``_parquet_bounds``).  Date stats arrive as epoch days and convert
    to ``datetime.date`` for the Appendix-D encoder."""
    import datetime as _dt

    from .orc import orc_tail_of_file

    tail = orc_tail_of_file(path)
    types = tail["types"]
    if not types or types[0]["kind"] != "struct":
        return {}, {}
    stats = tail["statistics"]
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    epoch = _dt.date(1970, 1, 1)
    for name, sub in zip(types[0]["field_names"], types[0]["subtypes"]):
        if sub >= len(stats):
            continue
        st = stats[sub]
        if "min" in st:
            mins[name] = st["min"]
        elif "min_days" in st:
            mins[name] = epoch + _dt.timedelta(days=st["min_days"])
        if "max" in st:
            maxs[name] = st["max"]
        elif "max_days" in st:
            maxs[name] = epoch + _dt.timedelta(days=st["max_days"])
    return mins, maxs


def _orc_files_scan(
    spark: SparkSession,
    paths: list[str],
    cols: dict[int, tuple[str, str]],
    *,
    capture_pos: bool = False,
):
    """Distributed scan of ORC data files (round 12): a binaryFile scan
    over the explicit file list (one task per file) + pyarrow.orc decode
    in ``mapInArrow``.  Columns resolve by the ``iceberg.id`` TYPE
    ATTRIBUTES (ORC-529 — what real Iceberg ORC writers stamp; surfaced
    by pyarrow as Arrow field metadata, and independently parsed by the
    stdlib tail reader for the driver-side census); id-less files refuse
    loudly.  Returns ``(df, present)`` shaped exactly like
    ``_resolve_files_scan``.

    Driver IO is footer-bounded (``orc_tail_of_file`` reads a tail
    window, not the file); payloads decode on executors."""
    from .orc import OrcError, orc_tail_of_file

    present: list[set[str]] = []
    for p in paths:
        try:
            tail = orc_tail_of_file(p)
        except OrcError as exc:
            raise IcebergError(f"{p}: {exc}") from exc
        types = tail["types"]
        if not types or types[0]["kind"] != "struct":
            raise IcebergError(f"{p}: ORC root type is not a struct")
        ids = set()
        for name, sub in zip(
            types[0]["field_names"], types[0]["subtypes"]
        ):
            attr = types[sub]["attributes"].get("iceberg.id")
            if attr is None:
                raise IcebergError(
                    f"{p}: ORC column {name!r} carries no iceberg.id "
                    "attribute (the spec's ORC field-id carrier; "
                    "fail-loud)"
                )
            ids.add(int(attr))
        present.append(
            {n for fid, (n, _t) in cols.items() if fid in ids}
        )
    _ORC_ARROW = dict(_ICE_TO_ARROW)
    _ORC_ARROW["date"] = "date32"
    out_fields = []
    for fid, (n, t) in cols.items():
        if t not in _ORC_ARROW:
            raise IcebergError(
                f"ORC data files: column type {t!r} unsupported"
            )
        out_fields.append((fid, n, t))
    ddl = ", ".join(
        f"`{n}` {_ICE_TO_SPARK[t]}" for _fid, n, t in out_fields
    ) + ", `__ice_base` string"
    if capture_pos:
        ddl += ", `__ice_pos` bigint"
    want = list(out_fields)
    cap = capture_pos
    arrow_names = dict(_ORC_ARROW)

    def _decode(batches):
        import io

        import pyarrow as pa
        from pyarrow import orc as pa_orc

        for batch in batches:
            names_in = batch.schema.names
            path_col = batch.column(names_in.index("path"))
            content_col = batch.column(names_in.index("content"))
            for i in range(batch.num_rows):
                blob = content_col[i].as_py()
                fpath = path_col[i].as_py()
                f = pa_orc.ORCFile(io.BytesIO(blob))
                by_id = {}
                for fld in f.schema:
                    md = fld.metadata or {}
                    if b"iceberg.id" in md:
                        by_id[int(md[b"iceberg.id"])] = fld.name
                tbl = f.read()
                n_rows = tbl.num_rows
                arrays, names = [], []
                for fid, n, t in want:
                    target = getattr(pa, arrow_names[t])()
                    phys = by_id.get(fid)
                    if phys is None or phys not in tbl.column_names:
                        arrays.append(
                            pa.array([None] * n_rows, type=target)
                        )
                    else:
                        col = tbl.column(phys)
                        if col.type != target:
                            col = col.cast(target)
                        arrays.append(col.combine_chunks())
                    names.append(n)
                base = fpath.rsplit("/", 1)[-1]
                arrays.append(pa.array([base] * n_rows))
                names.append("__ice_base")
                if cap:
                    arrays.append(pa.array(
                        list(range(n_rows)), type=pa.int64()
                    ))
                    names.append("__ice_pos")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    raw = spark.read.format("binaryFile").load(paths)
    return raw.select("path", "content").mapInArrow(
        _decode, schema=ddl
    ), present


def read_iceberg(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    ref: str | None = None,
    where: str | None = None,
) -> DataFrame:
    """One-scan snapshot read with spec-true COLUMN PROJECTION,
    identity-partition re-injection and format-v2 row-level deletes.

    Column resolution (Iceberg spec "Column Projection"): when the
    data files carry parquet field ids (every real Iceberg writer
    stamps them; this repo's writer does too), columns resolve BY ID
    against the snapshot's schema — a column renamed by schema
    evolution reads under its new name, a column added later reads as
    null in older files, and time travel resolves through the
    snapshot's recorded schema-id.  Files without ids (pre-field-id
    fixtures, foreign parquet) fall back to name resolution with a
    loud rename guard: a schema column missing from every file while
    unknown physical names are present is an unresolvable rename and
    refuses rather than returning silent nulls.  Mixed stamped /
    unstamped files refuse too.

    Deletes: POSITION deletes apply as one broadcast anti-join on
    ``(data-file basename, _metadata.row_index)`` — path identity
    makes sequence scoping unnecessary (data files are immutable,
    paths never reused); EQUALITY deletes apply with full
    sequence-number scoping.

    ``where``: a SQL predicate applied to the result AND used for
    METADATA-SIDE file pruning — files whose manifest column bounds
    (lower_bounds/upper_bounds, spec Appendix D single values) prove
    no row can match a recognized conjunct never enter the scan's
    file list.  At 10^6 files that prunes the plan itself, which no
    scan-side filter can do; pruning is advisory (files without
    bounds and unrecognized conjuncts always survive, and the full
    predicate still filters the rows), so answers never depend on
    it."""
    from .fieldid import probe_field_ids, read_by_field_id

    if ref is not None:
        if snapshot_id is not None:
            raise IcebergError(
                "pass either ref= or snapshot_id=, not both"
            )
        snapshot_id = resolve_iceberg_ref(path, ref)
    meta, files, deletes = iceberg_snapshot_files(
        path, snapshot_id=snapshot_id, with_deletes=True, spark=spark
    )
    # schema as of the snapshot being read: time travel uses the
    # snapshot's recorded schema-id when present (the spec's rule)
    schema_id = None
    if snapshot_id is not None:
        snap = next(
            (s for s in meta.get("snapshots") or []
             if s.get("snapshot-id") == snapshot_id), None
        )
        if snap is not None and snap.get("schema-id") is not None:
            schema_id = snap["schema-id"]
    cols = _schema_fields(meta, schema_id)  # id -> (name, type), ordered
    parts = _partition_fields(
        meta, allow_transforms=True, schema_id=schema_id
    )
    out_cols = [n for n, _t in cols.values()]
    if where and files:
        conjuncts = _parse_conjuncts(where)
        if conjuncts:
            files = [
                f for f in files
                if _file_survives(f, conjuncts, cols, parts)
            ]
    if not files:
        ddl = ", ".join(
            f"`{n}` {_ICE_TO_SPARK.get(t, 'string')}"
            for n, t in cols.values()
        )
        return local_rows_df(spark, [], ddl)
    pos_dels = [d for d in deletes if d.get("content") == 1]
    eq_dels = [d for d in deletes if d.get("content") == 2]

    # format split (round 12): AVRO data files decode through the
    # stdlib container codec, ORC through pyarrow.orc with iceberg.id
    # attribute resolution; parquet keeps the field-id/name-mapping
    # scan.  `files` reorders parquet/avro/orc so the `present` census
    # and the per-file value maps stay aligned.
    files_pq, files_av, files_orc = [], [], []
    for f in files:
        fmt = f.get("file_format", "PARQUET").upper()
        if fmt == "PARQUET":
            files_pq.append(f)
        elif fmt == "AVRO":
            files_av.append(f)
        else:
            files_orc.append(f)
    files = files_pq + files_av + files_orc
    paths = [_localize(path, f["file_path"]) for f in files]
    legs = []
    present: list[set[str]] = []
    if files_pq:
        leg, pres = _resolve_files_scan(
            spark, [_localize(path, f["file_path"]) for f in files_pq],
            cols, parts,
            name_mapping=parse_name_mapping(meta),
            capture_pos=bool(pos_dels),
        )
        legs.append(leg)
        present.extend(pres)
    if files_av:
        leg, pres = _avro_files_scan(
            spark, [_localize(path, f["file_path"]) for f in files_av],
            cols, capture_pos=bool(pos_dels),
        )
        legs.append(leg)
        present.extend(pres)
    if files_orc:
        leg, pres = _orc_files_scan(
            spark, [_localize(path, f["file_path"]) for f in files_orc],
            cols, capture_pos=bool(pos_dels),
        )
        legs.append(leg)
        present.extend(pres)
    df = legs[0]
    for leg in legs[1:]:
        df = df.unionByName(leg)

    # identity-partition injection is PER FILE: only rows from files
    # that physically lack the source column take the partition-tuple
    # value (the spec's Column Projection rule); an absent TRANSFORMED
    # column is lossy and gates loudly
    inject = []
    for pname, src, t, tr in parts:
        files_missing = [
            i for i, pres in enumerate(present) if src not in pres
        ]
        if not files_missing:
            continue
        if tr != "identity":
            raise IcebergError(
                f"partition column {src!r} with transform {tr!r} is "
                "absent from data files — its values are "
                "unrecoverable (fail-loud)"
            )
        inject.append((pname, src, t, set(files_missing)))
    if not deletes and not inject:
        out = df.select(*out_cols)
        return out.filter(where) if where else out
    # every remaining path joins on the scan basename — enforce
    # uniqueness even when attach_file_values (which checks itself)
    # is never reached (pure pos/eq-delete tables, no partitions).
    # __ice_base / __ice_pos were captured ON each leaf scan inside
    # _resolve_files_scan (after a union or join, input_file_name()/
    # _metadata would be ambiguous or unresolvable).
    assert_unique_basenames(paths, err_cls=IcebergError, tag="iceberg")
    if pos_dels:
        dpaths = [_localize(path, d["file_path"]) for d in pos_dels]
        ddf = spark.read.parquet(*dpaths).select(
            F.element_at(F.split(F.col("file_path"), "/"), -1).alias(
                "__ice_base"
            ),
            F.col("pos").cast("bigint").alias("__ice_pos"),
        )
        df = df.join(
            F.broadcast(ddf), ["__ice_base", "__ice_pos"], "left_anti"
        ).drop("__ice_pos")
    if eq_dels:
        # EQUALITY deletes (v2): a row dies when an equality-delete
        # row with a STRICTLY NEWER sequence number matches it
        # null-safely on the delete file's equality columns.  Data
        # rows take their file's data sequence number via the same
        # basename broadcast map; each delete group is one broadcast
        # anti-join.
        from functools import reduce as _reduce

        id2col = {fid: nm for fid, (nm, _t) in cols.items()}
        df = attach_file_values(
            df, spark,
            [(os.path.abspath(p), [int(f["_data_seq"])])
             for f, p in zip(files, paths)],
            ["data_seq"],
            err_cls=IcebergError, tag="iceseq", key_col="__ice_base",
        )
        groups: dict[tuple, list[dict]] = {}
        for d in eq_dels:
            groups.setdefault(
                tuple(sorted(d["equality_ids"])), []
            ).append(d)
        for ids, ds in sorted(groups.items()):
            try:
                key_cols = [id2col[i] for i in ids]
            except KeyError as e:
                raise IcebergError(
                    f"equality_ids reference unknown field {e}"
                ) from None
            dpaths = [_localize(path, d["file_path"]) for d in ds]
            dprobe = probe_field_ids(dpaths, spark)
            if all(m is not None for m, _n in dprobe):
                # delete files stamped with ids: resolve the equality
                # columns by id (rename-safe, same as the data scan)
                ddf = read_by_field_id(
                    spark, dpaths,
                    [(i, id2col[i], _spark_type(cols[i][1]))
                     for i in ids],
                ).select(
                    *[F.col(f"`{c}`").alias(f"__eq_{c}")
                      for c in key_cols],
                    F.element_at(
                        F.split(F.input_file_name(), "/"), -1
                    ).alias("__eq_base"),
                )
            else:
                ddf = spark.read.parquet(*dpaths).select(
                    *[F.col(c).alias(f"__eq_{c}") for c in key_cols],
                    F.element_at(
                        F.split(F.input_file_name(), "/"), -1
                    ).alias("__eq_base"),
                )
            smap = local_rows_df(
                spark,
                [(os.path.basename(p), int(d["_data_seq"]))
                 for d, p in zip(ds, dpaths)],
                "__eq_base string, __eq_seq bigint",
            )
            ddf = ddf.join(F.broadcast(smap), "__eq_base").drop(
                "__eq_base"
            )
            cond = _reduce(
                lambda a, b: a & b,
                [F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                 for c in key_cols]
                + [F.col("__eq_seq") > F.col("__pv_data_seq")],
            )
            # record_count comes from the delete files' manifest
            # entries; above the budget a merge hint replaces the
            # broadcast one (the budget, not Spark's size estimate,
            # picks the strategy) and the null-safe keys
            # hash-partition a sort-merge anti-join
            # with the seq comparison as its extra condition
            group_rows = sum(
                int(d.get("record_count") or 0) for d in ds
            )
            right = (
                F.broadcast(ddf)
                if group_rows <= _EQ_DELETE_BROADCAST_ROWS
                else ddf.hint("merge")
            )
            df = df.join(right, cond, "left_anti")
        df = df.drop("__pv_data_seq")
    if inject:
        file_to_vals = []
        for i, (f, p) in enumerate(zip(files, paths)):
            vals = []
            for _pname, src, _t, missing_set in inject:
                pv = f.get("partition") or {}
                vals.append(str(pv.get(_pname)))
                vals.append("1" if i in missing_set else "0")
            file_to_vals.append((os.path.abspath(p), vals))
        value_cols = []
        for _pname, src, _t, _mset in inject:
            value_cols += [src, f"{src}__absent"]
        df = attach_file_values(
            df, spark, file_to_vals, value_cols,
            err_cls=IcebergError, tag="ice", key_col="__ice_base",
        )
        for _pname, src, t, _mset in inject:
            spark_t = _ICE_TO_SPARK.get(t)
            if spark_t is None:
                raise IcebergError(f"partition type {t!r} unsupported")
            df = df.withColumn(
                src,
                F.when(
                    F.col(f"__pv_{src}__absent") == "1",
                    F.col(f"__pv_{src}").cast(spark_t),
                ).otherwise(F.col(f"`{src}`")),
            ).drop(f"__pv_{src}", f"__pv_{src}__absent")
    out = df.select(*out_cols)
    return out.filter(where) if where else out


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    *,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental APPEND scan between two snapshots — the rows added
    by every snapshot in ``(from, to]``, with ``_snapshot_id``
    attached per row (the Iceberg incremental-read contract: appends
    only; a replace/overwrite/delete snapshot in the range refuses
    loudly because its row-level effect is not an append stream).

    Mechanics: each in-range snapshot's manifest list yields its
    ADDED data files (entry status == 1 AND entry snapshot-id == the
    snapshot), then ONE distributed scan reads all of them with the
    TO-snapshot schema (field-id resolution as in
    :func:`read_iceberg`) and the owning snapshot id re-attached via
    the basename broadcast map.  Scan count is O(1) in the length of
    the snapshot range."""
    meta, _v = _load_metadata(path)
    snaps = meta.get("snapshots") or []
    order = {
        s.get("snapshot-id"): i for i, s in enumerate(snaps)
    }
    if from_snapshot_id not in order:
        raise IcebergError(
            f"from_snapshot_id {from_snapshot_id} not in metadata"
        )
    want_to = (
        to_snapshot_id if to_snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    if want_to not in order:
        raise IcebergError(f"to_snapshot_id {want_to} not in metadata")
    i_from, i_to = order[from_snapshot_id], order[want_to]
    if i_from > i_to:
        raise IcebergError(
            "from_snapshot_id is newer than to_snapshot_id"
        )
    range_snaps = snaps[i_from + 1 : i_to + 1]
    for s in range_snaps:
        op = (s.get("summary") or {}).get("operation")
        if op != "append":
            raise IcebergError(
                f"snapshot {s.get('snapshot-id')} in range has "
                f"operation {op!r} — incremental read is append-only "
                "(fail-loud)"
            )
    to_snap = snaps[i_to]
    schema_id = to_snap.get("schema-id")
    cols = _schema_fields(meta, schema_id)
    parts = _partition_fields(
        meta, allow_transforms=True, schema_id=schema_id
    )
    added: list[tuple[dict, int]] = []
    for s in range_snaps:
        sid = s["snapshot-id"]
        manifests = _snapshot_manifest_entries(path, meta, sid)
        for man_content, _man_seq, entries in _walk_manifests(
            manifests, path, spark
        ):
            if man_content != 0:
                continue  # append snapshots carry data manifests only
            for e in entries:
                if e.get("status") == 1 and e.get("snapshot_id") == sid:
                    added.append((dict(e["data_file"] or {}), sid))
    if not added:
        ddl = ", ".join(
            f"`{n}` {_ICE_TO_SPARK.get(t, 'string')}"
            for n, t in cols.values()
        ) + ", `_snapshot_id` bigint"
        return local_rows_df(spark, [], ddl)
    av = [
        f["file_path"] for f, _sid in added
        if f.get("file_format", "PARQUET").upper() != "PARQUET"
    ]
    if av:
        raise IcebergError(
            f"incremental read over AVRO data files unsupported "
            f"(e.g. {av[0]!r}; snapshot reads handle them — fail-loud)"
        )
    paths = [_localize(path, f["file_path"]) for f, _sid in added]
    assert_unique_basenames(paths, err_cls=IcebergError, tag="iceberg")
    # __ice_base is captured on each leaf scan inside
    # _resolve_files_scan (name-mapped tables may union legs)
    df, present = _resolve_files_scan(
        spark, paths, cols, parts,
        name_mapping=parse_name_mapping(meta),
    )
    # snapshot id + per-file partition injection in ONE broadcast map
    inject = []
    for pname, src, t, tr in parts:
        files_missing = [
            i for i, pres in enumerate(present) if src not in pres
        ]
        if not files_missing:
            continue
        if tr != "identity":
            raise IcebergError(
                f"partition column {src!r} with transform {tr!r} is "
                "absent from data files — its values are "
                "unrecoverable (fail-loud)"
            )
        inject.append((pname, src, t, set(files_missing)))
    file_to_vals = []
    for i, ((f, sid), p) in enumerate(zip(added, paths)):
        vals = [str(sid)]
        for _pname, src, _t, missing_set in inject:
            pv = f.get("partition") or {}
            vals.append(str(pv.get(_pname)))
            vals.append("1" if i in missing_set else "0")
        file_to_vals.append((os.path.abspath(p), vals))
    value_cols = ["snapid"]
    for _pname, src, _t, _mset in inject:
        value_cols += [src, f"{src}__absent"]
    df = attach_file_values(
        df, spark, file_to_vals, value_cols,
        err_cls=IcebergError, tag="icechg", key_col="__ice_base",
    )
    for _pname, src, t, _mset in inject:
        spark_t = _ICE_TO_SPARK.get(t)
        if spark_t is None:
            raise IcebergError(f"partition type {t!r} unsupported")
        df = df.withColumn(
            src,
            F.when(
                F.col(f"__pv_{src}__absent") == "1",
                F.col(f"__pv_{src}").cast(spark_t),
            ).otherwise(F.col(f"`{src}`")),
        ).drop(f"__pv_{src}", f"__pv_{src}__absent")
    out_cols = [n for n, _t in cols.values()]
    return df.select(
        *out_cols,
        F.col("__pv_snapid").cast("bigint").alias("_snapshot_id"),
    )


def evolve_iceberg_schema(
    path: str,
    *,
    renames: dict[str, str] | None = None,
    adds: list[tuple[str, str]] | None = None,
    drops: list[str] | None = None,
) -> int:
    """Commit a schema evolution: ``renames`` maps old column name ->
    new name (field ids are PRESERVED — that is the whole point of
    id-based column resolution), ``adds`` appends new columns as
    ``(name, iceberg primitive type)`` with fresh field ids, and
    ``drops`` removes columns (their data stays in old files but is
    never projected; re-adding the NAME later mints a FRESH id, so
    the old values can never resurrect — the spec's core drop/re-add
    guarantee).  A partition source column cannot drop while the
    spec references it.  Appends a new schema to ``schemas`` with
    the next schema-id and points ``current-schema-id`` at it;
    snapshots keep their recorded schema-id, so time travel still
    reads the old shape.  Returns the new schema id."""
    renames = dict(renames or {})
    adds = list(adds or [])
    drops = list(drops or [])
    if not renames and not adds and not drops:
        raise IcebergError("schema evolution with no changes")
    meta, version = _load_metadata(path)
    if "schemas" not in meta:
        raise IcebergError(
            "metadata carries no schemas list (v1-style single schema "
            "cannot record evolution)"
        )
    cur_id = meta.get("current-schema-id", 0)
    cur = next(
        (s for s in meta["schemas"] if s.get("schema-id") == cur_id),
        None,
    )
    if cur is None:
        raise IcebergError(f"current-schema-id {cur_id} not in schemas")
    fields = [dict(f) for f in cur.get("fields", [])]
    names = {f["name"] for f in fields}
    part_src_ids = {
        sf.get("source-id")
        for spec in meta.get("partition-specs", [])
        if spec.get("spec-id") == meta.get("default-spec-id", 0)
        for sf in spec.get("fields", [])
    }
    for d in drops:
        if d not in names:
            raise IcebergError(f"drop column {d!r} not in schema")
        if d in renames:
            raise IcebergError(f"column {d!r} both dropped and renamed")
        fid = next(f["id"] for f in fields if f["name"] == d)
        if fid in part_src_ids:
            raise IcebergError(
                f"cannot drop {d!r}: the partition spec references it"
            )
    fields = [f for f in fields if f["name"] not in drops]
    names = {f["name"] for f in fields}
    for old, new in renames.items():
        if old not in names:
            raise IcebergError(f"rename source {old!r} not in schema")
        if new in names - {old} or new in renames:
            raise IcebergError(f"rename target {new!r} collides")
    for f in fields:
        if f["name"] in renames:
            f["name"] = renames[f["name"]]
    names = {f["name"] for f in fields}
    last_id = int(meta.get(
        "last-column-id", max((f["id"] for f in fields), default=0)
    ))
    for name, t in adds:
        if name in names:
            raise IcebergError(f"added column {name!r} already exists")
        if t not in _ICE_TO_SPARK:
            raise IcebergError(f"added column type {t!r} unsupported")
        last_id += 1
        fields.append({"id": last_id, "name": name,
                       "required": False, "type": t})
        names.add(name)
    new_sid = max(s.get("schema-id", 0) for s in meta["schemas"]) + 1
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [
        {"schema-id": new_sid, "type": "struct", "fields": fields}
    ]
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = last_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return new_sid


def set_iceberg_name_mapping(
    path: str, names_by_id: dict[int, list[str]] | None = None
) -> None:
    """Set the ``schema.name-mapping.default`` table property — what a
    migration tool (Spark's ``add_files`` procedure, Hive table
    migration) writes so data files WITHOUT parquet field ids resolve
    through the spec's Column Projection rule 2.  Default mapping:
    every current-schema field id under its current name (the
    migration-time snapshot of names — later logical renames leave
    the mapping alone, which is exactly why old physical names keep
    resolving).  ``names_by_id`` overrides, e.g. to add extra alias
    names per field id.  Persists a new metadata version."""
    meta, version = _load_metadata(path)
    cols = _schema_fields(meta)
    if names_by_id is None:
        names_by_id = {fid: [nm] for fid, (nm, _t) in cols.items()}
    entries = [
        {"field-id": int(fid), "names": list(names)}
        for fid, names in sorted(names_by_id.items())
    ]
    meta = dict(meta)
    props = dict(meta.get("properties") or {})
    props["schema.name-mapping.default"] = json.dumps(entries)
    meta["properties"] = props
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))


# ---------------------------------------------------------------------------
# writer (fixture half + usable sink)
# ---------------------------------------------------------------------------

_SPARK_TO_ICE = {
    "int": "int", "bigint": "long", "string": "string",
    "boolean": "boolean", "float": "float", "double": "double",
    "date": "date",
}


def _transform_result_type(t: str, tr: str) -> str:
    """Iceberg type of a partition-tuple value under transform ``tr``
    of a source column of type ``t``."""
    if tr == "identity":
        return t
    if tr.startswith("bucket[") or tr in ("day", "days"):
        return "int"
    if tr.startswith("truncate["):
        return t
    raise IcebergError(f"transform {tr!r} unsupported")


def _transform_column(src: str, t: str, tr: str):
    """Spark Column computing the partition-tuple value of transform
    ``tr`` over source column ``src`` (type ``t``).  truncate and day
    stay JVM-side (substring / floor-mod / datediff); bucket needs
    the spec's Murmur3 — a VECTORIZED pandas UDF (numpy uint32
    arithmetic over the 8-byte little-endian long for int/long/date;
    per-value bytes for strings), Arrow-batched, executor-side."""
    col = F.col(f"`{src}`")
    if tr == "identity":
        return col
    if tr.startswith("truncate[") and tr.endswith("]"):
        w = int(tr[9:-1])
        if t in ("int", "long"):
            return (col - F.pmod(col, F.lit(w))).cast(
                "int" if t == "int" else "long"
            )
        if t == "string":
            return F.substring(col, 1, w)
        raise IcebergError(f"truncate over type {t!r} unsupported")
    if tr in ("day", "days"):
        if t != "date":
            raise IcebergError(f"day transform over type {t!r} unsupported")
        return F.datediff(col, F.to_date(F.lit("1970-01-01")))
    if tr.startswith("bucket[") and tr.endswith("]"):
        n = int(tr[7:-1])
        if t in ("int", "long", "date"):
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("int")
            def _bucket_long(s):
                import numpy as np
                import pandas as pd

                v = s.to_numpy(dtype="int64").view(np.uint64)
                h = np.zeros(len(v), dtype=np.uint32)
                c1 = np.uint32(0xCC9E2D51)
                c2 = np.uint32(0x1B873593)

                def rot(x, r):
                    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

                for shift in (0, 32):
                    k = ((v >> np.uint64(shift))
                         & np.uint64(0xFFFFFFFF)).astype(np.uint32)
                    k = rot(k * c1, 15) * c2
                    h ^= k
                    h = rot(h, 13) * np.uint32(5) + np.uint32(0xE6546B64)
                h ^= np.uint32(8)
                h ^= h >> np.uint32(16)
                h = h * np.uint32(0x85EBCA6B)
                h ^= h >> np.uint32(13)
                h = h * np.uint32(0xC2B2AE35)
                h ^= h >> np.uint32(16)
                out = ((h & np.uint32(0x7FFFFFFF))
                       % np.uint32(n)).astype("int32")
                return pd.Series(out).mask(s.isna())

            base = (
                F.datediff(col, F.to_date(F.lit("1970-01-01")))
                if t == "date" else col
            )
            return _bucket_long(base.cast("long"))
        if t == "string":
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("int")
            def _bucket_str(s):
                return s.map(
                    lambda v: None if v is None
                    else iceberg_bucket(v, n, "string")
                )

            return _bucket_str(col)
        raise IcebergError(f"bucket over type {t!r} unsupported")
    raise IcebergError(f"transform {tr!r} unsupported in writer")


def _write_orc_local(
    rows: list[tuple], schema, tmp: str, field_ids: dict[str, int],
) -> bool:
    """Driver-side twin of ``write_orc_dir`` for gated rows
    (:func:`fast_rows`) of a ONE-SLICE local frame: one
    ``part-00000.orc`` via the same pyarrow.orc writer, zlib,
    ``iceberg.id`` field metadata.  Returns False (caller runs the
    distributed writer) when a value does not convert."""
    import pyarrow as pa
    from pyarrow import orc as pa_orc
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = pa.schema([
        f.with_metadata({b"iceberg.id": str(field_ids[f.name]).encode()})
        for f in to_arrow_schema(schema)
    ])
    try:
        tbl = pa.Table.from_arrays([
            pa.array([r[i] for r in rows], type=t)
            for i, t in enumerate(arrow_schema.types)
        ], schema=arrow_schema)
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return False
    os.makedirs(tmp, exist_ok=True)
    pa_orc.write_table(
        tbl, os.path.join(tmp, "part-00000.orc"), compression="ZLIB",
    )
    return True


def _iceberg_local_transform_vals(
    rows: list[tuple], cols: list[str],
    parts_meta: list[tuple],
):
    """Per-row partition tuples for a TRANSFORMED spec, computed
    driver-side over local fixture rows — the same spec kernels
    (:func:`iceberg_bucket`, :func:`iceberg_truncate`, day-from-epoch)
    the distributed ``_transform_column`` path applies.  Returns None
    (caller falls back to the Spark job) for any transform/type pair
    outside the pinned set or a null source value."""
    from datetime import date as _date

    idx = {c: i for i, c in enumerate(cols)}
    out: list[tuple] = []
    for r in rows:
        pv = []
        for _name, src, t, tr in parts_meta:
            v = r[idx[src]]
            if v is None:
                return None
            try:
                if tr.startswith("bucket[") and tr.endswith("]"):
                    pv.append(
                        iceberg_bucket(v, int(tr[7:-1]), t)
                    )
                elif tr.startswith("truncate[") and tr.endswith("]"):
                    pv.append(
                        iceberg_truncate(v, int(tr[9:-1]), t)
                    )
                elif tr in ("day", "days") and t == "date":
                    if isinstance(v, str):
                        y, m, d = (int(x) for x in v.split("-"))
                        v = _date(y, m, d)
                    pv.append((v - _date(1970, 1, 1)).days)
                else:
                    return None
            except (IcebergError, ValueError, TypeError):
                return None
        out.append(tuple(pv))
    return out


def write_iceberg_commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    partition_by: list[str] | None = None,
    replace_partitions: bool = False,
    stamp_field_ids: bool = True,
    partition_transforms: list[tuple[str, str, str]] | None = None,
    file_format: str = "parquet",
    branch: str | None = None,
) -> int:
    """Append ``df`` as one Iceberg snapshot.  Each commit: one
    ``partitionBy`` write job, one full-rewrite manifest (live entries
    EXISTING + new ADDED), one manifest list, the next metadata json.
    Returns the new snapshot id.

    ``branch=`` commits ON TOP OF a named branch ref instead of main
    (the write half of WAP — write-audit-publish): the live base is
    the BRANCH HEAD's entries, ``current-snapshot-id`` stays put, and
    the branch ref advances to the new snapshot; readers on main see
    nothing until :func:`fast_forward_iceberg` publishes.  The branch
    must exist (``set_iceberg_ref(ref_type='branch')`` first) —
    fail-loud, like real engines.

    ``stamp_field_ids=False`` writes the data files WITHOUT parquet
    field ids — simulating a Hive-migrated / foreign-writer file (the
    spec requires real Iceberg writers to stamp; such files are only
    readable through a ``schema.name-mapping.default`` table property,
    see :func:`set_iceberg_name_mapping`).

    ``file_format='avro'`` (round 12) writes the snapshot's data
    files as Avro containers — the stdlib codec with per-field
    ``field-id`` attributes stamped into the writer schema (the spec
    requires them; the reader resolves by them) — restricted to
    unpartitioned writes; mixing formats ACROSS snapshots of one
    table is the supported (and realistic) shape.  Avro entries
    record no column bounds, so metadata pruning simply keeps them
    (advisory contract).

    ``partition_transforms`` (round 12, mutually exclusive with
    ``partition_by``) creates/validates a TRANSFORMED partition spec:
    ``[(field name, source column, transform), ...]`` with transform
    one of ``bucket[N]`` / ``truncate[W]`` / ``day``.  Files group by
    the computed transform value (recorded in each manifest entry's
    partition tuple — what the reader's metadata pruning keys on)
    while the SOURCE columns stay in-file, matching the Iceberg norm
    and the reader's existing transformed-spec rule."""
    import shutil

    partition_by = list(partition_by or [])
    mdir = os.path.join(path, "metadata")
    os.makedirs(mdir, exist_ok=True)
    try:
        meta, version = _load_metadata(path)
    except IcebergError:
        meta, version = None, 0
    ts = int(time.time() * 1000)
    if meta is None:
        fields = []
        for i, f in enumerate(df.schema.fields, start=1):
            t = _SPARK_TO_ICE.get(f.dataType.simpleString())
            if t is None:
                raise IcebergError(
                    f"writer: column type {f.dataType.simpleString()!r}"
                )
            fields.append({"id": i, "name": f.name, "required": False,
                           "type": t})
        by_name = {f["name"]: f["id"] for f in fields}
        if partition_transforms:
            if partition_by:
                raise IcebergError(
                    "writer: partition_by and partition_transforms "
                    "are mutually exclusive"
                )
            for _n, s, tr in partition_transforms:
                if s not in by_name:
                    raise IcebergError(
                        f"writer: transform source column {s!r} not "
                        "in the schema"
                    )
                _transform_result_type(  # validates the transform name
                    next(f["type"] for f in fields if f["name"] == s),
                    tr,
                )
            spec_fields = [
                {"name": n, "transform": tr,
                 "source-id": by_name[s], "field-id": 1000 + k}
                for k, (n, s, tr) in enumerate(partition_transforms)
            ]
        else:
            spec_fields = [
                {"name": c, "transform": "identity",
                 "source-id": by_name[c], "field-id": 1000 + k}
                for k, c in enumerate(partition_by)
            ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-updated-ms": ts,
            "last-column-id": len(fields),
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": fields}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "snapshots": [],
            "current-snapshot-id": -1,
        }
    parts_meta = _partition_fields(meta, allow_transforms=True)
    trans = [p for p in parts_meta if p[3] != "identity"]
    if trans and partition_by:
        raise IcebergError(
            "writer: identity partition_by on a transformed spec "
            "unsupported (the spec drives the layout)"
        )
    if trans and any(p[3] == "identity" for p in parts_meta):
        raise IcebergError(
            "writer: mixed identity + transformed partition spec "
            "unsupported"
        )
    if not trans and [p[1] for p in parts_meta] != partition_by:
        raise IcebergError(
            "writer: partition_by does not match the table spec"
        )
    if partition_transforms is not None:
        have = [(n, s, tr) for n, s, _t, tr in parts_meta]
        if have != [tuple(x) for x in partition_transforms]:
            raise IcebergError(
                f"writer: partition_transforms {partition_transforms} "
                f"does not match the table spec {have}"
            )
    part_types = [
        (name, _transform_result_type(typ, tr))
        for name, _src, typ, tr in parts_meta
    ]

    # live entries (for carry-forward / overwrite); prior DELETE
    # manifests carry forward untouched — their (path, pos) tombstones
    # stay valid because carried data files keep their paths
    live: list[dict] = []
    carry_deletes: list[dict] = []
    parent_sid = meta.get("current-snapshot-id", -1)
    if branch is not None:
        ref = (meta.get("refs") or {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise IcebergError(
                f"branch {branch!r} does not exist (create it with "
                "set_iceberg_ref(ref_type='branch') first; fail-loud)"
            )
        parent_sid = int(ref["snapshot-id"])
    if parent_sid not in (-1, None) and meta.get("snapshots"):
        _m, live, _dels = iceberg_snapshot_files(
            path, snapshot_id=parent_sid, with_deletes=True, spark=spark
        )
        carry_deletes = [
            m for m in _snapshot_manifest_entries(
                path, meta, parent_sid
            )
            if m.get("content", 0) == 1
        ]

    # one distributed write, field ids stamped into the parquet
    # footers (the spec REQUIRES writers to stamp ids; the reader's
    # rename-safe id resolution depends on them)
    from .fieldid import with_field_ids

    name_to_id = {
        nm: fid for fid, (nm, _t) in _schema_fields(meta).items()
    }
    unknown_cols = [c for c in df.columns if c not in name_to_id]
    if unknown_cols:
        raise IcebergError(
            f"writer: columns {unknown_cols} not in the table schema "
            "(evolve the schema first — evolve_iceberg_schema)"
        )
    if file_format not in ("parquet", "avro", "orc"):
        raise IcebergError(
            f"file_format {file_format!r} unsupported "
            "('parquet', 'avro' or 'orc')"
        )
    if file_format in ("avro", "orc") and (partition_by or trans):
        raise IcebergError(
            f"file_format={file_format!r} supports unpartitioned "
            "writes only"
        )
    if file_format in ("avro", "orc") and not stamp_field_ids:
        raise IcebergError(
            "Avro data files REQUIRE field-id attributes (spec); "
            "stamp_field_ids=False is contradictory"
        )
    tmp = os.path.join(path, f"_tmp_ice_{uuid.uuid4().hex[:8]}")
    out_df = with_field_ids(df, name_to_id) if stamp_field_ids else df
    write_cols = list(partition_by)
    if trans:
        # derived transform-value columns drive the hive layout and
        # are DROPPED from file contents by partitionBy — the source
        # columns stay in-file (the Iceberg norm for transforms)
        write_cols = [f"__pt_{name}" for name, _s, _t, _tr in parts_meta]
        for (name, src, t, tr), wc in zip(parts_meta, write_cols):
            out_df = out_df.withColumn(wc, _transform_column(src, t, tr))
    dir_of: dict[tuple, str] = {(): ""}  # avro / orc: unpartitioned
    if file_format == "avro":
        # field-id-stamped Avro containers, one per Spark partition
        # (executor-side encode — rows never route through the driver)
        from .avro import encode_records as _enc, spark_schema_to_avro

        avro_schema = spark_schema_to_avro(df.schema, "iceberg_row")
        for fld in avro_schema["fields"]:
            fld["field-id"] = int(name_to_id[fld["name"]])
        os.makedirs(tmp, exist_ok=True)
        cols_order = list(df.columns)
        sch_json = avro_schema

        def _write_avro(batches):
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            recs: list[dict] = []
            for batch in batches:
                data = {
                    c: batch.column(i)
                    for i, c in enumerate(batch.schema.names)
                }
                for i in range(batch.num_rows):
                    recs.append({
                        c: (data[c][i].as_py()
                            if data[c][i].is_valid else None)
                        for c in cols_order
                    })
            if recs:
                blob = _enc(sch_json, recs, codec="deflate")
                with open(
                    os.path.join(tmp, f"part-{pid:05d}.avro"), "wb"
                ) as fh:
                    fh.write(blob)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([len(recs)], type=pa.int64())],
                    names=["n_rows"],
                )

        # gated local frames encode driver-side — the SAME
        # encode_records codec, one part-00000.avro, no Spark job
        # (guide §5); otherwise the write job's own per-task row
        # counts replace the old separate df.count() job
        _local = fast_rows(df, df.schema)
        if _local is not None:
            _recs = [dict(zip(cols_order, r)) for r in _local]
            with open(
                os.path.join(tmp, "part-00000.avro"), "wb"
            ) as fh:
                fh.write(_enc(sch_json, _recs, codec="deflate"))
            avro_total = len(_recs)
        else:
            avro_total = sum(
                r["n_rows"]
                for r in df.mapInArrow(
                    _write_avro, schema="n_rows long"
                ).collect()
            )
    elif file_format == "orc":
        # field-id-stamped ORC files via pyarrow.orc, one per Spark
        # partition (executor-side encode; iceberg.id type attributes
        # are the spec's ORC field-id carrier).  Gated local frames
        # write their single part file driver-side — same pyarrow.orc
        # writer, same naming, no Spark job.
        _local = fast_rows(df, df.schema)
        if _local is None or not _write_orc_local(
            _local, df.schema, tmp,
            {c: int(name_to_id[c]) for c in df.columns},
        ):
            from .orc import write_orc_dir as _worc

            _worc(
                df, tmp, compression="zlib",
                field_ids={
                    c: int(name_to_id[c]) for c in df.columns
                },
            )
    else:
        # with_field_ids changes only metadata, so a local frame's rows
        # are out_df's rows plus the transform values, recomputed
        # through the SAME spec-pinned Python kernels (iceberg_bucket /
        # iceberg_truncate, murmur3 test vectors in
        # tests/test_r12_lakehouse.py) the pandas-UDF path vectorizes.
        def project(rows):
            if not trans:
                return rows
            pv = _iceberg_local_transform_vals(
                rows, list(df.columns), parts_meta
            )
            return None if pv is None else [
                r + p for r, p in zip(rows, pv)
            ]

        # Written partition set from the tmp directory layout; per-file
        # row counts from footers at entry-build time — no second Spark
        # job re-executes ``df`` (guide §1.2; for transformed specs a
        # groupBy probe re-ran the bucket pandas UDF over the whole
        # input a second time).
        dir_of = write_hive_tmp(
            out_df, tmp, write_cols, df, err_cls=IcebergError,
            project=project,
        )
    tuples = sorted(dir_of)
    counts: dict[tuple, int] = (
        {(): avro_total} if file_format == "avro" else {}
    )

    snapshot_id = ts * 1000 + version  # unique, monotone enough
    seq = int(meta.get("last-sequence-number") or 0) + 1
    entries: list[dict] = []
    doomed = set(tuples) if replace_partitions else set()
    for d in live:
        pv = d.get("partition") or {}
        key = tuple(str(pv.get(name)) for name, _s, _t, _tr in parts_meta)
        if (partition_by or trans) and key in doomed:
            continue  # dynamic-partition overwrite drops these
        # EXISTING entries keep their ORIGINAL data sequence number
        entries.append({"status": 0, "snapshot_id": snapshot_id,
                        "sequence_number": int(d.get("_data_seq") or 0),
                        "data_file": d})

    data_dir = os.path.join(path, "data")
    dst_names = [name for name, _s, _t, _tr in parts_meta]
    ext = {"avro": "avro", "orc": "orc"}.get(file_format, "parquet")
    for pt in tuples:
        src_dir = os.path.join(tmp, dir_of[pt]) if pt else tmp
        files = sorted(
            n for n in os.listdir(src_dir) if n.endswith("." + ext)
        )
        dst_sub = part_path(dst_names, pt)
        full_dir = os.path.join(data_dir, dst_sub) if dst_sub else data_dir
        os.makedirs(full_dir, exist_ok=True)
        for k, part in enumerate(files):
            fname = (
                f"{snapshot_id}-{k:03d}-{uuid.uuid4().hex[:10]}.{ext}"
            )
            final = os.path.join(full_dir, fname)
            os.replace(os.path.join(src_dir, part), final)
            pv = {}
            for (name, _src, typ, tr), v in zip(parts_meta, pt):
                rt = _transform_result_type(typ, tr)
                pv[name] = int(v) if rt in ("int", "long") else v
            # per-file column bounds from the parquet footer (spec
            # Appendix D single values) — what the reader's
            # metadata-side pruning keys on; Avro files record none
            lower, upper = [], []
            try:
                if ext == "parquet":
                    mins, maxs = _parquet_bounds(final)
                elif ext == "orc":
                    mins, maxs = _orc_bounds(final)
                else:
                    mins, maxs = {}, {}
            except Exception:
                mins, maxs = {}, {}
            for fid2, (nm2, t2) in _schema_fields(meta).items():
                if nm2 in mins:
                    enc = _sv_encode(t2, mins[nm2])
                    if enc is not None:
                        lower.append({"key": fid2, "value": enc})
                if nm2 in maxs:
                    enc = _sv_encode(t2, maxs[nm2])
                    if enc is not None:
                        upper.append({"key": fid2, "value": enc})
            entries.append({
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": final,
                    "file_format": ext.upper(),
                    "partition": pv,
                    "record_count": (
                        int(counts[pt]) if pt in counts
                        else _file_rows(final, ext)
                    ) if len(files) == 1 else -1,
                    "file_size_in_bytes": os.path.getsize(final),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                },
            })
    shutil.rmtree(tmp, ignore_errors=True)

    man_schema = _manifest_schema(
        [(name, "int" if typ in ("int", "long") else "string")
         for name, typ in part_types]
    )
    # normalize carried-forward partitions to the manifest schema types
    for e in entries:
        e["data_file"].pop("_data_seq", None)
        e["data_file"].setdefault("equality_ids", None)
        e["data_file"].setdefault("lower_bounds", None)
        e["data_file"].setdefault("upper_bounds", None)
        e.setdefault("sequence_number", None)
        pv = e["data_file"].get("partition") or {}
        e["data_file"]["partition"] = {
            name: (int(pv[name]) if pv.get(name) is not None
                   and _transform_result_type(typ, tr) in ("int", "long")
                   else pv.get(name))
            for name, _src, typ, tr in parts_meta
        }
    man_name = f"{uuid.uuid4().hex}-m0.avro"
    man_path = os.path.join(mdir, man_name)
    with open(man_path, "wb") as fh:
        fh.write(encode_records(man_schema, entries, codec="deflate"))
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro"
    ml_path = os.path.join(mdir, ml_name)
    with open(ml_path, "wb") as fh:
        fh.write(encode_records(
            _MANIFEST_LIST_SCHEMA,
            [{"manifest_path": man_path,
              "manifest_length": os.path.getsize(man_path),
              "partition_spec_id": 0, "content": 0,
              "sequence_number": seq,
              "added_snapshot_id": snapshot_id}]
            + [_ml_entry(m) for m in carry_deletes],
            codec="deflate",
        ))
    meta = dict(meta)
    snap_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": ts,
        "sequence-number": seq,
        "manifest-list": ml_path,
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {"operation": (
            "overwrite" if replace_partitions else "append"
        )},
    }
    if parent_sid not in (-1, None):
        snap_entry["parent-snapshot-id"] = int(parent_sid)
    meta["snapshots"] = list(meta.get("snapshots") or []) + [snap_entry]
    if branch is not None:
        refs = dict(meta.get("refs") or {})
        refs[branch] = {
            "snapshot-id": snapshot_id, "type": "branch",
        }
        meta["refs"] = refs
    else:
        meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = ts
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return snapshot_id


# the spec's position-delete file columns and their reserved field ids
_POS_DELETE_SCHEMA = StructType([
    StructField(
        "file_path", StringType(), True, {"parquet.field.id": 2147483546}
    ),
    StructField("pos", LongType(), True, {"parquet.field.id": 2147483545}),
])


def write_iceberg_position_deletes(
    spark: SparkSession, path: str, deletes: list[tuple[str, int]]
) -> int:
    """Append one POSITION-delete snapshot (format v2): a delete
    parquet with the spec's ``(file_path, pos)`` columns, a delete
    manifest (``content == 1``), and a manifest list carrying every
    prior manifest forward unchanged.  ``deletes`` holds
    ``(data file path as recorded in its manifest, row position)``
    pairs.  Returns the new snapshot id."""
    import shutil

    meta, version = _load_metadata(path)
    if meta.get("current-snapshot-id", -1) == -1:
        raise IcebergError("position deletes need an existing snapshot")
    if not deletes:
        raise IcebergError("empty delete set")
    seq = int(meta.get("last-sequence-number") or 0) + 1
    parts_meta = _partition_fields(meta)
    mdir = os.path.join(path, "metadata")
    ts = int(time.time() * 1000)
    snapshot_id = ts * 1000 + version

    tmp = os.path.join(path, f"_tmp_del_{uuid.uuid4().hex[:8]}")
    # The delete set is a driver-local list: gated, its parquet is
    # written driver-side with no Spark job and no frame built at all
    # (guide §5).  Only a declined set becomes a slice-capped frame
    # (lakehouse_util.local_rows_df: a plain createDataFrame evaluated
    # 32 mostly-empty pickled slices sequentially, ~4.5 s per delete
    # commit, guide §4), coalesced to the ONE file this commit
    # registers.
    _del_rows = [(p, int(pos)) for p, pos in deletes]
    if not write_local(_del_rows, _POS_DELETE_SCHEMA, tmp):
        write_hive_tmp(
            local_rows_df(spark, _del_rows, _POS_DELETE_SCHEMA).coalesce(1),
            tmp, [], None, err_cls=IcebergError,
        )
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    part = next(
        n for n in sorted(os.listdir(tmp)) if n.endswith(".parquet")
    )
    fname = f"delete-{snapshot_id}-{uuid.uuid4().hex[:10]}.parquet"
    final = os.path.join(data_dir, fname)
    os.replace(os.path.join(tmp, part), final)
    shutil.rmtree(tmp, ignore_errors=True)

    man_schema = _manifest_schema(
        [(name, "int" if typ in ("int", "long") else "string")
         for name, _src, typ, _tr in parts_meta]
    )
    entry = {
        "status": 1, "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "data_file": {
            "content": 1,
            "file_path": final,
            "file_format": "PARQUET",
            "partition": {name: None for name, _s, _t, _tr in parts_meta},
            "record_count": len(deletes),
            "file_size_in_bytes": os.path.getsize(final),
            "equality_ids": None,
            "lower_bounds": None,
            "upper_bounds": None,
        },
    }
    man_name = f"{uuid.uuid4().hex}-d0.avro"
    man_path = os.path.join(mdir, man_name)
    with open(man_path, "wb") as fh:
        fh.write(encode_records(man_schema, [entry], codec="deflate"))
    prior = _snapshot_manifest_entries(
        path, meta, meta["current-snapshot-id"]
    )
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro"
    ml_path = os.path.join(mdir, ml_name)
    with open(ml_path, "wb") as fh:
        fh.write(encode_records(
            _MANIFEST_LIST_SCHEMA,
            [_ml_entry(m) for m in prior]
            + [{"manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": 0, "content": 1,
                "sequence_number": seq,
                "added_snapshot_id": snapshot_id}],
            codec="deflate",
        ))
    meta = dict(meta)
    meta["snapshots"] = list(meta.get("snapshots") or []) + [{
        "snapshot-id": snapshot_id,
        "timestamp-ms": ts,
        "sequence-number": seq,
        "manifest-list": ml_path,
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {"operation": "delete"},
    }]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = ts
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return snapshot_id


def write_iceberg_equality_deletes(
    spark: SparkSession,
    path: str,
    values: DataFrame,
    equality_cols: list[str],
) -> int:
    """Append one EQUALITY-delete snapshot (format v2): ``values``
    holds one row per deleted key over ``equality_cols``; the delete
    file's manifest entry carries ``equality_ids`` and the NEW
    sequence number, so it tombstones every matching row in data
    files with a strictly older data sequence number — rows appended
    AFTER this delete are untouched (the spec's temporal scoping).
    Returns the new snapshot id."""
    import shutil

    import pyarrow.parquet as pq

    meta, version = _load_metadata(path)
    if meta.get("current-snapshot-id", -1) == -1:
        raise IcebergError("equality deletes need an existing snapshot")
    if not equality_cols:
        raise IcebergError("equality_cols must be non-empty")
    name_to_id = {
        nm: fid for fid, (nm, _t) in _schema_fields(meta).items()
    }
    try:
        eq_ids = sorted(name_to_id[c] for c in equality_cols)
    except KeyError as e:
        raise IcebergError(
            f"equality column {e} not in the table schema"
        ) from None
    parts_meta = _partition_fields(meta)
    mdir = os.path.join(path, "metadata")
    ts = int(time.time() * 1000)
    snapshot_id = ts * 1000 + version
    seq = int(meta.get("last-sequence-number") or 0) + 1
    from .fieldid import with_field_ids

    tmp = os.path.join(path, f"_tmp_eqdel_{uuid.uuid4().hex[:8]}")
    # A gated local ``values`` frame has its equality columns projected
    # from the driver rows and written via pyarrow — no Spark job
    # (guide §5).
    eq_df = with_field_ids(values.select(*equality_cols), name_to_id)
    _eidx = [values.columns.index(c) for c in equality_cols]
    write_hive_tmp(
        eq_df.coalesce(1), tmp, [], values, err_cls=IcebergError,
        project=lambda rows: [tuple(r[i] for i in _eidx) for r in rows],
    )
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    part = next(
        n for n in sorted(os.listdir(tmp)) if n.endswith(".parquet")
    )
    fname = f"eqdelete-{snapshot_id}-{uuid.uuid4().hex[:10]}.parquet"
    final = os.path.join(data_dir, fname)
    os.replace(os.path.join(tmp, part), final)
    shutil.rmtree(tmp, ignore_errors=True)

    man_schema = _manifest_schema(
        [(name, "int" if typ in ("int", "long") else "string")
         for name, _src, typ, _tr in parts_meta]
    )
    entry = {
        "status": 1, "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "data_file": {
            "content": 2,
            "file_path": final,
            "file_format": "PARQUET",
            "partition": {name: None for name, _s, _t, _tr in parts_meta},
            # the delete file holds one row per ``values`` row; its
            # footer counts them without re-running ``values``
            "record_count": pq.read_metadata(final).num_rows,
            "file_size_in_bytes": os.path.getsize(final),
            "equality_ids": eq_ids,
            "lower_bounds": None,
            "upper_bounds": None,
        },
    }
    man_name = f"{uuid.uuid4().hex}-e0.avro"
    man_path = os.path.join(mdir, man_name)
    with open(man_path, "wb") as fh:
        fh.write(encode_records(man_schema, [entry], codec="deflate"))
    prior = _snapshot_manifest_entries(
        path, meta, meta["current-snapshot-id"]
    )
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro"
    ml_path = os.path.join(mdir, ml_name)
    with open(ml_path, "wb") as fh:
        fh.write(encode_records(
            _MANIFEST_LIST_SCHEMA,
            [_ml_entry(m) for m in prior]
            + [{"manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": 0, "content": 1,
                "sequence_number": seq,
                "added_snapshot_id": snapshot_id}],
            codec="deflate",
        ))
    meta = dict(meta)
    meta["snapshots"] = list(meta.get("snapshots") or []) + [{
        "snapshot-id": snapshot_id,
        "timestamp-ms": ts,
        "sequence-number": seq,
        "manifest-list": ml_path,
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {"operation": "delete"},
    }]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = ts
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return snapshot_id


def expire_iceberg_snapshots(path: str, *, keep_last: int = 1) -> int:
    """Snapshot expiry (the spec's table-maintenance operation): drop
    every snapshot except the newest ``keep_last`` from the metadata
    and physically delete the manifest lists, manifests, and
    data/delete files referenced by NO retained snapshot.  Time
    travel and incremental reads into the expired range fail loudly
    afterwards (the snapshot ids are gone from metadata) — real
    Iceberg's contract.  Returns the number of files deleted."""
    if keep_last < 1:
        raise IcebergError("keep_last must be >= 1")
    meta, version = _load_metadata(path)
    snaps = list(meta.get("snapshots") or [])
    if len(snaps) <= keep_last:
        return 0
    # refs PROTECT their snapshots (spec retention: a tagged/branched
    # snapshot never expires while the ref exists)
    ref_ids = {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    keep_ids = {
        s.get("snapshot-id") for s in snaps[-keep_last:]
    } | ref_ids
    retained = [s for s in snaps if s.get("snapshot-id") in keep_ids]
    expired = [
        s for s in snaps if s.get("snapshot-id") not in keep_ids
    ]
    if not expired:
        return 0
    cur = meta.get("current-snapshot-id")
    if cur not in {s.get("snapshot-id") for s in retained}:
        raise IcebergError(
            "current snapshot not in the retained window"
        )
    keep_files: set[str] = set()
    for s in retained:
        ml = _localize(path, s["manifest-list"])
        keep_files.add(os.path.abspath(ml))
        manifests = _snapshot_manifest_entries(
            path, meta, s["snapshot-id"]
        )
        for m in manifests:
            keep_files.add(
                os.path.abspath(_localize(path, m["manifest_path"]))
            )
        for _c, _seq, entries in _walk_manifests(manifests, path):
            for e in entries:
                if e.get("status") == 2:
                    continue  # deleted entries are not read by s
                fp = (e.get("data_file") or {}).get("file_path")
                if fp:
                    keep_files.add(
                        os.path.abspath(_localize(path, fp))
                    )
    # collect candidates referenced ONLY by expired snapshots
    removed = 0
    for s in expired:
        ml = os.path.abspath(_localize(path, s["manifest-list"]))
        manifests = []
        if os.path.exists(ml):
            manifests = _snapshot_manifest_entries(
                path, meta, s["snapshot-id"]
            )
        for m in manifests:
            mp = os.path.abspath(_localize(path, m["manifest_path"]))
            if mp in keep_files or not os.path.exists(mp):
                continue
            for _c, _seq, entries in _walk_manifests([m], path):
                for e in entries:
                    fp = (e.get("data_file") or {}).get("file_path")
                    if not fp:
                        continue
                    full = os.path.abspath(_localize(path, fp))
                    if full not in keep_files and os.path.exists(full):
                        os.remove(full)
                        removed += 1
            os.remove(mp)
            removed += 1
        if ml not in keep_files and os.path.exists(ml):
            os.remove(ml)
            removed += 1
    meta = dict(meta)
    meta["snapshots"] = retained
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return removed


# ---------------------------------------------------------------------------
# refs: branches and tags (spec v2 `refs`) — round 12
# ---------------------------------------------------------------------------


def set_iceberg_ref(
    path: str,
    name: str,
    *,
    ref_type: str = "tag",
    snapshot_id: int | None = None,
    drop: bool = False,
) -> None:
    """Create/update/drop a named ref — the spec's ``refs`` metadata
    map: ``name -> {"snapshot-id", "type": "tag"|"branch"}``.  A TAG
    is an immutable bookmark (release audits, reproducible training
    snapshots); a BRANCH is a movable head.  ``snapshot_id`` defaults
    to the current snapshot.  ``main`` is reserved: the spec keeps it
    in lock-step with ``current-snapshot-id``, so manual writes
    refuse.  Refs PROTECT their snapshots from
    :func:`expire_iceberg_snapshots` — the spec's retention rule and
    the reason refs exist operationally.  Persists a new metadata
    version."""
    if name == "main":
        raise IcebergError(
            "ref 'main' is reserved (tracks current-snapshot-id)"
        )
    meta, version = _load_metadata(path)
    refs = dict(meta.get("refs") or {})
    if drop:
        if name not in refs:
            raise IcebergError(f"ref {name!r} does not exist")
        del refs[name]
    else:
        if ref_type not in ("tag", "branch"):
            raise IcebergError(
                f"ref type {ref_type!r} must be 'tag' or 'branch'"
            )
        sid = snapshot_id
        if sid is None:
            sid = meta.get("current-snapshot-id")
        known = {
            s.get("snapshot-id") for s in meta.get("snapshots") or []
        }
        if sid not in known:
            raise IcebergError(
                f"snapshot {sid} not in metadata (cannot ref)"
            )
        if name in refs and refs[name].get("type") == "tag":
            raise IcebergError(
                f"tag {name!r} already exists — tags are immutable "
                "(drop it first)"
            )
        refs[name] = {"snapshot-id": int(sid), "type": ref_type}
    meta = dict(meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))


def resolve_iceberg_ref(path: str, name: str) -> int:
    """Ref name -> snapshot id (``main`` resolves to the current
    snapshot); loud on unknown refs."""
    meta, _v = _load_metadata(path)
    if name == "main":
        cur = meta.get("current-snapshot-id")
        if cur is None:
            raise IcebergError("table has no current snapshot")
        return int(cur)
    refs = meta.get("refs") or {}
    if name not in refs:
        raise IcebergError(f"ref {name!r} does not exist")
    return int(refs[name]["snapshot-id"])


def fast_forward_iceberg(path: str, branch: str) -> int:
    """Publish a branch (the WAP 'publish' step): fast-forward main to
    the branch head.  Refuses unless main's current snapshot is an
    ANCESTOR of the branch head (walking ``parent-snapshot-id`` links —
    this writer stamps them), because anything else is not a
    fast-forward and would silently drop main-side commits.  The branch
    ref stays (drop it separately if the audit flow is done).  Returns
    the published snapshot id."""
    meta, version = _load_metadata(path)
    ref = (meta.get("refs") or {}).get(branch)
    if ref is None or ref.get("type") != "branch":
        raise IcebergError(f"branch {branch!r} does not exist")
    head = int(ref["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    by_id = {
        s.get("snapshot-id"): s for s in meta.get("snapshots") or []
    }
    if head not in by_id:
        raise IcebergError(f"branch head {head} not in metadata")
    if cur is not None and cur != -1:
        # ancestry walk: head -> parents must reach cur
        seen = set()
        node = head
        while True:
            if node == cur:
                break
            if node in seen:
                raise IcebergError("parent-snapshot-id cycle (corrupt)")
            seen.add(node)
            parent = by_id.get(node, {}).get("parent-snapshot-id")
            if parent is None:
                raise IcebergError(
                    f"main snapshot {cur} is not an ancestor of branch "
                    f"{branch!r} head {head} (or ancestry is unprovable "
                    "— pre-round-12 snapshots carry no parent links); "
                    "not a fast-forward (fail-loud)"
                )
            node = int(parent)
    meta = dict(meta)
    meta["current-snapshot-id"] = head
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
    return head


def rollback_iceberg(path: str, snapshot_id: int) -> None:
    """Roll main back to an EXISTING older snapshot (the spec's
    rollback — metadata-only; no files move, newer snapshots stay in
    the log and remain time-travelable until expiry)."""
    meta, version = _load_metadata(path)
    known = {s.get("snapshot-id") for s in meta.get("snapshots") or []}
    if snapshot_id not in known:
        raise IcebergError(
            f"snapshot {snapshot_id} not in metadata (cannot roll back)"
        )
    meta = dict(meta)
    meta["current-snapshot-id"] = int(snapshot_id)
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    new_version = version + 1
    with open(os.path.join(mdir, f"v{new_version}.metadata.json"),
              "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(new_version))
