"""Apache Hudi copy-on-write table reader/writer over the PUBLIC
timeline layout (hudi.apache.org/docs — table layout + timeline) — no
hudi-spark bundle.

A Hudi COW table is hive-partitioned parquet plus a ``.hoodie/``
timeline of instants: ``<ts>.commit`` (completed), ``.inflight`` /
``.requested`` (pending, must be ignored), plus ``hoodie.properties``.
Data files carry their identity in the FILENAME:
``<fileId>_<writeToken>_<instantTs>.parquet``.  A *file group* is all
files sharing a fileId within a partition; the live *file slice* is
the one whose instant is the LATEST completed instant <= the queried
instant — older slices are obsolete copies kept for time travel.

Reader surface:

* timeline scan: completed ``.commit``/``.replacecommit`` instants
  only; inflight/requested ignored; ``.replacecommit`` replaced file
  groups (clustering/insert-overwrite) drop;
* snapshot resolution: per (partition, fileId) keep the newest file
  version at-or-before the asked instant (``as_of=`` time travel);
* one-scan read: Hudi files are hive-partitioned AND carry partition
  columns in-file via ``_hoodie_partition_path`` metadata columns? —
  NOT relied on: this reader re-injects partition values parsed from
  the hive path through the same input_file_name broadcast join as
  the Delta/Iceberg readers, so tables written without the meta
  columns still read correctly;
* **merge-on-read** (round 10): tables typed MERGE_ON_READ in
  hoodie.properties read through :func:`read_hudi_mor` — base slices
  resolve as above, then HoodieLogFormat log files replay per file
  group on EXECUTORS (``mapInPandas`` over the group->log listing;
  Avro data blocks upsert by record key, delete blocks drop keys,
  rollback command blocks void their target instant, per-block
  completed-timeline + as-of admission), newest action per (group,
  key) winning via one window; a ``.deltacommit`` timeline on a
  COPY_ON_WRITE table still gates loudly.

The writer half emits the layout for fixtures and as a usable sink:
each commit writes hive-partitioned parquet with conformant filenames
and a ``<ts>.commit`` JSON instant; upserts come from writing a new
file version into an existing file group (same fileId, newer instant);
:func:`write_hudi_log_commit` appends MOR log files + deltacommits.

Reference parity: third member of the lakehouse trio next to
sources/delta.py and sources/iceberg.py (SURVEY §2.1 extension).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .lakehouse_util import (
    attach_file_values,
    fast_rows,
    local_rows_df,
    parse_part_path,
    part_path,
    part_value,
    write_hive_tmp,
)

__all__ = [
    "HudiError",
    "read_hudi",
    "read_hudi_mor",
    "read_hudi_incremental",
    "hudi_snapshot_files",
    "write_hudi_commit",
    "write_hudi_log_commit",
    "write_hudi_rollback_block",
    "compact_hudi",
    "clean_hudi",
    "encode_log_block",
    "iter_log_blocks",
]


class HudiError(ValueError):
    """Malformed or unsupported Hudi table."""


_FILE_RE = re.compile(
    r"^(?P<fid>[0-9a-f-]+)_(?P<token>[\w-]+)_(?P<ts>\d+)\.parquet$"
)


def _props(path: str) -> dict[str, str]:
    p = os.path.join(path, ".hoodie", "hoodie.properties")
    out: dict[str, str] = {}
    if os.path.exists(p):
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line and not line.startswith("#") and "=" in line:
                    k, v = line.split("=", 1)
                    out[k] = v
    return out


def _timeline(path: str, *, mor_ok: bool = False) -> list[tuple[int, str]]:
    hoodie = os.path.join(path, ".hoodie")
    if not os.path.isdir(hoodie):
        raise HudiError(f"not a Hudi table: no .hoodie under {path}")
    completed: list[tuple[int, str]] = []
    for name in os.listdir(hoodie):
        if name.endswith(".deltacommit") and not mor_ok:
            raise HudiError(
                "merge-on-read timeline (.deltacommit) on a "
                "copy-on-write table (fail-loud: log files would be "
                "silently dropped)"
            )
        suffixes = (".commit", ".replacecommit")
        if mor_ok:
            suffixes = suffixes + (".deltacommit",)
        for suffix in suffixes:
            if name.endswith(suffix):
                stem = name[: -len(suffix)]
                if stem.isdigit():
                    completed.append((int(stem), suffix[1:]))
    if not completed:
        raise HudiError("timeline has no completed commits")
    return sorted(completed)


def _read_instant(path: str, ts: int, kind: str) -> dict:
    p = os.path.join(path, ".hoodie", f"{ts}.{kind}")
    with open(p, encoding="utf-8") as fh:
        raw = fh.read().strip()
    return json.loads(raw) if raw else {}


# File-axis budget for the driver-side slice listing (path strings,
# ~150 B/entry -> the default caps near 300 MB), mirroring the Delta
# max_live_files discipline; raise explicitly for larger tables.
_MAX_FILES = 2_000_000


def hudi_snapshot_files(
    path: str, *, as_of: int | None = None, mor_ok: bool = False,
    max_files: int = _MAX_FILES,
) -> list[tuple[str, str]]:
    """Live BASE file slices at the latest (or ``as_of``) completed
    instant.  Returns ``[(relative partition path, absolute file
    path), ...]``.  ``mor_ok`` admits merge-on-read timelines (the MOR
    reader overlays log files on top of these base slices); the
    listing is bounded by the loud ``max_files`` budget."""
    instants = _timeline(path, mor_ok=mor_ok)
    if as_of is not None:
        horizon = _clean_horizon(path)
        if horizon is not None and as_of < horizon:
            raise HudiError(
                f"as_of {as_of} is below the clean horizon {horizon} — "
                "the file slices serving that instant were physically "
                "deleted by clean_hudi (fail-loud)"
            )
    usable = [t for t in instants if as_of is None or t[0] <= as_of]
    if not usable:
        raise HudiError(f"no completed instant at or before {as_of}")
    cutoff = usable[-1][0]
    # Membership, not just <= cutoff: a file written by a FAILED or
    # still-inflight commit whose ts sits below a later completed
    # instant is NOT live (real Hudi's file-system view admits only
    # files whose instant is in the completed timeline).  Such files
    # are skipped, mirroring Hudi's ignore-pending semantics.
    completed_ts = {t for t, _k in usable}
    replaced: set[tuple[str, str]] = set()
    for ts, kind in usable:
        if kind == "replacecommit":
            meta = _read_instant(path, ts, kind)
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    replaced.add((part, fid))
    best: dict[tuple[str, str], tuple[int, str, str]] = {}
    for root, _dirs, files in os.walk(path):
        rel_root = os.path.relpath(root, path)
        if rel_root.startswith(".hoodie") or "_tmp" in rel_root:
            continue
        part = "" if rel_root == "." else rel_root.replace(os.sep, "/")
        for name in files:
            if not name.endswith(".parquet"):
                continue
            if name.endswith(".log.parquet") or ".log." in name:
                raise HudiError(
                    "log files present: merge-on-read unsupported"
                )
            m = _FILE_RE.match(name)
            if not m:
                raise HudiError(
                    f"data file {name!r} violates the "
                    "fileId_writeToken_instant naming scheme"
                )
            ts = int(m.group("ts"))
            if ts > cutoff or ts not in completed_ts:
                continue  # newer than asked instant, or uncommitted
            fid = m.group("fid")
            if (part, fid) in replaced:
                continue
            key = (part, fid)
            cand = (ts, part, os.path.join(root, name))
            if key not in best or cand[0] > best[key][0]:
                best[key] = cand
            if len(best) > max_files:
                raise HudiError(
                    f"table exceeds {max_files} file slices (raise "
                    "max_files explicitly to proceed)"
                )
    return [(p, f) for _ts, p, f in sorted(best.values())]


def _partition_cols(files: list[tuple[str, str]]) -> list[str]:
    cols: list[str] | None = None
    for part, _f in files:
        names = [c for c, _v in parse_part_path(part)]
        if cols is None:
            cols = names
        elif cols != names:
            raise HudiError(
                f"inconsistent hive partition layout: {cols} vs {names}"
            )
    return cols or []


def read_hudi(
    spark: SparkSession,
    path: str,
    *,
    as_of: int | None = None,
    _mor_base: bool = False,
) -> DataFrame:
    """Snapshot (or time-travel) read with hive-path partition values
    re-injected via the one-scan broadcast join.  MERGE_ON_READ tables
    (hoodie.properties table type) dispatch to :func:`read_hudi_mor`;
    ``_mor_base`` is its internal hook returning the bare base-slice
    scan plus a ``__hudi_fid`` file-group column."""
    is_mor = _props(path).get("hoodie.table.type") == "MERGE_ON_READ"
    if is_mor and not _mor_base:
        return read_hudi_mor(spark, path, as_of=as_of)
    files = hudi_snapshot_files(path, as_of=as_of, mor_ok=is_mor)
    if not files:
        raise HudiError("snapshot resolves to zero file slices")
    part_cols = _partition_cols(files)
    df = spark.read.parquet(*[f for _p, f in files])
    if not part_cols and not _mor_base:
        return df
    file_to_vals = []
    extra = ["hudi_fid"] if _mor_base else []
    for part, f in files:
        vals = dict(parse_part_path(part))
        row = [vals[c] for c in part_cols]
        if _mor_base:
            row.append(
                _FILE_RE.match(os.path.basename(f)).group("fid")
            )
        file_to_vals.append((os.path.abspath(f), row))
    out = attach_file_values(
        df, spark, file_to_vals, part_cols + extra,
        err_cls=HudiError, tag="hudi",
    )
    for c in part_cols:
        out = out.withColumn(c, F.col(f"__pv_{c}")).drop(f"__pv_{c}")
    if _mor_base:
        out = out.withColumnRenamed("__pv_hudi_fid", "__hudi_fid")
    return out


# ---------------------------------------------------------------------------
# writer (fixture half + usable sink)
# ---------------------------------------------------------------------------


def write_hudi_commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    partition_by: list[str] | None = None,
    upsert_into: dict[str, str] | None = None,
    table_type: str = "COPY_ON_WRITE",
    record_key: str | None = None,
    meta_fields: bool = False,
) -> int:
    """Append ``df`` as one base-file commit.  ``upsert_into`` maps a
    hive partition path to an EXISTING fileId: that partition's rows
    become a NEW VERSION of that file group (the copy-on-write update
    shape); everything else lands in fresh file groups.  On table
    creation ``table_type`` may be ``MERGE_ON_READ`` (base commits on
    a MOR table model compactions; log writes come from
    :func:`write_hudi_log_commit`) and ``record_key`` names the
    hoodie.table.recordkey.fields column MOR merging keys on.
    ``meta_fields=True`` stamps ``_hoodie_commit_time`` into every
    row (real Hudi writes it always, populateMetaFields; the
    incremental reader filters on it).  Returns the instant
    timestamp."""
    import shutil

    partition_by = list(partition_by or [])
    hoodie = os.path.join(path, ".hoodie")
    os.makedirs(hoodie, exist_ok=True)
    props = os.path.join(hoodie, "hoodie.properties")
    if not os.path.exists(props):
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise HudiError(f"unknown table type {table_type!r}")
        with open(props, "w", encoding="utf-8") as fh:
            fh.write("hoodie.table.name=fixture\n"
                     f"hoodie.table.type={table_type}\n")
            if record_key:
                fh.write(
                    f"hoodie.table.recordkey.fields={record_key}\n"
                )
    is_mor = _props(path).get("hoodie.table.type") == "MERGE_ON_READ"
    prev = []
    try:
        prev = _timeline(path, mor_ok=is_mor)
    except HudiError:
        pass
    ts = int(time.time() * 1000)
    if prev and ts <= prev[-1][0]:
        ts = prev[-1][0] + 1
    tmp = os.path.join(path, f"_tmp_hudi_{uuid.uuid4().hex[:8]}")
    out_df = df
    if meta_fields:
        if "_hoodie_commit_time" in df.columns:
            # carried-over rows keep their ORIGINAL commit time (real
            # Hudi preserves meta fields on unchanged records in a
            # rewritten file group); only rows without one — the
            # upserted batch — take this instant
            out_df = df.withColumn(
                "_hoodie_commit_time",
                F.coalesce(
                    F.col("_hoodie_commit_time"), F.lit(str(ts))
                ),
            )
        else:
            out_df = df.select(
                F.lit(str(ts)).alias("_hoodie_commit_time"),
                *[F.col(f"`{c}`") for c in df.columns],
            )

    def project(rows):
        # the meta-field prepend/coalesce above, value for value
        if not meta_fields:
            return rows
        if "_hoodie_commit_time" not in df.columns:
            return [(str(ts),) + r for r in rows]
        h = df.columns.index("_hoodie_commit_time")
        return [
            r[:h] + (str(ts) if r[h] is None else r[h],) + r[h + 1:]
            for r in rows
        ]

    # The written partition set comes from the tmp layout, not a second
    # Spark job: for compact_hudi the input is the full merge-on-read
    # log replay, which a ``distinct()`` probe would run twice.
    dir_of = write_hive_tmp(
        out_df, tmp, partition_by, df, err_cls=HudiError,
        project=project,
    )
    # upsert targets match by unescaped partition values, so the table's
    # dir name and the one Spark just wrote need not agree on escaping
    upsert_of = {
        tuple(v for _c, v in parse_part_path(p)): fid
        for p, fid in (upsert_into or {}).items()
    }
    written: dict[str, list[str]] = {}
    for pt in sorted(dir_of):
        sub = dir_of[pt]
        src_dir = os.path.join(tmp, sub) if sub else tmp
        files = sorted(
            n for n in os.listdir(src_dir) if n.endswith(".parquet")
        )
        full_dir = os.path.join(path, sub) if sub else path
        os.makedirs(full_dir, exist_ok=True)
        for k, part in enumerate(files):
            fid = upsert_of.get(pt) if k == 0 else None
            if fid is None:
                fid = str(uuid.uuid5(
                    uuid.NAMESPACE_URL, f"{sub}/{ts}/{k}"
                ))
            fname = f"{fid}_0-{k}-0_{ts}.parquet"
            os.replace(os.path.join(src_dir, part),
                       os.path.join(full_dir, fname))
            written.setdefault(sub, []).append(fname)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(hoodie, f"{ts}.commit"), "w",
              encoding="utf-8") as fh:
        json.dump({"operationType": "UPSERT" if upsert_into else
                   "INSERT", "partitionToWriteStats": {
                       p: [{"path": n} for n in ns]
                       for p, ns in written.items()
                   }}, fh)
    return ts


# ---------------------------------------------------------------------------
# merge-on-read: HoodieLogFormat block codec + log-merged snapshot read
# ---------------------------------------------------------------------------
#
# Log-file layout per the public HoodieLogFormat (format version 1):
# each block is  MAGIC "#HUDI#" | block size (int64 BE, bytes after
# this field through the trailing total-size) | log format version
# (int32 BE = 1) | block type ordinal (int32 BE) | header map | content
# length (int64 BE) | content | footer map | total block size (int64
# BE, whole block incl. magic).  Maps serialize as int32 count then
# per entry int32 key-ordinal + int32 byte length + utf8 value.
# Block-type ordinals follow the published HoodieLogBlockType enum
# order (COMMAND=0, DELETE=1, CORRUPT=2, AVRO_DATA=3); header-key
# ordinals the HeaderMetadataType order (INSTANT_TIME=0,
# TARGET_INSTANT_TIME=1, SCHEMA=2, COMMAND_BLOCK_TYPE=3).  Avro data
# blocks carry int32 content-version + int32 record count + per record
# int32 length + one Avro datum (schema rides in the SCHEMA header);
# delete blocks the same framing with {recordKey, partitionPath}
# datums — a documented simplification of Hudi's HoodieDeleteRecord
# envelope (this writer is the only in-container generator, so the
# framing is pinned by the reader/writer twin plus the q456 oracle,
# not against foreign bytes).

_LOG_MAGIC = b"#HUDI#"
_BLK_COMMAND, _BLK_DELETE, _BLK_CORRUPT, _BLK_AVRO = 0, 1, 2, 3
_HDR_INSTANT, _HDR_TARGET, _HDR_SCHEMA, _HDR_CMDTYPE = 0, 1, 2, 3

_LOG_RE = re.compile(
    r"^\.(?P<fid>[0-9a-f-]+)_(?P<base>\d+)\.log\.(?P<ver>\d+)"
    r"_(?P<token>[\w-]+)$"
)


def _enc_map(m: dict[int, str]) -> bytes:
    import struct

    out = struct.pack(">i", len(m))
    for k in sorted(m):
        raw = m[k].encode("utf-8")
        out += struct.pack(">ii", k, len(raw)) + raw
    return out


def _dec_map(buf: bytes, pos: int) -> tuple[dict[int, str], int]:
    import struct

    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    if n < 0 or n > 64:
        raise HudiError("log block map count out of range")
    out: dict[int, str] = {}
    for _ in range(n):
        k, ln = struct.unpack_from(">ii", buf, pos)
        pos += 8
        if ln < 0 or pos + ln > len(buf):
            raise HudiError("truncated log block map entry")
        out[k] = buf[pos : pos + ln].decode("utf-8")
        pos += ln
    return out, pos


def encode_log_block(
    block_type: int, header: dict[int, str], content: bytes,
    footer: dict[int, str] | None = None,
) -> bytes:
    import struct

    body = (
        struct.pack(">i", 1)
        + struct.pack(">i", block_type)
        + _enc_map(header)
        + struct.pack(">q", len(content))
        + content
        + _enc_map(footer or {})
    )
    # block size counts bytes after its own field through the trailing
    # total-size long; total size counts the whole block incl. magic
    total = len(_LOG_MAGIC) + 8 + len(body) + 8
    return (
        _LOG_MAGIC + struct.pack(">q", len(body) + 8) + body
        + struct.pack(">q", total)
    )


def iter_log_blocks(data: bytes):
    """Yields ``(block_type, header, content)`` per block; validates
    magic and both size fields."""
    import struct

    pos = 0
    while pos < len(data):
        if data[pos : pos + 6] != _LOG_MAGIC:
            raise HudiError("log block missing #HUDI# magic")
        start = pos
        pos += 6
        (bsize,) = struct.unpack_from(">q", data, pos)
        pos += 8
        if bsize < 24 or pos + bsize > len(data):
            raise HudiError("log block size out of range")
        ver, btype = struct.unpack_from(">ii", data, pos)
        pos += 8
        if ver != 1:
            raise HudiError(f"log format version {ver} unsupported")
        header, pos = _dec_map(data, pos)
        (clen,) = struct.unpack_from(">q", data, pos)
        pos += 8
        if clen < 0 or pos + clen > len(data):
            raise HudiError("log block content overruns file")
        content = data[pos : pos + clen]
        pos += clen
        _footer, pos = _dec_map(data, pos)
        (total,) = struct.unpack_from(">q", data, pos)
        pos += 8
        if total != pos - start:
            raise HudiError("log block total-size mismatch")
        yield btype, header, content


def _enc_datums(schema: dict, records: list[dict]) -> bytes:
    import struct

    from .avro import _write_value

    out = bytearray(struct.pack(">ii", 3, len(records)))
    for rec in records:
        buf = bytearray()
        _write_value(buf, schema, rec)
        out += struct.pack(">i", len(buf)) + bytes(buf)
    return bytes(out)


def _dec_datums(content: bytes, schema: dict) -> list[dict]:
    import struct

    from .avro import _read_value

    if len(content) < 8:
        raise HudiError("truncated data block content")
    _ver, n = struct.unpack_from(">ii", content, 0)
    pos = 8
    if n < 0 or n > len(content):
        raise HudiError("data block record count out of range")
    out = []
    for _ in range(n):
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        if ln < 0 or pos + ln > len(content):
            raise HudiError("truncated data block record")
        rec, _p = _read_value(memoryview(content)[pos : pos + ln], 0,
                              schema)
        out.append(rec)
        pos += ln
    return out


_DELETE_SCHEMA = {
    "type": "record", "name": "hudi_delete",
    "fields": [
        {"name": "recordKey", "type": "string"},
        {"name": "partitionPath", "type": "string"},
    ],
}


def _group_logs(path: str) -> dict[tuple[str, str, int], list[str]]:
    """(partition, fileId, baseInstant) -> ordered absolute log
    paths (by log version)."""
    out: dict[tuple[str, str, int], list[tuple[int, str]]] = {}
    for root, _dirs, files in os.walk(path):
        rel_root = os.path.relpath(root, path)
        if rel_root.startswith(".hoodie") or "_tmp" in rel_root:
            continue
        part = "" if rel_root == "." else rel_root.replace(os.sep, "/")
        for name in files:
            m = _LOG_RE.match(name)
            if m:
                key = (part, m.group("fid"), int(m.group("base")))
                out.setdefault(key, []).append(
                    (int(m.group("ver")), os.path.join(root, name))
                )
    return {
        k: [p for _v, p in sorted(v)] for k, v in out.items()
    }


def read_hudi_mor(
    spark: SparkSession, path: str, *, as_of: int | None = None,
    _provenance: bool = False,
) -> DataFrame:
    """Merge-on-read snapshot: ONE distributed base-file scan overlaid
    with executor-side log replay.  Log files are decoded per FILE
    GROUP inside ``mapInPandas`` (ordered block walk, rollback command
    blocks dropping their target instants, completed-timeline + as-of
    admission per block); the newest surviving action per (file group,
    record key) wins; deletes anti-join base rows out, upserts replace
    them.  Driver holds only the group->log-paths listing (file-group
    axis), never record payloads.

    ``_provenance`` (the MOR incremental reader's hook): every output
    row carries a populated ``_hoodie_commit_time`` — base rows from
    their meta column (tables without meta fields refuse loudly, as
    with the COW incremental path), log-upserted rows from the
    winning block's INSTANT_TIME header (the payload's own meta field
    wins when present, matching the carried-row convention)."""
    import json as _json

    props = _props(path)
    rk = props.get("hoodie.table.recordkey.fields")
    if not rk:
        raise HudiError(
            "merge-on-read needs hoodie.table.recordkey.fields"
        )
    instants = _timeline(path, mor_ok=True)
    usable = [t for t in instants if as_of is None or t[0] <= as_of]
    if not usable:
        raise HudiError(f"no completed instant at or before {as_of}")
    cutoff = usable[-1][0]
    completed = sorted(t for t, _k in usable)
    base = read_hudi(spark, path, as_of=as_of, _mor_base=True)
    if _provenance and "_hoodie_commit_time" not in base.columns:
        raise HudiError(
            "incremental read needs the _hoodie_commit_time meta "
            "column (table written without meta fields — pass "
            "meta_fields=True to write_hudi_commit)"
        )
    slices = hudi_snapshot_files(path, as_of=as_of, mor_ok=True)
    base_of: dict[tuple[str, str], int] = {}
    for part, f in slices:
        m = _FILE_RE.match(os.path.basename(f))
        base_of[(part, m.group("fid"))] = int(m.group("ts"))
    groups = _group_logs(path)
    rows = []
    for (part, fid, base_ts), paths in sorted(groups.items()):
        # logs attach to the CURRENT base slice of their file group
        if base_of.get((part, fid)) != base_ts:
            continue  # logs of an obsolete/compacted slice
        rows.append((fid, _json.dumps(paths)))
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in base.schema.fields
        if f.name != "__hudi_fid"
    )
    if not rows:
        return base.drop("__hudi_fid")
    # one slice per file group (instead of defaultParallelism mostly
    # empty pickled slices — each empty slice still costs a Python
    # worker round-trip in the mapInPandas below)
    logs_in = spark.createDataFrame(
        spark.sparkContext.parallelize(
            rows,
            numSlices=min(
                len(rows), spark.sparkContext.defaultParallelism
            ),
        ),
        "fid string, paths string",
    )

    def replay(batches):
        import pandas as pd

        for pdf in batches:
            out = {"fid": [], "key": [], "instant": [], "seq": [],
                   "is_delete": [], "payload": []}
            for fid, paths_json in zip(pdf["fid"], pdf["paths"]):
                seq = 0
                rollbacks: set[int] = set()
                events = []
                for p in _json.loads(paths_json):
                    with open(p, "rb") as fh:
                        data = fh.read()
                    for btype, header, content in iter_log_blocks(data):
                        if btype == _BLK_COMMAND:
                            tgt = header.get(_HDR_TARGET)
                            if tgt:
                                rollbacks.add(int(tgt))
                            continue
                        if btype == _BLK_CORRUPT:
                            continue
                        instant = int(header.get(_HDR_INSTANT, "0"))
                        if instant not in completed or instant > cutoff:
                            continue
                        if btype == _BLK_AVRO:
                            sch = _json.loads(header[_HDR_SCHEMA])
                            for rec in _dec_datums(content, sch):
                                events.append(
                                    (str(rec[rk]), instant, seq,
                                     False, _json.dumps(rec))
                                )
                                seq += 1
                        elif btype == _BLK_DELETE:
                            for rec in _dec_datums(
                                content, _DELETE_SCHEMA
                            ):
                                events.append(
                                    (rec["recordKey"], instant, seq,
                                     True, None)
                                )
                                seq += 1
                        else:
                            raise HudiError(
                                f"log block type {btype} unsupported"
                            )
                for key, instant, seq_, is_del, payload in events:
                    if instant in rollbacks:
                        continue
                    out["fid"].append(fid)
                    out["key"].append(key)
                    out["instant"].append(instant)
                    out["seq"].append(seq_)
                    out["is_delete"].append(is_del)
                    out["payload"].append(payload)
            yield pd.DataFrame(out)

    events = logs_in.mapInPandas(
        replay,
        "fid string, key string, instant bigint, seq bigint, "
        "is_delete boolean, payload string",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fid", "key").orderBy(
        F.desc("instant"), F.desc("seq")
    )
    latest = (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    touched = latest.select("fid", "key")
    survivors = base.join(
        touched.withColumnRenamed("key", "__hudi_key"),
        (base["__hudi_fid"] == touched["fid"])
        & (F.col(rk).cast("string") == F.col("__hudi_key")),
        "left_anti",
    ).drop("__hudi_fid")
    upserts = (
        latest.where(~F.col("is_delete"))
        .select(
            F.from_json("payload", schema_ddl).alias("r"),
            F.col("instant"),
        )
        .select("r.*", "instant")
    )
    if _provenance:
        # log records rarely re-carry the meta column; the block's
        # INSTANT_TIME header is the spec-true provenance for them
        upserts = upserts.withColumn(
            "_hoodie_commit_time",
            F.coalesce(
                F.col("_hoodie_commit_time"),
                F.col("instant").cast("string"),
            ),
        )
    return survivors.unionByName(upserts.drop("instant"))


def write_hudi_log_commit(
    spark: SparkSession,
    path: str,
    updates: DataFrame | None = None,
    *,
    deletes: list[tuple[str, str]] | None = None,
) -> int:
    """Append one MERGE_ON_READ deltacommit: per affected file group a
    new ``.{fileId}_{baseInstant}.log.{version}_{token}`` file holding
    an Avro data block (upserts, full rows, schema in the SCHEMA
    header) and/or a delete block; plus a ``<ts>.deltacommit``
    instant.  ``updates`` rows route to their partition's file group
    by the hive partition columns; ``deletes`` is ``[(hive partition
    path, record key), ...]``.  Returns the instant timestamp."""
    props = _props(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiError("log commits need a MERGE_ON_READ table")
    rk = props.get("hoodie.table.recordkey.fields")
    if not rk:
        raise HudiError("hoodie.table.recordkey.fields not set")
    slices = hudi_snapshot_files(path, mor_ok=True)
    part_cols = _partition_cols(slices)
    group_of: dict[str, tuple[str, int, str]] = {}
    for part, f in slices:
        m = _FILE_RE.match(os.path.basename(f))
        if part in group_of:
            raise HudiError(
                f"partition {part!r} holds multiple file groups; the "
                "log writer routes per partition (fixture shape)"
            )
        group_of[part] = (m.group("fid"), int(m.group("ts")),
                          os.path.dirname(f))
    prev = _timeline(path, mor_ok=True)
    ts = int(time.time() * 1000)
    if prev and ts <= prev[-1][0]:
        ts = prev[-1][0] + 1

    per_part: dict[str, dict] = {}
    avro_schema = None
    if updates is not None:
        from .avro import spark_schema_to_avro

        avro_schema = spark_schema_to_avro(updates.schema, "hudi_rec")
        # gated local frames skip the collect() job — the driver
        # already holds the rows (guide §5)
        _local = fast_rows(updates, updates.schema)
        _recs = (
            [dict(zip(updates.columns, r)) for r in _local]
            if _local is not None
            else [r.asDict(recursive=True) for r in updates.collect()]
        )
        # route by VALUE: the dir holds Spark's rendering ('true',
        # '2.0E-4', escaped), which str() of the row value is not
        types = [updates.schema[c].dataType for c in part_cols]
        part_of = {
            tuple(
                part_value(v, t)
                for (_c, v), t in zip(parse_part_path(part), types)
            ): part
            for part in group_of
        }
        for rec in _recs:
            pv = tuple(rec[c] for c in part_cols)
            part = part_of.get(pv, part_path(part_cols, pv))
            per_part.setdefault(part, {"ups": [], "dels": []})[
                "ups"
            ].append(rec)
    for part, key in deletes or []:
        per_part.setdefault(part, {"ups": [], "dels": []})[
            "dels"
        ].append(key)

    groups = _group_logs(path)
    for part, actions in sorted(per_part.items()):
        if part not in group_of:
            raise HudiError(
                f"no base file group in partition {part!r} to log "
                "against"
            )
        fid, base_ts, dirpath = group_of[part]
        version = len(groups.get((part, fid, base_ts), [])) + 1
        blocks = bytearray()
        if actions["ups"]:
            blocks += encode_log_block(
                _BLK_AVRO,
                {_HDR_INSTANT: str(ts),
                 _HDR_SCHEMA: json.dumps(avro_schema)},
                _enc_datums(avro_schema, actions["ups"]),
            )
        if actions["dels"]:
            blocks += encode_log_block(
                _BLK_DELETE,
                {_HDR_INSTANT: str(ts)},
                _enc_datums(
                    _DELETE_SCHEMA,
                    [{"recordKey": str(k), "partitionPath": part}
                     for k in actions["dels"]],
                ),
            )
        name = f".{fid}_{base_ts}.log.{version}_0-0-0"
        with open(os.path.join(dirpath, name), "wb") as fh:
            fh.write(bytes(blocks))
    with open(os.path.join(path, ".hoodie", f"{ts}.deltacommit"),
              "w", encoding="utf-8") as fh:
        json.dump({"operationType": "UPSERT"}, fh)
    return ts


def write_hudi_rollback_block(
    spark: SparkSession, path: str, target_instant: int
) -> int:
    """Append a COMMAND (rollback) block targeting ``target_instant``
    to every live file group's log stream — the reader must then drop
    that instant's log records even though its deltacommit file
    remains on the timeline."""
    if _props(path).get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiError("rollback blocks need a MERGE_ON_READ table")
    slices = hudi_snapshot_files(path, mor_ok=True)
    groups = _group_logs(path)
    prev = _timeline(path, mor_ok=True)
    ts = max(prev[-1][0] + 1, int(time.time() * 1000))
    block = encode_log_block(
        _BLK_COMMAND,
        {_HDR_INSTANT: str(ts), _HDR_TARGET: str(target_instant),
         _HDR_CMDTYPE: "0"},
        b"",
    )
    for part, f in slices:
        m = _FILE_RE.match(os.path.basename(f))
        fid, base_ts = m.group("fid"), int(m.group("ts"))
        existing = groups.get((part, fid, base_ts), [])
        if not existing:
            continue  # no log stream to roll back in this group
        version = len(existing) + 1
        name = f".{fid}_{base_ts}.log.{version}_0-0-0"
        with open(os.path.join(os.path.dirname(f), name), "wb") as fh:
            fh.write(block)
    return ts


def compact_hudi(spark: SparkSession, path: str) -> int:
    """MOR compaction: merge every file group's base + log stream into
    a NEW base file version (same fileId, new ``.commit`` instant —
    compactions are commit instants on a MOR timeline).  The old log
    files become orphans automatically: they name the OLD base instant
    and the reader only applies logs whose base instant matches the
    group's current slice, while ``as_of`` reads before the compaction
    instant still merge them.  Returns the compaction instant."""
    if _props(path).get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiError("compaction applies to MERGE_ON_READ tables")
    slices = hudi_snapshot_files(path, mor_ok=True)
    part_cols = _partition_cols(slices)
    upsert_into: dict[str, str] = {}
    for part, f in slices:
        m = _FILE_RE.match(os.path.basename(f))
        upsert_into[part] = m.group("fid")
    # meta-field presence from one base-file FOOTER (all slices share
    # the writer's schema) instead of building a throwaway merge plan
    # just to inspect .columns
    try:
        import pyarrow.parquet as pq

        has_meta = (
            "_hoodie_commit_time" in pq.read_schema(slices[0][1]).names
        )
    except Exception:
        has_meta = (
            "_hoodie_commit_time" in read_hudi_mor(spark, path).columns
        )
    # provenance-preserving rewrite: log-upserted rows take their
    # delta instant (block INSTANT_TIME header) into the new base
    # file's meta column — without this they'd carry NULL forever
    # and silently vanish from every incremental range
    merged = read_hudi_mor(spark, path, _provenance=has_meta)
    if part_cols:
        merged = merged.repartition(*[F.col(c) for c in part_cols])
    return write_hudi_commit(
        spark, path, merged,
        partition_by=part_cols, upsert_into=upsert_into,
        meta_fields=has_meta,
    )


# ---------------------------------------------------------------------------
# incremental query (round 11)
# ---------------------------------------------------------------------------


def read_hudi_incremental(
    spark: SparkSession,
    path: str,
    *,
    begin_ts: int,
    end_ts: int | None = None,
) -> DataFrame:
    """Hudi incremental query: the LATEST state (as of ``end_ts``) of
    every record whose last modification instant falls in
    ``(begin_ts, end_ts]``.

    COPY_ON_WRITE mechanics mirror real Hudi: candidate file slices
    are the LIVE slices at ``end_ts`` whose slice instant falls in
    the range (an untouched older slice cannot contain new rows), and
    within them rows filter on the ``_hoodie_commit_time`` meta
    column — a copy-on-write upsert rewrites a whole file group, so
    the new base file carries both carried-over rows (older commit
    time, excluded) and the upserted rows (commit time == the
    instant, included).  One distributed scan; partition values
    re-injected via the basename broadcast map.

    MERGE_ON_READ (round 12): the merged ``end_ts`` snapshot is
    computed by :func:`read_hudi_mor` with per-row provenance — base
    rows keep their ``_hoodie_commit_time`` meta column (carried rows
    keep their ORIGINAL time, so a compaction rewrite never re-emits
    untouched records), log-upserted rows take the winning block's
    INSTANT_TIME header (the repo's HoodieLogFormat codec parses it
    for replay admission already) — then filters the range.  Records
    DELETED in the range are absent (non-CDC incremental semantics).
    Tables written without meta fields refuse loudly either way
    (there is no row-level provenance to filter on)."""
    if _props(path).get("hoodie.table.type") == "MERGE_ON_READ":
        instants = _timeline(path, mor_ok=True)
        if not instants:
            raise HudiError(
                "incremental read on an empty timeline (no completed "
                "instants)"
            )
        end = end_ts if end_ts is not None else instants[-1][0]
        merged = read_hudi_mor(spark, path, as_of=end, _provenance=True)
        ct = F.col("_hoodie_commit_time").cast("long")
        return merged.where((ct > begin_ts) & (ct <= end))
    instants = _timeline(path)
    if not instants:
        raise HudiError(
            "incremental read on an empty timeline (no completed "
            "instants)"
        )
    end = end_ts if end_ts is not None else instants[-1][0]
    in_range = [t for t, _k in instants if begin_ts < t <= end]
    slices = hudi_snapshot_files(path, as_of=end)
    if not slices:
        raise HudiError(
            "incremental read on a table with no live file slices "
            f"as of {end}"
        )
    cands = []
    for part, f in slices:
        m = _FILE_RE.match(os.path.basename(f))
        if int(m.group("ts")) in set(in_range):
            cands.append((part, f))
    part_cols = _partition_cols(slices)
    if not cands:
        # typed empty frame: sample one live slice for the schema
        sample = spark.read.parquet(slices[0][1])
        if "_hoodie_commit_time" not in sample.columns:
            raise HudiError(
                "incremental read needs the _hoodie_commit_time meta "
                "column (table written without meta fields)"
            )
        from pyspark.sql.types import StringType, StructField, StructType

        fields = list(sample.schema.fields) + [
            StructField(c, StringType(), True) for c in part_cols
            if c not in sample.columns
        ]
        return local_rows_df(spark, [], StructType(fields))
    df = spark.read.parquet(*[f for _p, f in cands])
    if "_hoodie_commit_time" not in df.columns:
        raise HudiError(
            "incremental read needs the _hoodie_commit_time meta "
            "column (table written without meta fields — pass "
            "meta_fields=True to write_hudi_commit)"
        )
    if part_cols:
        file_to_vals = []
        for part, f in cands:
            vals = dict(parse_part_path(part))
            file_to_vals.append(
                (os.path.abspath(f), [vals[c] for c in part_cols])
            )
        df = attach_file_values(
            df, spark, file_to_vals, part_cols,
            err_cls=HudiError, tag="hudi",
        )
        for c in part_cols:
            df = df.withColumn(c, F.col(f"__pv_{c}")).drop(f"__pv_{c}")
    return df.where(
        (F.col("_hoodie_commit_time").cast("long") > begin_ts)
        & (F.col("_hoodie_commit_time").cast("long") <= end)
    )


# ---------------------------------------------------------------------------
# cleaner (round 12) — the maintenance triad's Hudi leg
# ---------------------------------------------------------------------------


def _clean_horizon(path: str) -> int | None:
    """Earliest instant still servable after cleaning: the max
    ``earliestInstantRetained`` over completed ``.clean`` instants
    (None when the table was never cleaned)."""
    hoodie = os.path.join(path, ".hoodie")
    if not os.path.isdir(hoodie):
        return None
    best: int | None = None
    for name in os.listdir(hoodie):
        if not name.endswith(".clean"):
            continue
        stem = name[: -len(".clean")]
        if not stem.isdigit():
            continue
        with open(os.path.join(hoodie, name), encoding="utf-8") as fh:
            meta = json.loads(fh.read() or "{}")
        h = meta.get("earliestInstantRetained")
        if h is not None and (best is None or int(h) > best):
            best = int(h)
    return best


def clean_hudi(path: str, *, keep_last: int = 1) -> int:
    """Hudi cleaner (KEEP_LATEST_COMMITS shape): physically deletes
    base-file slice versions no retained instant can ever serve,
    completing the maintenance triad next to Delta VACUUM and Iceberg
    snapshot expiry.  ``keep_last`` names how many completed commits
    stay time-travelable; the horizon is the earliest retained
    instant.  Per file group: versions at or after the horizon
    survive, and when a group has NONE (untouched since before the
    horizon) its newest pre-horizon version survives — it IS the
    group's state at every retained instant.  Everything older is
    deleted, a ``<ts>.clean`` instant records the horizon and the
    deleted files (the audit trail real cleaners leave), and
    ``hudi_snapshot_files(as_of=)`` below the horizon refuses loudly
    instead of silently dropping vanished groups.  COPY_ON_WRITE
    only (MOR cleaning must also reason about log-file attachment —
    the .deltacommit timeline guard fires first).  Returns the number
    of files deleted.

    Scale: pure metadata + file-system work — O(file versions) listing
    with no Spark job and no data movement; at 100 TB the deletes are
    per-file unlinks exactly like real cleaners."""
    if keep_last < 1:
        raise HudiError("keep_last must be >= 1")
    instants = _timeline(path)  # raises on MOR (.deltacommit) / empty
    retained = instants[-keep_last:]
    horizon = retained[0][0]
    groups: dict[tuple[str, str], list[tuple[int, str]]] = {}
    for root, _dirs, files in os.walk(path):
        rel_root = os.path.relpath(root, path)
        if rel_root.startswith(".hoodie") or "_tmp" in rel_root:
            continue
        part = "" if rel_root == "." else rel_root.replace(os.sep, "/")
        for name in files:
            if not name.endswith(".parquet"):
                continue
            m = _FILE_RE.match(name)
            if not m:
                raise HudiError(
                    f"data file {name!r} violates the "
                    "fileId_writeToken_instant naming scheme"
                )
            groups.setdefault((part, m.group("fid")), []).append(
                (int(m.group("ts")), os.path.join(root, name))
            )
    deleted: list[str] = []
    for _key, versions in groups.items():
        versions.sort()
        live = [v for v in versions if v[0] >= horizon]
        keep = {f for _ts, f in live}
        older = [v for v in versions if v[0] < horizon]
        if not live and older:
            keep.add(older[-1][1])  # the group's state at the horizon
        for _ts, f in versions:
            if f not in keep:
                os.remove(f)
                deleted.append(os.path.relpath(f, path))
    clean_ts = instants[-1][0] + 1
    with open(
        os.path.join(path, ".hoodie", f"{clean_ts}.clean"), "w",
        encoding="utf-8",
    ) as fh:
        fh.write(json.dumps({
            "earliestInstantRetained": horizon,
            "deleted": sorted(deleted),
        }))
    return len(deleted)
