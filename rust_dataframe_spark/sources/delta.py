"""Delta Lake table reader/writer over the PUBLIC transaction-log
protocol (delta.io PROTOCOL.md) — no delta-jar.

A Delta table is a directory of parquet data files plus a
``_delta_log`` of ordered JSON commits (``00000000000000000000.json``,
...) holding actions; the current snapshot is the result of replaying
them: ``add`` introduces a data file (with its ``partitionValues``),
``remove`` retires one, ``metaData`` carries the schema + partition
columns, ``protocol`` the reader/writer feature requirements.  Every
10-ish commits an optional parquet ``checkpoint`` collapses the prefix;
``_last_checkpoint`` points at it.

Reader surface:

* commit replay in version order with last-action-wins per file path,
  optional ``version=`` time travel (replay stops at that commit);
* checkpoint bootstrap: start from the newest checkpoint parquet at or
  below the requested version, then replay the JSON tail (the
  log-compaction fast path real tables rely on — a million-commit
  table reads checkpoint + a handful of JSONs);
* **partition-value re-injection**: Delta data files do NOT store
  partition columns; the snapshot reader loads all live files in one
  ``spark.read.parquet`` scan and joins the per-file partition values
  back over ``input_file_name()`` with a broadcast map — one
  distributed scan, no per-partition union chain, scale-safe at 100 TB;
* **column mapping** 'name' mode (round 10): physical parquet names
  rename to logical per ``delta.columnMapping.physicalName``, with
  physically-keyed partitionValues translated per column;
* **deletion vectors** (round 10): roaring-bitmap row tombstones
  (operators/roaring.py) decode on EXECUTORS from inline ('i'),
  path ('p') and uuid ('u') storage, CRC-32 + cardinality enforced,
  and apply as one anti-join on (file basename, _metadata.row_index);
* loud gates: unknown reader features (v2 checkpoints, type
  widening...), column-mapping 'id' mode, missing metaData, log gaps,
  checkpoint/schema desync.

The writer half produces conformant commits (metaData/protocol on
commit 0, add actions with partitionValues and stats row counts,
remove actions for overwritten partitions, a parquet checkpoint) so
fixtures are protocol-real; the protocol is public JSON and the
reader's gates keep foreign tables with newer features fail-loud
rather than silently wrong.

Reference parity: the reference repo's table sources are CSV/JSON/
parquet/SQL (SURVEY §2.1); a log-structured parquet table is the
lakehouse-era extension of the same family.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from .lakehouse_util import (
    assert_unique_basenames,
    attach_file_values,
    parse_conjuncts,
    range_survives,
    fast_schema,
    local_rows_df,
    write_hive_tmp,
)

__all__ = [
    "DeltaError",
    "read_delta",
    "delta_snapshot_files",
    "write_delta_commit",
    "write_delta_checkpoint",
    "write_delta_delete_rows",
    "rename_delta_columns",
    "drop_delta_columns",
    "add_delta_columns",
    "read_delta_changes",
    "update_delta_rows_cdf",
    "delete_delta_rows_cdf",
    "drop_delta_files",
    "compact_delta_files",
    "vacuum_delta",
    "delta_plan_files",
    "restore_delta",
]


class DeltaError(ValueError):
    """Malformed or unsupported Delta table log."""


_LOG = "_delta_log"


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


# PROTOCOL.md "Checkpoint Naming Scheme": classic
# n.checkpoint.parquet; multi-part n.checkpoint.<part>.<parts>.parquet;
# V2 n.checkpoint.<uuid>.{parquet,json} (+ sidecar files under
# _delta_log/_sidecars/).
_CP_MULTI = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
_CP_V2 = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)$"
)


def _checkpoint_files(path: str) -> dict[int, list[str]]:
    """checkpoint version -> ordered absolute file paths (one for
    classic/V2, all parts for multi-part; completeness enforced)."""
    log = os.path.join(path, _LOG)
    out: dict[int, list[str]] = {}
    multi: dict[int, dict[int, tuple[int, str]]] = {}
    for name in os.listdir(log):
        full = os.path.join(log, name)
        if name.endswith(".checkpoint.parquet") and name[:20].isdigit():
            out[int(name[:20])] = [full]
            continue
        m = _CP_MULTI.match(name)
        if m:
            v, part, parts = (int(m.group(1)), int(m.group(2)),
                              int(m.group(3)))
            multi.setdefault(v, {})[part] = (parts, full)
            continue
        m = _CP_V2.match(name)
        if m:
            out[int(m.group(1))] = [full]
    for v, parts_map in multi.items():
        n_parts = {n for n, _f in parts_map.values()}
        if len(n_parts) != 1 or set(parts_map) != set(
            range(1, next(iter(n_parts)) + 1)
        ):
            raise DeltaError(
                f"multi-part checkpoint {v} is incomplete "
                f"(have parts {sorted(parts_map)})"
            )
        out[v] = [parts_map[i][1] for i in sorted(parts_map)]
    return out


def _list_log(path: str) -> tuple[list[int], list[int]]:
    """Sorted (json commit versions, checkpoint versions)."""
    log = os.path.join(path, _LOG)
    if not os.path.isdir(log):
        raise DeltaError(f"not a Delta table: no {_LOG} under {path}")
    commits = []
    for name in os.listdir(log):
        if (name.endswith(".json") and name[:20].isdigit()
                and ".checkpoint." not in name):
            commits.append(int(name[:20]))
    checkpoints = sorted(_checkpoint_files(path))
    if not commits and not checkpoints:
        raise DeltaError("empty _delta_log")
    return sorted(commits), checkpoints


# File-axis budget for the snapshot's live-file list: the list is
# collected to the driver (it has to be — it parameterizes the one
# distributed scan), so it is bounded loudly, mirroring the
# Bradley-Terry item-axis discipline (operators/ranking.py:440).
# Measured (tools/scale_lakehouse.py): ~0.8 KB/entry collected, so
# the default caps driver memory near 800 MB; raise it explicitly
# for genuinely larger tables.
_MAX_LIVE_FILES = 1_000_000

# Reader features this reader actually implements.  minReaderVersion 2
# IS the column-mapping protocol version (PROTOCOL.md: reader version
# 2 = column mapping); version 3 tables list explicit readerFeatures.
# deletionVectors landed in round 10 (roaring-bitmap row tombstones,
# operators/roaring.py).
_SUPPORTED_READER_FEATURES = {
    "columnMapping", "deletionVectors", "v2Checkpoint",
}

# ZeroMQ Z85 alphabet (PUBLIC spec, rfc.zeromq.org/spec/32) — Delta
# encodes inline DVs and DV-file UUIDs with it.
_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


def _z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise DeltaError("z85 payload length not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for ch in s[i : i + 5]:
            v = _Z85_INV.get(ch)
            if v is None:
                raise DeltaError(f"invalid z85 character {ch!r}")
            acc = acc * 85 + v
        if acc >> 32:
            raise DeltaError("z85 group overflows 32 bits")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def _z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise DeltaError("z85 encode needs a multiple of 4 bytes")
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[acc % 85])
            acc //= 85
        out += reversed(chunk)
    return "".join(out)


def _check_protocol(proto: dict) -> None:
    mrv = proto.get("minReaderVersion", 1)
    if mrv <= 1:
        return
    if mrv == 2:
        feats = {"columnMapping"}
    elif mrv == 3:
        feats = set(proto.get("readerFeatures") or [])
    else:
        # version 3 is the highest whose semantics this reader knows;
        # a future version may carry non-feature-listed obligations,
        # so an empty/supported feature list is NOT a pass
        raise DeltaError(
            f"minReaderVersion {mrv} unsupported (this reader knows "
            "versions 1-3; higher versions may carry semantics beyond "
            "the readerFeatures list — fail-loud)"
        )
    unsupported = feats - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise DeltaError(
            f"reader version {mrv} with features {sorted(unsupported)} "
            "unsupported (fail-loud: deletion vectors / v2 checkpoints "
            "would decode silently wrong)"
        )


def _decode_path(p: str) -> str:
    """Delta percent-encodes add/remove paths (PROTOCOL.md: path is a
    URL-encoded relative path); partition values with spaces/specials
    yield %XX sequences that must be decoded before touching the FS."""
    return urllib.parse.unquote(p)


def _read_dv_positions(dv: dict, table_path: str) -> list[int]:
    """Decode one deletionVector descriptor to its deleted row
    positions (PROTOCOL.md 'Deletion Vectors'): storageType 'i' holds
    the z85-encoded bitmap inline; 'p' an absolute DV-file path; 'u' a
    '<prefix><z85 uuid>' whose file is
    ``<prefix>/deletion_vector_<uuid>.bin`` under the table root.  DV
    files carry a 1-byte format version, then per DV a big-endian
    length, the RoaringBitmapArray payload and a CRC-32 — length,
    checksum and declared cardinality are all enforced."""
    import struct as _struct
    import zlib

    from ..operators.roaring import roaring64_decode

    st = dv.get("storageType")
    if st == "i":
        vals = roaring64_decode(_z85_decode(dv["pathOrInlineDv"]))
    elif st in ("p", "u"):
        if st == "p":
            fpath = dv["pathOrInlineDv"]
        else:
            enc = dv["pathOrInlineDv"]
            if len(enc) < 20:
                raise DeltaError("u-storage DV id shorter than a uuid")
            prefix, tail = enc[:-20], enc[-20:]
            uu = uuid.UUID(bytes=_z85_decode(tail))
            fpath = os.path.join(
                table_path, prefix, f"deletion_vector_{uu}.bin"
            ) if prefix else os.path.join(
                table_path, f"deletion_vector_{uu}.bin"
            )
        with open(fpath, "rb") as fh:
            blob = fh.read()
        if not blob or blob[0] != 1:
            raise DeltaError("DV file format version != 1")
        offset = int(dv.get("offset") or 0)
        size = int(dv["sizeInBytes"])
        if offset + 8 + size > len(blob):
            raise DeltaError("DV offset/size overruns the file")
        (dlen,) = _struct.unpack_from(">I", blob, offset)
        if dlen != size:
            raise DeltaError(
                f"DV length field {dlen} != descriptor size {size}"
            )
        data = blob[offset + 4 : offset + 4 + size]
        (crc,) = _struct.unpack_from(">I", blob, offset + 4 + size)
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise DeltaError("DV checksum mismatch")
        vals = roaring64_decode(data)
    else:
        raise DeltaError(f"DV storage type {st!r} unsupported")
    card = dv.get("cardinality")
    if card is not None and int(card) != len(vals):
        raise DeltaError(
            f"DV cardinality {card} != decoded {len(vals)}"
        )
    return vals


# Checkpoints at or under this byte budget replay DRIVER-SIDE via
# pyarrow (a handful of ms) instead of ~4 small Spark jobs (~1.5-2 s of
# fixed scheduling latency on every checkpoint-bootstrapped read).
# Above it, the distributed DataFrame reconciliation below keeps the
# 10^5-10^7-file posture.  Same adaptive-gate pattern as the field-id
# footer probe (fieldid.py: driver under 64 files, mapInPandas above).
_CP_DRIVER_BYTES = int(
    os.environ.get("SPARK_GRAFT_CP_DRIVER_BYTES", 8 * 1024 * 1024)
)


class _CpFallback(Exception):
    """Driver-side checkpoint replay declined (size/feature) — use the
    distributed path."""


def _cp_driver_replay(
    parquet_groups: list[list[str]],
    sidecar_dir: str,
    max_live_files: int,
) -> tuple[dict | None, dict[str, dict]]:
    """Pure-pyarrow mirror of the distributed checkpoint replay below:
    same reconciliation (adds of every group minus all removes, last
    metaData wins, every protocol row checked, V2 top-level sidecars
    appended as another group), same loud ``max_live_files`` budget.
    Raises :class:`_CpFallback` when any group exceeds the byte budget
    or pyarrow is unavailable."""
    try:
        import pyarrow.parquet as pq
    except ImportError as e:
        raise _CpFallback from e
    groups = [list(g) for g in parquet_groups]
    meta: dict | None = None
    adds: dict[str, dict] = {}
    removed: set[str] = set()
    first = True
    while groups:
        gpaths = groups.pop(0)
        rows: list[dict] = []
        for p in gpaths:
            if os.path.getsize(p) > _CP_DRIVER_BYTES:
                raise _CpFallback
            rows.extend(pq.read_table(p).to_pylist())
        if len(rows) > 2 * max_live_files + 16:
            raise _CpFallback
        for r in rows:
            if first and r.get("sidecar") and (
                r["sidecar"].get("path") is not None
            ):
                p = r["sidecar"]["path"]
                groups.append([
                    p if os.path.isabs(p)
                    else os.path.join(sidecar_dir, p)
                ])
            md = r.get("metaData")
            if md and md.get("id") is not None:
                meta = dict(md)
                if isinstance(meta.get("partitionColumns"), str):
                    meta["partitionColumns"] = json.loads(
                        meta["partitionColumns"]
                    )
                if isinstance(meta.get("configuration"), str):
                    meta["configuration"] = json.loads(
                        meta["configuration"]
                    )
            proto = r.get("protocol")
            if proto and proto.get("minReaderVersion") is not None:
                _check_protocol(
                    {k: v for k, v in proto.items() if v is not None}
                )
            a = r.get("add")
            if a and a.get("path") is not None:
                pv = a.get("partitionValues")
                if isinstance(pv, list):  # pyarrow map -> kv tuples
                    pv = dict(pv)
                dv = a.get("deletionVector")
                if dv is not None and dv.get("storageType") is None:
                    dv = None
                adds[a["path"]] = {
                    "path": a["path"],
                    "partitionValues": dict(pv or {}),
                    "size": a.get("size"),
                    "deletionVector": dict(dv) if dv else None,
                }
            rm = r.get("remove")
            if rm and rm.get("path") is not None:
                removed.add(rm["path"])
        first = False
    live = {p: a for p, a in adds.items() if p not in removed}
    if len(live) > max_live_files:
        raise DeltaError(
            "checkpoint holds more than "
            f"{max_live_files} live files — refusing the "
            "driver-side file list (raise max_live_files "
            "explicitly to proceed)"
        )
    return meta, live


def delta_snapshot_files(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    max_live_files: int = _MAX_LIVE_FILES,
) -> tuple[dict, list[dict]]:
    """Replay the log.  Returns ``(metaData, live_add_actions)`` at the
    requested (or latest) version.

    Scale posture: checkpoint replay is DISTRIBUTED — the checkpoint
    parquet (file-axis: one row per live file, 10^5–10^7 at 100 TB) is
    reconciled as a DataFrame (adds anti-joined against remove
    tombstones, metaData/protocol rows filtered out row-axis-tiny) and
    only the final live-file ``(path, partitionValues, size)`` list is
    collected, under a loud ``max_live_files`` budget.  The JSON tail
    between checkpoint and snapshot is commit-axis-bounded (checkpoint
    cadence, ~10 commits) and stays driver-side."""
    commits, checkpoints = _list_log(path)
    latest = max(commits + checkpoints)
    want = latest if version is None else version
    if version is not None and version not in commits and (
        version not in checkpoints
    ):
        raise DeltaError(f"version {version} not in the log")
    live: dict[str, dict] = {}
    meta: dict | None = None
    start = 0
    cps = [c for c in checkpoints if c <= want]
    if cps:
        cp = max(cps)
        cp_paths = _checkpoint_files(path)[cp]
        sidecar_dir = os.path.join(path, _LOG, "_sidecars")
        parquet_groups: list[list[str]] = []
        if len(cp_paths) == 1 and cp_paths[0].endswith(".json"):
            # V2 JSON top level: small (metaData/protocol/sidecar
            # actions + possibly a few inline file actions) — parse
            # driver-side; heavy file actions live in parquet sidecars
            sidecars: list[str] = []
            with open(cp_paths[0], encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    if "metaData" in a:
                        meta = a["metaData"]
                    elif "protocol" in a:
                        _check_protocol(a["protocol"])
                    elif "sidecar" in a:
                        p = a["sidecar"]["path"]
                        sidecars.append(
                            p if os.path.isabs(p)
                            else os.path.join(sidecar_dir, p)
                        )
                    elif "add" in a:
                        live[a["add"]["path"]] = a["add"]
                    elif "remove" in a:
                        live.pop(a["remove"].get("path"), None)
                    # checkpointMetadata / txn are read-irrelevant
            if sidecars:
                parquet_groups.append(sidecars)
        else:
            parquet_groups.append(cp_paths)

        try:
            d_meta, d_live = _cp_driver_replay(
                parquet_groups, sidecar_dir, max_live_files
            )
            if d_meta is not None:
                meta = d_meta
            live.update(d_live)
            parquet_groups = []
        except _CpFallback:
            pass
        adds_parts = []
        removes_parts = []
        dv_ddl = (
            "struct<storageType:string,pathOrInlineDv:string,"
            "offset:int,sizeInBytes:int,cardinality:bigint>"
        )
        first = True
        while parquet_groups:
            gpaths = parquet_groups.pop(0)
            cp_df = spark.read.parquet(*gpaths)
            cols = set(cp_df.columns)
            if first and "sidecar" in cols:
                # V2 parquet top level: pull its sidecar references
                side = []
                for r in (
                    cp_df.where(F.col("sidecar.path").isNotNull())
                    .select("sidecar.path")
                    .collect()
                ):
                    p = r["path"]
                    side.append(
                        p if os.path.isabs(p)
                        else os.path.join(sidecar_dir, p)
                    )
                if side:
                    parquet_groups.append(side)
            first = False
            if "metaData" in cols:
                metas = (
                    cp_df.where(F.col("metaData.id").isNotNull())
                    .select("metaData")
                    .collect()
                )
                if metas:
                    meta = metas[-1]["metaData"].asDict(recursive=True)
                    if isinstance(meta.get("partitionColumns"), str):
                        meta["partitionColumns"] = json.loads(
                            meta["partitionColumns"]
                        )
                    if isinstance(meta.get("configuration"), str):
                        meta["configuration"] = json.loads(
                            meta["configuration"]
                        )
            if "protocol" in cols:
                for row in (
                    cp_df.where(
                        F.col("protocol.minReaderVersion").isNotNull()
                    )
                    .select("protocol")
                    .collect()
                ):
                    _check_protocol(
                        row["protocol"].asDict(recursive=True)
                    )
            if "add" in cols:
                add_fields = {
                    f.name for f in cp_df.schema["add"].dataType.fields
                }
                sel = [F.col("add.path").alias("path")]
                sel.append(
                    F.col("add.partitionValues").alias(
                        "partitionValues"
                    )
                    if "partitionValues" in add_fields
                    else F.lit(None).cast("map<string,string>").alias(
                        "partitionValues"
                    )
                )
                sel.append(
                    F.col("add.size").alias("size")
                    if "size" in add_fields
                    else F.lit(None).cast("bigint").alias("size")
                )
                sel.append(
                    F.col("add.deletionVector").alias("deletionVector")
                    if "deletionVector" in add_fields
                    else F.lit(None).cast(dv_ddl).alias(
                        "deletionVector"
                    )
                )
                adds_parts.append(
                    cp_df.where(F.col("add.path").isNotNull()).select(
                        *sel
                    )
                )
            if "remove" in cols:
                removes_parts.append(
                    cp_df.where(F.col("remove.path").isNotNull())
                    .select(F.col("remove.path").alias("path"))
                )
        if adds_parts:
            adds = adds_parts[0]
            for extra in adds_parts[1:]:
                adds = adds.unionByName(extra)
            for removes in removes_parts:
                adds = adds.join(removes, "path", "left_anti")
            # one bounded job: limit(budget+1) instead of count+collect
            rows = (
                adds.dropDuplicates(["path"])
                .limit(max_live_files + 1)
                .collect()
            )
            if len(rows) > max_live_files:
                raise DeltaError(
                    f"checkpoint {cp} holds more than "
                    f"{max_live_files} live files — refusing the "
                    "driver-side file list (raise max_live_files "
                    "explicitly to proceed)"
                )
            for r in rows:
                live[r["path"]] = {
                    "path": r["path"],
                    "partitionValues": dict(r["partitionValues"] or {}),
                    "size": r["size"],
                    "deletionVector": (
                        r["deletionVector"].asDict()
                        if r["deletionVector"] is not None else None
                    ),
                }
        start = cp + 1
    for v in range(start, want + 1):
        if v not in commits:
            if v in checkpoints:
                continue
            raise DeltaError(f"log gap: commit {v} missing")
        cpath = os.path.join(path, _LOG, _commit_name(v))
        with open(cpath, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    add = action["add"]
                    if not add.get("path"):
                        raise DeltaError(f"commit {v}: add without path")
                    live[add["path"]] = add
                elif "remove" in action:
                    live.pop(action["remove"].get("path"), None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    _check_protocol(action["protocol"])
                # txn / commitInfo / cdc are read-irrelevant
    if meta is None:
        raise DeltaError("log replay found no metaData action")
    if len(live) > max_live_files:
        raise DeltaError(
            f"snapshot resolves to more than {max_live_files} live "
            "files (raise max_live_files explicitly to proceed)"
        )
    return meta, list(live.values())


def _schema_struct(meta: dict) -> StructType:
    """metaData.schemaString is Spark StructType JSON verbatim
    (PROTOCOL.md 'Schema Serialization Format')."""
    return StructType.fromJson(json.loads(meta["schemaString"]))


def _mapping_mode(meta: dict) -> str:
    """'none' | 'name' | 'id' (anything else fails loud)."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in ("none", ""):
        return "none"
    if mode not in ("name", "id"):
        raise DeltaError(
            f"column mapping mode {mode!r} unsupported "
            "('name' and 'id' only)"
        )
    return mode


def _column_mapping(meta: dict) -> dict[str, str] | None:
    """physical parquet name -> logical name, or None when the table
    has no column mapping.  Both mapping modes annotate every field
    with ``delta.columnMapping.physicalName`` (PROTOCOL.md writer
    requirements), so this map exists for 'name' AND 'id' tables —
    'id' tables additionally resolve data-file columns by parquet
    field id (see ``read_delta``); partitionValues stay keyed by
    physical name in both modes."""
    mode = _mapping_mode(meta)
    if mode == "none":
        return None
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        phys = md.get("delta.columnMapping.physicalName")
        if not phys:
            raise DeltaError(
                f"column mapping mode {mode!r} but field {f['name']!r} "
                "carries no physicalName"
            )
        out[phys] = f["name"]
    return out


def _ids_by_logical(meta: dict) -> dict[str, int]:
    """logical name -> delta.columnMapping.id for an 'id'-mode table
    (every field must carry one)."""
    out: dict[str, int] = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        cid = md.get("delta.columnMapping.id")
        if cid is None:
            raise DeltaError(
                f"column mapping mode 'id' but field {f['name']!r} "
                "carries no delta.columnMapping.id"
            )
        out[f["name"]] = int(cid)
    return out


def read_delta(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    max_live_files: int = _MAX_LIVE_FILES,
    where: str | None = None,
) -> DataFrame:
    """One-scan snapshot read with partition-value re-injection and
    column-mapping physical->logical renames ('name' mode) or
    field-id resolution ('id' mode).

    Every scan is typed from the log: metaData.schemaString is the
    table's authoritative schema, so no read runs a Spark job to infer
    one from a data file's footer, and a column absent from some files
    reads null in them instead of depending on which footer was read.

    ``where``: a SQL predicate applied to the result AND used for
    DATA SKIPPING — add actions whose per-file stats
    (minValues/maxValues, PROTOCOL.md) or partitionValues prove no
    row can match a recognized conjunct never enter the scan's file
    list.  Advisory only (missing stats and unrecognized conjuncts
    keep the file; the full predicate still filters rows), so
    answers never depend on it."""
    meta, adds = delta_snapshot_files(
        spark, path, version=version, max_live_files=max_live_files
    )
    part_cols = meta.get("partitionColumns") or []
    struct = _schema_struct(meta)
    type_by_name = {
        f.name: f.dataType.simpleString() for f in struct.fields
    }
    mode = _mapping_mode(meta)
    mapping = _column_mapping(meta)  # physical -> logical, or None
    if where and adds:
        conjuncts = parse_conjuncts(where)
        if conjuncts:
            l2p = {v: k for k, v in mapping.items()} if mapping else {}
            adds = [
                a for a in adds
                if _add_survives(
                    a, conjuncts, part_cols, type_by_name, l2p
                )
            ]
    if not adds:
        # empty snapshot: typed empty frame from metaData.schemaString
        # (every-column-string would break downstream casts/joins)
        return local_rows_df(spark, [], struct)
    files = [
        os.path.join(path, _decode_path(a["path"])) for a in adds
    ]
    dvs = [
        (os.path.basename(f), json.dumps(a["deletionVector"]))
        for a, f in zip(adds, files)
        if a.get("deletionVector")
        and a["deletionVector"].get("storageType")
    ]
    if mode == "id":
        # 'id' mode (PROTOCOL.md): data-file columns resolve by
        # parquet FIELD ID = delta.columnMapping.id — rename-safe by
        # construction, same machinery as the Iceberg reader.  The
        # spec REQUIRES id-mode writers to stamp ids, so unstamped
        # files are corrupt and refuse loudly.
        from .fieldid import probe_field_ids, read_by_field_id

        probe = probe_field_ids(files, spark)
        unstamped = [
            a["path"] for a, (m, _n) in zip(adds, probe) if m is None
        ]
        if unstamped:
            raise DeltaError(
                f"column mapping 'id' but data files lack parquet "
                f"field ids (e.g. {unstamped[0]!r}) — id resolution "
                "is impossible (fail-loud)"
            )
        ids = _ids_by_logical(meta)
        # partition columns are hive-laid-out (absent from files):
        # they come back null here and the partition re-injection
        # below overwrites them from partitionValues
        df = read_by_field_id(
            spark, files,
            [(ids[f.name], f.name, f.dataType)
             for f in struct.fields],
        )
    else:
        # an explicit schema, so no footer-inference job runs.  'name'
        # mode projects EXACTLY the mapped physical columns: a physical
        # column present in old files but absent from the mapping (a
        # DROPPED column) is never read, and a mapped column absent from
        # old files (ADDED later) reads null; protocol Column Projection.
        # Without mapping the schema is metaData.schemaString, the
        # table's own, minus the hive-laid-out partition columns (absent
        # from files, re-injected below).
        l2p = {v: k for k, v in (mapping or {}).items()}
        df = spark.read.schema(StructType([
            StructField(l2p.get(f.name, f.name), f.dataType, True)
            for f in struct.fields
            if mapping or f.name not in part_cols
        ])).parquet(*files)
    need_key = bool(part_cols) or bool(dvs)
    if need_key:
        # the DV anti-join below keys on basename without passing
        # through attach_file_values' own check — enforce uniqueness
        # here so an ambiguous basename never tombstones silently
        assert_unique_basenames(files, err_cls=DeltaError, tag="delta")
    sel = [F.col(f"`{c}`") for c in df.columns]
    if need_key:
        # basename + row position captured ON THE SCAN (after a join
        # input_file_name/_metadata would be ambiguous)
        sel.append(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "__delta_base"
            )
        )
    if dvs:
        sel.append(F.col("_metadata.row_index").alias("__delta_pos"))
    df = df.select(*sel)
    if mapping and mode == "name":
        data_cols = [
            c for c in df.columns
            if c not in ("__delta_base", "__delta_pos")
        ]
        unknown = [c for c in data_cols if c not in mapping]
        if unknown:
            raise DeltaError(
                f"column mapping: physical columns {unknown} not in "
                "metaData.schemaString"
            )
        df = df.select(
            *[F.col(f"`{c}`").alias(mapping[c]) for c in data_cols],
            *[F.col(c) for c in df.columns if c not in data_cols],
        )
    if dvs:
        # deletion vectors: decode roaring tombstones on EXECUTORS
        # (mapInPandas over the per-file descriptors), anti-join on
        # (basename, row position) — the Iceberg-position-delete shape
        table_path = os.path.abspath(path)
        desc_df = local_rows_df(
            spark, dvs, "__delta_base string, dv string"
        )

        def expand(batches):
            import pandas as pd

            for pdf in batches:
                rows = {"__delta_base": [], "__delta_pos": []}
                for base, dvj in zip(pdf["__delta_base"], pdf["dv"]):
                    for p in _read_dv_positions(
                        json.loads(dvj), table_path
                    ):
                        rows["__delta_base"].append(base)
                        rows["__delta_pos"].append(p)
                yield pd.DataFrame(rows)

        del_df = desc_df.mapInPandas(
            expand, "__delta_base string, __delta_pos bigint"
        )
        df = df.join(
            del_df, ["__delta_base", "__delta_pos"], "left_anti"
        ).drop("__delta_pos")
    if part_cols:
        # file -> partition values map, broadcast-joined on the scan
        # basename.  Under column mapping, partitionValues keys are
        # PHYSICAL names (PROTOCOL.md writer requirements) while
        # partitionColumns are logical — translate per column.
        logical_to_phys = (
            {v: k for k, v in mapping.items()} if mapping else {}
        )
        file_to_vals = []
        for a, f in zip(adds, files):
            pv = a.get("partitionValues") or {}
            vals = []
            for c in part_cols:
                k = logical_to_phys.get(c, c)
                if k not in pv:
                    raise DeltaError(
                        f"add {a['path']}: partitionValues missing {k!r}"
                    )
                vals.append(pv[k])
            file_to_vals.append((os.path.abspath(f), vals))
        df = attach_file_values(
            df, spark, file_to_vals, part_cols,
            err_cls=DeltaError, tag="delta", key_col="__delta_base",
        )
        for c in part_cols:
            typ = type_by_name.get(c, "string")
            df = df.withColumn(
                c, F.col(f"__pv_{c}").cast(typ)
            ).drop(f"__pv_{c}")
    if need_key:
        df = df.drop("__delta_base")
    return df.filter(where) if where else df


# ---------------------------------------------------------------------------
# writer (fixture half + usable sink)
# ---------------------------------------------------------------------------


def _commit0_meta(spark: SparkSession, path: str) -> dict:
    """CURRENT metaData for the writer.  Fast path: scan the JSON
    commits newest-first for the latest metaData action (metaData can
    change mid-log — e.g. a rename_delta_columns commit — so commit 0
    alone is not authoritative); full snapshot replay as the fallback
    when every metaData-carrying commit has been checkpointed away."""
    try:
        commits, _cps = _list_log(path)
    except DeltaError:
        commits = []
    for v in sorted(commits, reverse=True):
        cpath = os.path.join(path, _LOG, _commit_name(v))
        if not os.path.exists(cpath):
            continue
        with open(cpath, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "metaData" in a:
                        return a["metaData"]
    meta, _adds = delta_snapshot_files(spark, path)
    return meta


def _file_stats(path: str) -> dict:
    """Per-file add-action stats (PROTOCOL.md 'Per-file Statistics'):
    numRecords from the parquet footer plus minValues/maxValues per
    column from the row-group statistics — footer-only, no data read.
    Keys are the columns' names AS WRITTEN (physical names under
    column mapping, exactly the protocol's rule).  Only
    JSON-representable stat values are recorded; anything else is
    simply omitted (data skipping is advisory)."""
    stats: dict = {}
    try:
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
        stats["numRecords"] = md.num_rows
        mins: dict = {}
        maxs: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                if not isinstance(st.min, (int, float, str, bool)):
                    continue
                name = c.path_in_schema
                if name not in mins or st.min < mins[name]:
                    mins[name] = st.min
                if name not in maxs or st.max > maxs[name]:
                    maxs[name] = st.max
        if mins:
            stats["minValues"] = mins
            stats["maxValues"] = maxs
    except Exception:
        pass  # unreadable footer: no stats (data skipping is advisory)
    return stats


def _coerce_partition_value(raw: str, typ: str):
    if raw is None:
        return None
    try:
        if typ in ("int", "bigint", "smallint", "tinyint"):
            return int(raw)
        if typ in ("double", "float"):
            return float(raw)
        if typ == "boolean":
            return raw.lower() == "true"
        if typ == "string":
            return raw
    except (TypeError, ValueError):
        return None
    return None


def _add_survives(
    a: dict,
    conjuncts,
    part_cols: list[str],
    type_by_name: dict[str, str],
    logical_to_phys: dict[str, str],
) -> bool:
    """Delta data skipping: False only when an add action's stats
    (minValues/maxValues) or partitionValues PROVE no row matches a
    conjunct.  Missing stats always survive."""
    try:
        stats = json.loads(a["stats"]) if a.get("stats") else {}
    except (TypeError, ValueError):
        stats = {}
    minv = stats.get("minValues") or {}
    maxv = stats.get("maxValues") or {}
    pv = a.get("partitionValues") or {}
    for col, op, val in conjuncts:
        t = type_by_name.get(col)
        if t is None:
            continue
        if isinstance(val, str) != (t == "string"):
            continue
        phys = logical_to_phys.get(col, col)
        if col in part_cols:
            point = _coerce_partition_value(pv.get(phys), t)
            if point is None:
                continue
            if not range_survives(point, point, op, val):
                return False
        else:
            if not range_survives(
                minv.get(phys), maxv.get(phys), op, val
            ):
                return False
    return True


def delta_plan_files(
    spark: SparkSession,
    path: str,
    *,
    where: str | None = None,
    version: int | None = None,
) -> tuple[int, int]:
    """(files kept after data skipping, total live files) — the
    metadata-side scan plan for a predicate, without reading data."""
    meta, adds = delta_snapshot_files(spark, path, version=version)
    total = len(adds)
    if not where:
        return total, total
    part_cols = meta.get("partitionColumns") or []
    struct = _schema_struct(meta)
    type_by_name = {
        f.name: f.dataType.simpleString() for f in struct.fields
    }
    mapping = _column_mapping(meta)
    l2p = {v: k for k, v in mapping.items()} if mapping else {}
    conjuncts = parse_conjuncts(where)
    kept = sum(
        1 for a in adds
        if _add_survives(a, conjuncts, part_cols, type_by_name, l2p)
    )
    return kept, total


def write_delta_commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    partition_by: list[str] | None = None,
    replace_partitions: bool = False,
    column_mapping: bool | str = False,
    enable_cdf: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Append ``df`` as one Delta commit (commit 0 also writes
    metaData + protocol).  With ``replace_partitions`` the commit
    first removes every live file whose partitionValues match a
    partition present in ``df`` (dynamic-partition overwrite).
    ``column_mapping`` on commit 0 creates the table in column
    mapping mode ``'name'`` (``True`` is an alias) or ``'id'``:
    parquet files carry generated physical column names, the
    schemaString annotates each field with
    ``delta.columnMapping.id`` + ``physicalName``, and
    partitionValues are keyed by physical name (PROTOCOL.md writer
    requirements).  'id' mode additionally stamps parquet field ids
    into every data file (the spec requires it; the reader resolves
    columns by id).  ``enable_cdf=True`` on commit 0 sets
    ``delta.enableChangeDataFeed`` (and writer protocol 4, the CDF
    floor) so ``read_delta_changes`` accepts the table."""
    cm_mode = {True: "name", False: None}.get(
        column_mapping, column_mapping
    )
    if cm_mode not in (None, "name", "id"):
        raise DeltaError(
            f"column_mapping must be False/True/'name'/'id', "
            f"got {column_mapping!r}"
        )
    partition_by = list(partition_by or [])
    log = os.path.join(path, _LOG)
    os.makedirs(log, exist_ok=True)
    commits, checkpoints = ([], [])
    try:
        commits, checkpoints = _list_log(path)
    except DeltaError:
        pass
    version = max(commits + checkpoints, default=-1) + 1
    actions: list[dict] = []
    ts = int(time.time() * 1000)
    phys_of: dict[str, str] = {}  # logical -> physical (mapping mode)
    ids_of: dict[str, int] = {}  # logical -> column id (id mode)
    if version == 0:
        if cm_mode:
            phys_of = {
                f.name: "col-" + uuid.uuid5(
                    uuid.NAMESPACE_URL, f"delta-cm/{f.name}"
                ).hex[:16]
                for f in df.schema.fields
            }
            ids_of = {
                f.name: i + 1
                for i, f in enumerate(df.schema.fields)
            }
        schema = {
            "type": "struct",
            "fields": [
                # jsonValue() = protocol type names ("integer", not
                # the DDL "int") so schemaString parses as Spark JSON
                {"name": f.name, "type": f.dataType.jsonValue(),
                 "nullable": True,
                 "metadata": (
                     {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName":
                          phys_of[f.name]}
                     if phys_of else {}
                 )}
                for i, f in enumerate(df.schema.fields)
            ],
        }
        proto = (
            {"minReaderVersion": 2, "minWriterVersion": 5}
            if cm_mode
            else {"minReaderVersion": 1,
                  "minWriterVersion": 4 if enable_cdf else 2}
        )
        conf = (
            {"delta.columnMapping.mode": cm_mode,
             "delta.columnMapping.maxColumnId":
                 str(len(df.schema.fields))}
            if cm_mode else {}
        )
        if enable_cdf:
            conf = dict(conf)
            conf["delta.enableChangeDataFeed"] = "true"
        actions.append({"protocol": proto})
        actions.append({
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": partition_by,
                "configuration": conf,
                "createdTime": ts,
            }
        })
    else:
        meta0 = _commit0_meta(spark, path)
        cm_mode = _mapping_mode(meta0)
        if cm_mode == "none":
            cm_mode = None
        mapping = _column_mapping(meta0)
        if mapping:
            phys_of = {v: k for k, v in mapping.items()}
        if cm_mode == "id":
            ids_of = _ids_by_logical(meta0)
    # ONE write (hive layout via partitionBy) per commit — not a job
    # per partition
    phys = [phys_of.get(c, c) for c in partition_by]
    out_df = df
    if phys_of:
        if cm_mode == "id":
            # stamp parquet field ids = delta.columnMapping.id so the
            # reader's id resolution finds them (spec requirement)
            missing_ids = [c for c in df.columns if c not in ids_of]
            if missing_ids:
                raise DeltaError(
                    f"columns {missing_ids} not in the table schema "
                    "(id-mode writes need a column id per column)"
                )
            out_df = df.select(
                *[F.col(f"`{c}`").alias(
                    phys_of.get(c, c),
                    metadata={"parquet.field.id": ids_of[c]},
                ) for c in df.columns]
            )
        else:
            out_df = df.select(
                *[F.col(f"`{c}`").alias(phys_of.get(c, c))
                  for c in df.columns]
            )
    tmp = os.path.join(path, f"_tmp_commit_{uuid.uuid4().hex[:8]}")
    # Row values are untouched by the physical rename, so a tagged
    # local frame's rows ARE out_df's rows.  Per-commit stats come from
    # the parquet FOOTERS (_file_stats) and the written partition set
    # from the tmp layout, so no second Spark job re-executes ``df``
    # (guide §1.2: for compaction-shaped callers that would be the
    # whole table rewrite twice).
    dir_of = write_hive_tmp(out_df, tmp, phys, df, err_cls=DeltaError)
    parts = sorted(dir_of)
    if replace_partitions and version > 0:
        _, adds = delta_snapshot_files(spark, path)
        doomed = set(parts)
        for a in adds:
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(c) for c in phys)
            if key in doomed:
                actions.append({
                    "remove": {"path": a["path"],
                               "deletionTimestamp": ts,
                               "dataChange": True}
                })
    for pt in parts:
        sub = dir_of[pt]
        src_dir = os.path.join(tmp, sub) if sub else tmp
        files = sorted(
            n for n in os.listdir(src_dir) if n.endswith(".parquet")
        )
        if not files:
            raise DeltaError(f"writer: no part files for {sub!r}")
        full_dir = os.path.join(path, sub) if sub else path
        os.makedirs(full_dir, exist_ok=True)
        for k, part in enumerate(files):
            fname = (
                f"part-{version:05d}-{k:03d}-"
                f"{uuid.uuid4().hex[:12]}.parquet"
            )
            rel = os.path.join(sub, fname) if sub else fname
            os.replace(os.path.join(src_dir, part),
                       os.path.join(full_dir, fname))
            add = {
                # protocol: path is URL-encoded ('=' stays literal in
                # hive-style dirs, matching real writers' output)
                "path": urllib.parse.quote(
                    rel.replace(os.sep, "/"), safe="/="
                ),
                "partitionValues": {
                    c: v for c, v in zip(phys, pt)
                },
                "size": os.path.getsize(os.path.join(full_dir, fname)),
                "modificationTime": ts,
                "dataChange": True,
            }
            add["stats"] = json.dumps(
                _file_stats(os.path.join(full_dir, fname))
            )
            actions.append({"add": add})
    shutil.rmtree(tmp, ignore_errors=True)
    if txn is not None:
        # PROTOCOL.md Transaction Identifiers: streaming writers record
        # (appId, version) so a retried micro-batch is detectable — see
        # streaming/lakehouse.py delta_stream_sink
        actions.append({
            "txn": {"appId": txn[0], "version": int(txn[1]),
                    "lastUpdated": ts}
        })
    with open(os.path.join(log, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return version


_CP_DDL = (
    "add struct<path:string,partitionValues:map<string,string>,"
    "size:bigint,modificationTime:bigint,dataChange:boolean,"
    "stats:string,deletionVector:struct<storageType:string,"
    "pathOrInlineDv:string,offset:int,sizeInBytes:int,"
    "cardinality:bigint>>, "
    "remove struct<path:string,deletionTimestamp:bigint,"
    "dataChange:boolean>, "
    "metaData struct<id:string,schemaString:string,"
    "partitionColumns:string,configuration:string,"
    "createdTime:bigint>, "
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>"
)
_CP_V2_DDL = _CP_DDL + (
    ", checkpointMetadata struct<version:bigint>"
    ", sidecar struct<path:string,sizeInBytes:bigint>"
)


def _write_cp_parquet(spark, path, rows, ddl, out_path) -> None:
    """Write one checkpoint parquet.  Fast path: DRIVER-SIDE pyarrow —
    checkpoint rows are metadata the driver already holds (guide §5:
    the driver should do almost no data work, and a distributed write
    of a driver-local action list is exactly that work plus two Python
    round-trip jobs).  The arrow schema comes from the same DDL the
    old from_json path used, so Spark reads the file identically
    (pinned by tests/test_r12_opt.py).  Falls back to the original
    Spark job if pyarrow is unavailable."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        struct = StructType.fromDDL(ddl)
        schema = to_arrow_schema(struct)
        names = set(schema.names)
        clean = [
            {k: v for k, v in r.items() if k in names} for r in rows
        ]
        tbl = pa.Table.from_pylist(clean, schema=schema)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        pq.write_table(tbl, out_path, compression="snappy")
        return
    except Exception:
        # no pyarrow, or a row shape the arrow conversion cannot
        # express — the Spark job below is always-correct (slower)
        try:
            os.remove(out_path)
        except OSError:
            pass
    import pandas as pd

    pdf = pd.DataFrame({"json": [json.dumps(r) for r in rows]})
    parsed = spark.createDataFrame(pdf).select(
        F.from_json("json", ddl).alias("a")
    ).select("a.*")
    cp_tmp = os.path.join(path, _LOG, f"_cp_tmp_{uuid.uuid4().hex[:8]}")
    parsed.coalesce(1).write.mode("overwrite").parquet(cp_tmp)
    part = [n for n in os.listdir(cp_tmp) if n.endswith(".parquet")]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    os.replace(os.path.join(cp_tmp, part[0]), out_path)
    for leftover in os.listdir(cp_tmp):
        os.remove(os.path.join(cp_tmp, leftover))
    os.rmdir(cp_tmp)


def rename_delta_columns(
    spark: SparkSession, path: str, renames: dict[str, str]
) -> int:
    """Append a metadata-only commit renaming LOGICAL column names.
    Column-mapping tables only: ``delta.columnMapping.id`` and
    ``physicalName`` are preserved, so existing data files keep
    resolving (by id in 'id' mode, by physical name in 'name' mode) —
    that is the protocol's whole point.  partitionColumns entries
    rename along (they are logical names).  Returns the commit
    version."""
    meta, _adds = delta_snapshot_files(spark, path)
    mode = _mapping_mode(meta)
    if mode == "none":
        raise DeltaError(
            "renaming columns requires column mapping ('name' or "
            "'id') — without it existing files would stop resolving"
        )
    schema = json.loads(meta["schemaString"])
    names = {f["name"] for f in schema.get("fields", [])}
    for old, new in renames.items():
        if old not in names:
            raise DeltaError(f"rename source {old!r} not in schema")
        if new in names - {old} or new in renames:
            raise DeltaError(f"rename target {new!r} collides")
    for f in schema.get("fields", []):
        if f["name"] in renames:
            f["name"] = renames[f["name"]]
    part_cols = [
        renames.get(c, c) for c in meta.get("partitionColumns") or []
    ]
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    action = {"metaData": {
        "id": meta.get("id") or str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": part_cols,
        "configuration": meta.get("configuration") or {},
        "createdTime": meta.get("createdTime")
        or int(time.time() * 1000),
    }}
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        fh.write(json.dumps(action) + "\n")
    return version


def _metadata_only_commit(
    path: str, meta: dict, schema: dict,
    part_cols: list[str], configuration: dict,
) -> int:
    """Append one commit carrying only a metaData action (the shape
    rename/drop/add evolution share)."""
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    action = {"metaData": {
        "id": meta.get("id") or str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": part_cols,
        "configuration": configuration,
        "createdTime": meta.get("createdTime")
        or int(time.time() * 1000),
    }}
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        fh.write(json.dumps(action) + "\n")
    return version


def drop_delta_columns(
    spark: SparkSession, path: str, drops: list[str]
) -> int:
    """Append a metadata-only commit LOGICALLY dropping columns.
    Column-mapping tables only (PROTOCOL.md: DROP COLUMN requires
    mapping — without it the physical column would keep resolving by
    name): the field leaves the schemaString, so old files' physical
    column is never read again (the reader projects exactly the
    mapped physical names), while the bytes stay on disk untouched.
    ``delta.columnMapping.maxColumnId`` is NOT lowered — a later
    re-add of the same logical name mints a FRESH id and physicalName
    (see :func:`add_delta_columns`), so dropped data can never
    resurrect.  Partition columns refuse to drop while
    partitionColumns references them.  Returns the commit version."""
    drops = list(drops)
    if not drops:
        raise DeltaError("drop with no columns")
    meta, _adds = delta_snapshot_files(spark, path)
    if _mapping_mode(meta) == "none":
        raise DeltaError(
            "dropping columns requires column mapping ('name' or "
            "'id') — without it the physical column would keep "
            "resolving by name in old files"
        )
    schema = json.loads(meta["schemaString"])
    names = {f["name"] for f in schema.get("fields", [])}
    part_cols = meta.get("partitionColumns") or []
    for d in drops:
        if d not in names:
            raise DeltaError(f"drop column {d!r} not in schema")
        if d in part_cols:
            raise DeltaError(
                f"cannot drop {d!r}: partitionColumns references it"
            )
    remaining = [
        f for f in schema.get("fields", []) if f["name"] not in drops
    ]
    if not remaining:
        raise DeltaError("cannot drop every column")
    schema = dict(schema)
    schema["fields"] = remaining
    return _metadata_only_commit(
        path, meta, schema, list(part_cols),
        dict(meta.get("configuration") or {}),
    )


_DDL_TO_SCHEMA_JSON = {
    "int": "integer", "integer": "integer", "bigint": "long",
    "long": "long", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "date": "date",
}


def add_delta_columns(
    spark: SparkSession, path: str, adds: list[tuple[str, str]]
) -> int:
    """Append a metadata-only commit ADDING columns to a
    column-mapping table.  Each new column mints a FRESH
    ``delta.columnMapping.id`` (maxColumnId + 1, bumped in the table
    configuration) and a fresh ``physicalName`` derived from (name,
    new id) — so re-adding a previously DROPPED logical name can
    never resolve to the dropped column's old physical data (the
    no-resurrection guarantee; old files read the new column as
    null).  ``adds`` is ``[(name, spark ddl type), ...]``.  Returns
    the commit version."""
    adds = list(adds)
    if not adds:
        raise DeltaError("add with no columns")
    meta, _snapshot_adds = delta_snapshot_files(spark, path)
    if _mapping_mode(meta) == "none":
        raise DeltaError(
            "add_delta_columns requires column mapping ('name' or "
            "'id'); tables without mapping take new columns through "
            "a rewriting write instead"
        )
    schema = json.loads(meta["schemaString"])
    names = {f["name"] for f in schema.get("fields", [])}
    conf = dict(meta.get("configuration") or {})
    max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
    fields = list(schema.get("fields", []))
    for name, ddl in adds:
        if name in names:
            raise DeltaError(f"added column {name!r} already exists")
        jt = _DDL_TO_SCHEMA_JSON.get(ddl)
        if jt is None:
            raise DeltaError(
                f"added column type {ddl!r} unsupported "
                f"(one of {sorted(set(_DDL_TO_SCHEMA_JSON))})"
            )
        max_id += 1
        # the fresh id participates in the physical name so a re-add
        # after a drop NEVER reproduces the dropped physicalName
        # (commit-0 names hash the name alone; ids there start fresh)
        phys = "col-" + uuid.uuid5(
            uuid.NAMESPACE_URL, f"delta-cm/{name}/{max_id}"
        ).hex[:16]
        fields.append({
            "name": name, "type": jt, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": max_id,
                "delta.columnMapping.physicalName": phys,
            },
        })
        names.add(name)
    conf["delta.columnMapping.maxColumnId"] = str(max_id)
    schema = dict(schema)
    schema["fields"] = fields
    return _metadata_only_commit(
        path, meta, schema,
        list(meta.get("partitionColumns") or []), conf,
    )


def write_delta_checkpoint(
    spark: SparkSession, path: str, *, style: str = "classic"
) -> int:
    """Collapse the current snapshot into a checkpoint at the latest
    version (plus ``_last_checkpoint``).  ``style``: ``classic`` (one
    ``n.checkpoint.parquet``), ``multipart``
    (``n.checkpoint.<part>.<parts>.parquet`` — the file actions split
    across two parts), or ``v2`` (``n.checkpoint.<uuid>.parquet`` top
    level carrying checkpointMetadata/metaData/protocol + a sidecar
    reference; the file actions in ``_sidecars/<uuid>.parquet``)."""
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints)
    meta, adds = delta_snapshot_files(spark, path)
    add_rows = [
        {"add": a, "remove": None, "metaData": None, "protocol": None}
        for a in adds
    ]
    meta_row = dict(meta)
    meta_row["partitionColumns"] = json.dumps(
        meta.get("partitionColumns") or []
    )
    # configuration must survive checkpointing: dropping it would
    # silently strip column-mapping mode from a bootstrapped snapshot
    meta_row["configuration"] = json.dumps(
        meta.get("configuration") or {}
    )
    feats = []
    if _column_mapping(meta):
        feats.append("columnMapping")
    if any(a.get("deletionVector") for a in adds):
        feats.append("deletionVectors")
    if style == "v2":
        # the spec requires tables with V2 checkpoints to carry the
        # v2Checkpoint table feature — declare it so foreign readers
        # see a protocol-conformant table
        feats = sorted(set(feats) | {"v2Checkpoint"})
    if "deletionVectors" in feats or "v2Checkpoint" in feats:
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": feats, "writerFeatures": feats}
    elif feats:
        proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    else:
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    head_rows = [
        {"add": None, "remove": None, "metaData": meta_row,
         "protocol": None},
        {"add": None, "remove": None, "metaData": None,
         "protocol": proto},
    ]
    log = os.path.join(path, _LOG)
    last = {"version": version, "size": len(add_rows) + 2}
    if style == "classic":
        _write_cp_parquet(
            spark, path, add_rows + head_rows, _CP_DDL,
            os.path.join(log, f"{version:020d}.checkpoint.parquet"),
        )
    elif style == "multipart":
        half = max(1, len(add_rows) // 2)
        parts = [add_rows[:half] + head_rows, add_rows[half:]]
        for i, rows in enumerate(parts, start=1):
            _write_cp_parquet(
                spark, path, rows, _CP_DDL,
                os.path.join(
                    log,
                    f"{version:020d}.checkpoint."
                    f"{i:010d}.{len(parts):010d}.parquet",
                ),
            )
        last["parts"] = len(parts)
    elif style == "v2":
        side_name = f"{uuid.uuid4()}.parquet"
        side_path = os.path.join(log, "_sidecars", side_name)
        _write_cp_parquet(spark, path, add_rows, _CP_DDL, side_path)
        top = [
            {"checkpointMetadata": {"version": version}},
            {"sidecar": {
                "path": side_name,
                "sizeInBytes": os.path.getsize(side_path),
            }},
        ] + [
            {**r, "checkpointMetadata": None, "sidecar": None}
            for r in head_rows
        ]
        _write_cp_parquet(
            spark, path, top, _CP_V2_DDL,
            os.path.join(
                log, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
            ),
        )
    else:
        raise DeltaError(f"unknown checkpoint style {style!r}")
    with open(os.path.join(log, "_last_checkpoint"), "w",
              encoding="utf-8") as fh:
        fh.write(json.dumps(last))
    return version


def write_delta_delete_rows(
    spark: SparkSession,
    path: str,
    deletes: dict[str, list[int]],
) -> int:
    """Append one deletion-vector commit: ``deletes`` maps an add
    action's (encoded) relative path to row positions to tombstone.
    Per target the commit removes the old add and re-adds the SAME
    data file with a deletionVector descriptor (storageType 'p')
    pointing into one shared DV file (1-byte version, then per DV a
    big-endian length + RoaringBitmapArray payload + CRC-32).  The
    commit also upgrades the protocol to reader 3 / writer 7 with the
    deletionVectors feature.  Returns the commit version."""
    import struct as _struct
    import zlib

    from ..operators.roaring import roaring64_encode

    if not deletes:
        raise DeltaError("empty delete set")
    meta, adds = delta_snapshot_files(spark, path)
    by_path = {a["path"]: a for a in adds}
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    ts = int(time.time() * 1000)
    dv_file = os.path.join(
        path, f"deletion_vector_{uuid.uuid4()}.bin"
    )
    blob = bytearray(b"\x01")
    actions: list[dict] = []
    feats = ["deletionVectors"]
    if _column_mapping(meta):
        feats.append("columnMapping")
    actions.append({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(feats),
        "writerFeatures": sorted(feats),
    }})
    for rel, positions in sorted(deletes.items()):
        a = by_path.get(rel)
        if a is None:
            raise DeltaError(f"no live add action for {rel!r}")
        if a.get("deletionVector"):
            raise DeltaError(
                f"{rel!r} already carries a DV (merge unsupported — "
                "delete against the merged positions instead)"
            )
        vals = sorted({int(p) for p in positions})
        if not vals:
            raise DeltaError(f"empty position list for {rel!r}")
        data = roaring64_encode(vals)
        offset = len(blob)
        blob += _struct.pack(">I", len(data)) + data
        blob += _struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        actions.append({"remove": {
            "path": rel, "deletionTimestamp": ts, "dataChange": True,
        }})
        new_add = {
            k: v for k, v in a.items() if k != "deletionVector"
        }
        new_add["dataChange"] = True
        new_add["modificationTime"] = ts
        new_add["deletionVector"] = {
            "storageType": "p",
            "pathOrInlineDv": os.path.abspath(dv_file),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": len(vals),
        }
        actions.append({"add": new_add})
    with open(dv_file, "wb") as fh:
        fh.write(bytes(blob))
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return version


# ---------------------------------------------------------------------------
# Change Data Feed (round 11)
# ---------------------------------------------------------------------------

_CHANGE_DIR = "_change_data"


def _commit_actions(path: str, v: int) -> list[dict]:
    cpath = os.path.join(path, _LOG, _commit_name(v))
    out = []
    with open(cpath, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def read_delta_changes(
    spark: SparkSession,
    path: str,
    *,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Delta Change Data Feed read over
    ``[starting_version, ending_version]`` (PROTOCOL.md 'Add CDC
    File' + the public CDF semantics).  Returns the table columns
    plus ``_change_type`` ('insert' / 'delete' /
    'update_preimage' / 'update_postimage') and ``_commit_version``.

    Per commit: when ``cdc`` actions exist their ``_change_data/``
    files ARE the change set (the data files' add/remove actions are
    ignored for CDF, per the spec); otherwise changes are
    SYNTHESIZED — an add-only commit yields inserts from the added
    files, a remove-only commit yields deletes read from the removed
    files (still on disk until vacuum; a vacuumed file fails the scan
    loudly), and a commit with BOTH adds and removes (dataChange)
    and no cdc action refuses: row-level changes are not inferable
    from a rewrite, exactly as real CDF readers refuse.

    Scale: at most three distributed scans regardless of the version
    span — one per change-file group (cdc / inserts / deletes) —
    with commit version and partition values re-attached via the
    basename broadcast map.  ``_commit_timestamp`` is not emitted
    (this repo's fixtures pin deterministic outputs).  Tables must
    carry ``delta.enableChangeDataFeed=true``; column-mapped tables
    gate loudly (CDF + mapping composition not implemented)."""
    commits, checkpoints = _list_log(path)
    latest = max(commits + checkpoints)
    end = latest if ending_version is None else ending_version
    if starting_version > end:
        raise DeltaError(
            f"starting_version {starting_version} > ending {end}"
        )
    meta, _adds = delta_snapshot_files(spark, path, version=end)
    conf = meta.get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed") != "true":
        raise DeltaError(
            "table does not carry delta.enableChangeDataFeed=true — "
            "change data was never recorded (fail-loud)"
        )
    if _mapping_mode(meta) != "none":
        raise DeltaError(
            "CDF over a column-mapped table unsupported (fail-loud)"
        )
    part_cols = meta.get("partitionColumns") or []
    struct = _schema_struct(meta)
    type_by_name = {
        f.name: f.dataType.simpleString() for f in struct.fields
    }
    data_cols = [f.name for f in struct.fields]

    cdc_group: list[tuple[str, int, dict]] = []
    ins_group: list[tuple[str, int, dict]] = []
    del_group: list[tuple[str, int, dict]] = []
    for v in range(starting_version, end + 1):
        cpath = os.path.join(path, _LOG, _commit_name(v))
        if not os.path.exists(cpath):
            raise DeltaError(
                f"commit JSON for version {v} is gone "
                "(checkpointed away?) — CDF needs per-commit actions"
            )
        cdcs: list[dict] = []
        adds_dc: list[dict] = []
        removes_dc: list[dict] = []
        for action in _commit_actions(path, v):
            if "cdc" in action:
                cdcs.append(action["cdc"])
            elif "add" in action and action["add"].get(
                "dataChange", True
            ):
                adds_dc.append(action["add"])
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                removes_dc.append(action["remove"])
        if cdcs:
            cdc_group += [
                (os.path.join(path, _decode_path(c["path"])), v,
                 c.get("partitionValues") or {})
                for c in cdcs
            ]
        elif adds_dc and removes_dc:
            raise DeltaError(
                f"commit {v} rewrites files (adds AND removes with "
                "dataChange) and carries no cdc action — row-level "
                "changes are not inferable (fail-loud)"
            )
        elif adds_dc:
            ins_group += [
                (os.path.join(path, _decode_path(a["path"])), v,
                 a.get("partitionValues") or {})
                for a in adds_dc
            ]
        elif removes_dc:
            # remove actions may omit partitionValues — recover them
            # from the prior version's live-add map
            prior: dict[str, dict] = {}
            if part_cols:
                _m, padds = delta_snapshot_files(
                    spark, path, version=v - 1
                )
                prior = {
                    a["path"]: a.get("partitionValues") or {}
                    for a in padds
                }
            for r in removes_dc:
                pv = r.get("partitionValues")
                if pv is None and part_cols:
                    if r["path"] not in prior:
                        raise DeltaError(
                            f"commit {v} removes {r['path']!r} which "
                            "was not live at the prior version"
                        )
                    pv = prior[r["path"]]
                del_group.append((
                    os.path.join(path, _decode_path(r["path"])), v,
                    pv or {},
                ))

    def scan(group, fixed_type):
        files = [g[0] for g in group]
        df = spark.read.parquet(*files)
        vals = [
            (os.path.abspath(p),
             [str(v)] + [
                 pv.get(c) if pv.get(c) is not None else None
                 for c in part_cols
             ])
            for p, v, pv in group
        ]
        df = attach_file_values(
            df, spark, vals, ["cdfver"] + part_cols,
            err_cls=DeltaError, tag="cdf",
        )
        for c in part_cols:
            df = df.withColumn(
                c, F.col(f"__pv_{c}").cast(type_by_name.get(c, "string"))
            ).drop(f"__pv_{c}")
        df = df.withColumn(
            "_commit_version", F.col("__pv_cdfver").cast("bigint")
        ).drop("__pv_cdfver")
        if fixed_type is not None:
            df = df.withColumn("_change_type", F.lit(fixed_type))
        return df.select(
            *[F.col(f"`{c}`") for c in data_cols],
            "_change_type", "_commit_version",
        )

    pieces = []
    if cdc_group:
        pieces.append(scan(cdc_group, None))
    if ins_group:
        pieces.append(scan(ins_group, "insert"))
    if del_group:
        pieces.append(scan(del_group, "delete"))
    if not pieces:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        empty = StructType(
            list(struct.fields)
            + [StructField("_change_type", StringType(), True),
               StructField("_commit_version", LongType(), True)]
        )
        return local_rows_df(spark, [], empty)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _move_single_parquet(spark, df: DataFrame, path: str,
                         final_path: str) -> int:
    """Write ``df`` as one parquet file at ``final_path``; returns its
    size in bytes."""
    tmp = os.path.join(path, f"_tmp_cdc_{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        n for n in sorted(os.listdir(tmp)) if n.endswith(".parquet")
    )
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    os.replace(os.path.join(tmp, part), final_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return os.path.getsize(final_path)


def _cdf_rewrite_local(
    spark: SparkSession,
    path: str,
    snap: DataFrame,
    condition: str,
    assignments: dict[str, str] | None,
    new_path: str,
    cdc_path: str,
) -> bool:
    """Driver-side half of a size-gated CDF rewrite: ONE Spark job
    collects the snapshot's columns plus the condition flags and (for
    UPDATE) the assignment values — all still computed by Spark SQL,
    so expression semantics (null conditions, casts) are identical to
    the distributed path — then pyarrow writes the rewritten table
    file and the cdc file.  Returns False (caller runs the original
    two-write-job path) when a type falls outside the pinned set."""
    if not fast_schema(snap.schema):
        return False
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType
    cols = snap.columns
    probe_cols = [F.col(f"`{c}`") for c in cols]
    # __m mirrors filter(condition): TRUE only; __nm mirrors
    # filter(NOT condition) for the DELETE survivor set (a NULL
    # condition drops the row from BOTH outputs, exactly as before)
    probe_cols.append(
        F.coalesce(F.expr(f"({condition})"), F.lit(False)).alias("__m")
    )
    if assignments is None:
        probe_cols.append(
            F.coalesce(
                F.expr(f"(NOT ({condition}))"), F.lit(False)
            ).alias("__nm")
        )
    else:
        # the SAME when/otherwise expression the distributed new_df
        # uses — Spark performs the type unification and evaluation,
        # so the collected value IS the rewritten cell
        for c in assignments:
            probe_cols.append(
                F.when(F.expr(condition), F.expr(assignments[c]))
                .otherwise(F.col(f"`{c}`")).alias(f"__new_{c}")
            )
    probe = snap.select(*probe_cols)
    if assignments is not None:
        # the distributed path's output schema is the when/otherwise
        # UNIFIED type; decline when unification widened a column (the
        # pyarrow write below would silently narrow it back)
        for c in assignments:
            if (
                probe.schema[f"__new_{c}"].dataType
                != snap.schema[c].dataType
            ):
                return False
    try:
        rows = probe.collect()
    except Exception:
        return False
    n = len(cols)
    base = [tuple(r[i] for i in range(n)) for r in rows]
    if assignments is not None:
        new_idx = {c: n + 1 + k for k, c in enumerate(assignments)}
        post = [
            tuple(
                r[new_idx[c]] if c in assignments else r[i]
                for i, c in enumerate(cols)
            )
            for r in rows
        ]
        m = [bool(r[n]) for r in rows]
        new_rows = post  # when/otherwise already folded unmatched rows
        cdc_rows = (
            [b + ("update_preimage",) for b, mm in zip(base, m) if mm]
            + [p + ("update_postimage",) for p, mm in zip(post, m) if mm]
        )
    else:
        m = [bool(r[n]) for r in rows]
        nm = [bool(r[n + 1]) for r in rows]
        new_rows = [b for b, keep in zip(base, nm) if keep]
        cdc_rows = [b + ("delete",) for b, mm in zip(base, m) if mm]
    try:
        data_schema = to_arrow_schema(snap.schema)
        cdc_schema = to_arrow_schema(StructType(
            list(snap.schema.fields)
            + [StructField("_change_type", StringType(), True)]
        ))
        for out_path, schema, rws in (
            (new_path, data_schema, new_rows),
            (cdc_path, cdc_schema, cdc_rows),
        ):
            arrs = [
                pa.array([r[i] for r in rws], type=schema.types[i])
                for i in range(len(schema.names))
            ]
            os.makedirs(os.path.dirname(out_path), exist_ok=True)
            pq.write_table(
                pa.Table.from_arrays(arrs, schema=schema),
                out_path, compression="snappy",
            )
    except Exception:
        for p in (new_path, cdc_path):
            try:
                os.remove(p)
            except OSError:
                pass
        return False
    return True


def _cdf_rewrite(
    spark: SparkSession,
    path: str,
    condition: str,
    assignments: dict[str, str] | None,
) -> int:
    """Shared update/delete writer: full rewrite of an UNPARTITIONED,
    unmapped table plus a cdc file carrying the row-level changes.
    ``assignments`` maps column -> SQL expression for UPDATE; None
    means DELETE (matched rows drop, cdc records them as deletes)."""
    meta, adds = delta_snapshot_files(spark, path)
    if meta.get("partitionColumns"):
        raise DeltaError(
            "update/delete_delta_rows_cdf support unpartitioned "
            "tables only"
        )
    if _mapping_mode(meta) != "none":
        raise DeltaError("CDF writers do not support column mapping")
    snap = read_delta(spark, path)
    cols = snap.columns
    if assignments is not None:
        unknown = [c for c in assignments if c not in cols]
        if unknown:
            raise DeltaError(f"assignments reference {unknown}")
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    ts = int(time.time() * 1000)
    fname = f"part-{version:05d}-000-{uuid.uuid4().hex[:12]}.parquet"
    cdc_name = f"cdc-{version:05d}-{uuid.uuid4().hex[:12]}.parquet"
    cdc_rel = f"{_CHANGE_DIR}/{cdc_name}"
    # Size-gated driver path (same adaptive gate as the round-12
    # checkpoint fast path): a CDF rewrite on a fixture-sized table
    # used to cost TWO scans + TWO write jobs; under the gate ONE
    # Spark job collects the columns plus the CONDITION/ASSIGNMENT
    # values (still evaluated by Spark SQL — semantics untouched) and
    # pyarrow writes both files driver-side.  At scale the gate never
    # opens and the distributed rewrite below runs unchanged.
    total_live = sum(int(a.get("size") or 0) for a in adds)
    done = False
    if total_live <= _CP_DRIVER_BYTES:
        done = _cdf_rewrite_local(
            spark, path, snap, condition, assignments,
            os.path.join(path, fname),
            os.path.join(path, _CHANGE_DIR, cdc_name),
        )
    if done:
        size = os.path.getsize(os.path.join(path, fname))
        cdc_size = os.path.getsize(
            os.path.join(path, _CHANGE_DIR, cdc_name)
        )
    else:
        matched = snap.filter(condition)
        if assignments is not None:
            upd = [
                (F.when(F.expr(condition), F.expr(assignments[c]))
                 .otherwise(F.col(f"`{c}`")).alias(c))
                if c in assignments else F.col(f"`{c}`")
                for c in cols
            ]
            new_df = snap.select(*upd)
            cdc_df = matched.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                matched.select(*upd).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        else:
            new_df = snap.filter(f"NOT ({condition})")
            cdc_df = matched.withColumn(
                "_change_type", F.lit("delete")
            )
        size = _move_single_parquet(
            spark, new_df, path, os.path.join(path, fname)
        )
        cdc_size = _move_single_parquet(
            spark, cdc_df, path,
            os.path.join(path, _CHANGE_DIR, cdc_name),
        )
    actions: list[dict] = [
        {"remove": {"path": a["path"], "deletionTimestamp": ts,
                    "dataChange": True}}
        for a in adds
    ]
    actions.append({"add": {
        "path": fname, "partitionValues": {}, "size": size,
        "modificationTime": ts, "dataChange": True,
    }})
    actions.append({"cdc": {
        "path": cdc_rel, "partitionValues": {}, "size": cdc_size,
        "dataChange": False,
    }})
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return version


def update_delta_rows_cdf(
    spark: SparkSession,
    path: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """UPDATE ... SET with Change Data Feed: rewrites the table's
    data files (remove + add, dataChange=true) and records the
    matched rows' pre/post images in a ``_change_data/`` cdc file, so
    ``read_delta_changes`` (and any real CDF reader) sees
    update_preimage/update_postimage rows instead of refusing the
    rewrite.  Unpartitioned, unmapped tables.  Returns the commit
    version."""
    if not assignments:
        raise DeltaError("update with no assignments")
    return _cdf_rewrite(spark, path, condition, assignments)


def delete_delta_rows_cdf(
    spark: SparkSession, path: str, condition: str
) -> int:
    """DELETE WHERE with Change Data Feed: survivors are rewritten,
    matched rows land in a ``_change_data/`` cdc file as
    ``_change_type='delete'``.  Unpartitioned, unmapped tables.
    Returns the commit version."""
    return _cdf_rewrite(spark, path, condition, None)


def drop_delta_files(
    spark: SparkSession, path: str, rel_paths: list[str]
) -> int:
    """Remove-only commit: drops whole live files (no rewrite, no cdc
    — CDF readers SYNTHESIZE deletes from the removed files, the
    spec's remove-only rule).  ``rel_paths`` are add-action paths as
    recorded in the log.  Returns the commit version."""
    if not rel_paths:
        raise DeltaError("empty drop set")
    meta, adds = delta_snapshot_files(spark, path)
    live = {a["path"]: a for a in adds}
    missing = [p for p in rel_paths if p not in live]
    if missing:
        raise DeltaError(f"paths not live: {missing}")
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    ts = int(time.time() * 1000)
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        for p in rel_paths:
            fh.write(json.dumps({"remove": {
                "path": p, "deletionTimestamp": ts, "dataChange": True,
                "partitionValues": live[p].get("partitionValues") or {},
            }}) + "\n")
    return version


# ---------------------------------------------------------------------------
# table maintenance (round 11): OPTIMIZE + VACUUM
# ---------------------------------------------------------------------------


def compact_delta_files(spark: SparkSession, path: str) -> int:
    """OPTIMIZE-style small-file compaction: per partition, every
    live data file group rewrites into ONE file, committed as
    remove + add actions with ``dataChange=false`` — the protocol's
    signal that no rows changed, which is exactly what keeps Change
    Data Feed readers from reporting a rewrite as churn (and what
    lets concurrent writers treat it as non-conflicting).

    Deletion vectors (round 12): a file carrying a DV is rewritten
    WITH its tombstones MATERIALIZED — the DV positions anti-join the
    scan on ``(basename, _metadata.row_index)`` exactly as the reader
    applies them, so the compacted file holds only live rows and
    carries no DV.  Dropping already-tombstoned rows changes no
    LOGICAL row, so ``dataChange=false`` stays truthful and CDF
    readers still see silence.  A single-file partition with a DV
    compacts too (that IS the materialization case); DV-free
    single-file partitions are left alone.  Returns the commit
    version."""
    meta, adds = delta_snapshot_files(spark, path)
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        groups.setdefault(tuple(sorted(pv.items())), []).append(a)
    commits, checkpoints = _list_log(path)
    version = max(commits + checkpoints) + 1
    ts = int(time.time() * 1000)
    table_path = os.path.abspath(path)
    actions: list[dict] = []
    did_work = False
    for key, group in sorted(groups.items()):
        dv_of = {
            a["path"]: a["deletionVector"] for a in group
            if a.get("deletionVector")
            and a["deletionVector"].get("storageType")
        }
        if len(group) < 2 and not dv_of:
            continue
        did_work = True
        pv = dict(key)
        files = [
            os.path.join(path, _decode_path(a["path"])) for a in group
        ]
        sub = os.path.dirname(_decode_path(group[0]["path"]))
        fname = (
            f"part-{version:05d}-opt-{uuid.uuid4().hex[:12]}.parquet"
        )
        rel = f"{sub}/{fname}" if sub else fname
        # Size-gated driver path (same gate as checkpoints/CDF): a
        # fixture-sized group compacts via pyarrow — per-file DV
        # positions dropped driver-side (the same tombstones
        # _read_dv_positions feeds the distributed anti-join), no
        # scan + write job per group.  The compacted row MULTISET is
        # identical; row order is file-concatenation order, which no
        # reader depends on (fresh files carry no DVs; all committed
        # consumers aggregate).  Falls through to the distributed
        # rewrite above the gate or on any non-provable input.
        local_size = _compact_group_local(
            spark, path, files, dv_of, table_path,
            os.path.join(path, sub, fname) if sub
            else os.path.join(path, fname),
        )
        if local_size is not None:
            for a in group:
                actions.append({"remove": {
                    "path": a["path"], "deletionTimestamp": ts,
                    "dataChange": False,
                }})
            actions.append({"add": {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": pv, "size": local_size,
                "modificationTime": ts, "dataChange": False,
            }})
            continue
        df = spark.read.parquet(*files)
        if dv_of:
            # materialize the tombstones: same (basename, row
            # position) anti-join shape as read_delta, positions
            # decoded on executors
            assert_unique_basenames(
                files, err_cls=DeltaError, tag="delta-optimize"
            )
            df = df.select(
                *[F.col(f"`{c}`") for c in df.columns],
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("__opt_base"),
                F.col("_metadata.row_index").alias("__opt_pos"),
            )
            desc_df = local_rows_df(
                spark,
                [
                    (os.path.basename(_decode_path(p)), json.dumps(dv))
                    for p, dv in sorted(dv_of.items())
                ],
                "__opt_base string, dv string",
            )

            def expand(batches):
                import pandas as pd

                for pdf in batches:
                    rows = {"__opt_base": [], "__opt_pos": []}
                    for base, dvj in zip(pdf["__opt_base"], pdf["dv"]):
                        for p_ in _read_dv_positions(
                            json.loads(dvj), table_path
                        ):
                            rows["__opt_base"].append(base)
                            rows["__opt_pos"].append(p_)
                    yield pd.DataFrame(rows)

            del_df = desc_df.mapInPandas(
                expand, "__opt_base string, __opt_pos bigint"
            )
            df = df.join(
                del_df, ["__opt_base", "__opt_pos"], "left_anti"
            ).drop("__opt_base", "__opt_pos")
        size = _move_single_parquet(
            spark, df, path,
            os.path.join(path, sub, fname) if sub
            else os.path.join(path, fname),
        )
        for a in group:
            actions.append({"remove": {
                "path": a["path"], "deletionTimestamp": ts,
                "dataChange": False,
            }})
        actions.append({"add": {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": pv, "size": size,
            "modificationTime": ts, "dataChange": False,
        }})
    if not did_work:
        raise DeltaError("nothing to compact (no multi-file partition)")
    with open(os.path.join(path, _LOG, _commit_name(version)), "w",
              encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return version


def _compact_group_local(
    spark, path: str, files: list[str], dv_of: dict,
    table_path: str, out_path: str,
) -> int | None:
    """Driver-side half of a size-gated OPTIMIZE group rewrite: read
    the group's files with pyarrow, drop each file's DV-tombstoned
    row positions (the same position sets ``_read_dv_positions``
    feeds the distributed anti-join), concatenate, write one snappy
    parquet.  Returns the output size, or None (caller runs the
    distributed rewrite) above the byte gate or on schema drift."""
    if dv_of:
        # DV positions are keyed by basename below, as in the
        # distributed anti-join
        assert_unique_basenames(
            files, err_cls=DeltaError, tag="delta-optimize"
        )
    try:
        if sum(os.path.getsize(f) for f in files) > _CP_DRIVER_BYTES:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        pos_of: dict[str, set] = {}
        for p, dv in dv_of.items():
            base = os.path.basename(_decode_path(p))
            pos_of[base] = set(_read_dv_positions(dv, table_path))
        tables = []
        schema0 = None
        for f in files:
            tbl = pq.read_table(f)
            if schema0 is None:
                schema0 = tbl.schema
            elif tbl.schema != schema0:
                return None  # schema drift: distributed path unifies
            drop = pos_of.get(os.path.basename(f))
            if drop:
                keep = [i for i in range(tbl.num_rows) if i not in drop]
                tbl = tbl.take(keep)
            tables.append(tbl)
        out = pa.concat_tables(tables)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        pq.write_table(out, out_path, compression="snappy")
        return os.path.getsize(out_path)
    except Exception:
        try:
            os.remove(out_path)
        except OSError:
            pass
        return None


def vacuum_delta(
    spark: SparkSession, path: str, *, retain_versions: int = 1
) -> int:
    """VACUUM: physically delete data files referenced by NO retained
    version (the last ``retain_versions`` snapshots).  Time travel
    below the horizon fails at scan time afterwards — exactly real
    Delta's contract.  Retention is by VERSION COUNT, not wall-clock
    (deterministic fixtures need no clock).  ``_delta_log``,
    ``_change_data`` and deletion-vector files are untouched.
    Returns the number of files removed."""
    if retain_versions < 1:
        raise DeltaError("retain_versions must be >= 1")
    commits, checkpoints = _list_log(path)
    latest = max(commits + checkpoints)
    versions = [
        v for v in sorted(set(commits + checkpoints))
        if v > latest - retain_versions
    ]
    keep: set[str] = set()
    for v in versions:
        _m, adds = delta_snapshot_files(spark, path, version=v)
        for a in adds:
            keep.add(
                os.path.abspath(
                    os.path.join(path, _decode_path(a["path"]))
                )
            )
        for a in adds:
            dv = a.get("deletionVector") or {}
            if dv.get("storageType") == "p":
                keep.add(os.path.abspath(dv["pathOrInlineDv"]))
    removed = 0
    for root, dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel.split(os.sep)[0] in (_LOG, _CHANGE_DIR):
            dirs[:] = []
            continue
        for name in files:
            if not name.endswith(".parquet"):
                continue
            full = os.path.abspath(os.path.join(root, name))
            if full not in keep:
                os.remove(full)
                removed += 1
    return removed


def restore_delta(
    spark: SparkSession, path: str, *, version: int
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (the public Delta
    operation): appends ONE commit that removes every file live now but
    not at the target version and re-adds every file live at the target
    but not now — metadata-only table surgery; data files never move,
    and the restore itself is a new version (time travel ABOVE it still
    sees the pre-restore state, exactly like real RESTORE).  When the
    target version's schemaString/configuration differ, the commit
    re-emits the target metaData (RESTORE restores schema too).

    Fail-loud: CDF-enabled tables refuse (a restore is a rewrite
    commit; its change rows are not synthesizable and
    ``read_delta_changes`` would refuse the version anyway — refusing
    at write time is kinder); a re-added file already vacuumed away
    refuses (below the retention horizon, same contract as time
    travel after VACUUM)."""
    meta_now, adds_now = delta_snapshot_files(spark, path)
    conf = meta_now.get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed") == "true":
        raise DeltaError(
            "RESTORE on a Change-Data-Feed table unsupported — the "
            "restore commit's change rows are not synthesizable "
            "(fail-loud)"
        )
    meta_v, adds_v = delta_snapshot_files(spark, path, version=version)
    now_by_path = {a["path"]: a for a in adds_now}
    v_by_path = {a["path"]: a for a in adds_v}
    removes = [p for p in now_by_path if p not in v_by_path]
    readds = [a for p, a in v_by_path.items() if p not in now_by_path]
    for a in readds:
        full = os.path.join(path, _decode_path(a["path"]))
        if not os.path.exists(full):
            raise DeltaError(
                f"cannot restore: file {a['path']!r} was vacuumed away "
                "(below the retention horizon; fail-loud)"
            )
    commits, checkpoints = _list_log(path)
    new_version = max(commits + checkpoints) + 1
    ts = int(time.time() * 1000)
    actions: list[dict] = []
    if (
        meta_v.get("schemaString") != meta_now.get("schemaString")
        or (meta_v.get("configuration") or {}) != conf
        or (meta_v.get("partitionColumns") or [])
        != (meta_now.get("partitionColumns") or [])
    ):
        actions.append({"metaData": meta_v})
    for p in sorted(removes):
        actions.append({
            "remove": {"path": p, "deletionTimestamp": ts,
                       "dataChange": True}
        })
    for a in sorted(readds, key=lambda x: x["path"]):
        actions.append({"add": dict(a, dataChange=True)})
    if not actions:
        raise DeltaError(
            f"RESTORE to version {version} is a no-op — the table "
            "already matches (fail-loud so callers notice)"
        )
    with open(
        os.path.join(path, _LOG, _commit_name(new_version)), "w",
        encoding="utf-8",
    ) as fh:
        for action in actions:
            fh.write(json.dumps(action) + "\n")
    return new_version
