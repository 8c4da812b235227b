"""Spark 4 Python DataSource — the reference's pluggable-source trait, realized.

Reference parity: `io/datasource.rs:87-111` declares a ``DataSource`` trait
(``next_batch`` plus pushdown capability flags) whose only implementation is
an all-``todo!`` ``CsvDataSource``, and `context.rs:8-23` sketches a
datasource registry.  Spark 4's Python DataSource API
(``pyspark.sql.datasource``) is the production form of exactly that idea: a
registered class supplies schema + partition list + per-partition row
iterator, and Spark handles distribution, projection, and planning.

``GraftRangeDataSource`` is a deterministic synthetic source (rows
``(id, val=sqrt(id))`` for ``id`` in ``[0, n)``) split into ``parts`` input
partitions — each partition is read by a separate task, so the source is
genuinely distributed, not a driver-side materialization.

Scale: a custom source's ``partitions()`` list is the unit of parallelism —
at 100 TB the implementor must return enough partitions (and make ``read``
streaming, as here) for the cluster to saturate; nothing is collected on the
driver.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class GraftRangeDataSource(DataSource):
    """``spark.read.format("graft_range").option("n", N).option("parts", P)``."""

    @classmethod
    def name(cls) -> str:
        return "graft_range"

    def schema(self) -> str:
        return "id bigint, val double"

    def reader(self, schema) -> "GraftRangeReader":
        return GraftRangeReader(self.options)

    def writer(self, schema, overwrite: bool) -> "GraftDirWriter":
        return GraftDirWriter(self.options)

    def simpleStreamReader(self, schema) -> "GraftRangeStreamReader":
        return GraftRangeStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "GraftDirStreamWriter":
        return GraftDirStreamWriter(self.options)


class GraftRangeReader(DataSourceReader):
    """Reader with genuine filter pushdown (the reference's
    ``supports_filtering`` capability flag, io/datasource.rs:94-106).

    ``pushFilters`` narrows the generated range for comparison filters on
    ``id`` BEFORE ``partitions()`` is computed, so pruned rows are never
    generated and fully-pruned partitions never become tasks.  Unsupported
    filters are returned for Spark to re-apply post-scan (the v2 contract).
    Limit pushdown has no hook in the Spark 4.1 Python DataSource API —
    documented in COVERAGE.md.
    """

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = max(1, int(options.get("parts", 8)))
        self.lo = 0
        self.hi = self.n

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            value = getattr(f, "value", None)
            if tuple(attr or ()) == ("id",) and isinstance(value, int):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, value + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, value)
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, value)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, value + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, value)
                    self.hi = min(self.hi, value + 1)
                    continue
            yield f  # not handled — Spark re-applies it after the scan

    def partitions(self):
        lo, hi = self.lo, min(self.hi, self.n)
        if hi <= lo:
            return [_RangePartition(0, 0)]  # fully pruned
        span = hi - lo
        step = max(1, -(-span // self.parts))
        return [_RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, math.sqrt(i))


def register(spark: SparkSession) -> None:
    """Idempotently register the source with this session."""
    spark.dataSource.register(GraftRangeDataSource)


# ---------------------------------------------------------------------------
# Write path (Spark 4 DataSourceWriter) — completes the connector: the
# reference's trait stopped at reads; this adds the sink half with the
# commit protocol that makes distributed writes exactly-once.
# ---------------------------------------------------------------------------


class _PartFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class GraftDirWriter(DataSourceWriter):
    """JSON-lines directory sink with a manifest commit protocol.

    Each task streams its partition to a uniquely-named part file (safe
    under task retries — a retried attempt writes a NEW file) and returns a
    commit message; ``commit`` (driver, runs once, only after every task
    succeeded) writes ``_MANIFEST`` naming exactly the committed files.
    Readers trust only the manifest, so half-written files from failed or
    speculative attempts are invisible — the same design as Spark's file
    commit protocol and table-format transaction logs, in ~40 lines.
    ``abort`` removes whatever was written.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("graft_range write requires .option('path', ...)")

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fname, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartFile(fname, n)

    def commit(self, messages):
        import json as _json
        import os

        manifest = {
            "files": sorted(os.path.basename(m.path) for m in messages if m),
            "rows": sum(m.rows for m in messages if m),
        }
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            fh.write(_json.dumps(manifest))

    def abort(self, messages):
        import os

        for m in messages:
            if m and os.path.exists(m.path):
                os.remove(m.path)


def read_manifest_dir(spark: SparkSession, path: str, schema):
    """Read back a GraftDirWriter directory: only files the manifest names —
    uncommitted part files (failed/speculative attempts) are ignored."""
    import json as _json
    import os

    with open(os.path.join(path, "_MANIFEST")) as fh:
        manifest = _json.loads(fh.read())
    files = [os.path.join(path, f) for f in manifest["files"]]
    if not files:
        from .lakehouse_util import local_rows_df

        return local_rows_df(spark, [], schema)
    return spark.read.schema(schema).json(files)


class GraftRangeStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the same source (Spark 4
    ``SimpleDataSourceStreamReader``): each micro-batch emits the next
    ``batch_rows`` ids until ``n`` — offsets are plain dicts, so restarts
    and ``readBetweenOffsets`` replay EXACTLY (the source is a pure function
    of the offset range: deterministic, idempotent, the property an
    exactly-once streaming pipeline needs from its source).

    Completes the reference's pluggable-source matrix: batch read (+filter
    pushdown), batch write (manifest commit), and now a streaming read —
    `io/datasource.rs` never got past the batch-read todo!.
    """

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.batch_rows = int(options.get("batch_rows", 100))

    def initialOffset(self):
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        # a LIST, not a generator: the prefetch cache pickles read()'s result
        return [(i, math.sqrt(i)) for i in range(start, end)]

    def read(self, start):
        pos = int(start["pos"])
        end = min(pos + self.batch_rows, self.n)
        return self._rows(pos, end), {"pos": end}

    def readBetweenOffsets(self, start, end):
        return self._rows(int(start["pos"]), int(end["pos"]))

    def commit(self, end):
        pass


class GraftDirStreamWriter(DataSourceStreamWriter):
    """Streaming JSON-lines directory sink with PER-BATCH manifest commits —
    the streaming half of :class:`GraftDirWriter`'s exactly-once protocol.

    Each task of micro-batch N streams rows to a fresh uniquely-named part
    file and returns a commit message; ``commit(messages, batchId)`` (driver,
    after all tasks of the batch succeed) writes ``_MANIFEST-N`` naming
    exactly that batch's committed files.  A batch REPLAYED after a crash
    between sink-commit and checkpoint-commit rewrites ``_MANIFEST-N``
    (atomically superseding it), so its earlier orphaned part files are
    never manifest-listed — readers that trust only manifests see each
    batch exactly once.  Same idempotence design as
    streaming/ops.foreach_batch_parquet, here INSIDE a custom connector.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("graft_range stream write requires .option('path', ...)")

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fname, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartFile(fname, n)

    def commit(self, messages, batchId: int) -> None:
        import json as _json
        import os

        manifest = {
            "batch": batchId,
            "files": sorted(os.path.basename(m.path) for m in messages if m),
            "rows": sum(m.rows for m in messages if m),
        }
        tmp = os.path.join(self.path, f"._MANIFEST-{batchId}.tmp")
        with open(tmp, "w") as fh:
            fh.write(_json.dumps(manifest))
        os.replace(tmp, os.path.join(self.path, f"_MANIFEST-{batchId}"))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m and os.path.exists(m.path):
                os.remove(m.path)
