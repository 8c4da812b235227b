"""File sources & sinks (SURVEY §2.1): CSV, line-delimited JSON, Parquet.

Reference readers: ``from_csv`` with CsvReadOptions {has_headers, delimiter,
max_records, batch_size, projection} (dataframe.rs:349-389, expression.rs:
372-378), ``from_json`` (dataframe.rs:409-448), ``from_parquet`` file-or-dir
(dataframe.rs:450-489); writers to_csv/to_parquet (dataframe.rs:527-560) and
the JSON-write roadmap item (README.md:66-68).

Mapping notes:
* ``max_records`` -> ``.limit(n)`` (Catalyst pushes the limit into the scan —
  the reference's optimiser did the same rewrite by hand, optimiser.rs:163-177).
* ``projection`` -> ``.select`` (Catalyst column-prunes into the reader,
  reference equivalent: optimiser.rs:103-159).
* ``batch_size`` has no Spark analog (partition sizing is
  ``spark.sql.files.maxPartitionBytes``) — accepted and ignored.
* Arrow IPC (from_arrow/to_arrow, dataframe.rs:391-407) has no native Spark
  source; ``read_arrow_ipc``/``write_arrow_ipc`` bridge through pyarrow on
  the driver for small frames and otherwise direct users to parquet
  (documented deviation, SURVEY §7.3).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "read_csv",
    "read_json",
    "read_parquet",
    "write_csv",
    "write_json",
    "write_parquet",
    "write_bucketed",
    "read_arrow_ipc",
    "write_arrow_ipc",
    "read_arrow_ipc_dir",
    "write_arrow_ipc_dir",
    "read_orc",
    "write_orc",
]


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    *,
    has_headers: bool = True,
    delimiter: str = ",",
    max_records: int | None = None,
    projection: list[str] | None = None,
    batch_size: int | None = None,  # no-op: Spark sizes partitions by bytes
    **options,
) -> DataFrame:
    reader = spark.read.options(header=has_headers, sep=delimiter, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if projection:
        df = df.select(*projection)
    if max_records is not None:
        df = df.limit(max_records)
    return df


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


#: Session confs whose values change the schema Spark infers from a parquet
#: footer; each is part of the key a memoized schema is reused under.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: absolute path -> (key, schema Spark inferred for that file version).
#: One entry per path; a changed key replaces it.  Entries are replaced
#: whole, so two threads reading one file at worst both infer its schema.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def file_signature(path: str) -> tuple[str, int, int] | None:
    """``(absolute path, st_size, st_mtime_ns)`` of a regular local file, or
    None for anything else (a directory, a glob, a URI, a missing path).  A
    file rewritten at the same path changes its size or its mtime, so the
    signature names one version of the file."""
    try:
        st = os.stat(path)
    except (OSError, TypeError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return os.path.abspath(path), st.st_size, st.st_mtime_ns


def read_parquet(spark: SparkSession, path: str, **options) -> DataFrame:
    """Parquet source whose schema is inferred once per file version.

    Inferring a parquet schema runs one Spark job, even for one file (the
    reference bound a source's schema once from the footer, datasource.rs:
    44-54).  The first read of a file is a plain inferring read and keeps
    the inferred ``StructType``; a later read of the same file version,
    under the same options and inference confs, passes that schema and runs
    no job.  Only the schema is kept, never the DataFrame: every call builds
    a fresh relation with fresh attribute ids, so a self-join of two reads
    still resolves.  A directory (dir-of-files, hive partitions) always
    takes the plain read; empty files are skipped by the reader (the
    reference had to hand-roll that, dataframe.rs:461-473)."""
    reader = spark.read.options(**options)
    sig = file_signature(path)
    if sig is None:
        return reader.parquet(path)
    key = (
        sig[1:],
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(sig[0])
    if hit is not None and hit[0] == key:
        return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    _SCHEMAS[sig[0]] = (key, df.schema)
    return df


def read_text(spark: SparkSession, path: str, *, wholetext: bool = False) -> DataFrame:
    """Line-per-row text source (one ``value: string`` column) — the raw-crawl
    ingestion path; parse structure out with split/regexp/from_json
    downstream.  ``wholetext=True`` reads file-per-row instead."""
    return spark.read.option("wholetext", wholetext).text(path)


def write_text(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Text sink: frame must be exactly one string column."""
    df.write.mode(mode).text(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame, path: str, *, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        # partition pruning at read time — the 100 TB layout lever
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (+optionally sorted) table — the co-location lever.

    Two tables bucketed by the same key into the same bucket count join with
    ZERO exchange (SortMergeJoin reads bucket i against bucket i directly);
    at 100 TB this converts the recurring fact⋈fact shuffle into a one-time
    layout cost.  Bucketing requires the table catalog (``saveAsTable``);
    pass ``path`` to keep the data external at an explicit location.

    Verified by plan test: tests/test_plans.py::test_bucketed_join_no_exchange.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC bridge (driver-side; small frames only — use
    :func:`read_arrow_ipc_dir` for the executor-side path)."""
    import pyarrow as pa

    with pa.memory_map(path) as source:
        tbl = pa.ipc.open_file(source).read_all()
    return spark.createDataFrame(tbl)


def read_arrow_ipc_dir(
    spark: SparkSession, path: str, *, pattern: str = "*.arrow"
) -> DataFrame:
    """Executor-side Arrow IPC reader: ``binaryFile`` scan + per-file pyarrow
    decode inside ``mapInPandas`` (reference from_arrow,
    dataframe.rs:391-407 — distributed rather than driver-side).

    Each matching file becomes one input row (its full bytes); executors
    decode in parallel, so total data volume is unbounded by driver memory —
    the per-FILE bound is what matters (binaryFile materializes a whole file
    per row; write IPC files at the 64-256 MiB granularity you'd use for
    parquet).  The schema comes from one driver-side metadata peek at the
    first file (footer only, no data read).
    """
    import glob as _glob

    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    first = sorted(_glob.glob(os.path.join(path, pattern)))
    if not first:
        raise FileNotFoundError(f"no files matching {pattern!r} under {path}")
    with pa.memory_map(first[0]) as src:
        arrow_schema = pa.ipc.open_file(src).schema
    spark_schema = from_arrow_schema(arrow_schema)

    binary = (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)
    )

    def _decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                tbl = pa.ipc.open_file(pa.BufferReader(content)).read_all()
                yield tbl.to_pandas()

    return binary.select("content").mapInPandas(_decode, schema=spark_schema)


def write_arrow_ipc_dir(df: DataFrame, path: str) -> int:
    """Executor-side Arrow IPC sink: each partition writes one
    ``part-{pid:05d}.arrow`` file (reference to_arrow, dataframe.rs:515-525).

    Filenames are deterministic per partition, so a retried task overwrites
    its own file instead of duplicating it (idempotent without a commit
    protocol).  Requires ``path`` on a filesystem all executors share (true
    in local mode and on NFS/fuse mounts; for object stores use parquet or a
    custom DataSource with a proper commit protocol).  Returns the number of
    files written; empty partitions are skipped.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    arrow_schema = to_arrow_schema(df.schema)

    def _write(batches):
        pid = TaskContext.get().partitionId()
        out, n = None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if out is None:
                sink = pa.OSFile(os.path.join(path, f"part-{pid:05d}.arrow"), "wb")
                out = pa.ipc.new_file(sink, arrow_schema)
            out.write_table(pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False))
            n += len(pdf)
        if out is not None:
            out.close()
            sink.close()
            yield pd.DataFrame({"n_rows": [n]})

    manifest = df.mapInPandas(_write, schema="n_rows long").collect()
    return len(manifest)


def write_arrow_ipc(df: DataFrame, path: str) -> None:
    """Arrow IPC bridge (driver-side collect — small frames only)."""
    import pyarrow as pa

    tbl = df.toArrow()
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, tbl.schema) as writer:
        writer.write_table(tbl)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files sized
    ~``target_file_bytes`` (default 128 MiB, the HDFS/S3 sweet spot).

    The file count is derived from the *source's actual on-disk bytes* (file
    status, no data scan), then the data is rewritten through a
    ``repartition(n)`` round-robin exchange.  Returns n.

    Scale: millions of small files are a 100 TB pipeline's silent killer —
    every scan pays per-file open/footer costs and the driver pays listing
    memory.  Compaction is the maintenance op that keeps scans at
    maxPartitionBytes-sized splits; run it per partition directory so only
    hot partitions rewrite.
    """
    # sum file sizes via the JVM Hadoop FS API (no data read, no listing on
    # the driver beyond what any scan would do)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n = max(1, -(-total // target_file_bytes))
    spark.read.parquet(src_path).repartition(n).write.mode("overwrite").parquet(dst_path)
    return n


def read_xml(spark: SparkSession, path: str, *, row_tag: str = "row", schema: str | None = None, **options) -> DataFrame:
    """XML source (native in Spark 4 — the spark-xml package was merged
    upstream): one row per ``row_tag`` element, schema inferred or
    explicit.  Completes the text-format matrix next to csv/json/text;
    Avro is covered by the stdlib container codec in sources/avro.py
    (the external spark-avro jar is absent in this environment)."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML sink (native Spark 4): one ``row_tag`` element per row."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC source (native Spark, zero extra jars) — the second first-class
    columnar format next to parquet.  Same pushdown story as parquet:
    predicate pushdown + column pruning reach the ORC stripe reader, and
    Hive-partitioned directory layouts prune the same way."""
    r = spark.read
    for k, v in options.items():
        r = r.option(k, v)
    return r.orc(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite", compression: str = "zstd", partition_by: list[str] | None = None) -> None:
    """ORC sink (native).  zstd-compressed by default, optional Hive
    partitioning — mirrors write_parquet's surface."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
