"""Table-format knob: Iceberg catalog tables when a catalog is
configured, parquet directories otherwise (SURVEY.md §1.3 — "the engine
must treat the format as a config knob"; the sandbox ships no Iceberg
runtime jars, so the Iceberg path is import/config-gated, same schemas
either way).

`load_pages` is the input-side knob (BASELINE.json:15 names an Iceberg
table of web pages): a `catalog.db.table` identifier reads through the
session catalog (`spark.read.table`), anything else is a parquet path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SQL extension/catalog is on the session."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        return "IcebergSparkSessionExtensions" in ext
    except Exception:
        return False


def load_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages input: table identifier -> catalog table (Iceberg
    etc.), path -> parquet directory (default) or, by extension,
    JSON-lines (.jsonl/.json — the interchange format web corpora
    actually ship as: Common Crawl derivatives, Dolma, RedPajama) or
    CSV with header (.csv/.tsv). JSON/CSV schemas are inferred; both
    readers stay splittable for uncompressed files, so parallelism is
    preserved — convert to parquet for the columnar-pruning fast path
    on anything hot."""
    looks_like_path = ("/" in source or source.startswith("file:")
                       or source.startswith("s3") or source.startswith("hdfs"))
    if looks_like_path or os.path.exists(source):
        low = source.rstrip("/").lower()
        if low.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz")):
            return spark.read.json(source)
        if low.endswith((".csv", ".csv.gz")):
            return spark.read.option("header", "true") \
                .option("inferSchema", "true").csv(source)
        if low.endswith((".tsv", ".tsv.gz")):
            return spark.read.option("header", "true") \
                .option("sep", "\t") \
                .option("inferSchema", "true").csv(source)
        return spark.read.parquet(source)
    return spark.read.table(source)


def artifact_format(fmt: str | None = None) -> str:
    """Resolve the index-artifact table format knob (BASELINE.json:15
    names an Iceberg table as the north-star substrate; parquet dirs
    are the sandbox default — no Iceberg runtime jars ship here)."""
    return fmt or os.environ.get("IRKIT_TABLE_FORMAT", "parquet")


def write_artifact(df: DataFrame, base: str, name: str,
                   partition_by: str | None = None,
                   fmt: str | None = None,
                   dynamic: bool = False, swap: bool = False) -> None:
    """Write one index artifact (tok/docs/postings/terms/stats/lineage)
    under the format knob.

    parquet: a dir under `base`; `dynamic=True` keeps the other
    partition dirs (resume rewrites only pending shards); `swap=True`
    writes a temp dir and swaps it in (_swap_in) — needed when `df`
    reads the artifact it replaces.
    iceberg: `base` is a catalog namespace; `dynamic=True` maps to
    `overwritePartitions()` (Iceberg's dynamic overwrite), else
    `createOrReplace()`. Requires the Iceberg extension on the session
    (gated by iceberg_available; the sandbox has no jars, so this
    branch is exercised by gating/unit tests only)."""
    fmt = artifact_format(fmt)
    if fmt == "iceberg":
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                "IRKIT_TABLE_FORMAT=iceberg but no Iceberg extension is "
                "configured on this session (add the iceberg-spark "
                "runtime jar and a catalog; schemas are unchanged)")
        w = df.writeTo(f"{base}.{name}").using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F
            w = w.partitionedBy(F.col(partition_by))
        if dynamic:
            w.overwritePartitions()
        else:
            w.createOrReplace()
        return
    # per-write option, NOT spark.conf.set: a session-global mutation
    # would leak into unrelated writes on the same shared session
    # (ADVICE r3) — DataFrameWriter.option scopes it to this write only
    writer = (df.write.mode("overwrite")
              .option("partitionOverwriteMode",
                      "dynamic" if dynamic else "static"))
    if partition_by:
        writer = writer.partitionBy(partition_by)
    path = os.path.join(base, name)
    if swap:
        _swap_in(path, writer.parquet)
    else:
        writer.parquet(path)


def _swap_in(path: str, write) -> None:
    """write(tmp) into a temp dir beside `path`, then os.replace it
    over `path`: a crash mid-write leaves the previous artifact intact,
    never a partial or absent one (rmtree-then-write would), and a
    read-modify-write never overwrites the files it is reading."""
    tmp = path + ".__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def write_artifact_driver(spark: SparkSession, table, base: str,
                          name: str, fmt: str | None = None,
                          partition_by: str | None = None) -> None:
    """Write a DRIVER-RESIDENT artifact (the vocab-gated terms table,
    lineage, stats, a below-gate tombstone set — rows that already live
    on the driver) as parquet via pyarrow, skipping the createDataFrame
    + Spark write job. Each such job costs ~0.3-0.5s of fixed JVM
    round-trip paid identically at every parallelism level — pure
    serial time in the N->4N scaling ratio (BASELINE.md gate), so three
    of them are ~1.5s off the 4N leg. Iceberg keeps the Spark writeTo
    path (the catalog commit protocol is the point there).

    partition_by: one `col=value/part-00000.parquet` file per value,
    the column dropped from the file — the layout Spark's
    partitionBy writes and reads back. File names are fixed, so the
    same table always writes the same bytes."""
    fmt = artifact_format(fmt)
    if fmt == "iceberg":
        write_artifact(spark.createDataFrame(table), base, name,
                       partition_by=partition_by, fmt=fmt)
        return
    import numpy as np
    import pyarrow.parquet as pq

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        if partition_by is None:
            pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        else:
            keys = table.column(partition_by).to_numpy()
            order = np.argsort(keys, kind="stable")
            rows = table.drop_columns([partition_by]).take(order)
            vals, starts = np.unique(keys[order], return_index=True)
            ends = np.append(starts[1:], len(keys))
            for v, a, b in zip(vals, starts, ends):
                d = os.path.join(tmp, f"{partition_by}={v}")
                os.makedirs(d)
                pq.write_table(rows.slice(a, b - a),
                               os.path.join(d, "part-00000.parquet"))
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
    _swap_in(os.path.join(base, name), write)


def read_artifact(spark: SparkSession, base: str, name: str,
                  schema: str | None = None,
                  fmt: str | None = None) -> DataFrame:
    """Read one index artifact under the format knob. The explicit
    schema (parquet path) keeps empty builds loadable and skips footer
    inference; Iceberg tables carry their own schema."""
    if artifact_format(fmt) == "iceberg":
        return spark.read.table(f"{base}.{name}")
    r = spark.read.schema(schema) if schema else spark.read
    return r.parquet(os.path.join(base, name))


def artifact_exists(spark: SparkSession, base: str, name: str,
                    fmt: str | None = None) -> bool:
    """Commit-aware existence check for one artifact (resume gate)."""
    if artifact_format(fmt) == "iceberg":
        return spark.catalog.tableExists(f"{base}.{name}")
    return os.path.exists(os.path.join(base, name, "_SUCCESS"))


def write_table(df: DataFrame, base: str, name: str,
                partition_by: str | None = None,
                fmt: str | None = None) -> None:
    """Write an index artifact table under the chosen format.

    fmt: 'iceberg' writes `writeTo(base + '.' + name)` (base = catalog
    namespace, requires Iceberg jars + catalog conf); anything else
    writes a parquet dir under base. Default from IRKIT_TABLE_FORMAT.
    """
    fmt = fmt or os.environ.get("IRKIT_TABLE_FORMAT", "parquet")
    if fmt == "iceberg":
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                "IRKIT_TABLE_FORMAT=iceberg but no Iceberg extension is "
                "configured on this session (add the iceberg-spark "
                "runtime jar and a catalog; schemas are unchanged)")
        w = df.writeTo(f"{base}.{name}").using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F
            w = w.partitionedBy(F.col(partition_by))
        w.createOrReplace()
        return
    path = os.path.join(base, name)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
