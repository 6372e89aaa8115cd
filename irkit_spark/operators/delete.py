"""Document deletion (tombstones) for a built index.

irkit's public surface has no delete (SURVEY.md §2 — the reference
index is immutable once merged); every production deployment of a
fulltext index needs one, so this extends the engine the way Lucene
does: a `deletions/` artifact of tombstoned doc ids alongside the
index. Semantics are Lucene's too, and match the engine's own
filtered-retrieval contract (operators/query.search(doc_filter=...)):

  * deletion changes SELECTION, not scoring — global collection stats
    (n_docs, avgdl, df, cf) stay frozen at build time, so a surviving
    doc scores bit-identically before and after a delete;
  * physical removal + stats recompute is a separate, explicit step
    (operators/compact.compact_index).

Scale shape: the artifact is dir-partitioned by shard like docs/.
Below config.DEL_BROADCAST_MAX the Index ships one broadcast of
per-shard sorted id arrays and every query kernel masks candidates
in place (zero extra jobs, zero shuffle); above it, queries cogroup
against the docs table with the deletions anti-joined out — only the
touched shards move, the same fallback shape as the doc-length gate.

The same gate picks the write path. A plain id list on a parquet
index whose old set plus the new ids fit the gate is merged on the
driver: ONE Spark job checks the ids against docs (a broadcast
np.isin over the docs scan), the old set is read from its parquet
files with pyarrow (footer row counts feed the gate), and the
deduplicated, (partition_id, doc_id)-sorted set is written with
pyarrow under fixed file names — the same set always writes the same
bytes — and its size is n_deleted. The next query's
Index.deletions_broadcast() reads it back the same way, with zero
jobs. DataFrame ids (update_index), predicates, Iceberg tables and
sets above the gate stay on Spark: a semi-join against docs, a
union + distinct with the old set, the write, and a count() (five
jobs with an old set to merge on a 4-shard index). Iceberg sets are
re-broadcast with a count() + toPandas(); parquet sets above the gate
are never read for it.

Writes are read-modify-swap on both paths: the merged set lands in a
temp artifact dir that replaces `deletions/`
(sources/catalog._swap_in), so a crash mid-write leaves the previous
tombstone set intact, never a partial one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark import config

DELETIONS_SCHEMA = "partition_id int, doc_id long"


def read_deletions(spark: SparkSession, index_path: str,
                   table_format: str | None = None) -> DataFrame:
    from irkit_spark.sources.catalog import read_artifact
    return read_artifact(spark, index_path, "deletions",
                         DELETIONS_SCHEMA, table_format)


def has_deletions(spark: SparkSession, index_path: str,
                  table_format: str | None = None) -> bool:
    from irkit_spark.sources.catalog import artifact_exists
    return artifact_exists(spark, index_path, "deletions",
                           fmt=table_format)


def read_deletions_driver(index_paths: list[str], max_rows: int):
    """The committed parquet tombstone sets of `index_paths` read on
    the driver with pyarrow, zero Spark jobs: (partition_id int32,
    doc_id int64) arrays, or None when the file footers count more
    than `max_rows` rows (checked before any data page is read). Reads
    Spark's partitionBy layout and write_artifact_driver's alike."""
    import pyarrow.parquet as pq
    files = []
    for p in index_paths:
        root = os.path.join(p, "deletions")
        if not os.path.exists(os.path.join(root, "_SUCCESS")):
            continue
        files += [(int(d.split("=", 1)[1]), os.path.join(root, d, f))
                  for d in sorted(os.listdir(root))
                  if d.startswith("partition_id=")
                  for f in sorted(os.listdir(os.path.join(root, d)))
                  if not f.startswith((".", "_"))]
    if sum(pq.read_metadata(f).num_rows for _, f in files) > max_rows:
        return None
    ids = [pq.read_table(f).column("doc_id").to_numpy() for _, f in files]
    sh = np.repeat(np.array([v for v, _ in files], dtype=np.int32),
                   [a.size for a in ids])
    return sh, np.concatenate(ids + [np.empty(0, np.int64)]).astype(
        np.int64)


def delete_docs(spark: SparkSession, index_path: str,
                doc_ids=None, predicate: str | None = None,
                table_format: str | None = None) -> dict:
    """Tombstone documents of the index at `index_path`.

    Exactly one of:
      doc_ids   — iterable of ints, or a DataFrame with a doc_id
                  column;
      predicate — SQL boolean expression over the docs artifact
                  (doc_id, url, doc_len, partition_id), e.g.
                  "url LIKE 'https://spam.%'".

    Ids not present in the docs table are ignored (deleting an
    unknown id is a no-op, and the artifact stays a subset of docs —
    the invariant operators/validate.verify_index checks). Cumulative
    and idempotent: the new set is unioned with any existing
    tombstones and deduplicated. An id list below the gate costs one
    Spark job (module docstring).

    Returns {"n_deleted": total tombstones after the write}."""
    from irkit_spark.operators.build import DOCS_TABLE_SCHEMA
    from irkit_spark.sources.catalog import (artifact_format,
                                             read_artifact,
                                             write_artifact)
    if (doc_ids is None) == (predicate is None):
        raise ValueError("pass exactly one of doc_ids / predicate")
    fmt = artifact_format(table_format)
    docs = read_artifact(spark, index_path, "docs", DOCS_TABLE_SCHEMA,
                         fmt)
    if predicate is not None:
        new = docs.filter(F.expr(predicate))
    elif isinstance(doc_ids, DataFrame):
        new = docs.join(F.broadcast(doc_ids.select(
            F.col("doc_id").cast("long")).distinct()), "doc_id",
            "left_semi")
    else:
        ids = np.unique(np.fromiter((int(d) for d in doc_ids), np.int64))
        old = (read_deletions_driver([index_path],
                                     config.DEL_BROADCAST_MAX - ids.size)
               if fmt != "iceberg" else None)
        if old is not None:
            return _delete_on_driver(spark, index_path, docs, ids, old,
                                     fmt)
        # semi-join keeps the artifact a subset of docs and attaches
        # the shard; ad-hoc id lists are small -> broadcast them, the
        # docs scan stays the big side
        ids_df = spark.createDataFrame([(d,) for d in ids.tolist()],
                                       "doc_id long")
        new = docs.join(F.broadcast(ids_df), "doc_id", "left_semi")
    new = new.select("partition_id", F.col("doc_id").cast("long"))
    if has_deletions(spark, index_path, fmt):
        new = new.unionByName(
            read_deletions(spark, index_path, fmt)).distinct()
    else:
        new = new.distinct()
    # the union reads the artifact being replaced, so parquet swaps a
    # temp dir in; Iceberg's createOrReplace is the catalog's own swap
    write_artifact(new, index_path, "deletions",
                   partition_by="partition_id", fmt=fmt, swap=True)
    n = read_deletions(spark, index_path, fmt).count()
    return {"n_deleted": int(n)}


def _delete_on_driver(spark: SparkSession, index_path: str,
                      docs: DataFrame, ids: np.ndarray, old,
                      fmt: str) -> dict:
    """delete_docs below the gate: one Spark job keeps the ids the
    docs table holds (with their shard); the merge and the write run
    on the driver. `ids` sorted unique; `old` from
    read_deletions_driver()."""
    import pyarrow as pa

    from irkit_spark.sources.catalog import write_artifact_driver
    sh, d = old
    if ids.size:
        bc = spark.sparkContext.broadcast(ids)

        def known(it):
            for pdf in it:
                yield pdf[np.isin(pdf["doc_id"].to_numpy(), bc.value)]
        try:
            hit = (docs.select("partition_id", "doc_id")
                   .mapInPandas(known, DELETIONS_SCHEMA).toPandas())
        finally:
            bc.destroy()
        sh = np.concatenate([sh, hit["partition_id"].to_numpy(np.int32)])
        d = np.concatenate([d, hit["doc_id"].to_numpy(np.int64)])
    order = np.lexsort((d, sh))
    sh, d = sh[order], d[order]
    first = np.ones(d.size, dtype=bool)
    first[1:] = (sh[1:] != sh[:-1]) | (d[1:] != d[:-1])
    sh, d = sh[first], d[first]
    write_artifact_driver(spark, pa.table({"partition_id": sh,
                                           "doc_id": d}),
                          index_path, "deletions", fmt=fmt,
                          partition_by="partition_id")
    return {"n_deleted": int(d.size)}


def clear_deletions(spark: SparkSession, index_path: str,
                    table_format: str | None = None) -> None:
    """Drop every tombstone (un-delete all). Parquet: remove the
    artifact dir; Iceberg: replace with an empty table."""
    from irkit_spark.sources.catalog import artifact_format
    fmt = artifact_format(table_format)
    if fmt == "iceberg":
        from irkit_spark.sources.catalog import write_artifact
        empty = spark.createDataFrame([], DELETIONS_SCHEMA)
        write_artifact(empty, index_path, "deletions",
                       partition_by="partition_id", fmt=fmt)
        return
    shutil.rmtree(os.path.join(index_path, "deletions"),
                  ignore_errors=True)
