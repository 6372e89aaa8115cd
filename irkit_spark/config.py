"""Frozen engine constants + SparkSession factory.

Everything here is FROZEN at bootstrap (SURVEY.md Q1/T1, BASELINE.json:14
rank-identity requirement): the TAAT-SQL oracle, the DAAT kernel and the
block-max-WAND kernel all read the same constants, which is what makes
them mutually rank-identical.

Reference parity: irkit pins its BM25 constants in a score header
(SURVEY.md §2.9 [pub:include/irkit/score.hpp]); we pin them here.
"""

from __future__ import annotations

import os

# --- BM25 (frozen; shared by numpy kernels and SQL oracles) -------------
BM25_K1 = 0.9
BM25_B = 0.4

# Dirichlet query-likelihood smoothing (SURVEY.md Q2)
QL_MU = 2000.0

# Jelinek-Mercer query-likelihood smoothing (the Zhai-Lafferty
# companion to Dirichlet; frozen at the short-query setting)
JM_LAMBDA = 0.1

# --- Tokenizer (frozen; rank-identity depends on it, SURVEY.md T1) ------
TOKEN_RE = r"[a-z0-9]+"

# --- Index layout --------------------------------------------------------
BLOCK_SIZE = 128          # postings per compressed block (SURVEY.md C4)
DEFAULT_CODEC = "varbyte"  # "varbyte" | "streamvbyte" | "binpack" (SURVEY.md C2/C3)

# Doc-shard size: shard(doc_id) = doc_id // DOCS_PER_SHARD. This is the
# salt of the salted repartition-by-term (BASELINE.json:6): the build
# shuffle key is (term_id, shard), so a head term's posting list is split
# into bounded sub-lists (term-splitting), and query-time WAND can fully
# score a doc inside one shard because every term's sub-list for that doc
# range carries the same shard id. At 10^12 docs set this so a shard's
# postings fit one executor task (~1-10M docs); tests use small values.
DOCS_PER_SHARD = int(os.environ.get("IRKIT_DOCS_PER_SHARD", "100000"))

# Buckets for deterministic dense ID assignment (plans/dense_ids.py).
# Default None = count-adaptive (one bucket per ~32M keys, floor 64 —
# identical ids to the historical fixed 64 below 2.048e9 keys, bounded
# per-bucket sorts above). Set IRKIT_ID_BUCKETS to pin a fixed count.
_idb = os.environ.get("IRKIT_ID_BUCKETS", "")
ID_BUCKETS: int | None = int(_idb) if _idb else None

# (url -> doc_id) mapping broadcast gate: below this many docs the
# build broadcasts the narrow mapping for the id-attach join; above it
# (corpus-sized mapping, 10^9+ rows) the join shuffles on url — a
# broadcast there would exceed Spark's 8GB/512M-row broadcast limits.
ID_BROADCAST_MAX = int(os.environ.get("IRKIT_ID_BROADCAST_MAX",
                                      "5000000"))

# Query-time doc-length gate: at or below this many docs the Index
# broadcasts per-shard doc-length arrays once (int32; ~4MB per 10^6
# docs) and the per-shard query kernel runs over postings alone — no
# docs-table shuffle per query. Above it (10^9-10^12 docs) queries fall
# back to the cogrouped join, which only ships the touched shards.
DL_BROADCAST_MAX = int(os.environ.get("IRKIT_DL_BROADCAST_MAX",
                                      "5000000"))

# Deletion-set gate (operators/delete.py): at or below this many
# tombstoned docs the Index broadcasts per-shard sorted deleted-id
# arrays once (int64; ~8MB per 10^6 deletions) and every query kernel
# masks candidates in-place. Above it (mass deletions at 10^9+ docs —
# at that point compaction is overdue) queries fall back to the
# cogrouped docs path with the deletions anti-joined out, which only
# ships the touched shards. The gate also picks the write path: an id
# list whose old set plus new ids fit it is merged and written on the
# driver (one Spark job per delete_docs, none for the re-broadcast on
# parquet); above it, and for predicates / DataFrame ids, the merge is
# a Spark union + distinct.
DEL_BROADCAST_MAX = int(os.environ.get("IRKIT_DEL_BROADCAST_MAX",
                                       "5000000"))

# Term-ID assignment gate: at or below this vocab size the lexicon is
# collected, sorted on the driver, and shipped as a broadcast dict
# (BASELINE.json:6 "broadcast dictionary"); above it (Common-Crawl-scale
# vocabs of 10^8-10^9, where both the collect and the dict would kill
# the driver) ids come from a range-partitioned sorted-rank assignment
# and pass B joins on the term string instead.
BROADCAST_VOCAB_MAX = int(os.environ.get("IRKIT_BROADCAST_VOCAB_MAX",
                                         "4000000"))

SHUFFLE_PARTITIONS = int(os.environ.get("IRKIT_SHUFFLE_PARTITIONS", "32"))

# Driver-side query kernel gate (operators/query.py): when the pruned
# postings of a query's terms total at most this many postings
# (sum of df over query terms; ~2.2 wire bytes each -> a few MB), the
# blocks are collected ONCE per term into a driver cache and the numpy
# WAND/DAAT kernel runs in-process — per-query-ms serving latency, the
# irk-query single-node analog (SURVEY.md §3.2), skipping Spark job
# scheduling entirely. Above the cap (head terms at 10^9+ docs) the
# query stays a distributed pruned scan + per-shard kernel.
LOCAL_QUERY_MAX_POSTINGS = int(os.environ.get(
    "IRKIT_LOCAL_QUERY_MAX", "4000000"))

# Blob-shuffle sizing (operators/build.py stage 2/3). Pack-time bucket
# count = n_parts x ENC_BUCKET_OVER: the encode kernel expands one
# bucket at a time, so peak numpy expansion is ~1/OVER of a partition,
# and the encode partition count can later be raised up to the bucket
# count without repacking. ENC_PART_BYTES bounds a partition's PACKED
# bytes (20B/posting): n_parts_enc is derived from the written tok
# size so an undersized spark.sql.shuffle.partitions cannot OOM the
# encode at 100x the data.
ENC_BUCKET_OVER = int(os.environ.get("IRKIT_ENC_BUCKET_OVER", "8"))
ENC_PART_BYTES = int(os.environ.get("IRKIT_ENC_PART_BYTES",
                                    str(512 * 1024 * 1024)))


def get_spark(app: str = "irkit_spark", cores: str | int = "*",
              shuffle_partitions: int | None = None):
    """local[N] session tuned per /opt guide: AQE on, Arrow on, UTC."""
    from pyspark.sql import SparkSession

    sp = shuffle_partitions or SHUFFLE_PARTITIONS
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # local-scale tuning: AQE's default 64MB advisory size coalesces
        # a ~100MB stage to 2 tasks and serializes the Python UDF stages;
        # 8MB keeps small benches parallel. At cluster scale (TB-sized
        # stages) raise these back toward 64-128MB.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("IRKIT_ADVISORY_PART", "8m"))
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("IRKIT_MAX_PART_BYTES", "33554432"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the JVM<->Python channel for the
        # heavy mapInPandas kernels (tokenize, encode)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode = one JVM: the driver heap IS the executor heap;
        # size it for 32 concurrent tasks' shuffle + Arrow buffers
        .config("spark.driver.memory",
                os.environ.get("IRKIT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # opt-in event log for per-job/per-stage profiling (tools/)
        .config("spark.eventLog.enabled",
                "true" if os.environ.get("IRKIT_EVENTLOG") else "false")
        .config("spark.eventLog.dir",
                os.environ.get("IRKIT_EVENTLOG", "/tmp/spark-events"))
        .getOrCreate()
    )
