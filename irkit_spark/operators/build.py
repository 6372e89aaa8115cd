"""Distributed inverted-index build (SURVEY.md §3.1, BASELINE.json:6).

Pipeline (stage per line; shuffles marked). The raw table is scanned
exactly ONCE (the canonicalize pass); everything downstream reads the
persisted canonical output:

  pages(url, warc_ts, html, text, lang)                     [input_hint]
    -> canonicalize: frozen extract + frozen tokenizer, fused in one
                Arrow pandas pass keyed by url; persisted    (S3+T1)
    -> doc_id:  deterministic dense two-pass assignment over the
                persisted urls                               (T2, 1 small shuffle)
    -> lexicon: per-batch DISTINCT terms -> vocab-gated term ids
                (driver-sorted broadcast dict <= cap [B:6]; range-
                partitioned sorted-rank + shuffle join above — same
                sorted-rank id space, byte-identical)        (T3)
    -> tok:     mapInPandas -> (doc_id, term_id, tf, dl) integer
                stream, PACKED in-kernel into 20B/posting binary blobs
                keyed by bucket(term_id, shard) (TOK_BLOB_SCHEMA)
    -> tok checkpoint: parquet of blobs                      (resumability §4.4)
    -> THE shuffle: repartition(n_parts_enc, bucket) — semantically the
                "salted repartition-by-term +
                sortWithinPartitions(term, docID)" of BASELINE.json:6
                with salt = shard(doc_id), but transported as a few
                thousand binary cells instead of 10^12 Tungsten rows
                (row ser/deser + row->Arrow measured 2x the encode
                kernel in JVM CPU); the within-partition sort runs as
                one packed-key argsort inside the varbyte encode
                kernel, one bucket at a time (bounded expansion)
    -> encode:  streaming-group kernel: delta-gap + varbyte/streamvbyte
                blocks + per-block max tf_norm + per-group cf
                                                             (C1-C4/A5/A2)
    -> write:   postings (dir-partitioned by shard), terms (df/cf/
                max_score from ONE postings scan), docs (dl from the
                canonical text), stats, lineage              (S5, §4.4)

Skew handling (explicit, BASELINE.json:14): the salt IS the term-split —
a head term's posting list is cut into <= n_shards sub-lists, each
bounded by the shard's postings; no (term_id, shard) shuffle key can
exceed one doc-shard's occurrences of one term. skew_ratio
(shard postings / median shard postings) is logged per shard in lineage.

Why blocks store idf-free `max tf_norm` rather than full BM25 UBs: the
encode kernel knows tf and dl (carried through the shuffle) and avgdl (a
broadcast scalar), but per-term df would need a join of the token table
against `terms` — an extra 10^12-row shuffle. WAND multiplies the
broadcast per-query-term idf at query time instead; terms.max_score
(= idf * max tf_norm over all blocks) is aggregated after the encode.

Reference parity: replaces irkit's assembler/merger batch build
([pub:include/irkit/index/assembler.hpp, merger.hpp] — SURVEY.md §2.1
S4/S5, §2.7 U1); Spark's sort-shuffle is the k-way merge.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.codecs import encode_blocks
from irkit_spark.functions.tokenize import (canonicalize_iter,
                                            tokenize_count_iter,
                                            tokenize_ids_iter)
from irkit_spark.plans.dense_ids import dense_id_mapping, sorted_rank_mapping

TOK_SCHEMA = "doc_id long, term string, tf long, dl long"

# Arrow binary arrays carry int32 offsets: one encode_region call whose
# varbyte wire stream exceeds this silently overflows and corrupts
# postings. Regions are split at (term_id, shard) group boundaries
# before encoding when either stream would cross it (patchable in tests).
MAX_BIN_OFFSET = (1 << 31) - 16
# cf = sum of raw tf over the (term, shard) group, aggregated inside
# the encode kernel: stage 4's df/cf then come from the tiny postings
# table (sum(n_docs), sum(cf)) instead of a second full scan + shuffle
# of the 10^12-row token table. max_norm (= max block max_score of the
# group) and wire_bytes (compressed payload size) are ALSO pre-
# aggregated per row so the terms/lineage stats aggregations scan only
# narrow numeric columns — never re-deserializing the blocks payload
# (measured: that rescan was a non-scaling ~3s serial floor per build).
POSTINGS_SCHEMA = (
    "term_id int, partition_id int, n_docs int, cf long, "
    "max_norm float, wire_bytes long, "
    "blocks array<struct<first_doc: long, last_doc: long, n: int, "
    "max_score: float, doc_bytes: binary, tf_bytes: binary>>")

# Explicit artifact-reader schemas: skips footer-based inference AND
# keeps empty builds loadable (a partitionBy write of zero rows leaves
# a dir with no data files, which schema inference cannot read)
TOK_TABLE_SCHEMA = "doc_id long, term_id int, tf int, dl int"
DOCS_TABLE_SCHEMA = "doc_id long, url string, doc_len int, partition_id int"
TERMS_TABLE_SCHEMA = "term_id int, term string, df long, cf long, max_score float"


def tokenize_spark(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, text) -> (doc_id, term, tf, dl) with no explode shuffle."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(text_col).alias("text"))
    return src.mapInPandas(
        lambda it: tokenize_count_iter(it, "doc_id", "text"),
        schema=TOK_SCHEMA)


def _encode_kernel(avgdl: float, codec: str, block_size: int,
                   docs_per_shard: int, quantize: bool = False):
    """mapInPandas encoder: streaming (term_id, shard) group merger.

    Input batches arrive sorted by (term_id, shard, doc_id) within the
    Spark partition; a group may span Arrow batches, so the last
    (possibly incomplete) group of each batch is carried into the next.
    """
    k1, b = config.BM25_K1, config.BM25_B

    def run(batches):
        carry = None

        def encode_region(pdf: pd.DataFrame):
            from irkit_spark.functions.codecs import (varbyte_byte_offsets,
                                                      varbyte_encode)
            t = pdf["term_id"].to_numpy()
            s = pdf["shard"].to_numpy()
            d = pdf["doc_id"].to_numpy().astype(np.int64)
            tf = pdf["tf"].to_numpy().astype(np.uint64)
            dl = pdf["dl"].to_numpy().astype(np.float64)
            n = d.size
            tf_norm = tf.astype(np.float64) / (
                tf + k1 * (1.0 - b + b * dl / avgdl))
            # group starts where (term_id, shard) changes
            gflag = np.empty(n, dtype=bool)
            gflag[0] = True
            gflag[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
            gid = np.cumsum(gflag) - 1
            gstarts = np.flatnonzero(gflag)
            pos = np.arange(n, dtype=np.int64) - gstarts[gid]
            # block starts: every block_size-th posting within a group
            bflag = gflag | (pos % block_size == 0)
            bstarts = np.flatnonzero(bflag)
            bends = np.append(bstarts[1:], n)
            # delta-gaps, reset at each block start (first gap 0 vs
            # first_doc) — whole-batch, no per-group work
            gaps = np.empty(n, dtype=np.uint64)
            gaps[0] = 0
            gaps[1:] = (d[1:] - d[:-1]).view(np.uint64)
            gaps[bstarts] = 0   # overwrites cross-group negatives too
            cf_g = np.add.reduceat(tf.astype(np.int64), gstarts)
            if quantize:
                # precomputed 7-bit impact scores (irkit quantize.hpp,
                # SURVEY.md §2.8): 0..127 = exactly one varbyte byte
                # per posting; FLOOR so q/127 <= tf_norm and the
                # exact per-block max_score stays a sound WAND bound
                tf = np.floor(tf_norm * 127.0).astype(np.uint64)
            if codec == "varbyte":
                # encode the WHOLE batch once; slice per block by offsets
                wire_d = varbyte_encode(gaps)
                off_d = varbyte_byte_offsets(gaps)
                wire_t = varbyte_encode(tf)
                off_t = varbyte_byte_offsets(tf)
                bmax = np.maximum.reduceat(tf_norm, bstarts)
                firsts = d[bstarts]
                lasts = d[bends - 1]
                blk_of_grp = gid[bstarts]
                blocks_all = [
                    {"first_doc": int(firsts[i]), "last_doc": int(lasts[i]),
                     "n": int(bends[i] - bstarts[i]),
                     "max_score": float(bmax[i]),
                     "doc_bytes": wire_d[off_d[bstarts[i]]:off_d[bends[i]]],
                     "tf_bytes": wire_t[off_t[bstarts[i]]:off_t[bends[i]]]}
                    for i in range(bstarts.size)]
                # group blocks into per-(term,shard) rows
                gb_starts = np.flatnonzero(
                    np.diff(blk_of_grp, prepend=blk_of_grp[0] - 1))
                gb_ends = np.append(gb_starts[1:], bstarts.size)
                gends = np.append(gstarts[1:], n)
                return pd.DataFrame({
                    "term_id": t[gstarts].astype("int32"),
                    "partition_id": s[gstarts].astype("int32"),
                    "n_docs": (gends - gstarts).astype("int32"),
                    "cf": cf_g.astype("int64"),
                    "max_norm": np.maximum.reduceat(bmax, gb_starts)
                    .astype("float32"),
                    "wire_bytes": ((off_d[gends] - off_d[gstarts])
                                   + (off_t[gends] - off_t[gstarts]))
                    .astype("int64"),
                    "blocks": [blocks_all[a:b]
                               for a, b in zip(gb_starts, gb_ends)],
                })
            # generic per-group path (streamvbyte etc.)
            gends = np.append(gstarts[1:], n)
            rows = {"term_id": [], "partition_id": [], "n_docs": [],
                    "cf": [], "max_norm": [], "wire_bytes": [],
                    "blocks": []}
            du = d.astype(np.uint64)
            for gi, (g0, g1) in enumerate(zip(gstarts, gends)):
                blks = encode_blocks(du[g0:g1], tf[g0:g1],
                                     tf_norm[g0:g1], block_size, codec)
                rows["term_id"].append(int(t[g0]))
                rows["partition_id"].append(int(s[g0]))
                rows["n_docs"].append(int(g1 - g0))
                rows["cf"].append(int(cf_g[gi]))
                rows["max_norm"].append(
                    max(b["max_score"] for b in blks))
                rows["wire_bytes"].append(
                    sum(len(b["doc_bytes"]) + len(b["tf_bytes"])
                        for b in blks))
                rows["blocks"].append(blks)
            return pd.DataFrame(rows)

        for pdf in batches:
            if pdf.empty:
                continue
            if "shard" not in pdf.columns:
                pdf = pdf.assign(
                    shard=(pdf["doc_id"].to_numpy() // docs_per_shard)
                    .astype(np.int32))
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            t = pdf["term_id"].to_numpy()
            s = pdf["shard"].to_numpy()
            # split off the trailing (possibly incomplete) group
            last_t, last_s = t[-1], s[-1]
            in_last = (t == last_t) & (s == last_s)
            # find start of trailing run
            nz = np.flatnonzero(~in_last)
            cut = (nz[-1] + 1) if nz.size else 0
            carry = pdf.iloc[cut:].reset_index(drop=True)
            head = pdf.iloc[:cut]
            if len(head):
                yield encode_region(head)
        if carry is not None and len(carry):
            yield encode_region(carry)

    return run


# packed token-blob layout (the build's big exchange moves these
# instead of raw rows): one binary cell per (bucket, shard, source
# Arrow batch) holding n = len(blob)//20 token rows as four contiguous
# column blocks — doc_id int64[n] | term_id int32[n] | tf int32[n] |
# dl int32[n]. 20 bytes/posting, memcpy-packed: the JVM shuffles a few
# thousand binary cells per build instead of ser/deserializing 10^12
# Tungsten rows (measured: row shuffle + row->Arrow conversion cost 2x
# the encode kernel itself in JVM CPU).
TOK_BLOB_SCHEMA = "bucket int, shard int, blob binary"
_BLOB_ROW_BYTES = 20
_MIX_A = np.uint64(0x9E3779B97F4A7C15)
_MIX_B = np.uint64(0xC2B2AE3D27D4EB4F)


def _bucket_of(term_id: np.ndarray, shard: np.ndarray,
               n_buckets: int) -> np.ndarray:
    """Deterministic bucket of the (term_id, shard) shuffle key — the
    'salted repartition-by-term' key of BASELINE.json:6, salt = doc
    shard, so one bucket never holds more than one doc-shard's slice of
    a head term (explicit skew bound)."""
    with np.errstate(over="ignore"):
        h = (term_id.astype(np.uint64) * _MIX_A
             + shard.astype(np.uint64) * _MIX_B)
        h ^= h >> np.uint64(29)
        h *= _MIX_A
        h ^= h >> np.uint64(32)
    return (h % np.uint64(n_buckets)).astype(np.int32)


def _pack_blob_frames(d: np.ndarray, t: np.ndarray, tf: np.ndarray,
                      dl: np.ndarray, n_buckets: int,
                      docs_per_shard: int):
    """Group one batch's token rows by (bucket, shard) and pack each
    group into one binary blob. Returns (buckets, shards, blobs) lists."""
    s = (d // docs_per_shard).astype(np.int32)
    bk = _bucket_of(t, s, n_buckets)
    order = np.lexsort((s, bk))
    d, t, tf, dl, s, bk = (d[order], t[order], tf[order], dl[order],
                           s[order], bk[order])
    gflag = np.empty(d.size, dtype=bool)
    gflag[0] = True
    gflag[1:] = (bk[1:] != bk[:-1]) | (s[1:] != s[:-1])
    starts = np.flatnonzero(gflag)
    ends = np.append(starts[1:], d.size)
    buckets, shards, blobs = [], [], []
    for lo, hi in zip(starts, ends):
        buckets.append(int(bk[lo]))
        shards.append(int(s[lo]))
        blobs.append(d[lo:hi].astype(np.int64).tobytes()
                     + t[lo:hi].astype(np.int32).tobytes()
                     + tf[lo:hi].astype(np.int32).tobytes()
                     + dl[lo:hi].astype(np.int32).tobytes())
    return buckets, shards, blobs


def _binary_cells(arr) -> list:
    """Zero-copy memoryviews of a pyarrow BinaryArray's cells (handles
    sliced arrays via arr.offset). Replaces per-cell .as_py(), which
    copied every blob into a fresh Python bytes object (~GBs per build
    partition at scale). The views pin the Arrow buffer alive."""
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                        count=n + arr.offset + 1)[arr.offset:]
    mv = memoryview(arr.buffers()[2])
    return [mv[off[i]:off[i + 1]] for i in range(n)]


def _unpack_blob(blob) -> tuple:
    """blob -> (doc_id i64, term_id i32, tf i32, dl i32) column views."""
    b = memoryview(blob)
    n = len(b) // _BLOB_ROW_BYTES
    d = np.frombuffer(b, np.int64, n)
    t = np.frombuffer(b, np.int32, n, offset=8 * n)
    tf = np.frombuffer(b, np.int32, n, offset=12 * n)
    dl = np.frombuffer(b, np.int32, n, offset=16 * n)
    return d, t, tf, dl


def _pack_tok_pandas(pdfs, n_buckets: int, docs_per_shard: int):
    """pandas batches of (doc_id, term_id, tf, dl) -> packed blob rows."""
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        buckets, shards, blobs = _pack_blob_frames(
            pdf["doc_id"].to_numpy().astype(np.int64),
            pdf["term_id"].to_numpy(),
            pdf["tf"].to_numpy(),
            pdf["dl"].to_numpy(), n_buckets, docs_per_shard)
        yield pd.DataFrame({"bucket": pd.Series(buckets, dtype="int32"),
                            "shard": pd.Series(shards, dtype="int32"),
                            "blob": pd.Series(blobs, dtype="object")})


def _pack_kernel_arrow(n_buckets: int, docs_per_shard: int):
    """mapInArrow: (doc_id, term_id, tf, dl) rows -> packed blob rows
    (the huge-vocab path packs after its term-id shuffle join)."""
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            get = lambda c: rb.column(names.index(c)).to_numpy(
                zero_copy_only=False)
            buckets, shards, blobs = _pack_blob_frames(
                get("doc_id").astype(np.int64), get("term_id"),
                get("tf"), get("dl"), n_buckets, docs_per_shard)
            yield pa.RecordBatch.from_arrays(
                [pa.array(buckets, pa.int32()),
                 pa.array(shards, pa.int32()),
                 pa.array(blobs, pa.binary())],
                names=["bucket", "shard", "blob"])

    return run


def _unpack_rows_kernel():
    """mapInArrow: packed blob rows -> (doc_id, term_id, tf, dl) rows
    (generic-codec path; varbyte never unpacks to Spark rows)."""
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            cells = _binary_cells(rb.column(rb.schema.names.index("blob")))
            for i in range(rb.num_rows):
                d, t, tf, dl = _unpack_blob(cells[i])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(d, pa.int64()), pa.array(t, pa.int32()),
                     pa.array(tf, pa.int32()), pa.array(dl, pa.int32())],
                    names=["doc_id", "term_id", "tf", "dl"])

    return run


def _encode_kernel_arrow(avgdl: float, block_size: int,
                         docs_per_shard: int, quantize: bool = False,
                         sort_in_kernel: bool = True,
                         max_bin_offset: int | None = None,
                         blob_input: bool = False):
    """mapInArrow encoder (varbyte fast path): the blocks column is
    assembled as a pyarrow List<Struct> directly from numpy buffers —
    no per-block Python dicts, no pandas round-trip. Per 30M postings
    that removes ~0.5M python object allocations from the hot path.

    Same streaming (term_id, shard) group-carry protocol as the pandas
    kernel; wire bytes per block are contiguous slices of the one
    whole-batch varbyte stream, so the Arrow BinaryArray is built from
    the stream buffer + per-block offsets with zero copies.
    """
    import pyarrow as pa

    from irkit_spark.functions.codecs import (varbyte_byte_offsets,
                                              varbyte_encode)

    k1, b = config.BM25_K1, config.BM25_B
    bin_limit = max_bin_offset if max_bin_offset is not None \
        else MAX_BIN_OFFSET
    out_schema = pa.schema([
        ("term_id", pa.int32()),
        ("partition_id", pa.int32()),
        ("n_docs", pa.int32()),
        ("cf", pa.int64()),
        ("max_norm", pa.float32()),
        ("wire_bytes", pa.int64()),
        ("blocks", pa.list_(pa.struct([
            ("first_doc", pa.int64()), ("last_doc", pa.int64()),
            ("n", pa.int32()), ("max_score", pa.float32()),
            ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary())]))),
    ])

    def encode_region(t, s, d, tf, dl):
        n = d.size
        tf_in = tf                      # pre-quantize, for split recursion
        tf_norm = tf.astype(np.float64) / (
            tf + k1 * (1.0 - b + b * dl / avgdl))
        gflag = np.empty(n, dtype=bool)
        gflag[0] = True
        gflag[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
        gid = np.cumsum(gflag) - 1
        gstarts = np.flatnonzero(gflag)
        pos = np.arange(n, dtype=np.int64) - gstarts[gid]
        bflag = gflag | (pos % block_size == 0)
        bstarts = np.flatnonzero(bflag)
        bends = np.append(bstarts[1:], n)
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = 0
        gaps[1:] = (d[1:] - d[:-1]).view(np.uint64)
        gaps[bstarts] = 0
        cf_g = np.add.reduceat(tf_in.astype(np.int64), gstarts)
        if quantize:
            tf = np.floor(tf_norm * 127.0).astype(np.uint64)
        # offsets are exact wire sizes, computable before encoding: if
        # either stream would overflow the int32 Arrow binary offsets,
        # split the region at a group boundary near the middle and
        # recurse (group spans stay intact, so output rows stay unique
        # per (term_id, partition_id))
        from irkit_spark.functions.codecs import _vb_nbytes
        nb_d, nb_t = _vb_nbytes(gaps), _vb_nbytes(tf)
        off_d = np.zeros(n + 1, dtype=np.int64)
        off_t = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nb_d, out=off_d[1:])
        np.cumsum(nb_t, out=off_t[1:])
        if int(off_d[-1]) > bin_limit or int(off_t[-1]) > bin_limit:
            if gstarts.size < 2:
                raise ValueError(
                    "single (term_id, shard) group exceeds the 2GB Arrow "
                    "binary limit — lower DOCS_PER_SHARD")
            i = np.searchsorted(gstarts, n // 2)
            i = min(max(i, 1), gstarts.size - 1)
            cut = int(gstarts[i])
            for lo, hi in ((0, cut), (cut, n)):
                yield from encode_region(t[lo:hi], s[lo:hi], d[lo:hi],
                                         tf_in[lo:hi], dl[lo:hi])
            return
        wire_d = np.frombuffer(varbyte_encode(gaps, nb_d), dtype=np.uint8)
        wire_t = np.frombuffer(varbyte_encode(tf, nb_t), dtype=np.uint8)
        bmax = np.maximum.reduceat(tf_norm, bstarts)
        nblocks = bstarts.size
        bin_off_d = off_d[np.append(bstarts, n)].astype(np.int32)
        bin_off_t = off_t[np.append(bstarts, n)].astype(np.int32)
        doc_bin = pa.Array.from_buffers(
            pa.binary(), nblocks,
            [None, pa.py_buffer(bin_off_d), pa.py_buffer(wire_d)])
        tf_bin = pa.Array.from_buffers(
            pa.binary(), nblocks,
            [None, pa.py_buffer(bin_off_t), pa.py_buffer(wire_t)])
        struct = pa.StructArray.from_arrays(
            [pa.array(d[bstarts], pa.int64()),
             pa.array(d[bends - 1], pa.int64()),
             pa.array((bends - bstarts).astype(np.int32), pa.int32()),
             pa.array(bmax.astype(np.float32), pa.float32()),
             doc_bin, tf_bin],
            names=["first_doc", "last_doc", "n", "max_score",
                   "doc_bytes", "tf_bytes"])
        blk_of_grp = gid[bstarts]
        gb_starts = np.flatnonzero(
            np.diff(blk_of_grp, prepend=blk_of_grp[0] - 1))
        list_offsets = np.append(gb_starts, nblocks).astype(np.int32)
        blocks_col = pa.ListArray.from_arrays(
            pa.array(list_offsets, pa.int32()), struct)
        gends = np.append(gstarts[1:], n)
        max_norm_g = np.maximum.reduceat(bmax, gb_starts)
        wire_g = ((off_d[gends] - off_d[gstarts])
                  + (off_t[gends] - off_t[gstarts]))
        yield pa.RecordBatch.from_arrays(
            [pa.array(t[gstarts].astype(np.int32), pa.int32()),
             pa.array(s[gstarts].astype(np.int32), pa.int32()),
             pa.array((gends - gstarts).astype(np.int32), pa.int32()),
             pa.array(cf_g.astype(np.int64), pa.int64()),
             pa.array(max_norm_g.astype(np.float32), pa.float32()),
             pa.array(wire_g.astype(np.int64), pa.int64()),
             blocks_col], schema=out_schema)

    def cols(rb_or_tbl, want_shard: bool = True):
        # shard is DERIVED from doc_id here rather than shuffled as a
        # column: 4 fewer bytes per token row through the big exchange
        names = rb_or_tbl.schema.names
        get = lambda c: rb_or_tbl.column(names.index(c)).to_numpy(
            zero_copy_only=False)
        d = get("doc_id").astype(np.int64)
        s = (d // docs_per_shard).astype(np.int32) if want_shard else None
        return (get("term_id"), s, d, get("tf").astype(np.uint64),
                get("dl").astype(np.float64))

    def run_presorted(batches):
        """Input already sorted by (term_id, shard, doc_id) (Tungsten
        sortWithinPartitions): streaming group-carry across batches."""
        carry = None   # tuple of numpy arrays (t, s, d, tf, dl)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            arrs = cols(rb)
            if carry is not None:
                arrs = tuple(np.concatenate([c, a])
                             for c, a in zip(carry, arrs))
            t, s = arrs[0], arrs[1]
            last_t, last_s = t[-1], s[-1]
            in_last = (t == last_t) & (s == last_s)
            nz = np.flatnonzero(~in_last)
            cut = (nz[-1] + 1) if nz.size else 0
            carry = tuple(a[cut:] for a in arrs)
            if cut:
                yield from encode_region(*(a[:cut] for a in arrs))
        if carry is not None and carry[0].size:
            yield from encode_region(*carry)

    def sort_and_encode(t, d, tf, dl):
        """Shared tail of the in-kernel-sort paths: order by (term,
        doc) — shard = doc // DPS is monotonic in doc, so this IS the
        (term, shard, doc) order — then encode."""
        t_max = int(t.max()) if t.size else 0
        d_max = int(d.max()) if d.size else 0
        d_bits = max(1, d_max).bit_length()
        if t_max.bit_length() + d_bits <= 63:
            # keys are unique ((term, doc) appears once: tf is already
            # aggregated), so unstable introsort is safe — and ~2x
            # faster than the stable mergesort for int64
            key = (t.astype(np.int64) << d_bits) | d
            order = np.argsort(key)
            del key
        else:
            order = np.lexsort((d, t))
        d = d[order]
        s = (d // docs_per_shard).astype(np.int32)
        yield from encode_region(t[order], s, d, tf[order], dl[order])

    def run_blobs(batches):
        """Packed-blob input (TOK_BLOB_SCHEMA): accumulate raw blobs
        per bucket (20B/posting — the partition is resident only in
        packed form), then expand + sort + encode ONE bucket at a time,
        so peak numpy expansion is a bucket, not the partition."""
        per_bucket: dict[int, list] = {}
        for rb in batches:
            names = rb.schema.names
            bks = rb.column(names.index("bucket")).to_numpy()
            cells = _binary_cells(rb.column(names.index("blob")))
            for i, cell in enumerate(cells):
                per_bucket.setdefault(int(bks[i]), []).append(cell)
        for bucket in sorted(per_bucket):
            parts = [_unpack_blob(b) for b in per_bucket[bucket]]
            t = np.concatenate([p[1] for p in parts])
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[2] for p in parts]).astype(np.uint64)
            dl = np.concatenate([p[3] for p in parts]).astype(np.float64)
            per_bucket[bucket] = None
            del parts
            yield from sort_and_encode(t, d, tf, dl)

    def run_sorting(batches):
        """Input only repartitioned: the within-partition
        sort(term, shard, docID) executes HERE as one np.lexsort —
        same logical plan as sortWithinPartitions, ~3x cheaper than the
        Tungsten row sort for these narrow int rows. Buffers the whole
        partition (no spill): size n_parts so a partition's postings
        fit an executor (the build already requires that for Tungsten's
        in-memory sort to stay fast)."""
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        del chunks
        t, _, d, tf, dl = cols(tbl, want_shard=False)
        del tbl
        # when (t, d) packs into one int64 (true whenever
        # bits(t_max) + bits(d_max) <= 63; at 10^12 docs x 10^8 vocab
        # it does not, and sort_and_encode falls back to the 2-key
        # lexsort) one radix-friendly argsort replaces the lexsort
        # cascade — the sort is memory-bandwidth-bound, so fewer key
        # passes = real wall time.
        yield from sort_and_encode(t, d, tf, dl)

    if blob_input:
        return run_blobs
    return run_sorting if sort_in_kernel else run_presorted


def build_index(spark: SparkSession, pages: DataFrame, out_dir: str, *,
                codec: str = config.DEFAULT_CODEC,
                block_size: int = config.BLOCK_SIZE,
                docs_per_shard: int | None = None,
                n_buckets: int | None = config.ID_BUCKETS,
                text_from_html: bool = False,
                key_col: str = "url",
                doc_id_col: str | None = None,
                n_parts: int | None = None,
                resume: bool = False,
                quantize: bool = False,
                shared_lexicon: DataFrame | None = None,
                global_stats: tuple[int, float] | None = None,
                broadcast_vocab_max: int | None = None,
                table_format: str | None = None,
                extractor: str = "frozen") -> dict:
    """Build (or resume) the index; returns build metrics dict.

    extractor ('frozen' default, 'dom' opt-in — see
    functions/extract.EXTRACTORS) selects the html->text form when
    text_from_html=True. Pick ONE per index: batches merged together
    (operators/merge.py) and incremental ingest runs must share it, or
    the same url can tokenize differently across batches. The frozen
    form is the only one under the golden byte-identity invariant.

    table_format ('parquet' default, or 'iceberg'; falls back to
    $IRKIT_TABLE_FORMAT) governs every index artifact
    (tok/docs/postings/terms/stats/lineage) via sources/catalog:
    under 'iceberg', out_dir is a catalog namespace and writes go
    through writeTo()/overwritePartitions()."""
    t0 = time.monotonic()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str):
        now = time.monotonic()
        phases[name] = round(now - _last[0], 3)
        _last[0] = now

    from irkit_spark.sources.catalog import (artifact_exists,
                                             artifact_format,
                                             read_artifact, write_artifact)
    from irkit_spark.functions.extract import EXTRACTORS
    if extractor not in EXTRACTORS:
        raise ValueError(f"unknown extractor {extractor!r}; "
                         f"choices: {sorted(EXTRACTORS)}")
    fmt = artifact_format(table_format)
    if fmt == "iceberg":
        from irkit_spark.sources.catalog import iceberg_available
        if not iceberg_available(spark):
            raise RuntimeError(
                "table_format=iceberg but no Iceberg extension is "
                "configured on this session — failing before any build "
                "work (add the iceberg-spark runtime jar + catalog)")
    docs_per_shard = docs_per_shard or config.DOCS_PER_SHARD
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if fmt != "iceberg":
        os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, name)

    # ---- resume bookkeeping -------------------------------------------
    done_shards: set[int] = set()
    prev_attempts: dict[int, int] = {}
    if resume and artifact_exists(spark, out_dir, "lineage", fmt):
        lin = read_artifact(spark, out_dir, "lineage", fmt=fmt).collect()
        for r in lin:
            prev_attempts[r["partition_id"]] = r["attempt"]
            if r["status"] == "done":
                done_shards.add(r["partition_id"])
        if (done_shards and fmt != "iceberg"
                and artifact_exists(spark, out_dir, "postings", fmt)):
            # layout guard: postings written before the per-row
            # max_norm/wire_bytes columns would read as all-null under
            # the explicit schema and corrupt the terms/lineage stats
            actual = spark.read.parquet(p("postings")).columns
            if "max_norm" not in actual:
                raise RuntimeError(
                    "postings at %r use the pre-max_norm layout %s — "
                    "rebuild without resume" % (p("postings"), actual))

    # ---- stage 1: doc ids + lexicon pass (SURVEY.md T2/T3/A2) ---------
    # Two tokenization passes keep the 10^12-row stream INTEGER-ONLY:
    #   pass A emits per-batch DISTINCT terms — vocab-sized, tiny — from
    #   which the lexicon is built; pass B re-tokenizes and emits
    #   (doc_id, term_id, tf, dl) ints via the broadcast dict inside the
    #   kernel. No Python string column ever crosses Arrow in bulk (the
    #   old single-pass-with-strings + id-remap flow moved 2x the rows
    #   and all term strings through the Python channel and did not
    #   scale with cores).
    # Term-ID assignment is gated on vocab size (BASELINE.json:6 names
    # the broadcast dictionary; a 10^8-10^9-term web vocab would kill
    # the driver): at or below the cap the distinct terms are collected
    # ONCE, sorted on the driver (term_id = sorted rank — one Spark job
    # total), and shipped as the broadcast dict; above it ids come from
    # a range-partitioned sorted-rank assignment and pass B joins on the
    # term string instead (same sorted-rank id space either way, so the
    # two paths produce byte-identical indexes — tested).
    reuse_tok = (resume and artifact_exists(spark, out_dir, "tok", fmt)
                 and artifact_exists(spark, out_dir, "docs", fmt)
                 and artifact_exists(spark, out_dir, "terms", fmt))
    src = None
    bc = None
    join_ids = False
    id_mapping_cached = None
    vocab_cap = (broadcast_vocab_max if broadcast_vocab_max is not None
                 else config.BROADCAST_VOCAB_MAX)
    if reuse_tok:
        if fmt != "iceberg":
            # layout guard: a tok checkpoint from the pre-blob row
            # layout would read as all-null blobs under the explicit
            # schema — fail loudly instead
            actual = spark.read.parquet(p("tok")).columns
            if "blob" not in actual:
                raise RuntimeError(
                    "tok checkpoint at %r uses the old row layout %s — "
                    "rebuild without resume" % (p("tok"), actual))
        tok = read_artifact(spark, out_dir, "tok", TOK_BLOB_SCHEMA, fmt)
        docs = read_artifact(spark, out_dir, "docs", DOCS_TABLE_SCHEMA,
                             fmt)
        # no driver collect (the vocab may be huge); stage 4 writes the
        # re-derived terms table to a temp dir and swaps it in, so this
        # frame never reads a path that is being overwritten
        join_ids = True
        lex_df = read_artifact(spark, out_dir, "terms",
                               TERMS_TABLE_SCHEMA, fmt) \
            .select("term_id", "term")
    else:
        # canonicalize = frozen extract (when html) + frozen regex
        # tokenizer, FUSED in one Python pass; both passes below then
        # split on whitespace (5x cheaper). persisted so pass B never
        # re-runs extract/regex. (extract_text_udf stays the standalone
        # extraction surface; the fused kernel calls the same frozen
        # extract_text — byte-identity is tested against the golden
        # column either way.)
        # emit_terms: the canonicalize kernel ALSO yields each batch's
        # distinct terms as NULL-keyed sentinel rows, so pass A (the
        # old second split+factorize scan of the cached corpus) is a
        # filter over the same persisted frame. NULL-keyed INPUT rows
        # are filtered out BEFORE canonicalize (they were never
        # indexable — the id join / int cast drops them anyway), so a
        # NULL key downstream unambiguously means "sentinel": without
        # the pre-filter, a doc whose id fails the long cast would
        # masquerade as a sentinel and inject its whole space-joined
        # text into the lexicon as one junk term (ADVICE r3).
        in_col = "html" if text_from_html else "text"
        if doc_id_col is not None:
            # try_cast: under ANSI mode a malformed id must become NULL
            # (and be dropped here), not abort the whole build
            ids = (pages.withColumn("doc_id",
                                    F.col(doc_id_col).try_cast("long"))
                   .filter(F.col("doc_id").isNotNull()))
            src_all = (ids.select("doc_id", F.col(in_col).alias("text"))
                       .mapInPandas(
                           lambda it: canonicalize_iter(
                               it, "doc_id", "text",
                               from_html=text_from_html,
                               emit_terms=True,
                               extractor=extractor),
                           schema="doc_id long, text string, dl int")
                       .persist())
            src = src_all.filter(F.col("doc_id").isNotNull())
        else:
            # canonicalize FIRST, keyed by url: the raw table is scanned
            # exactly once (doc-id bucket counts, the lexicon pass and
            # the docs table all read the persisted canonical output,
            # not the raw html)
            src_all = (pages.filter(F.col(key_col).isNotNull())
                       .select(F.col(key_col).cast("string").alias("url"),
                               F.col(in_col).alias("text"))
                       .mapInPandas(
                           lambda it: canonicalize_iter(
                               it, "url", "text",
                               from_html=text_from_html,
                               emit_terms=True,
                               extractor=extractor),
                           schema="url string, text string, dl int")
                       .persist())
            src0 = src_all.filter(F.col("url").isNotNull())
            mapping, n_ids = dense_id_mapping(src0, "url", "doc_id",
                                              n_buckets)
            # broadcast only while the (url, doc_id) mapping fits the
            # driver/executors (same gate as assign_dense_ids); at
            # 10^9-10^12 docs the mapping is corpus-sized and the join
            # must shuffle on url instead.
            # Below the gate the narrow mapping is ALSO persisted: two
            # separate actions consume it (the tok write and the docs
            # write), and exchanges are not reused across actions, so
            # without the cache the per-bucket id window sort ran
            # twice per build (round 7; unpersisted after docs_write)
            if n_ids <= config.ID_BROADCAST_MAX:
                mapping = mapping.persist()
                id_mapping_cached = mapping
                right = F.broadcast(mapping)
            else:
                id_mapping_cached = None
                right = mapping
            src = src0.join(right, "url")
        key0 = "doc_id" if doc_id_col is not None else "url"
        batch_terms = (src_all.filter(F.col(key0).isNull())
                       .select(F.col("text").alias("term")))
        if shared_lexicon is not None:
            # incremental batch build: ids come from the shared, growing
            # lexicon; the batch vocab is bounded, so the dict broadcast
            # is safe
            lex_df = (batch_terms.distinct()
                      .join(shared_lexicon.select("term", "term_id"),
                            "term")
                      .select(F.col("term_id").cast("int").alias("term_id"),
                              "term")
                      .persist())
            bc = spark.sparkContext.broadcast(
                {r["term"]: r["term_id"] for r in lex_df.collect()})
        else:
            vocab = [r[0] for r in
                     batch_terms.distinct().limit(vocab_cap + 1).collect()]
            if len(vocab) <= vocab_cap:
                vocab.sort()
                bc = spark.sparkContext.broadcast(
                    {t: i for i, t in enumerate(vocab)})
                # no lex_df frame on this path: pass B reads the
                # broadcast dict and stage 4 assembles the terms table
                # driver-side from the same dict, so a Spark-side
                # lexicon frame would never be read
                lex_df = None
            else:
                join_ids = True
                lex_df = (sorted_rank_mapping(
                              batch_terms.distinct(), "term", "term_id_l",
                              n_parts)
                          .select(F.col("term_id_l").cast("int")
                                  .alias("term_id"), "term")
                          .persist())
    _mark("lexicon")

    # ---- stage 2: tokenize pass B + docs table ------------------------
    # pass B emits PACKED token blobs (TOK_BLOB_SCHEMA): rows are
    # grouped by the (term_id, shard) shuffle bucket inside the kernel
    # and memcpy-packed 20B/posting, so the tok checkpoint AND the big
    # exchange carry a few thousand binary cells instead of 10^12
    # Tungsten rows (the row ser/deser + row->Arrow conversion measured
    # 2x the encode kernel in JVM CPU and was the shuffle-phase scaling
    # wall). Bucket count = n_parts x IRKIT_ENC_BUCKET_OVER so the
    # encode partition count can be raised after the fact (spill
    # safety) without repacking.
    n_buckets_enc = n_parts * config.ENC_BUCKET_OVER
    if not reuse_tok:
        if bc is not None:
            tok = src.select("doc_id", "text").mapInPandas(
                lambda it: _pack_tok_pandas(
                    tokenize_ids_iter(it, bc, "doc_id", "text",
                                      pre_tokenized=True),
                    n_buckets_enc, docs_per_shard),
                schema=TOK_BLOB_SCHEMA)
        else:
            # huge-vocab path: pass B emits term strings, the id
            # assignment is a shuffle join against the lexicon, and a
            # second Arrow pass packs the joined rows
            tok = (src.select("doc_id", "text").mapInPandas(
                       lambda it: tokenize_count_iter(
                           it, "doc_id", "text", pre_tokenized=True),
                       schema=TOK_SCHEMA)
                   .join(lex_df, "term")
                   .select("doc_id",
                           F.col("term_id").cast("int").alias("term_id"),
                           F.col("tf").cast("int").alias("tf"),
                           F.col("dl").cast("int").alias("dl"))
                   .mapInArrow(
                       _pack_kernel_arrow(n_buckets_enc, docs_per_shard),
                       schema=TOK_BLOB_SCHEMA))
        # Plain write (one file per task): dir-partitioning by shard
        # here would fan out tasks x shards tiny files; pass-B output
        # is chunk-ordered in doc_id, so parquet row-group min/max
        # stats on the shard column prune the resume filter anyway.
        write_artifact(tok, out_dir, "tok", fmt=fmt)
        _mark("tokenize_write")
        tok = read_artifact(spark, out_dir, "tok", TOK_BLOB_SCHEMA, fmt)
        # doc lengths come straight from the canonicalize kernel's dl
        # column (token count, computed while the token lists were in
        # hand): the docs table is a narrow projection of the cached
        # canonical frame — no corpus-wide re-split, no scan + groupBy
        # of the 10^12-row token table. This is also the true token
        # length for docs whose terms are all OOV under a shared
        # lexicon.
        dl_col = F.col("dl").cast("int").alias("doc_len")
        if doc_id_col is None:
            # src carries (url, doc_id, text, dl): the docs table is a
            # straight projection, no join at all
            docs = src.select("doc_id", "url", dl_col)
        else:
            docs = (ids.select("doc_id",
                               F.col(key_col).cast("string").alias("url"))
                    .join(src.select("doc_id", dl_col), "doc_id", "left")
                    .fillna(0, ["doc_len"]))
        docs = docs.withColumn(
            "partition_id", (F.col("doc_id") / docs_per_shard).cast("int"))
        # dir-partitioned by shard so query-time doc-length reads prune;
        # repartition first -> one file per shard dir, not one per task
        write_artifact(docs.repartition("partition_id"), out_dir, "docs",
                       partition_by="partition_id", fmt=fmt)
        _mark("docs_write")
        # the stats agg below reads the WRITTEN parquet, not this
        # frame: the frame's lineage re-splits every cached text for
        # doc_len (measured super-linear at 2M docs), while the
        # read-back is a trivially parallel scan of narrow columns
        docs = read_artifact(spark, out_dir, "docs", DOCS_TABLE_SCHEMA,
                             fmt)
        src_all.unpersist()
        if id_mapping_cached is not None:
            # both consumers (tok write, docs write) are done
            id_mapping_cached.unpersist()

    glob = docs.agg(F.count("*").alias("n"),
                    F.sum("doc_len").alias("len"),
                    F.max("doc_id").alias("mx")).collect()[0]
    coll_len = int(glob["len"] or 0)
    if global_stats is not None:
        # batch build inside a larger collection (SURVEY.md U1): scoring
        # constants must come from the FULL collection or batch indexes
        # would not be merge-compatible
        n_docs, avgdl = int(global_stats[0]), float(global_stats[1])
    else:
        n_docs = int(glob["n"])
        avgdl = coll_len / n_docs if n_docs else 1.0
    max_doc = int(glob["mx"] if glob["mx"] is not None else 0)
    n_shards = max(1, (max(max_doc + 1, n_docs) + docs_per_shard - 1)
                   // docs_per_shard)

    # ---- stage 3: THE shuffle + encode --------------------------------
    pending = [s for s in range(n_shards) if s not in done_shards]
    tok_p = tok if not done_shards \
        else tok.filter(F.col("shard").isin(pending))
    # spill safety: the encode partition count is derived from the
    # ACTUAL packed token bytes (20B/posting), so a partition's packed
    # form is bounded by ENC_PART_BYTES regardless of how the caller
    # sized spark.sql.shuffle.partitions; the expansion to numpy is
    # per-bucket (1/ENC_BUCKET_OVER of a partition). Capped at the
    # pack-time bucket count (a bucket cannot split).
    n_parts_enc = n_parts
    if fmt != "iceberg" and os.path.isdir(p("tok")):
        packed = sum(os.path.getsize(os.path.join(r, f))
                     for r, _, fs in os.walk(p("tok")) for f in fs
                     if f.endswith(".parquet"))
        # snappy parquet of int blobs decompresses ~2x
        n_parts_enc = min(n_buckets_enc,
                          max(n_parts,
                              (2 * packed) // config.ENC_PART_BYTES + 1))
    if codec == "varbyte":
        # the blob exchange: repartition a few thousand binary cells on
        # the pack-time bucket of (term_id, shard) — semantically the
        # salted repartition-by-term of BASELINE.json:6 — and unpack /
        # sort / encode per bucket inside the kernel
        enc_in = tok_p.repartition(int(n_parts_enc), "bucket")
        postings_new = enc_in.mapInArrow(
            _encode_kernel_arrow(avgdl, block_size, docs_per_shard,
                                 quantize, blob_input=True),
            schema=POSTINGS_SCHEMA)
    else:
        # generic-codec path: unpack blobs to rows, Tungsten-sort
        # within partitions (spill-safe), stream-encode presorted
        rows = tok_p.mapInArrow(_unpack_rows_kernel(),
                                schema=TOK_TABLE_SCHEMA)
        shard_expr = (F.col("doc_id") / docs_per_shard).cast("int")
        enc_in = (rows.repartition(int(n_parts_enc), F.col("term_id"),
                                   shard_expr)
                  .sortWithinPartitions("term_id", "doc_id"))
        postings_new = enc_in.mapInPandas(
            _encode_kernel(avgdl, codec, block_size, docs_per_shard,
                           quantize),
            schema=POSTINGS_SCHEMA)

    post_cached = None
    if pending:
        # encoded rows are tiny vs raw postings: one cheap extra shuffle
        # puts each shard in a single file (query-time partition pruning
        # then reads exactly the touched shard files)
        # sort by term_id within each shard file: parquet row-group
        # min/max stats then prune query-term filters inside the scan
        # dynamic = keep done shard partitions on resume
        post_out = postings_new.repartition("partition_id") \
            .sortWithinPartitions("term_id")
        if not done_shards:
            # fresh build: the written table == this frame, so cache it
            # and serve stage 4/5 (df/cf/max_score, lineage) from the
            # cache instead of re-listing + re-reading the just-written
            # shard dirs (two fewer read-back jobs per build)
            post_cached = post_out.persist()
        write_artifact(post_out, out_dir, "postings",
                       partition_by="partition_id", fmt=fmt,
                       dynamic=bool(done_shards))
    _mark("shuffle_encode_write")
    postings = post_cached if post_cached is not None else read_artifact(
        spark, out_dir, "postings", POSTINGS_SCHEMA, fmt)

    # ---- stage 4: terms df/cf/max_score + final small tables ----------
    # df/cf/max_norm all come from ONE narrow-column scan of the tiny
    # encoded postings table (A2): the encode kernel pre-aggregated cf,
    # max_norm and wire_bytes per (term, shard) row, so neither the
    # 10^12-row token table NOR the compressed blocks payload is ever
    # scanned again (the blocks rescan was a non-scaling serial floor)
    per_term = (postings
                .select("term_id", "n_docs", "cf", "max_norm")
                .groupBy("term_id")
                .agg(F.sum("n_docs").cast("long").alias("df"),
                     F.sum("cf").alias("cf"),
                     F.max("max_norm").alias("max_norm")))
    # stage 5's per-shard metrics aggregation runs CONCURRENTLY with
    # the terms assembly below: both are small jobs over the (already
    # materialized) cached postings table, and running them
    # back-to-back serialized ~0.5s of job-scheduling latency into
    # every build — a constant paid identically at N and 4N cores,
    # i.e. pure drag on the BASELINE.md scaling-efficiency gate
    from concurrent.futures import ThreadPoolExecutor
    _ex = ThreadPoolExecutor(max_workers=1)
    shard_f = _ex.submit(
        lambda: (postings.groupBy("partition_id")
                 .agg(F.sum("n_docs").alias("postings_cnt"),
                      F.sum("wire_bytes").alias("bytes"))
                 .collect()))
    try:
        if bc is not None:
            # vocab-gated driver-side terms assembly: the vocabulary is
            # already in driver memory (the broadcast dict), so collect the
            # per-term aggregates ONCE (vocab-sized — the same gate) and do
            # the join + idf/max_score arithmetic vectorized in numpy, then
            # write the finished table straight from the driver (pyarrow —
            # no createDataFrame + Spark write job round-trip). This
            # replaces the agg + broadcast-join + write chain, which cost a
            # ~2s serial floor per build at EVERY parallelism level. Above
            # the gate (join_ids) the distributed join below remains the
            # plan.
            import pyarrow as pa
            pt = per_term.toPandas()
            items = bc.value
            lex_pdf = pd.DataFrame(
                {"term": pd.Series(list(items.keys()), dtype="object"),
                 "term_id": np.fromiter(items.values(), dtype=np.int64,
                                        count=len(items))})
            mg = lex_pdf.merge(pt, on="term_id", how="left")
            dfv = mg["df"].fillna(0).to_numpy(dtype=np.float64)
            idf = np.log1p((float(n_docs) - dfv + 0.5) / (dfv + 0.5))
            mx = mg["max_norm"].fillna(0.0).to_numpy(dtype=np.float64)
            terms_tbl = pa.table({
                "term_id": pa.array(mg["term_id"].to_numpy()
                                    .astype(np.int32)),
                "term": pa.array(mg["term"].tolist(), pa.string()),
                "df": pa.array(dfv.astype(np.int64)),
                "cf": pa.array(mg["cf"].fillna(0).to_numpy()
                               .astype(np.int64)),
                "max_score": pa.array((idf * mx).astype(np.float32)),
            })
            from irkit_spark.sources.catalog import write_artifact_driver
            write_artifact_driver(spark, terms_tbl, out_dir, "terms",
                                  fmt=fmt)
            terms_final = None
        else:
            terms_final = (lex_df.join(per_term, "term_id", "left")
                           .fillna(0, ["df", "cf"])
                           .withColumn("idf", F.log1p(
                               (F.lit(float(n_docs)) - F.col("df") + 0.5)
                               / (F.col("df") + 0.5)))
                           .withColumn("max_score",
                                       (F.col("idf")
                                        * F.coalesce("max_norm", F.lit(0.0)))
                                       .cast("float"))
                           .select("term_id", "term", "df", "cf",
                                   "max_score"))
        if terms_final is not None:
            # reuse_tok: lex_df reads the live terms path, so swap a
            # temp dir in (local/HDFS rename is atomic enough here;
            # object stores would use a versioned path + pointer)
            write_artifact(terms_final, out_dir, "terms", fmt=fmt,
                           swap=reuse_tok)
        if lex_df is not None:
            lex_df.unpersist()
        _mark("terms_write")

        wall_ms = int((time.monotonic() - t0) * 1000)

        # ---- stage 5: lineage + stats (per-shard metrics, §4.4) ------------
        shard_m = shard_f.result()
    finally:
        # a failure anywhere in the terms assembly above must not
        # leak the background metrics thread or mask its error
        _ex.shutdown(wait=False, cancel_futures=True)
    if post_cached is not None:
        post_cached.unpersist()
    total_postings = sum(r["postings_cnt"] for r in shard_m)
    cnts = sorted(r["postings_cnt"] for r in shard_m) or [0]
    med = cnts[len(cnts) // 2] or 1
    # lineage + stats rows are driver-local already (built from the
    # shard_m collect): write them via pyarrow, not two more Spark jobs
    import pyarrow as pa
    from irkit_spark.sources.catalog import write_artifact_driver
    pids = [int(r["partition_id"]) for r in shard_m]
    lineage_tbl = pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "status": pa.array(["done"] * len(pids), pa.string()),
        "postings_cnt": pa.array([int(r["postings_cnt"])
                                  for r in shard_m], pa.int64()),
        "bytes": pa.array([int(r["bytes"]) for r in shard_m],
                          pa.int64()),
        "skew_ratio": pa.array([float(r["postings_cnt"] / med)
                                for r in shard_m], pa.float64()),
        "wall_ms": pa.array([wall_ms] * len(pids), pa.int64()),
        "attempt": pa.array(
            [prev_attempts.get(pid, 0)
             + (1 if pid in pending or not prev_attempts else 0)
             for pid in pids], pa.int32()),
    })
    write_artifact_driver(spark, lineage_tbl, out_dir, "lineage",
                          fmt=fmt)

    # bound_slack: WAND upper-bound multiplier, 1.0 for a one-shot build.
    # Incremental merges of batches built under drifting avgdl set it to
    # max(1, avgdl_final/min(avgdl_batch)) — tf_norm grows at most by
    # that ratio when avgdl grows, so scaled bounds stay sound.
    from datetime import datetime, timezone
    stats_tbl = pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avg_doc_len": pa.array([float(avgdl)], pa.float64()),
        "coll_len": pa.array([int(coll_len)], pa.int64()),
        "total_postings": pa.array([int(total_postings)], pa.int64()),
        "codec": pa.array([codec], pa.string()),
        "block_size": pa.array([int(block_size)], pa.int32()),
        "docs_per_shard": pa.array([int(docs_per_shard)], pa.int32()),
        "n_shards": pa.array([int(n_shards)], pa.int32()),
        "wall_ms": pa.array([wall_ms], pa.int64()),
        "bound_slack": pa.array([1.0], pa.float64()),
        "quantized": pa.array([bool(quantize)], pa.bool_()),
        # which html->text form built this index; merge refuses to mix
        # (same-url text must be identical across merged batches)
        "extractor": pa.array([extractor], pa.string()),
        "built_at": pa.array([datetime.now(timezone.utc)],
                             pa.timestamp("us", tz="UTC")),
    })
    write_artifact_driver(spark, stats_tbl, out_dir, "stats", fmt=fmt)
    _mark("lineage_stats")

    return {"n_docs": n_docs, "avgdl": avgdl, "n_shards": n_shards,
            "total_postings": int(total_postings), "wall_ms": wall_ms,
            "postings_per_sec": (total_postings / (wall_ms / 1000.0)
                                 if wall_ms else 0.0),
            "skew_ratio": float(max(cnts) / med),
            "bytes_per_posting": (sum(r["bytes"] for r in shard_m)
                                  / max(1, total_postings)),
            "rebuilt_shards": pending,
            "phases": phases}
