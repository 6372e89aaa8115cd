"""Document deletion (tombstones, operators/delete.py): selection-only
semantics on every query path — kernel modes, TAAT, local serving,
batch, phrase — plus the above-gate anti-join fallback, cumulative /
idempotent delete bookkeeping, and guard rails."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.tokenize import tokenize
from irkit_spark.operators.build import build_index
from irkit_spark.operators.delete import (clear_deletions, delete_docs,
                                          read_deletions)
from irkit_spark.operators.positions import build_positions, phrase_search
from irkit_spark.operators.query import Index, batch_search, search

VOCAB = ["red", "fox", "dog", "lazy", "jumps", "quick", "brown",
         "river", "stone", "cloud"]
DOCS = [(d, " ".join(VOCAB[(d * 7 + j * j + (j // 3)) % len(VOCAB)]
                     for j in range(5 + (d * 13) % 40)))
        for d in range(80)]
DEL_PRED = "doc_id % 5 = 2"
KEEP_PRED = "doc_id % 5 != 2"
DELETED = {d for d, _ in DOCS if d % 5 == 2}
QUERIES = ["red fox", "lazy dog jumps", "river stone cloud", "quick"]


@pytest.fixture(scope="module")
def del_pair(spark, tmp_path_factory):
    """(clean_index, tombstoned_index): same build, the second with
    doc_id % 5 == 2 tombstoned."""
    base = tmp_path_factory.mktemp("delidx")
    clean, tomb = str(base / "clean"), str(base / "tomb")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, clean, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=4)
    build_positions(spark, df, clean, doc_id_col="doc_id", n_parts=4)
    shutil.copytree(clean, tomb)
    m = delete_docs(spark, tomb, predicate=DEL_PRED)
    assert m["n_deleted"] == len(DELETED)
    return Index(spark, clean), Index(spark, tomb)


def rows(df, r=9):
    return [(x["doc_id"], round(x["score"], r)) for x in df.collect()]


@pytest.mark.parametrize("mode", ["daat", "wand", "maxscore", "and"])
@pytest.mark.parametrize("query", QUERIES[:2])
def test_tombstone_equals_doc_filter(del_pair, mode, query):
    """Tombstoned search == filtered retrieval with the complement
    predicate, bit-identical (the two selection mechanisms must agree
    exactly)."""
    clean, tomb = del_pair
    a = rows(search(tomb, query, k=15, mode=mode, local=False))
    b = rows(search(clean, query, k=15, mode=mode,
                    doc_filter=KEEP_PRED))
    assert a == b and a
    assert not ({d for d, _ in a} & DELETED)


def test_taat_and_selection_only_scores(del_pair):
    """TAAT honors tombstones; surviving docs score EXACTLY as on the
    clean index (global stats frozen — the Lucene contract)."""
    clean, tomb = del_pair
    for q in QUERIES:
        t = rows(search(tomb, q, k=20, mode="taat"))
        w = rows(search(tomb, q, k=20, mode="wand", local=False))
        assert t == w and t
        clean_scores = dict(rows(search(clean, q, k=200, mode="wand",
                                        local=False)))
        for d, s in t:
            assert d not in DELETED
            assert clean_scores[d] == s


def test_local_serving_honors_tombstones(del_pair):
    _, tomb = del_pair
    for q in QUERIES:
        a = rows(search(tomb, q, k=10, mode="wand", local=True))
        b = rows(search(tomb, q, k=10, mode="wand", local=False))
        assert a == b
        assert not ({d for d, _ in a} & DELETED)


def test_batch_search_honors_tombstones(del_pair):
    _, tomb = del_pair
    got = batch_search(tomb, {str(i): q for i, q in enumerate(QUERIES)},
                       k=10, mode="wand").collect()
    assert not ({r["doc_id"] for r in got} & DELETED)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for i, q in enumerate(QUERIES):
        assert by_q.get(str(i), []) == rows(
            search(tomb, q, k=10, mode="wand", local=False))


def test_phrase_search_honors_tombstones(del_pair):
    clean, tomb = del_pair
    for phrase, slop in (("red fox", 0), ("lazy dog", 1)):
        full = [(r["doc_id"], r["phrase_tf"], round(r["score"], 9))
                for r in phrase_search(clean, phrase, 1000,
                                       slop=slop).collect()]
        want = [x for x in full if x[0] not in DELETED][:10]
        got = [(r["doc_id"], r["phrase_tf"], round(r["score"], 9))
               for r in phrase_search(tomb, phrase, 10,
                                      slop=slop).collect()]
        assert got == want and got


def test_over_gate_anti_join_fallback(del_pair, monkeypatch):
    """DEL_BROADCAST_MAX=0 forces the cogrouped anti-join path; every
    mode must return exactly what the broadcast-mask path returns."""
    _, tomb = del_pair
    want = {(m, q): rows(search(tomb, q, k=12, mode=m, local=False))
            for m in ("daat", "wand", "maxscore", "and", "taat")
            for q in QUERIES[:2]}
    want_ph = [tuple(r) for r in
               phrase_search(tomb, "red fox", 10).collect()]
    monkeypatch.setattr(config, "DEL_BROADCAST_MAX", 0)
    Index._del_bc_cache.clear()     # versioned cache would bypass the gate
    try:
        tomb2 = Index(tomb.spark, tomb.path)
        for (m, q), w in want.items():
            assert rows(search(tomb2, q, k=12, mode=m,
                               local=False)) == w, (m, q)
        with pytest.raises(ValueError, match="DEL_BROADCAST_MAX"):
            search(tomb2, QUERIES[3], k=5, mode="wand", local=True)
        assert [tuple(r) for r in
                phrase_search(tomb2, "red fox", 10).collect()] == want_ph
        got = batch_search(tomb2, QUERIES[:2], k=12,
                           mode="wand").collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 9)))
        for i, q in enumerate(QUERIES[:2]):
            assert by_q[str(i)] == want[("wand", q)][:12]
    finally:
        Index._del_bc_cache.clear()


def test_cumulative_idempotent_and_clear(spark, tmp_path):
    out = str(tmp_path / "idx")
    df = spark.createDataFrame(DOCS[:30], "doc_id long, text string")
    build_index(spark, df, out, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=2)
    assert delete_docs(spark, out, doc_ids=[1, 2])["n_deleted"] == 2
    # overlap dedups; unknown ids are ignored
    assert delete_docs(spark, out,
                       doc_ids=[2, 3, 99999])["n_deleted"] == 3
    assert delete_docs(spark, out, doc_ids=[3])["n_deleted"] == 3
    got = sorted(r["doc_id"] for r in
                 read_deletions(spark, out).collect())
    assert got == [1, 2, 3]
    idx = Index(spark, out)
    hits = {d for d, _ in rows(search(idx, "red fox", k=30,
                                      local=False))}
    assert not (hits & {1, 2, 3})
    clear_deletions(spark, out)
    idx2 = Index(spark, out)
    assert not idx2.has_deletions()
    full = {d for d, _ in rows(search(idx2, "red fox", k=30,
                                      local=False))}
    assert full >= hits


def test_merge_propagates_deletions(spark, tmp_path):
    """Tombstones on batch indexes survive a merge (disjoint doc
    spaces -> plain union), and merged queries honor them."""
    import os

    from irkit_spark.operators.merge import merge_indexes
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    full = str(tmp_path / "full")
    build_index(spark, df, full, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=2)
    fidx = Index(spark, full)
    lexicon = fidx.terms.select("term", "term_id")
    dirs = []
    for name, pred in (("even", "doc_id % 2 = 0"),
                       ("odd", "doc_id % 2 = 1")):
        d = str(tmp_path / name)
        build_index(spark, df.filter(pred), d, docs_per_shard=25,
                    doc_id_col="doc_id", key_col="doc_id",
                    shared_lexicon=lexicon,
                    global_stats=(fidx.n_docs, fidx.avgdl))
        dirs.append(d)
    delete_docs(spark, dirs[0], doc_ids=[0, 2])
    delete_docs(spark, dirs[1], doc_ids=[1])
    merged = str(tmp_path / "merged")
    merge_indexes(spark, dirs, merged)
    got = sorted(r["doc_id"] for r in
                 read_deletions(spark, merged).collect())
    assert got == [0, 1, 2]
    midx = Index(spark, merged)
    hits = {d for d, _ in rows(search(midx, "red fox", k=40,
                                      local=False))}
    assert not (hits & {0, 1, 2})
    from irkit_spark.operators.validate import verify_index
    r = verify_index(spark, merged)
    assert r["ok"] and r["checks"]["deletions_consistent"]["ok"], r
    assert os.path.exists(os.path.join(merged, "deletions"))


def test_verify_catches_corrupt_deletions(spark, del_pair, tmp_path):
    """An orphan tombstone (id not in docs) fails verify."""
    from irkit_spark.operators.validate import verify_index
    _, tomb = del_pair
    r = verify_index(spark, tomb.path)
    assert r["ok"] and r["checks"]["deletions_consistent"]["ok"], r
    bad = str(tmp_path / "bad")
    shutil.copytree(tomb.path, bad)
    dels = read_deletions(spark, bad).cache()
    dels.count()
    orphan = spark.createDataFrame([(0, 99999)],
                                   "partition_id int, doc_id long")
    import os
    (dels.unionByName(orphan).write.mode("overwrite")
     .partitionBy("partition_id")
     .parquet(os.path.join(bad, "deletions")))
    r2 = verify_index(spark, bad)
    assert not r2["ok"]
    assert not r2["checks"]["deletions_consistent"]["ok"]
    assert r2["checks"]["deletions_consistent"]["not_in_docs"] == 1


def test_delete_docs_guards(spark, tmp_path, del_pair):
    _, tomb = del_pair
    with pytest.raises(ValueError, match="exactly one"):
        delete_docs(spark, tomb.path)
    with pytest.raises(ValueError, match="exactly one"):
        delete_docs(spark, tomb.path, doc_ids=[1], predicate="doc_id=1")
    # OOV / empty queries stay empty on a tombstoned index
    assert search(tomb, "zzznotthere", k=5).count() == 0
    assert search(tomb, "", k=5).count() == 0


def test_job_counts_pinned(spark, spark_jobs, del_pair, tmp_path):
    """An id-list delete below the gate is one Spark job, the
    re-broadcast after it none, and all-OOV results none."""
    clean, _ = del_pair
    out = str(tmp_path / "idx")
    shutil.copytree(clean.path, out)
    with spark_jobs() as n:
        assert delete_docs(spark, out, doc_ids=[3, 1, 2])["n_deleted"] == 3
    assert n.jobs == 1, n
    idx = Index(spark, out)
    idx.lookup_query("red")         # warm the driver terms dict
    with spark_jobs() as n:
        bc = idx.deletions_broadcast()
    assert n.jobs == 0, n
    assert sorted(int(d) for a in bc.value.values() for d in a) == [1, 2, 3]
    with spark_jobs() as n:
        assert search(idx, "zzznotthere", k=5).collect() == []
        assert batch_search(idx, ["zzznotthere", "qqq"], k=5).collect() == []
    assert n.jobs == 0, n


def _delete_sequence(spark, path):
    """Cumulative deletes over every delete_docs input shape: id lists
    (overlapping, with an unknown id, after a DataFrame call and after
    a predicate call), DataFrame ids and a predicate."""
    ids_df = spark.createDataFrame([(6,), (7,), (2,)], "doc_id long")
    steps = [dict(doc_ids=[1, 2, 3, 5]),
             dict(doc_ids=[3, 4, 99999]),
             dict(doc_ids=ids_df),
             dict(doc_ids=[7, 8, 8]),
             dict(predicate="doc_id % 11 = 0"),
             dict(doc_ids=[9, 11, 60])]
    return [delete_docs(spark, path, **kw)["n_deleted"] for kw in steps]


def test_driver_and_spark_delete_paths_agree(spark, del_pair, tmp_path,
                                             monkeypatch):
    """The driver merge (below DEL_BROADCAST_MAX) and the Spark
    fallback (gate forced to 0) write the same tombstone set, which
    verify_index accepts and every query mode reads identically."""
    from irkit_spark.operators.validate import verify_index
    clean, _ = del_pair
    drv, spk = str(tmp_path / "driver"), str(tmp_path / "spark")
    shutil.copytree(clean.path, drv)
    shutil.copytree(clean.path, spk)
    n_drv = _delete_sequence(spark, drv)
    with monkeypatch.context() as m:
        m.setattr(config, "DEL_BROADCAST_MAX", 0)
        n_spk = _delete_sequence(spark, spk)
    want = sorted({1, 2, 3, 4, 5, 6, 7, 8, 9, 11, 60}
                  | {d for d, _ in DOCS if d % 11 == 0})
    assert n_drv == n_spk and n_drv[-1] == len(want)
    sets = [sorted((r["partition_id"], r["doc_id"]) for r in
                   read_deletions(spark, p).collect())
            for p in (drv, spk)]
    assert sets[0] == sets[1] and [d for _, d in sets[0]] == want
    for p in (drv, spk):
        r = verify_index(spark, p)
        assert r["ok"] and r["checks"]["deletions_consistent"]["ok"], r
    # each run took its own write path: the driver writes fixed file
    # names, Spark unique ones; re-deleting a tombstoned id on the
    # driver path rewrites the same bytes
    import glob

    def snapshot(p):
        return {f[len(p):]: open(f, "rb").read() for f in
                glob.glob(f"{p}/deletions/*/*.parquet")}
    before = snapshot(drv)
    assert {f.rsplit("/", 1)[1] for f in before} == {"part-00000.parquet"}
    assert "part-00000.parquet" not in {f.rsplit("/", 1)[1]
                                        for f in snapshot(spk)}
    assert delete_docs(spark, drv, doc_ids=[1])["n_deleted"] == len(want)
    assert snapshot(drv) == before
    a, b = Index(spark, drv), Index(spark, spk)
    for q in QUERIES:
        for mode in ("daat", "wand"):
            ra = rows(search(a, q, k=15, mode=mode, local=False))
            assert ra == rows(search(b, q, k=15, mode=mode,
                                     local=False)), (q, mode)
            assert not ({d for d, _ in ra} & set(want))
        ta = [d for d, _ in rows(search(a, q, k=15, mode="taat"))]
        assert ta == [d for d, _ in rows(search(b, q, k=15,
                                                  mode="taat"))]
        assert ta == [d for d, _ in rows(search(a, q, k=15, mode="wand",
                                                  local=False))]
