"""The benchmark's workloads, output checks and layer probes.

One run = set-up (the index is built SETUP_REPS times from the seeded
corpus and opened), a closed-loop measurement window of at least
``seconds`` and whole cycles of operations (one client: the next call
starts when the previous ``collect()`` has returned), the output
checks, and, in a traced run, the layer probes. Every call goes
through the engine's public API.

Workloads (see DESIGN.md for the reasons and the layer map):

* ``serve`` -- auto-routed ``search()`` over a repeated-term log on
  warm driver caches, with a ``delete_docs`` round before every
  DELETE_EVERY queries, so cache invalidation and tombstone masking
  are re-paid beside the reads.
* ``trec`` -- ``batch_search`` over chunks of the TREC log, each
  chunk followed by single ``search(local=False)`` calls (wand,
  maxscore, taat) on its queries; the driver postings cache is
  bypassed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import inputs
from perfbench.spans import ROOT_GROUP, count_group

SETUP_REPS = 3          # set-ups per run; setup_s is their median
DELETE_EVERY = 40       # serve: queries per delete round
TREC_CHUNK = 4          # trec: queries per batch_search call
SERVE_COUNTED = 1       # serve: cycles whose Spark work is counted
TREC_COUNTED = 2        # trec: cycles whose Spark work is counted
FILL_TERMS = 48         # serve: terms per cache-fill query
PROBE_DOCS = 1000       # corpus sample for the single-core probes
PROBE_QUERIES = 8       # local queries in the traced probe
WINDOW_GROUP = "perfbench-window"   # Spark job group of the window


class Run:
    """State of one benchmark run: session, index, tracer, counters."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int,
                 n_docs: int, n_shards: int):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed = work, seed
        self.n_docs, self.n_shards = n_docs, n_shards
        self.corpus = inputs.corpus_dir(cache, seed, n_docs)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.idx = None
        self.path = None
        self.deleted: set[int] = set()
        self.traced = tracer.enabled
        # window latencies by whether the query was traced
        self.lat_by_traced: dict[bool, list[float]] = {True: [],
                                                       False: []}
        self.delete_lat: list[float] = []
        self.batch_s = 0.0          # wall time of the last batch
        # window: query latencies; queries answered and busy seconds
        # (the time inside the window's operations)
        self.lat: list[float] = []
        self.answered = 0
        self.busy = 0.0
        self.cycles = 0             # whole cycles done
        self.counted_queries = 0    # answered in the counted cycles
        self.delete_rounds = inputs.delete_ids(
            seed, n_docs, rounds=16, per_round=min(100, n_docs // 32))

    # ---- bookkeeping ------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed one counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def op(self, fn, what: str):
        """Run one operation; an exception counts as a failed op and
        yields None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} raised:", file=sys.stderr)
            traceback.print_exc()
            return None

    def span(self, name, trace_id=None, **attrs):
        return self.tracer.span(name, trace_id, **attrs)

    # ---- set-up -----------------------------------------------------
    def setup(self, reps: int = SETUP_REPS) -> None:
        """Build the index ``reps`` times (each into a fresh dir) and
        open the last one. setup_s = median(build + open + doc-length
        broadcast); the first rep pays the session's cold start."""
        from irkit_spark.operators.build import build_index
        from irkit_spark.operators.query import Index
        pages = self.spark.read.parquet(self.corpus)
        setups, builds, metrics = [], [], []
        for r in range(reps):
            path = os.path.join(self.work, f"idx{r}")
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.perf_counter()
            with self.span("build_index", f"setup-{r}"):
                m = build_index(self.spark, pages, path,
                                docs_per_shard=self.docs_per_shard,
                                text_from_html=True)
            t1 = time.perf_counter()
            with self.span("index.open", f"setup-{r}"):
                idx = Index(self.spark, path)
            with self.span("index.dl_broadcast", f"setup-{r}"):
                idx.doc_len_broadcast()
            setups.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
            metrics.append(m)
            self.attempted += 1
            if self.path is not None:
                shutil.rmtree(self.path, ignore_errors=True)
            self.idx, self.path = idx, path
        first = metrics[0]
        self.check(all(m["total_postings"] == first["total_postings"]
                       and m["bytes_per_posting"]
                       == first["bytes_per_posting"] for m in metrics),
                   "postings count / bytes per posting differ between "
                   "builds of one corpus")
        self.e2e["setup_s"] = statistics.median(setups)
        self.layer["build.postings_per_s"] = (first["total_postings"]
                                              / statistics.median(builds))
        self.e2e["bytes_per_posting"] = first["bytes_per_posting"]
        self.build_metrics = metrics

    # ---- the window ---------------------------------------------------
    def window(self, seconds: float, ops, counted: int) -> None:
        """Run the ``ops`` stream for at least ``seconds`` and at least
        ``counted`` cycles, ending on a whole cycle. Untraced, the
        Spark jobs and tasks of the first ``counted`` cycles are
        counted in a job group of their own, so the counts do not
        depend on how many cycles the machine's speed let the window
        hold."""
        sc = self.spark.sparkContext
        counting = not self.traced
        if counting:
            sc.setJobGroup(WINDOW_GROUP, "window")
        end = time.perf_counter() + seconds
        whole = True
        while (time.perf_counter() < end or self.cycles < counted
               or not whole):
            whole = next(ops)
            self.cycles += whole
            if counting and self.cycles == counted:
                sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)
                counting = False
                self.counted_queries = self.answered

    def window_metrics(self, what: str) -> None:
        """Untraced: Spark jobs and tasks per query answered in the
        counted cycles, writes and batches included. Traced: the
        window's wall-clock latency (median of its untraced half) and
        queries answered per busy second."""
        if self.traced:
            self.layer["window.query_p50_ms"] = 1e3 * statistics.median(
                self.lat_by_traced[False])
            self.layer["window.qps"] = self.answered / self.busy
        else:
            jobs, _, tasks, _ = count_group(self.spark.sparkContext,
                                            WINDOW_GROUP)
            n = self.counted_queries or float("nan")   # none answered
            self.e2e["spark_jobs_per_query"] = jobs / n
            self.e2e["spark_tasks_per_query"] = tasks / n
        q = statistics.quantiles(self.lat, n=10)
        print(f"perfbench: {what} window: {len(self.lat)} queries, "
              f"{self.answered / self.busy:.3f} answered per busy "
              f"second, latency deciles (ms) "
              f"{[round(1e3 * x, 1) for x in q]}", file=sys.stderr)

    @property
    def docs_per_shard(self) -> int:
        return -(-self.n_docs // self.n_shards)

    # ---- single operations ------------------------------------------
    def query(self, q: dict, local=None, name: str = "query",
              **attrs) -> tuple[list | None, float]:
        """One search() + collect() -> ([(doc_id, score)] or None if it
        raised, seconds). Traced, the lookup, the search() call and the
        collect() are child spans (the lookup is one extra warm
        call)."""
        from irkit_spark.operators.query import search
        mode = q["mode"]

        def call():
            with self.span("query.search_call"):
                df = search(self.idx, q["text"], q["k"], mode,
                            local=local)
            with self.span("query.collect"):
                return df.collect()

        t0 = time.perf_counter()
        with self.span(name, q["qid"], mode=mode, k=q["k"],
                       **attrs) as sp:
            if sp is not None:
                with self.span("query.lookup"):
                    self.idx.lookup_query(q["text"])
            rows = self.op(call, f"{name} {q['qid']}")
        dt = time.perf_counter() - t0
        if rows is None:
            return None, dt
        out = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        self.check(not (self.deleted & {d for d, _ in out}),
                   f"tombstoned doc in results of {q['qid']}")
        return out, dt

    def delete_round(self) -> float:
        """Tombstone the next seeded id set."""
        from irkit_spark.operators.delete import delete_docs
        r = len(self.delete_lat)
        ids = self.delete_rounds[r]
        t0 = time.perf_counter()
        with self.span("delete_docs", f"delete-{r}"):
            res = self.op(lambda: delete_docs(self.spark, self.path,
                                              doc_ids=ids),
                          f"delete round {r}")
        dt = time.perf_counter() - t0
        self.delete_lat.append(dt)
        if res is not None:
            self.deleted |= set(ids)
            self.check(res["n_deleted"] == len(self.deleted),
                       f"tombstone count after delete round {r}")
        # traced: even rounds time the tombstone re-broadcast on its
        # own, odd rounds leave it to the first query after the write
        if self.tracer.enabled and r % 2 == 0:
            with self.span("index.del_broadcast", f"delete-{r}"):
                self.idx.deletions_broadcast()
        return dt

    def fill_cache(self, log: list[dict]) -> None:
        """Warm the driver postings cache with every term of the log,
        FILL_TERMS terms per auto-routed query."""
        terms = sorted({t for q in log for t in q["text"].split()})
        for c in range(0, len(terms), FILL_TERMS):
            self.query({"qid": f"fill{c}", "mode": "daat", "k": 10,
                        "text": " ".join(terms[c:c + FILL_TERMS])},
                       name="query.cache_fill")

    # ---- workloads --------------------------------------------------
    def serve_ops(self, log: list[dict]):
        """Endless stream of cycles of one delete round and
        DELETE_EVERY auto-routed queries; yields after each op, True
        when it ended a cycle."""
        n = 0
        while True:
            self.busy += self.delete_round()
            yield False
            for j in range(DELETE_EVERY):
                # traced runs trace every other query, so the tracing
                # overhead is measured inside the same window
                self.tracer.enabled = self.traced and n % 2 == 0
                res, dt = self.query(log[n % len(log)],
                                     after_write=j == 0)
                self.lat_by_traced[self.tracer.enabled].append(dt)
                self.tracer.enabled = self.traced
                self.lat.append(dt)
                self.busy += dt
                self.answered += res is not None
                n += 1
                yield j == DELETE_EVERY - 1

    def serve_checks(self, log: list[dict]) -> None:
        """The served top-k list of a seeded sample query: bit-identical
        to the distributed daat path, rank-identical to taat."""
        rng = np.random.default_rng([self.seed, 4])
        q = log[int(rng.choice([i for i, q in enumerate(log)
                                if q["cls"] != "oov"]))]
        served, _ = self.query(q)
        ref, _ = self.query(dict(q, mode="daat"), local=False,
                            name="check.daat")
        if served is not None and ref is not None:
            self.check(served == ref,
                       f"served {q['qid']} != distributed daat")
        taat, _ = self.query(dict(q, mode="taat"), local=False,
                             name="check.taat")
        if served is not None and taat is not None:
            self.check([d for d, _ in served] == [d for d, _ in taat],
                       f"served {q['qid']} not rank-identical to taat")

    def trec_ops(self, log: list[dict]):
        """Endless stream of cycles of one batch_search over the next
        TREC_CHUNK log queries, then each of them alone through
        search(local=False) as wand, maxscore, wand, taat; yields after
        each op, True when it ended a cycle. Every single result must
        equal its batch rows."""
        c = 0
        while True:
            chunk = [log[(c * TREC_CHUNK + j) % len(log)]
                     for j in range(TREC_CHUNK)]
            c += 1
            rows = self.batch(chunk, trace_id=f"batch-{c}")
            self.busy += self.batch_s
            self.answered += 0 if rows is None else len(chunk)
            yield False
            for j, q in enumerate(chunk):
                mode = ("wand", "maxscore", "wand", "taat")[j % 4]
                self.tracer.enabled = self.traced and (c + j) % 2 == 0
                res, dt = self.query(dict(q, mode=mode), local=False,
                                     name=("taat_query" if mode == "taat"
                                           else "dist_query"))
                self.lat_by_traced[self.tracer.enabled].append(dt)
                self.tracer.enabled = self.traced
                self.lat.append(dt)
                self.busy += dt
                self.answered += res is not None
                if res is not None and rows is not None:
                    ref = rows.get(q["qid"], [])
                    if mode == "taat":
                        self.check([d for d, _ in res]
                                   == [d for d, _ in ref],
                                   f"taat {q['qid']} not rank-identical "
                                   "to batch_search")
                    else:
                        self.check(res == ref, f"{mode} {q['qid']} != "
                                   "batch_search rows")
                yield j == TREC_CHUNK - 1

    def batch(self, chunk: list[dict], trace_id: str):
        """batch_search over the chunk -> {qid: [(doc_id, score)]} in
        (score desc, doc_id asc) order."""
        from irkit_spark.operators.query import batch_search
        t0 = time.perf_counter()
        with self.span("batch_query", trace_id, n_queries=len(chunk)):
            rows = self.op(lambda: batch_search(
                self.idx, {q["qid"]: q["text"] for q in chunk},
                k=100, mode="wand").collect(), f"batch {trace_id}")
        self.batch_s = time.perf_counter() - t0
        if rows is None:
            return None
        out: dict[str, list] = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (int(r["doc_id"]), float(r["score"])))
        for v in out.values():
            v.sort(key=lambda t: (-t[1], t[0]))
        self.batch_rows = len(rows)
        return out

    # ---- traced run: one probe of every operation kind -------------
    def probes(self, serve_log: list[dict], trec_log: list[dict]) -> None:
        """Layer probes: single-core rates of the build's functions on
        a corpus sample, plus a small fixed round of every operation
        kind (local queries, a delete, distributed queries, a batch, an
        upsert), so every per-layer metric exists on every workload."""
        import pandas as pd
        from irkit_spark.functions.codecs import (decode_blocks_batch,
                                                  encode_blocks)
        from irkit_spark.functions.extract import extract_batch
        from irkit_spark.functions.tokenize import tokenize_batch
        from irkit_spark.operators.validate import verify_index
        from irkit_spark.plans.dense_ids import dense_id_mapping
        from pyspark.sql import functions as F

        with self.span("verify_index", "probe"):
            self.check(verify_index(self.spark, self.path)["ok"],
                       "verify_index")
        sample = inputs.pages(self.seed, PROBE_DOCS)
        with self.span("extract_batch", "probe") as sp:
            texts = extract_batch(sample["html"])
        self.layer["extract.docs_per_s"] = len(sample) / sp.seconds
        with self.span("tokenize_batch", "probe") as sp:
            row_idx, toks, lens = tokenize_batch(texts)
        self.layer["tokenize.tokens_per_s"] = int(lens.sum()) / sp.seconds
        # (term, doc) -> tf runs of the sample, one run per term
        codes, _ = pd.factorize(toks)
        key = codes.astype(np.int64) * len(sample) + row_idx
        uk, tf = np.unique(key, return_counts=True)
        term, doc = uk // len(sample), uk % len(sample)
        cuts = np.flatnonzero(np.diff(term)) + 1
        runs = list(zip(np.split(doc.astype(np.uint64), cuts),
                        np.split(tf.astype(np.uint64), cuts)))
        with self.span("encode_blocks", "probe") as sp:
            for d, t in runs:
                encode_blocks(d, t, t.astype(np.float64), 128, "varbyte")
        self.layer["codecs.encode_postings_per_s"] = len(uk) / sp.seconds
        tids = sorted({m["term_id"] for q in serve_log
                       for m in self.idx.lookup_query(q["text"])})
        rows = (self.idx.postings.filter(F.col("term_id").isin(tids))
                .select("blocks").collect())
        n_dec = sum(int(b["n"]) for r in rows for b in r["blocks"])
        with self.span("decode_blocks_batch", "probe") as sp:
            for r in rows:
                decode_blocks_batch(r["blocks"], self.idx.codec)
        self.layer["codecs.decode_postings_per_s"] = n_dec / sp.seconds
        self.layer["serve.working_set_postings"] = n_dec
        pages = self.spark.read.parquet(self.corpus)
        with self.span("dense_id_mapping", "probe") as sp:
            mapping, _ = dense_id_mapping(pages.select("url"), "url",
                                          "doc_id")
            mapping.count()
        self.layer["dense_ids.mapping_s"] = sp.seconds

        # local serving path on warm caches, then two delete rounds
        local = serve_log[:PROBE_QUERIES]
        self.fill_cache(local)
        for q in local + local:
            self.query(q)
        for r in range(2):
            self.delete_round()
            self.query(local[r], after_write=True)
        # distributed path: one batch, then its queries one by one
        chunk = trec_log[:TREC_CHUNK]
        ref = self.batch(chunk, "probe-batch") or {}
        for j, q in enumerate(chunk):
            mode = ("wand", "maxscore", "wand", "taat")[j % 4]
            res, _ = self.query(dict(q, mode=mode), local=False,
                                name=("taat_query" if mode == "taat"
                                      else "dist_query"))
            if res is not None and mode != "taat":
                self.check(res == ref.get(q["qid"], []),
                           f"probe {q['qid']} != batch_search rows")
        self.upsert()

    def upsert(self) -> None:
        """update_index of ~1% of the docs (same urls, new content);
        each upserted url must resolve to one live doc with a new id."""
        from irkit_spark.operators.query import Index
        from irkit_spark.operators.update import update_index
        n_up = max(1, self.n_docs // 100)
        new = inputs.pages(self.seed, n_up, salt="upsert")
        out = os.path.join(self.work, "idx_upsert")
        with self.span("update_index", "upsert") as sp:
            res = self.op(lambda: update_index(
                self.spark, self.path, self.spark.createDataFrame(new),
                out, text_from_html=True), "update_index")
        self.layer["update.wall_s"] = sp.seconds
        if res is None:
            return
        up = Index(self.spark, out)
        live = (up.docs.filter(up.docs.url.isin(list(new["url"])))
                .join(up.deletions_df().select("doc_id"), "doc_id",
                      "left_anti").select("url", "doc_id").collect())
        self.check(len(live) == n_up
                   and len({r["url"] for r in live}) == n_up
                   and all(r["doc_id"] >= self.n_docs for r in live),
                   "upserted urls do not resolve to new doc ids")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(run: Run, serve_log: list[dict],
                  trec_log: list[dict]) -> dict[str, float]:
    """Per-layer metrics of a traced run, from its spans and probes."""
    tr = run.tracer
    out = dict(run.layer)
    phases = {}
    for m in run.build_metrics:
        for k, v in m["phases"].items():
            phases.setdefault(k, []).append(v)
    for k in ("lexicon", "tokenize_write", "docs_write",
              "shuffle_encode_write", "terms_write", "lineage_stats"):
        out[f"build.{k}_s"] = _median(phases.get(k, []))
    builds = tr.named("build_index")
    out["build.jobs"] = _median([s.jobs for s in builds])
    out["build.tasks"] = _median([s.tasks for s in builds])
    out["build.skew_ratio"] = run.build_metrics[-1]["skew_ratio"]
    out["query.index_open_s"] = _median(
        [s.seconds for s in tr.named("index.open")])
    out["query.dl_broadcast_s"] = _median(
        [s.seconds for s in tr.named("index.dl_broadcast")])
    queries = tr.named("query")
    warm = [s for s in queries if not s.attrs.get("after_write")]
    ids = {s.span_id for s in warm}
    for name, key in (("query.lookup", "query.lookup_ms"),
                      ("query.search_call", "query.search_call_ms"),
                      ("query.collect", "query.collect_ms")):
        out[key] = 1e3 * _median([s.seconds for s in tr.named(name)
                                  if s.parent_id in ids])
    out["query.jobs_per_query"] = _mean([s.jobs for s in warm])
    out["query.zero_job_share"] = _mean([s.jobs == 0 for s in warm])
    fill = tr.named("query.cache_fill")
    out["query.cache_fill_s"] = sum(s.seconds for s in fill)
    out["query.cache_fill_jobs"] = sum(s.jobs for s in fill)
    dist = tr.named("dist_query")
    out["dist.jobs_per_query"] = _mean([s.jobs for s in dist])
    out["dist.stages_per_query"] = _mean([s.stages for s in dist])
    out["dist.tasks_per_query"] = _mean([s.tasks for s in dist])
    out["taat.jobs_per_query"] = _mean(
        [s.jobs for s in tr.named("taat_query")])
    batches = tr.named("batch_query")
    out["batch.jobs"] = _median([s.jobs for s in batches])
    out["batch.tasks"] = _median([s.tasks for s in batches])
    out["batch.rows_per_query"] = run.batch_rows / TREC_CHUNK
    deletes = tr.named("delete_docs")
    out["delete.jobs"] = _median([s.jobs for s in deletes])
    out["delete.p50_ms"] = 1e3 * _median(run.delete_lat)
    out["query.del_broadcast_s"] = _median(
        [s.seconds for s in tr.named("index.del_broadcast")])
    after = [s for s in queries if s.attrs.get("after_write")]
    out["churn.first_query_after_write_ms"] = 1e3 * _median(
        [s.seconds for s in after])
    out["churn.first_query_after_write_jobs"] = _mean(
        [s.jobs for s in after])
    upd = tr.named("update_index")
    out["update.jobs"] = sum(s.jobs for s in upd)
    out["update.tasks"] = sum(s.tasks for s in upd)
    out["serve.repeated_term_share"] = _repeated_share(serve_log)
    out["trec.shared_term_share"] = _shared_share(trec_log)
    out["trace.overhead_ratio"] = (_median(run.lat_by_traced[True])
                                   / _median(run.lat_by_traced[False]))
    return out


def _mean(xs):
    return float(np.mean(xs)) if len(xs) else float("nan")


def _repeated_share(log: list[dict]) -> float:
    """Share of the log's term occurrences whose term occurred in an
    earlier query (what the driver caches can reuse)."""
    seen, rep, tot = set(), 0, 0
    for q in log:
        ts = q["text"].split()
        rep += sum(t in seen for t in ts)
        tot += len(ts)
        seen.update(ts)
    return rep / tot


def _shared_share(log: list[dict]) -> float:
    """Share of term occurrences shared with another query of the same
    batch_search chunk (what one batch's decoded blocks can reuse)."""
    shared = tot = 0
    for c in range(0, len(log), TREC_CHUNK):
        chunk = [set(q["text"].split()) for q in log[c:c + TREC_CHUNK]]
        for i, ts in enumerate(chunk):
            others = set().union(*(o for j, o in enumerate(chunk)
                                   if j != i))
            shared += len(ts & others)
            tot += len(ts)
    return shared / tot


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants: the driver JVM, the Python daemon and its workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    todo, hwm = [os.getpid()], []
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm.append(int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    print(f"perfbench: peak RSS over {len(hwm)} processes (MB): "
          f"{sorted((round(m) for m in hwm), reverse=True)}",
          file=sys.stderr)
    return sum(hwm)


def run_workload(spark, tracer, workload: str, seed: int,
                 seconds: float, work: str, cache: str, n_docs: int,
                 n_shards: int, log_size: int,
                 setup_reps: int = SETUP_REPS) -> Run:
    """Set up and run the workload window, check, and (traced)
    probe."""
    run = Run(spark, tracer, work, cache, seed, n_docs, n_shards)
    serve_log = inputs.serve_log(seed, log_size, DELETE_EVERY)
    trec_log = inputs.trec_log(seed, log_size, TREC_COUNTED * TREC_CHUNK)
    t0 = time.perf_counter()
    run.setup(setup_reps)
    if workload == "serve":
        run.fill_cache(serve_log)
        run.window(seconds, run.serve_ops(serve_log), SERVE_COUNTED)
    else:
        run.window(seconds, run.trec_ops(trec_log), TREC_COUNTED)
    run.window_metrics(workload)
    t1 = time.perf_counter()
    if workload == "serve":
        run.serve_checks(serve_log)
    t2 = time.perf_counter()
    if run.traced:
        run.probes(serve_log, trec_log)
        run.layer = layer_metrics(run, serve_log, trec_log)
    print(f"perfbench: {workload} set-up and window {t1 - t0:.1f}s, "
          f"checks {t2 - t1:.1f}s, probes {time.perf_counter() - t2:.1f}s",
          file=sys.stderr)
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    return run
