from __future__ import annotations

import contextlib
import os
import shutil
import types
import uuid

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from irkit_spark.config import get_spark
    sp = get_spark("irkit-tests", "*", 8)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp
    sp.stop()


@pytest.fixture
def spark_jobs(spark):
    """Context manager counting the Spark work run inside its block:
    `with spark_jobs() as n: ...` then n.jobs / n.stages / n.tasks.
    The block runs in a job group of its own, read back through
    statusTracker(); stages skipped because their shuffle was reused
    do not count (the rule perfbench/spans.count_group uses)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"test-{uuid.uuid4().hex}"
        n = types.SimpleNamespace(jobs=0, stages=0, tasks=0)
        sc.setJobGroup(group, group)
        try:
            yield n
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        stage_ids = set()
        for jid in st.getJobIdsForGroup(group):
            n.jobs += 1
            job = st.getJobInfo(jid)
            stage_ids.update(job.stageIds if job else [])
        for sid in stage_ids:
            stage = st.getStageInfo(sid)
            ran = (stage.numCompletedTasks + stage.numFailedTasks
                   if stage is not None else 0)
            if ran:
                n.stages += 1
                n.tasks += ran
    return count


@pytest.fixture(scope="session")
def pages_small(spark):
    """1000 synthesized pages (FIXTURES.md F1 pages_small, trimmed for
    suite speed; rank-identity statistics are already meaningful)."""
    from irkit_spark.sources.pages import pages_df
    return pages_df(spark, 1000)


@pytest.fixture(scope="session")
def pos_index_pages(spark, pages_small, tmp_path_factory):
    """Index + positions over the synthesized html corpus (url-join
    build path); shared by the phrase and snippet suites."""
    import pandas as pd

    from irkit_spark.functions.extract import EXTRACTORS
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.positions import build_positions
    from irkit_spark.operators.query import Index
    ext = EXTRACTORS["frozen"]
    out = str(tmp_path_factory.mktemp("posidx2") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    pages = pages_small.limit(400)
    build_index(spark, pages, out, docs_per_shard=150,
                text_from_html=True)

    def extr(it):
        for pdf in it:
            yield pd.DataFrame({"url": pdf["url"],
                                "text": [ext(h) for h in pdf["html"]]})
    src = pages.mapInPandas(extr, "url string, text string")
    build_positions(spark, src, out)  # url-join path, auto n_parts
    return Index(spark, out), src


@pytest.fixture(scope="session")
def index_small(spark, pages_small, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("idx") / "small")
    shutil.rmtree(out, ignore_errors=True)
    metrics = build_index(spark, pages_small, out, docs_per_shard=300,
                          text_from_html=True)
    from irkit_spark.operators.query import Index
    return Index(spark, out), metrics
