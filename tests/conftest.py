"""Shared fixtures: one local SparkSession, one tiny synthetic corpus, one
built index (session-scoped — index build is the expensive part)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from nyu_search_engine_spark.session import get_spark
from nyu_search_engine_spark.synth import synth_corpus, synth_corpus_pandas

N_DOCS = 300
SHARD_SIZE = 80  # => 4 shards, hot terms span all of them


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    return synth_corpus_pandas(N_DOCS)


@pytest.fixture(scope="session")
def corpus(spark):
    df = synth_corpus(spark, N_DOCS)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def index_root(spark, corpus):
    from nyu_search_engine_spark.plans.build_index import build_index

    root = tempfile.mkdtemp(prefix="nyu_idx_")
    build_index(spark, corpus, root, shard_size=SHARD_SIZE, n_groups=2)
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def searcher(spark, index_root):
    from nyu_search_engine_spark.plans.search_index import IndexSearcher

    return IndexSearcher(spark, index_root)


@pytest.fixture(scope="session")
def wide_searcher(spark, corpus):
    """One 300-doc shard: hot terms ~186 postings (2 blocks), keywords
    ~300 (3 blocks) — every slice past BLOCK_SIZE exercises the restart."""
    from nyu_search_engine_spark.plans.build_index import build_index
    from nyu_search_engine_spark.plans.search_index import IndexSearcher

    root = tempfile.mkdtemp(prefix="nyu_idx_wide_")
    build_index(spark, corpus, root, shard_size=300, n_groups=1)
    yield IndexSearcher(spark, root)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> (fn(), number of Spark jobs fn ran): the
    job-group delta read through the status tracker."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        gid = f"jobcount-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run
