"""Driver-local pruned search and the pyarrow decorate.

A pruned query whose planned terms hold at most
``DRIVER_SEARCH_MAX_POSTINGS`` postings runs the per-shard kernels on the
driver over a pyarrow term-IN read; larger ones run them in Spark. Both
arms must return the same rows bit for bit, the driver arm (decorated or
not) must run no Spark job, and the decorate — a pyarrow doc_id lookup
rendered as VALUES literals — must round-trip any string exactly."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest

from nyu_search_engine_spark.plans import search_index as si
from nyu_search_engine_spark.plans.search import Query

QUERIES = [
    Query(("rareterm00",), "AND"),
    Query(("rareterm00", "rareterm01"), "AND"),
    Query(("rareterm02", "hotterm0"), "AND"),
    Query(("hotterm0", "hotterm1", "hotterm2"), "AND"),
    Query(("rareterm00", "rareterm05"), "AND"),            # empty intersection
    Query(("rareterm00", "oovterm"), "AND"),               # OOV -> empty
    Query(("rareterm05", "rareterm06"), "OR"),
    Query(("hotterm0", "rareterm07"), "OR"),
    Query(("hotterm0", "hotterm1", "hotterm2", "hotterm3"), "OR"),
    Query(("rareterm08", "oovterm"), "OR"),                # OOV skipped
    Query(("def", "return", "class"), "OR"),               # ties
    Query(("hotterm0", "rareterm07"), "OR", 1),
    Query(("hotterm0", "rareterm07"), "OR", 100),
    Query(("hotterm0", "hotterm1"), "OR", 300),            # k >= matches
    Query(("hotterm0", "hotterm1"), "AND", 300),
]
WIDE = [
    Query(("hotterm0",), "OR"),
    Query(("def", "return", "class"), "OR", 25),
    Query(("hotterm0", "hotterm1", "hotterm2"), "AND"),
    Query(("hotterm0", "rareterm07"), "OR"),
]


def _ids(q):
    return f"{q.mode}-{'_'.join(q.terms)}-k{q.k}"


def _answer(s, q, decorate):
    return [tuple(r) for r in s.search(q, "pruned", decorate=decorate).collect()]


def _both_arms(s, q, decorate, spark_jobs, monkeypatch):
    """(driver rows, Spark-arm rows), asserting which arm ran by its jobs."""
    driver, jobs = spark_jobs(lambda: _answer(s, q, decorate))
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(si, "DRIVER_SEARCH_MAX_POSTINGS", 0)
        spark_arm, jobs = spark_jobs(lambda: _answer(s, q, decorate))
    planned = s.plan_terms(q)
    if planned and (q.mode == "OR" or len(planned) == len(set(q.terms))):
        assert jobs > 0  # the kernels really ran in Spark
    return driver, spark_arm


@pytest.mark.parametrize("q", QUERIES, ids=_ids)
def test_driver_equals_spark_arm(searcher, spark_jobs, monkeypatch, q):
    driver, spark_arm = _both_arms(searcher, q, False, spark_jobs, monkeypatch)
    assert driver == spark_arm
    assert len(driver) <= q.k


@pytest.mark.parametrize("q", WIDE, ids=_ids)
def test_driver_equals_spark_arm_multiblock(wide_searcher, spark_jobs,
                                            monkeypatch, q):
    driver, spark_arm = _both_arms(wide_searcher, q, True, spark_jobs,
                                   monkeypatch)
    assert driver and driver == spark_arm


def test_scan_byte_cap_sends_query_to_spark(searcher, spark_jobs,
                                            monkeypatch):
    """A query whose postings row groups exceed the byte cap runs in
    Spark even when its Σ df is small; the answer does not change."""
    q = Query(("rareterm00", "rareterm01"), "AND")
    _, nbytes = searcher._postings_rows.row_groups(["rareterm00", "rareterm01"])
    assert 0 < nbytes <= si.DRIVER_SEARCH_MAX_SCAN_BYTES
    driver, jobs = spark_jobs(lambda: _answer(searcher, q, True))
    assert jobs == 0
    monkeypatch.setattr(si, "DRIVER_SEARCH_MAX_SCAN_BYTES", nbytes - 1)
    capped, jobs = spark_jobs(lambda: _answer(searcher, q, True))
    assert jobs > 0 and capped == driver


def test_query_matrix_covers_empty_and_full(searcher):
    """The matrix above holds an empty answer and a k-saturated one."""
    sizes = {_ids(q): len(_answer(searcher, q, False)) for q in QUERIES}
    assert sizes["AND-rareterm00_rareterm05-k10"] == 0
    assert sizes["OR-hotterm0_rareterm07-k100"] == 100


def test_decorated_search_runs_no_spark_job(searcher, spark_jobs):
    """Under the constant, a decorated search — lexicon probe, postings
    read, kernels, doc lookup and the collect — adds zero Spark jobs;
    so does an empty answer."""
    for q in (Query(("hotterm0", "rareterm07"), "OR"),
              Query(("hotterm0", "hotterm1", "hotterm2"), "AND", 5),
              Query(("rareterm00", "rareterm05"), "AND"),
              Query(("oovterm",), "OR")):
        rows, jobs = spark_jobs(lambda: _answer(searcher, q, True))
        assert jobs == 0, q
        assert all(len(r) == 6 for r in rows)


def test_relation_schema_is_the_empty_schema(searcher):
    q = Query(("hotterm0", "rareterm07"), "OR")
    assert searcher.search(q, "pruned").schema == searcher._empty(True).schema
    assert searcher.search(q, "pruned", decorate=False).schema == \
        searcher._empty(False).schema
    batch = searcher.search_batch({1: q}, decorate=True)
    assert batch.schema == searcher._empty_batch(True).schema
    assert searcher.search_batch({1: q}).schema == \
        searcher._empty_batch(False).schema


KEYS = [
    ("o'brien/it's", "src/a.py", "c1"),
    ("plain/repo", "dir\\sub\\file.py", "c2"),
    ("plain/repo", "src/naïve_漢字_🚀.py", "c3"),
    ("quo\\'te/r", "''\\\\'", "c4"),
    ("ünïcode/ßtraße", "x/y.go", "ŧ€st"),
]


@pytest.fixture(scope="module")
def quirky_searcher(spark):
    from nyu_search_engine_spark.plans.build_index import build_index
    from nyu_search_engine_spark.plans.search_index import IndexSearcher

    pdf = pd.DataFrame(
        [(r, p, c, "python", " ".join(["quirkterm"] * (i + 1) + ["filler"] * 5))
         for i, (r, p, c) in enumerate(KEYS)],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    root = tempfile.mkdtemp(prefix="nyu_idx_quirky_")
    build_index(spark, spark.createDataFrame(pdf), root, shard_size=2,
                n_groups=1)
    yield IndexSearcher(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def test_decorate_round_trips_quotes_backslashes_and_unicode(
        quirky_searcher, spark_jobs, monkeypatch):
    """doc_ids are dense ranks of (repo, path, commit) byte order; each
    decorated row must carry its doc's keys exactly, from both arms and
    from the batch API."""
    by_id = sorted(KEYS, key=lambda k: tuple(x.encode("utf-8") for x in k))
    q = Query(("quirkterm",), "OR", 10)
    driver, spark_arm = _both_arms(quirky_searcher, q, True, spark_jobs,
                                   monkeypatch)
    assert driver == spark_arm
    assert len(driver) == len(KEYS)
    for rank, doc_id, _, repo, path, commit in driver:
        assert (repo, path, commit) == by_id[doc_id]
    batch = quirky_searcher.search_batch({7: q}, decorate=True).collect()
    assert [tuple(r)[1:] for r in batch] == driver
