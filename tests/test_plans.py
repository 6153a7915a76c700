"""Physical-plan audits (SURVEY.md §4): the optimizations we rely on must
actually appear in the plan — term IN pushed into the Parquet scan,
tokenizer on the Arrow path, and the global top-k as
TakeOrderedAndProject. The decorate is no longer a Spark plan (a pyarrow
lookup, tests/test_driver_search.py)."""

from pyspark.sql import functions as F

from nyu_search_engine_spark.plans.search import Query, bruteforce_topk


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_term_filter_pushed_to_postings_scan(searcher):
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher.postings.filter(F.col("term").isin(list(q.terms)))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan


def test_query_session_disables_aqe_without_touching_caller(spark, searcher):
    """Queries run on a sibling session with AQE off (per-exchange stage
    materialization costs a scheduling round-trip per query,
    BENCH/QUERY_AQE_AB_100k.md); the caller's session keeps AQE for
    builds, and both share one SparkContext (caches stay shared)."""
    assert searcher.spark is not spark
    assert searcher.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert searcher.spark.sparkContext is spark.sparkContext
    # without AQE coalescing, reduce parallelism must match the cluster's
    # cores (one task wave), not the build-sized shuffle.partitions
    assert searcher.spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism)
    assert spark.conf.get("spark.sql.shuffle.partitions") != str(
        spark.sparkContext.defaultParallelism)  # caller conf untouched


def test_bruteforce_uses_arrow_udf_and_takeordered(corpus):
    df = bruteforce_topk(corpus, Query(("rareterm00", "hotterm0"), "OR"))
    plan = _plan(df)
    assert "ArrowEvalPython" in plan  # vectorized tokenizer, not BatchEvalPython
    assert "TakeOrderedAndProject" in plan


def test_exhaustive_path_has_no_per_row_python(searcher):
    """The eager public result is a local relation; audit the lazy
    pre-rank subplan (the part that actually runs on the cluster)."""
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher._exhaustive_scored(searcher.plan_terms(q), q)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "MapInArrow" in plan  # fused decode+explode kernel (r6)
    assert "ArrowEvalPython" not in plan  # former decode-UDF pair is gone
    assert "Generate" not in plan  # former explode(arrays_zip) is gone


def test_pruned_subplan_shape(searcher):
    """Pruned kernel subplan: term-IN pushdown feeds ONE exchange into the
    per-shard applyInPandas kernel — no extra shuffles."""
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher._pruned_scored(searcher.plan_terms(q), q)
    plan = _plan(df)
    assert "In(term" in plan
    assert "FlatMapGroupsInPandas" in plan
    # exactly one exchange node in the tree (the formatted detail section
    # repeats the operator name, so count tree-edge occurrences)
    assert plan.count("+- Exchange") == 1
