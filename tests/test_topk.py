"""Rank-identity of the three query paths (BASELINE.json north_rule:
"matching the reference's top-k docIDs and BM25 scores (rank-identical)").

pruned (BMW kernel) == exhaustive (decode+hash agg) == bruteforce (no
index), exact float equality, over the FIXTURES.md §3 query-path matrix:
single rare, tiny intersection, rare+hot, all-hot, OOV-AND, OOV-OR,
unions, engineered ties, k in {1, 10, 100}."""

import pytest

from nyu_search_engine_spark.plans.search import Query, bruteforce_topk

QUERIES = [
    Query(("rareterm00",), "AND"),                       # q01 single-list
    Query(("rareterm00", "rareterm01"), "AND"),          # q02 tiny intersection
    Query(("rareterm02", "hotterm0"), "AND"),            # q03 rarest-first matters
    Query(("hotterm0", "hotterm1", "hotterm2"), "AND"),  # q04 big intersection
    Query(("rareterm00", "oovterm"), "AND"),             # q05 OOV -> empty
    Query(("rareterm05", "rareterm06"), "OR"),           # q06 small union
    Query(("hotterm0", "rareterm07"), "OR"),             # q07 asym. pruning
    Query(("hotterm0", "hotterm1", "hotterm2", "hotterm3"), "OR"),  # q08 worst-case
    Query(("rareterm08", "oovterm"), "OR"),              # q09 OOV skipped
    Query(("def", "return", "class"), "OR"),             # q10 common terms / ties
]


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def _rows_keys(df):
    return [
        (r["rank"], r["repo"], r["path"], r["commit"], r["score"])
        for r in df.collect()
    ]


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: f"{q.mode}-{'_'.join(q.terms)}")
def test_pruned_equals_exhaustive(searcher, q):
    ex = _rows(searcher.search(q, "exhaustive", decorate=False))
    pr = _rows(searcher.search(q, "pruned", decorate=False))
    assert pr == ex


@pytest.mark.parametrize("q", [QUERIES[1], QUERIES[6], QUERIES[9]],
                         ids=["and", "or", "ties"])
def test_index_equals_bruteforce(searcher, corpus, q):
    pr = _rows_keys(searcher.search(q, "pruned"))
    bf = _rows_keys(bruteforce_topk(corpus, q))
    assert pr == bf


@pytest.mark.parametrize("k", [1, 10, 100])
def test_k_boundaries(searcher, k):
    q = Query(("hotterm0", "rareterm07"), "OR", k=k)
    ex = _rows(searcher.search(q, "exhaustive", decorate=False))
    pr = _rows(searcher.search(q, "pruned", decorate=False))
    assert pr == ex
    assert len(pr) <= k


def test_tie_break_is_doc_id_asc(searcher):
    """The 3 cloned docs (synth corpus tail) tie exactly; order by doc_id."""
    q = Query(("hotterm0", "hotterm1"), "OR", k=300)
    rows = _rows(searcher.search(q, "pruned", decorate=False))
    by_score = {}
    for _, doc_id, score in rows:
        by_score.setdefault(score, []).append(doc_id)
    multi = [v for v in by_score.values() if len(v) > 1]
    assert multi, "expected at least one exact score tie from cloned docs"
    for group in multi:
        assert group == sorted(group)


def test_oov_and_is_empty(searcher):
    assert searcher.search(Query(("oovterm",), "AND"), "pruned").count() == 0
    assert searcher.search(Query(("oovterm",), "OR"), "pruned").count() == 0


def test_lexicon_probe_paths_agree(spark, index_root, searcher):
    """The driver-cached lexicon probe (default at test vocab size) and the
    distributed filter-probe must plan and rank identically, incl. OOV."""
    from nyu_search_engine_spark.plans.search_index import IndexSearcher

    dist = IndexSearcher(spark, index_root, lexicon_driver_cache=False)
    assert dist._driver_lex is None
    assert searcher._driver_lex is not None
    # the measured-bytes bound the cache gate enforces must hold: the
    # arrays cost (term bytes + 4B offset + 8B df) per entry, nowhere
    # near a Python dict's object overhead
    lex = searcher._driver_lex
    assert lex.nbytes <= 32 * len(lex.terms) + 64
    for q in (QUERIES[1], QUERIES[4], QUERIES[7], QUERIES[8]):
        assert dist.plan_terms(q) == searcher.plan_terms(q)
        assert _rows(dist.search(q, "pruned", decorate=False)) == _rows(
            searcher.search(q, "pruned", decorate=False)
        )


def test_driver_lexicon_buffer_probe_unit():
    """_DriverLexicon binary-searches the raw Arrow offsets/data buffers
    (no per-comparison scalar materialization): exact on ascii + utf-8
    multi-byte terms, sliced arrays, and OOV probes landing before,
    between, and after every entry."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from nyu_search_engine_spark.plans.search_index import _DriverLexicon

    terms = ["aa", "ab", "abc", "b", "naïve", "zeta", "ζeta"]
    dfs_v = [1, 2, 3, 4, 5, 6, 7]
    # arrival order shuffled, then sorted exactly like IndexSearcher does
    tbl = pa.table({"term": terms[::-1], "df": dfs_v[::-1]})
    order = pc.sort_indices(tbl["term"])
    ts = tbl["term"].take(order).combine_chunks()
    ds = tbl["df"].take(order).combine_chunks().to_numpy()
    lex = _DriverLexicon(ts, ds, ts.nbytes + ds.nbytes)
    got = {t: lex.get(t) for t in terms}
    assert got == dict(zip(terms, dfs_v))
    for oov in ("", "a", "aaa", "abd", "c", "zz", "ζζ", "\U0010ffff"):
        assert lex.get(oov) is None
    # a sliced array shares buffers at a nonzero element offset — the
    # probe must honor .offset
    sliced = ts.slice(2)
    lex2 = _DriverLexicon(sliced, ds[2:], 0)
    srt = sorted(terms)
    assert {t: lex2.get(t) for t in srt[2:]} == {
        t: dict(zip(terms, dfs_v))[t] for t in srt[2:]}
    assert lex2.get(srt[0]) is None


def test_decorated_results_survive_composition(searcher):
    """search() executes eagerly and returns a recreated frame (r6 public
    docstring); callers must be able to keep composing on it."""
    from pyspark.sql import functions as F

    from nyu_search_engine_spark.plans.search import Query

    df = searcher.search(Query(("hotterm0",), "OR", 5), "pruned",
                         decorate=True)
    out = (df.filter(F.col("rank") <= 3)
             .select("rank", "doc_id", "repo")
             .orderBy("rank").collect())
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(r["repo"] for r in out)


def test_undecorated_results_survive_composition(searcher):
    from pyspark.sql import functions as F

    from nyu_search_engine_spark.plans.search import Query

    df = searcher.search(Query(("hotterm0",), "OR", 5), "pruned",
                         decorate=False)
    assert df.filter(F.col("rank") == 1).count() == 1


def test_exhaustive_scores_bitwise_where_jvm_and_numpy_log_differ(
        searcher, monkeypatch):
    """JVM ``log`` (fdlibm StrictMath) and numpy ``log`` round some
    arguments 1 ulp apart. Pick a corpus size at which they disagree on
    the idf of one of the query's terms; the exhaustive path must still
    score bitwise like the pruned one, because it multiplies the
    driver's ``idf_np`` float64 instead of computing idf in Spark."""
    from pyspark.sql import functions as F

    from nyu_search_engine_spark.functions.bm25 import idf_col, idf_np

    q = Query(("hotterm0", "rareterm07", "def"), "OR", 50)
    dfs = [df for _, df, _ in searcher.plan_terms(q)]
    lo = 2 * max(dfs) + 1
    jvm = searcher.spark.range(lo, lo + 20_000).select(
        "id", *[idf_col(F.lit(d), F.col("id")).alias(f"idf{i}")
                for i, d in enumerate(dfs)]).collect()
    n = next(r["id"] for r in jvm
             if any(r[f"idf{i}"] != idf_np(d, r["id"])
                    for i, d in enumerate(dfs)))
    monkeypatch.setattr(searcher, "n_docs", n)
    ex = _rows(searcher.search(q, "exhaustive", decorate=False))
    pr = _rows(searcher.search(q, "pruned", decorate=False))
    assert ex and pr == ex
