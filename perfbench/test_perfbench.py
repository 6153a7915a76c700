"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402


def _ipc_bytes(tbl: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


def test_corpus_is_byte_deterministic_per_seed():
    a = _ipc_bytes(gen.make_corpus(5, 300))
    assert a == _ipc_bytes(gen.make_corpus(5, 300))
    assert a != _ipc_bytes(gen.make_corpus(6, 300))


def test_corpus_shape_and_properties():
    tbl = gen.make_corpus(1, 2000)
    assert tbl.column_names == list(gen.CORPUS_COLS)
    keys = set(zip(*(tbl.column(c).to_pylist() for c in ("repo", "path", "commit"))))
    assert len(keys) == tbl.num_rows  # (repo, path, commit) is a unique doc key
    props = gen.corpus_properties(tbl)
    # a minority of docs carry non-ASCII comments, but some always do
    assert 0 < props["non_ascii_doc_share"] < 0.5
    from nyu_search_engine_spark.functions.tokenize import tokenize_py

    lens = [len(tokenize_py(c)) for c in tbl.column("content").to_pylist()]
    # FIXTURES.md doc length: U(30, 800) tokens, plus a comment's words
    assert min(lens) >= gen.MIN_TOKENS
    assert max(lens) <= gen.MAX_TOKENS + 3


def test_identifiers_tokenize_to_one_term():
    import re

    for ident in gen._identifiers(__import__("numpy").random.default_rng(0), 200):
        assert re.fullmatch(r"[a-z0-9]+", ident.lower())


def test_queries_are_deterministic_and_seeded():
    strata = {"rare": [f"r{i}" for i in range(50)], "mid": [f"m{i}" for i in range(50)],
              "hot": [f"h{i}" for i in range(5)]}
    docs = [{"rare": ["r1", "r2"], "mid": ["m3"], "hot": ["h0", "h1"]},
            {"mid": ["m7", "m8"], "hot": ["h2"]}]
    a = gen.make_queries(3, strata, 200, docs)
    assert a == gen.make_queries(3, strata, 200, docs)
    assert a != gen.make_queries(4, strata, 200, docs)
    assert a != gen.make_queries(3, strata, 200, docs, stream=5)
    # AND terms come from one sampled document
    for q in a:
        if q.mode == "AND":
            real = {t for t, k in zip(q.terms, q.strata) if k != "oov"}
            assert any(real <= {t for v in d.values() for t in v} for d in docs)
    assert not any("oov" in q.strata
                   for q in gen.make_queries(3, strata, 50, docs, oov_share=0.0))
    props = gen.query_properties(a)
    assert 0.35 < props["and_share"] < 0.65
    assert 0.03 < props["oov_query_share"] < 0.2
    assert all(1 <= len(q.terms) <= 5 for q in a)


def test_lexicon_strata_split_by_df():
    s = gen.lexicon_strata(["a", "b", "c", "d"], [1, 20, 21, 500], n_docs=10_000)
    assert s == {"rare": ["a", "b"], "mid": ["c"], "hot": ["d"]}


def test_build_slices_follow_partitions_then_slice_size(tmp_path):
    import probes

    per = probes.TOKENIZE_DOCS_PER_SLICE
    (tmp_path / "build_conf.json").write_text(json.dumps(
        {"shard_bounds": [[1, per + 99], [0, 9]]}))
    assert probes.build_slices(str(tmp_path), per + 100, 10_000) == [
        (0, 10), (10, per), (10 + per, 90)]
    # Arrow batches cut a partition before the slice size does
    assert probes.build_slices(str(tmp_path), per + 100, 1000)[:3] == [
        (0, 10), (10, 1000), (1010, 1000)]
    with pytest.raises(ValueError):
        probes.build_slices(str(tmp_path), per + 101, 10_000)


def test_summarize_reports_highest_percentile_with_ten_beyond():
    s = measure.summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100
    assert s["median"] == 50.0
    assert (s["top_p"], s["top_value"]) == (90.0, 90.0)
    s = measure.summarize([float(x) for x in range(1, 21)])
    assert (s["n"], s["top_p"], s["top_value"]) == (20, 50.0, 10.0)
    s = measure.summarize([float(x) for x in range(1, 16)])
    assert s["n"] == 15 and s["top_p"] is None and s["median"] == 8.0


def test_outcomes_count_failed_checks_and_exceptions():
    out = measure.Outcomes()
    out.record(True)
    out.record(False, "check failed")

    def boom():
        raise RuntimeError("boom")

    assert out.call(boom) is None
    assert out.call(lambda: 7) == 7  # success is recorded by the caller
    out.record(True)
    assert (out.attempted, out.failed) == (4, 2)
    assert out.error_rate == 0.5
    assert out.notes == ["check failed", "RuntimeError: boom"]


def test_span_self_times_subtract_children():
    tr = measure.Tracer(True)
    with tr.span("parent", qid=1):
        time.sleep(0.02)
        with tr.span("child"):
            time.sleep(0.03)
    parent, child = tr.spans
    assert child["parent"] == parent["id"] and child["qid"] == 1
    st = tr.self_times()
    assert st[child["id"]] == pytest.approx(child["end"] - child["start"])
    assert st[parent["id"]] == pytest.approx(
        (parent["end"] - parent["start"]) - (child["end"] - child["start"]))


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(False)
    with tr.span("x") as sp:
        pass
    assert sp is None and tr.spans == []


def test_benchmark_json_matches_the_metrics_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
