"""Per-layer probes for the traced run.

Each probe calls public functions of one layer and records a span around
every call; the per-layer numbers are medians of the spans' self times.
Nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from nyu_search_engine_spark.functions.tokenize import (
    TOKENIZE_DOCS_PER_SLICE,
    tokenize_tf_batch,
)
from nyu_search_engine_spark.operators.daat import TermSlice, shard_topk_and, shard_topk_or
from nyu_search_engine_spark.plans.search import Query

from checks import postings_dataset
from measure import Tracer

SCAN_COLS = ["shard", "term", "max_tfn", "doc_ids_vb", "tfs_vb", "doclens_vb",
             "blocks"]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def build_slices(index_root: str, n_docs: int, batch_rows: int) -> list[tuple[int, int]]:
    """(first doc_id, doc count) of every ``tokenize_tf_batch`` call the
    build's docs stage made: one partition per shard (its doc_id range in
    the index's build_conf.json), cut into Arrow batches of ``batch_rows``
    and those into ``TOKENIZE_DOCS_PER_SLICE``-doc slices."""
    with open(os.path.join(index_root, "build_conf.json")) as fh:
        bounds = sorted(json.load(fh)["shard_bounds"])
    out, lo = [], 0
    for _, max_id in bounds:
        hi = int(max_id) + 1
        for b in range(lo, hi, batch_rows):
            b_hi = min(hi, b + batch_rows)
            for s in range(b, b_hi, TOKENIZE_DOCS_PER_SLICE):
                out.append((s, min(TOKENIZE_DOCS_PER_SLICE, b_hi - s)))
        lo = hi
    if lo != n_docs:
        raise ValueError(f"shard bounds cover {lo} docs, not {n_docs}")
    return out


def tokenizer(docs: pa.Table, slices: list[tuple[int, int]], tr: Tracer) -> dict:
    """``tokenize_tf_batch`` over the build's own slices (``build_slices``).
    A slice holding any non-ASCII byte takes the per-doc spec fallback;
    its share of slices is the build's. When every slice falls back, the
    vectorized kernel is timed on each slice's ASCII docs instead."""
    content = docs.column("content").combine_chunks()
    ascii_doc = pc.string_is_ascii(content).to_numpy(zero_copy_only=False)
    kinds = ["kernel" if ascii_doc[lo:lo + n].all() else "spec"
             for lo, n in slices]
    runs = [(content.slice(lo, n), k) for (lo, n), k in zip(slices, kinds)]
    if "kernel" not in kinds:
        for lo, n in slices:
            idx = lo + np.flatnonzero(ascii_doc[lo:lo + n])
            if idx.size:
                runs.append((content.take(pa.array(idx)), "kernel"))
    us = {"kernel": [0.0, 0], "spec": [0.0, 0]}
    for arr, kind in runs:
        with tr.span(f"tokenize.{kind}") as sp:
            tokenize_tf_batch(arr)
        us[kind][0] += sp["end"] - sp["start"]
        us[kind][1] += len(arr)
    return {
        "tokenize.fallback_slice_share": kinds.count("spec") / len(kinds),
        "tokenize.kernel_us_per_doc": 1e6 * us["kernel"][0] / max(1, us["kernel"][1]),
        "tokenize.spec_us_per_doc": 1e6 * us["spec"][0] / max(1, us["spec"][1]),
    }


class _CountingSlice(TermSlice):
    """TermSlice that records which blocks the kernels asked to decode."""

    __slots__ = ("decoded",)

    def __init__(self, row) -> None:
        super().__init__(row)
        self.decoded: set[int] = set()

    def decode_block(self, b: int):
        self.decoded.add(int(b))
        return super().decode_block(b)


def shard_rows(tbl: pa.Table) -> dict[int, dict[str, dict]]:
    """Scanned postings rows -> shard -> term -> row."""
    out: dict[int, dict[str, dict]] = {}
    for r in tbl.to_pylist():
        out.setdefault(r["shard"], {})[r["term"]] = r
    return out


def scan(dataset, terms) -> pa.Table:
    """The term-IN postings rows, read with pyarrow."""
    return dataset.to_table(columns=SCAN_COLS,
                            filter=pc.field("term").isin(list(terms)))


def replay(rows: dict, planned, q: Query, avgdl: float, tr: Tracer,
           cls=TermSlice, cache: dict | None = None
           ) -> tuple[list[tuple], int, list[list]]:
    """The pruned path's per-shard kernels, on the driver, over scanned
    rows (``shard_rows``) -> (top-k (rank, doc_id, score) merged by
    (score desc, doc_id), candidates, shard slices). ``cache`` shares
    decoded TermSlices between queries over the same rows."""
    with tr.span("daat.termslice_build"):
        shards = []
        for shard, present in rows.items():
            if q.mode == "AND" and any(t not in present for t, _, _ in planned):
                continue
            sl = []
            for t, _, idf in planned:
                if t not in present:
                    continue
                if cache is None:
                    ts = cls(present[t])
                elif (shard, t) in cache:
                    ts = cache[shard, t]
                else:
                    ts = cache[shard, t] = cls(present[t])
                sl.append((t, idf, ts))
            if sl:
                shards.append(sl)
    fn = shard_topk_and if q.mode == "AND" else shard_topk_or
    ids, scores = [], []
    with tr.span("daat.kernel"):
        for sl in shards:
            i, s = fn(sl, q.k, avgdl)
            ids.append(i)
            scores.append(s)
    cand = sum(i.size for i in ids)
    if not cand:
        return [], 0, shards
    ids, scores = np.concatenate(ids), np.concatenate(scores)
    order = np.lexsort((ids, -scores))[:q.k]
    top = [(r + 1, int(ids[o]), float(scores[o])) for r, o in enumerate(order)]
    return top, cand, shards


def expected_batch(dataset, searcher, queries: dict[int, Query]) -> dict[int, list]:
    """query id -> the single-query pruned answer (rank, doc_id, score),
    replayed on the driver over one pyarrow scan of all the queries'
    terms. A query with no in-vocabulary term, or an AND query with an
    out-of-vocabulary one, answers nothing, as ``search`` does."""
    plans = {i: searcher.plan_terms(q) for i, q in queries.items()}
    rows = shard_rows(scan(dataset, sorted({t for pl in plans.values()
                                            for t, _, _ in pl})))
    cache: dict = {}
    off = Tracer(False)
    out = {}
    for i, q in queries.items():
        pl = plans[i]
        if not pl or (q.mode == "AND" and len(pl) < len(set(q.terms))):
            out[i] = []
        else:
            out[i] = replay(rows, pl, q, searcher.avgdl, off, cache=cache)[0]
    return out


def query_path(spark, searcher, index_root: str, queries: list[Query],
               tr: Tracer) -> dict:
    """Decompose the single-query path for each probe query: lexicon probe,
    undecorated and decorated search (timed as a pair), pyarrow postings
    scan, and the DAAT kernels replayed over the scanned rows."""
    sc = spark.sparkContext
    dataset = postings_dataset(index_root)
    per: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per.setdefault(name, []).append(v)

    for qid, q in enumerate(queries):
        with tr.span("query", qid=qid):
            with tr.span("search_index.plan_terms") as sp:
                planned = searcher.plan_terms(q)
            add("plan_ms", 1e3 * (sp["end"] - sp["start"]))
            if not planned:
                continue
            with tr.span("search_index.search") as sp:
                searcher.search(q, "pruned", decorate=False).collect()
            search_ms = 1e3 * (sp["end"] - sp["start"])
            gid = f"perfbench-probe-{qid}"
            sc.setJobGroup(gid, "perfbench decorated probe")
            with tr.span("search_index.search_decorated") as sp:
                searcher.search(q, "pruned", decorate=True).collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            add("jobs", len(sc.statusTracker().getJobIdsForGroup(gid)))
            add("search_ms", search_ms)
            add("decorate_ms", 1e3 * (sp["end"] - sp["start"]) - search_ms)
            with tr.span("index_io.scan") as sp:
                tbl = scan(dataset, [t for t, _, _ in planned])
            scan_ms = 1e3 * (sp["end"] - sp["start"])
            add("scan_ms", scan_ms)
            add("scan_bytes", tbl.nbytes)
            t0 = time.perf_counter()
            rows = shard_rows(tbl)
            _, cand, _ = replay(rows, planned, q, searcher.avgdl, tr)
            kernel_total = 1e3 * (time.perf_counter() - t0)
            add("candidates", cand)
            add("job_overhead_ms", search_ms - scan_ms - kernel_total)
        # untimed counting pass: which blocks the kernels decode
        _, _, shards = replay(rows, planned, q, searcher.avgdl, Tracer(False),
                              cls=_CountingSlice)
        add("blocks_total", sum(s.n_blocks for sl in shards for _, _, s in sl))
        add("blocks_decoded", sum(len(s.decoded) for sl in shards for _, _, s in sl))
    by_name = tr.self_by_name()
    blocks_total = sum(per.get("blocks_total", []))
    return {
        "search_index.plan_ms": _median(per.get("plan_ms", [])),
        "search_index.search_ms": _median(per.get("search_ms", [])),
        "search_index.decorate_ms": _median(per.get("decorate_ms", [])),
        "search_index.spark_jobs_per_call": _median(per.get("jobs", [])),
        "search_index.job_overhead_ms": _median(per.get("job_overhead_ms", [])),
        "index_io.scan_ms": _median(per.get("scan_ms", [])),
        "index_io.scan_bytes": _median(per.get("scan_bytes", [])),
        "daat.termslice_build_ms": 1e3 * _median(by_name.get("daat.termslice_build", [])),
        "daat.kernel_ms": 1e3 * _median(by_name.get("daat.kernel", [])),
        "daat.blocks_decoded": _median(per.get("blocks_decoded", [])),
        "daat.blocks_total": _median(per.get("blocks_total", [])),
        "daat.blocks_decoded_share": (
            sum(per.get("blocks_decoded", [])) / blocks_total
            if blocks_total else float("nan")),
        "daat.candidates_per_query": _median(per.get("candidates", [])),
        "search_index.probe_queries": len(per.get("search_ms", [])),
    }
