"""Regression: multi-block posting lists must decode correctly everywhere.

encode_term_postings restarts delta encoding with an ABSOLUTE doc_id at
each BLOCK_SIZE-posting block start (operators/assemble.py), so a plain
cumsum over the whole payload corrupts every docID past block 0. The
pruned kernel always decoded per block (TermSlice.decode_block) and was
safe; the exhaustive path decoded whole payloads and was wrong for any
(shard, term) slice longer than BLOCK_SIZE — invisible to the session
fixtures whose shard_size (80) < BLOCK_SIZE (128).

Covers: the vectorized segmented-cumsum decoder unit-wise, and
exhaustive == pruned == bruteforce on an index whose hot/common-term
slices span 2-3 blocks.
"""

from __future__ import annotations

import numpy as np
import pytest

from nyu_search_engine_spark.constants import BLOCK_SIZE
from nyu_search_engine_spark.functions.varbyte import (
    vb_decode_docids_blocked,
)
from nyu_search_engine_spark.operators.assemble import encode_term_postings
from nyu_search_engine_spark.plans.search import Query, bruteforce_topk


@pytest.mark.parametrize(
    "n", [1, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1, 300, 1000]
)
def test_blocked_docid_roundtrip(n):
    rng = np.random.default_rng(n)
    ids = np.cumsum(rng.integers(1, 50, size=n)).astype(np.int64)
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    dls = rng.integers(30, 900, size=n).astype(np.int64)
    row = encode_term_postings(ids, tfs, dls, avgdl=200.0)
    got = vb_decode_docids_blocked(row["doc_ids_vb"]).astype(np.int64)
    assert got.tolist() == ids.tolist()


def test_single_cumsum_would_be_wrong():
    """Documents WHY the blocked decoder exists: >1 block differs from a
    global cumsum (the pre-fix behavior)."""
    n = BLOCK_SIZE + 72
    ids = np.arange(10, 10 + 2 * n, 2, dtype=np.int64)
    row = encode_term_postings(
        ids, np.ones(n, dtype=np.int64), np.full(n, 100, dtype=np.int64), 100.0
    )
    from nyu_search_engine_spark.functions.varbyte import vb_decode, delta_decode

    naive = delta_decode(vb_decode(row["doc_ids_vb"])).astype(np.int64)
    assert naive.tolist() != ids.tolist()
    fixed = vb_decode_docids_blocked(row["doc_ids_vb"]).astype(np.int64)
    assert fixed.tolist() == ids.tolist()


WIDE_QUERIES = [
    Query(("hotterm0",), "OR"),
    Query(("def", "return", "class"), "OR"),
    Query(("hotterm0", "hotterm1", "hotterm2"), "AND"),
    Query(("hotterm0", "rareterm07"), "OR"),
]


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize(
    "q", WIDE_QUERIES, ids=lambda q: f"{q.mode}-{'_'.join(q.terms)}"
)
def test_multiblock_exhaustive_equals_pruned(wide_searcher, q):
    ex = _rows(wide_searcher.search(q, "exhaustive", decorate=False))
    pr = _rows(wide_searcher.search(q, "pruned", decorate=False))
    assert len(ex) > 0
    assert pr == ex


def test_multiblock_matches_bruteforce(wide_searcher, corpus):
    q = Query(("def", "return", "class"), "OR", 25)
    pr = [
        (r["rank"], r["repo"], r["path"], r["score"])
        for r in wide_searcher.search(q, "exhaustive").collect()
    ]
    bf = [
        (r["rank"], r["repo"], r["path"], r["score"])
        for r in bruteforce_topk(corpus, q).collect()
    ]
    assert pr == bf
