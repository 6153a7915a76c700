"""Correctness checks on the program's outputs, computed independently of
the Spark paths where possible (pyarrow reads, the varbyte decoder and the
``tokenize_py`` spec)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from nyu_search_engine_spark.constants import DOC_SORT_KEYS, LEXICON_DIR, POSTINGS_DIR
from nyu_search_engine_spark.functions.tokenize import tokenize_py
from nyu_search_engine_spark.functions.varbyte import vb_decode, vb_decode_docids_blocked

SCORE_RTOL = 1e-9


def docs_in_id_order(corpus: pa.Table) -> pa.Table:
    """Corpus rows in doc_id order: ids are dense ranks of (repo, path,
    commit) byte order, and the generated keys are ASCII."""
    return corpus.sort_by([(c, "ascending") for c in DOC_SORT_KEYS])


def postings_dataset(index_root: str) -> ds.Dataset:
    return ds.dataset(os.path.join(index_root, POSTINGS_DIR), format="parquet",
                      partitioning="hive")


def lexicon_table(index_root: str) -> pa.Table:
    return pq.read_table(os.path.join(index_root, LEXICON_DIR),
                         columns=["term", "df"])


def index_bytes(index_root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(index_root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def recount(docs: pa.Table, terms: list[str]) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """term -> (doc_ids, tfs) by the single-string tokenizer spec."""
    content = docs.column("content")
    lower = pc.utf8_lower(content)
    out = {}
    for t in terms:
        cand = np.flatnonzero(pc.match_substring(lower, t).to_numpy(
            zero_copy_only=False))
        ids, tfs = [], []
        for i in cand.tolist():
            tf = tokenize_py(content[i].as_py()).count(t)
            if tf:
                ids.append(i)
                tfs.append(tf)
        out[t] = (np.array(ids, dtype=np.int64), np.array(tfs, dtype=np.int64))
    return out


def decoded_postings(index_root: str, term: str) -> tuple[np.ndarray, np.ndarray]:
    """All shards' postings of ``term``, decoded with the varbyte codec."""
    tbl = postings_dataset(index_root).to_table(
        columns=["doc_ids_vb", "tfs_vb"], filter=pc.field("term") == term)
    ids, tfs = [], []
    for r in tbl.to_pylist():
        ids.append(vb_decode_docids_blocked(r["doc_ids_vb"]).astype(np.int64))
        tfs.append(vb_decode(r["tfs_vb"]).astype(np.int64))
    if not ids:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    ids, tfs = np.concatenate(ids), np.concatenate(tfs)
    order = np.argsort(ids, kind="stable")
    return ids[order], tfs[order]


def check_build(metrics: dict, index_root: str, n_rows: int,
                expected: dict[str, tuple[np.ndarray, np.ndarray]]) -> list[str]:
    """Problems found in one build (empty list when it is correct)."""
    bad = []
    if metrics["n_docs"] != n_rows:
        bad.append(f"n_docs {metrics['n_docs']} != corpus rows {n_rows}")
    sum_df = pc.sum(lexicon_table(index_root).column("df")).as_py()
    if sum_df != metrics["n_postings"]:
        bad.append(f"lexicon sum(df) {sum_df} != postings {metrics['n_postings']}")
    for t, (ids, tfs) in expected.items():
        got_ids, got_tfs = decoded_postings(index_root, t)
        if not (np.array_equal(got_ids, ids) and np.array_equal(got_tfs, tfs)):
            bad.append(f"postings of {t!r} differ from the tokenize_py recount")
    return bad


def compare_ranked(got: list[tuple], want: list[tuple]) -> tuple[bool, int]:
    """Rank identity of two (rank, doc_id, score) lists -> (ok, number of
    scores that agree within SCORE_RTOL but not bitwise)."""
    if [r[:2] for r in got] != [r[:2] for r in want]:
        return False, 0
    ulp = 0
    for g, w in zip(got, want):
        if g[2] != w[2]:
            if abs(g[2] - w[2]) > SCORE_RTOL * max(abs(w[2]), 1e-300):
                return False, 0
            ulp += 1
    return True, ulp


def decorated_matches(rows: list, docs: pa.Table) -> bool:
    """Decorated (rank, doc_id, score, repo, path, commit) rows carry the
    doc table's keys of their doc_id."""
    if not rows:
        return True
    keys = docs.select(["repo", "path", "commit"]).take(
        pa.array([r[1] for r in rows], pa.int64())).to_pylist()
    return all((r[3], r[4], r[5]) == (k["repo"], k["path"], k["commit"])
               for r, k in zip(rows, keys))
