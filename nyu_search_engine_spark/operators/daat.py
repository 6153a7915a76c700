"""DAAT query kernels (SURVEY.md §2.3 J1/J1'/J2, §4 block-max WAND).

Reference locus: query-processor/main:daat — nextGEQ leapfrog intersection,
rarest-first, block-max WAND pruning, size-k heap
(/root/reference/README.md:7; Ding & Suel, SIGIR 2011).

Spark re-expression: the index is document-sharded, so every query term's
posting slice for a shard is co-located; ``shard_topk`` runs one of these
kernels per shard — inside ``groupBy(shard).applyInPandas`` with NO
query-time shuffle of postings, or on the driver over a pyarrow scan when
the query's postings are small — and the n_shards*k candidate rows are
merged by (score DESC, doc_id ASC).

The kernels are numpy set-at-a-time re-expressions of the row-at-a-time
C++ algorithms (no per-posting Python):

  AND  — vectorized leapfrog: candidates = rarest list; each further list
         is probed via searchsorted (galloping intersection), decoding ONLY
         the blocks that overlap surviving candidates (skip pointers).
  OR   — segment BMW: block boundaries of all terms partition the docID
         axis into segments; each segment's score upper bound is the sum
         of its covering blocks' (idf * max_tfn) impacts. Segments are
         processed in descending bound order, decoding blocks lazily,
         until the next bound falls below the current k-th score — the
         admissible-threshold skip of WAND at block granularity.

Determinism: per-doc partials accumulate in rarest-first (global df ASC,
term ASC) order with the same float64 expression tree as the exhaustive
column-expression path, so scores are bitwise identical and ranks match
(BASELINE.json north_rule rank-identity).
"""

from __future__ import annotations

import numpy as np

from ..functions.bm25 import tf_part_np
from ..functions.varbyte import vb_decode, vb_decode_docids


class TermSlice:
    """One (shard, term) postings row, decoded lazily block by block."""

    __slots__ = ("ids_vb", "tfs_vb", "dls_vb", "lasts", "max_tfn",
                 "off_ids", "off_tfs", "off_dls", "_cache")

    def __init__(self, row) -> None:
        self.ids_vb = bytes(row["doc_ids_vb"])
        self.tfs_vb = bytes(row["tfs_vb"])
        self.dls_vb = bytes(row["doclens_vb"])
        blocks = list(row["blocks"])
        self.lasts = np.array([b["last_doc_id"] for b in blocks], dtype=np.int64)
        self.max_tfn = np.array([b["max_tfn"] for b in blocks], dtype=np.float64)
        self.off_ids = np.array([b["off_ids"] for b in blocks], dtype=np.int64)
        self.off_tfs = np.array([b["off_tfs"] for b in blocks], dtype=np.int64)
        self.off_dls = np.array([b["off_dls"] for b in blocks], dtype=np.int64)
        self._cache: dict[int, tuple] = {}

    @property
    def n_blocks(self) -> int:
        return self.lasts.size

    def decode_block(self, b: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        hit = self._cache.get(b)
        if hit is not None:
            return hit
        ei = self.off_ids[b + 1] if b + 1 < self.n_blocks else len(self.ids_vb)
        et = self.off_tfs[b + 1] if b + 1 < self.n_blocks else len(self.tfs_vb)
        ed = self.off_dls[b + 1] if b + 1 < self.n_blocks else len(self.dls_vb)
        ids = vb_decode_docids(self.ids_vb[self.off_ids[b]:ei]).astype(np.int64)
        tfs = vb_decode(self.tfs_vb[self.off_tfs[b]:et]).astype(np.int64)
        dls = vb_decode(self.dls_vb[self.off_dls[b]:ed]).astype(np.int64)
        out = (ids, tfs, dls)
        self._cache[b] = out
        return out

    def decode_blocks(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        parts = [self.decode_block(int(b)) for b in np.sort(blocks)]
        if not parts:
            e = np.empty(0, dtype=np.int64)
            return e, e, e
        return tuple(np.concatenate([p[i] for p in parts]) for i in range(3))

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return self.decode_blocks(np.arange(self.n_blocks))


def _partial(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    return idf * tf_part_np(tfs, dls, avgdl)


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """k best by (score DESC, doc_id ASC)."""
    if ids.size <= k:
        order = np.lexsort((ids, -scores))
        return ids[order], scores[order]
    # exact: sort all candidates whose score >= kth partitioned score
    kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
    cand = np.nonzero(scores >= kth)[0]
    order = cand[np.lexsort((ids[cand], -scores[cand]))][:k]
    return ids[order], scores[order]


AND_CHUNK_BLOCKS = 32  # rarest-list blocks per candidate chunk (~4k docs)


def shard_topk_and(
    slices: list[tuple[str, float, TermSlice]], k: int, avgdl: float,
    use_bounds: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive kernel with block-max score pruning (the conjunctive
    half of BMW). ``slices`` rarest-first: (term, idf, slice).

    Candidates stream from the rarest list in docID-ordered chunks; a
    running k-th score theta (from fully-scored chunks) prunes later
    candidates BEFORE their remaining lists are probed: a candidate is
    dropped when

        score_so_far + idf_i * max_tfn_i[block(d)] + sum_{j>i} ub_j < theta

    where ub_j = idf_j * max(max_tfn_j) is list j's global impact bound
    and the middle term is the block-level bound of the list about to be
    probed. Dropped candidates provably cannot reach the top-k (strict <,
    so score==theta ties that win on doc_id ASC survive); survivors
    accumulate partials in the same rarest-first float64 order, keeping
    scores bitwise identical to the unpruned walk.

    ``use_bounds=False`` disables the theta pruning (the chunked leapfrog
    intersection still runs) — the A/B arm for measuring what the bounds
    buy (BENCH/AND_PRUNING_AB); results are rank-identical either way.
    """
    _, idf0, s0 = slices[0]
    rest = slices[1:]
    # global per-list impact upper bounds; ub_suffix[i] = sum over lists >= i
    ub = np.array(
        [idf * (sl.max_tfn.max() if sl.n_blocks else 0.0) for _, idf, sl in rest],
        dtype=np.float64,
    )
    ub_suffix = np.concatenate([np.cumsum(ub[::-1])[::-1], [0.0]])
    top_ids = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    for b0 in range(0, max(s0.n_blocks, 1), AND_CHUNK_BLOCKS):
        batch = np.arange(b0, min(b0 + AND_CHUNK_BLOCKS, s0.n_blocks))
        ids, tfs, dls = s0.decode_blocks(batch)
        score = _partial(tfs, dls, idf0, avgdl)
        if use_bounds and top_ids.size >= k:
            keep = score + ub_suffix[0] >= theta
            ids, score = ids[keep], score[keep]
        for i, (_, idf, sl) in enumerate(rest):
            if ids.size == 0:
                break
            # skip pointers: find each candidate's covering block first
            blk = np.searchsorted(sl.lasts, ids)
            ok = blk < sl.n_blocks
            ids, score, blk = ids[ok], score[ok], blk[ok]
            if ids.size == 0:
                break
            if use_bounds and top_ids.size >= k:
                bound = score + idf * sl.max_tfn[blk] + ub_suffix[i + 1]
                keep = bound >= theta
                ids, score, blk = ids[keep], score[keep], blk[keep]
                if ids.size == 0:
                    break
            # decode only blocks still overlapping surviving candidates
            t_ids, t_tfs, t_dls = sl.decode_blocks(np.unique(blk))
            pos = np.searchsorted(t_ids, ids)
            hit = (pos < t_ids.size) & (t_ids[np.minimum(pos, t_ids.size - 1)] == ids)
            ids, score, pos = ids[hit], score[hit], pos[hit]
            if ids.size == 0:
                break
            score = score + _partial(t_tfs[pos], t_dls[pos], idf, avgdl)
        if ids.size == 0:
            continue
        top_ids = np.concatenate([top_ids, ids])
        top_scores = np.concatenate([top_scores, score])
        top_ids, top_scores = _topk(top_ids, top_scores, k)
        if top_ids.size >= k:
            theta = top_scores[-1]
    return top_ids, top_scores


def shard_topk_or(
    slices: list[tuple[str, float, TermSlice]], k: int, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Disjunctive kernel with segment-level block-max WAND pruning."""
    # segment the docID axis by the union of all block boundaries
    bounds = np.unique(np.concatenate([sl.lasts for _, _, sl in slices]))
    n_seg = bounds.size
    upper = np.zeros(n_seg, dtype=np.float64)
    seg_block: list[np.ndarray] = []
    for _, idf, sl in slices:
        blk = np.searchsorted(sl.lasts, bounds)  # covering block per segment
        valid = blk < sl.n_blocks
        impact = np.zeros(n_seg)
        impact[valid] = idf * sl.max_tfn[blk[valid]]
        upper += impact
        b = np.full(n_seg, -1, dtype=np.int64)
        b[valid] = blk[valid]
        seg_block.append(b)

    order = np.argsort(-upper, kind="stable")
    top_ids = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    i = 0
    chunk = max(k, 16)
    while i < order.size:
        # strict <: a bound EQUAL to theta may hide a tie that wins on
        # doc_id ASC, so only provably-worse segments are skipped
        if top_ids.size >= k and upper[order[i]] < theta:
            break
        segs = order[i : i + chunk]
        if top_ids.size >= k:
            segs = segs[upper[segs] >= theta]
            if segs.size == 0:
                break
        i += chunk
        seg_lo = np.where(segs > 0, bounds[segs - 1] + 1, 0)
        seg_hi = bounds[segs]
        ids, scores = _score_segments(slices, seg_block, segs, seg_lo, seg_hi, avgdl)
        top_ids = np.concatenate([top_ids, ids])
        top_scores = np.concatenate([top_scores, scores])
        top_ids, top_scores = _topk(top_ids, top_scores, k)
        if top_ids.size >= k:
            theta = top_scores[-1]
    return top_ids, top_scores


def shard_topk(
    present: dict, plan: list[tuple[str, float]], mode: str, k: int,
    avgdl: float, use_bounds: bool = True,
    cache: dict[str, TermSlice] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One query's top-k over one shard: ``present`` maps term -> that
    shard's postings row, ``plan`` is the query's rarest-first
    (term, idf) list. An AND query missing a term here, or a query with
    no term here, answers nothing. ``cache`` shares decoded TermSlices
    between queries over the same shard rows. Every pruned path (the
    Spark per-shard kernels and the driver-local search) runs this body,
    so their scores are bitwise identical by construction. Returns
    (int64 doc_ids, float64 scores) ordered by (score DESC, doc_id ASC)."""
    none = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if mode == "AND" and any(t not in present for t, _ in plan):
        return none
    slices = []
    for t, idf in plan:
        if t not in present:
            continue
        sl = cache.get(t) if cache is not None else None
        if sl is None:
            sl = TermSlice(present[t])
            if cache is not None:
                cache[t] = sl
        slices.append((t, idf, sl))
    if not slices:
        return none
    if mode == "AND":
        return shard_topk_and(slices, k, avgdl, use_bounds=use_bounds)
    return shard_topk_or(slices, k, avgdl)


def _score_segments(slices, seg_block, segs, seg_lo, seg_hi, avgdl):
    """Exactly score every doc inside the given segments (rarest-first sum)."""
    # gather candidate doc ids per term restricted to the segments
    per_term: list[tuple[np.ndarray, np.ndarray]] = []
    all_ids: list[np.ndarray] = []
    for t_idx, (_, idf, sl) in enumerate(slices):
        blocks = seg_block[t_idx][segs]
        blocks = np.unique(blocks[blocks >= 0])
        if blocks.size == 0:
            per_term.append((np.empty(0, dtype=np.int64), np.empty(0)))
            continue
        t_ids, t_tfs, t_dls = sl.decode_blocks(blocks)
        # keep only postings inside the selected segments (decoded blocks
        # may extend past the chunk's last segment — clip before indexing)
        lo_sorted = np.sort(seg_lo)
        hi_sorted = np.sort(seg_hi)
        seg_idx = np.searchsorted(hi_sorted, t_ids)
        safe_idx = np.minimum(seg_idx, hi_sorted.size - 1)
        keep = (seg_idx < hi_sorted.size) & (t_ids >= lo_sorted[safe_idx])
        t_ids, t_tfs, t_dls = t_ids[keep], t_tfs[keep], t_dls[keep]
        per_term.append((t_ids, _partial(t_tfs, t_dls, idf, avgdl)))
        all_ids.append(t_ids)
    if not all_ids:
        return np.empty(0, dtype=np.int64), np.empty(0)
    uids = np.unique(np.concatenate(all_ids))
    acc = np.zeros(uids.size, dtype=np.float64)
    for t_ids, partial in per_term:  # fixed rarest-first order => deterministic sum
        if t_ids.size:
            acc[np.searchsorted(uids, t_ids)] += partial
    return uids, acc
