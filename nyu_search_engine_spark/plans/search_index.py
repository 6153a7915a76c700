"""Index-backed query engine (SURVEY.md §3.2, entry point 2).

Reference trace (query-processor/main, /root/reference/README.md:7):
load lexicon + doc table -> per query: lexicon probe (OOV: AND->empty,
OR->skip) -> open posting lists rarest-first -> DAAT + block-max WAND ->
BM25 size-k heap -> decorate with the doc table.

Lifecycle of one ``search``:
 1. plan: probe the lexicon for the query terms' df (a binary search over
    the driver-cached lexicon; a term-IN Spark filter when the vocabulary
    is too big to cache) -> rarest-first (term, df, idf) list.
 2. pruned path, chosen by the planned terms' total postings (Σ df) and
    the bytes of the postings row groups that hold them:
    * Σ df <= DRIVER_SEARCH_MAX_POSTINGS and bytes <=
      DRIVER_SEARCH_MAX_SCAN_BYTES (the measured crossover,
      BENCH/DRIVER_SEARCH_AB.md): the driver reads the terms' postings
      rows with one pyarrow term-IN scan (row groups pruned by their term
      min/max statistics) and runs the per-shard DAAT/BMW kernel
      (``operators.daat.shard_topk``) itself — no Spark job. The reference
      answers queries the same way: synchronously, in-process.
    * otherwise: the same postings scan runs in Spark (term-IN pushed into
      Parquet) -> groupBy(shard).applyInPandas(the same shard_topk) ->
      TakeOrderedAndProject(k) over n_shards*k candidate rows, merged on
      the driver. The driver never reads or scores more than the two
      constants allow.
    Both arms run the same kernel over the same rows and merge by
    (score DESC, doc_id ASC), so their answers are bitwise identical.
 3. exhaustive path: one mapInArrow decode+explode of the term-IN
    postings -> column-expression BM25 with idf shipped from the driver
    as a literal map -> hash agg with a deterministic rarest-first fold
    -> TakeOrderedAndProject(k). The idf literal is the same float64 the
    pruned kernels multiply, so the two paths agree bitwise.
 4. decorate: the <= k ranked rows are on the driver; their doc_ids are a
    pyarrow point lookup on the docs table (row groups pruned by their
    doc_id min/max statistics).
 5. the rows come back as a VALUES-literal LocalRelation, so the returned
    DataFrame is built and collected without a Spark job. Queries run
    EAGERLY inside search() / search_batch().

``search_batch`` answers many queries in one Spark postings scan and
decorates its collected rows with the same lookup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DOCS_DIR, POSTINGS_DIR
from ..functions.bm25 import idf_np, tf_part_col
from ..functions.varbyte import decode_postings_map
from ..operators.daat import shard_topk
from ..sources import fsio, index_io
from .search import Query


# Collect the (term, df) lexicon into the driver when the vocabulary is
# at most this many terms: the per-query lexicon probe then costs a
# binary search instead of a Spark job, halving the jobs on the
# single-query path. The cache is two parallel term-sorted Arrow/numpy
# arrays (NOT a Python dict — 4M str->int dict entries cost 400-700 MB
# of object headers; the arrays cost len(term)+4B offsets+8B df per
# entry, ~25 B at code-identifier lengths -> ~100 MB at 4M terms, and
# the actual bytes are measured and enforced by
# LEXICON_DRIVER_CACHE_MAX_BYTES below). A 10^12-file code corpus's
# identifier vocabulary can exceed this — the distributed probe stays as
# the fallback, chosen automatically from the lexicon row count.
LEXICON_DRIVER_CACHE_MAX_TERMS = 4_000_000
# hard byte ceiling on the collected arrays (term count is a proxy; the
# measured Arrow buffer size is the truth): above this the cache is
# dropped and the distributed probe is used
LEXICON_DRIVER_CACHE_MAX_BYTES = 256 * 1024 * 1024
# A pruned query whose planned terms hold at most this many postings in
# total (Σ df) is answered on the driver, when the postings row groups
# it must read also hold at most DRIVER_SEARCH_MAX_SCAN_BYTES; otherwise
# in Spark. The driver pays one single-threaded kernel pass and reads
# whole row groups (pyarrow has no page-level skipping); Spark pays a
# ~1-1.4 s job floor but spreads the kernels over the cores and skips pages.
# Both values come from the interleaved fresh-JVM sweeps in
# BENCH/DRIVER_SEARCH_AB.md, and together they bound what the driver
# reads and scores for one query at any index size.
DRIVER_SEARCH_MAX_POSTINGS = 400_000
DRIVER_SEARCH_MAX_SCAN_BYTES = 384 * 1024 * 1024

_SCAN_COLS = ["shard", "term", "max_tfn", "doc_ids_vb", "tfs_vb",
              "doclens_vb", "blocks"]
_DOC_COLS = ["repo", "path", "commit"]
_RANKED = [("rank", "int"), ("doc_id", "long"), ("score", "double")]
_BATCH = [("query_id", "long")] + _RANKED
_DECORATION = [(c, "string") for c in _DOC_COLS]


class _DriverLexicon:
    """Driver-side (term -> df) probe over two parallel sorted arrays.

    ``terms`` is a term-sorted pyarrow string array (UTF-8 byte order ==
    Python str code-point order, so bytewise binary search is exact);
    ``dfs`` the matching int64 numpy array. The probe binary-searches the
    raw Arrow offsets/data buffers through numpy views — zero pyarrow
    scalar (.as_py) materializations, just one small bytes slice per
    comparison. ~(avg_term_len + 12) bytes per entry.
    """

    __slots__ = ("terms", "dfs", "nbytes", "_offsets", "_data")

    def __init__(self, terms, dfs, nbytes: int) -> None:
        self.terms = terms
        self.dfs = dfs
        self.nbytes = nbytes
        odt = np.int64 if pa.types.is_large_string(terms.type) else np.int32
        bufs = terms.buffers()
        off0 = terms.offset  # slices share buffers at an element offset
        self._offsets = np.frombuffer(bufs[1], dtype=odt)[
            off0:off0 + len(terms) + 1]
        self._data = np.frombuffer(bufs[2], dtype=np.uint8)

    def get(self, term: str) -> int | None:
        tb = term.encode("utf-8")
        off, data = self._offsets, self._data
        lo, hi = 0, len(self.terms)
        while lo < hi:
            mid = (lo + hi) // 2
            if data[off[mid]:off[mid + 1]].tobytes() < tb:
                lo = mid + 1
            else:
                hi = mid
        if lo < len(self.terms) and data[off[lo]:off[lo + 1]].tobytes() == tb:
            return int(self.dfs[lo])
        return None


class _ParquetLookup:
    """``key IN (...)`` reads of a Parquet table on the driver (pyarrow).

    pyarrow does not prune row groups for an ``is_in`` filter (nor pages:
    it has no page-index filtering), so a plain filtered scan would read
    every row group of the table. The key column's per-row-group min/max
    statistics and each row group's size are read once at open; a lookup
    reads only the row groups whose [min, max] holds a wanted key (a row
    group without statistics is always read), and ``row_groups`` tells
    the caller how many bytes that is before it commits to the read.
    Spark writes the postings sorted by (shard, term), so a term's rows
    sit in one row group per shard file, and the docs in doc_id-range
    order, so a doc_id sits in one row group."""

    def __init__(self, path: str, key: str) -> None:
        dataset = fsio.parquet_dataset(path)
        self.key = key
        self._dataset = dataset
        self._frags = list(dataset.get_fragments())
        where, lo, hi, known, nbytes = [], [], [], [], []
        for i, frag in enumerate(self._frags):
            frag.ensure_complete_metadata()
            for rg in frag.row_groups:
                st = (rg.statistics or {}).get(key) or {}
                has = "min" in st and "max" in st
                where.append((i, rg.id))
                lo.append(st["min"] if has else None)
                hi.append(st["max"] if has else None)
                known.append(has)
                nbytes.append(rg.total_byte_size)
        self._where = where
        self._known = np.array(known, dtype=bool)
        self._lo = np.array([v for v, k in zip(lo, known) if k])
        self._hi = np.array([v for v, k in zip(hi, known) if k])
        self._nbytes = np.array(nbytes, dtype=np.int64)

    def row_groups(self, keys) -> tuple[np.ndarray, int]:
        """(indices of the row groups that may hold ``keys``, their total
        uncompressed bytes)."""
        want = np.unique(np.asarray(list(keys)))
        hit = ~self._known
        if want.size and self._known.any():
            holds = (np.searchsorted(want, self._lo, "left")
                     < np.searchsorted(want, self._hi, "right"))
            hit[np.flatnonzero(self._known)[holds]] = True
        idx = np.flatnonzero(hit)
        return idx, int(self._nbytes[idx].sum())

    def read(self, keys, columns: list[str],
             row_groups: np.ndarray | None = None) -> pa.Table:
        if row_groups is None:
            row_groups, _ = self.row_groups(keys)
        groups: dict[int, list[int]] = {}
        for i in row_groups:
            f, rg = self._where[i]
            groups.setdefault(f, []).append(rg)
        # one dataset over the row-group subsets: pyarrow reads its files
        # in parallel (half the time of reading them one by one)
        d = self._dataset
        subset = ds.FileSystemDataset(
            [self._frags[f].subset(row_group_ids=rgs)
             for f, rgs in groups.items()],
            d.schema, d.format, d.filesystem)
        return subset.to_table(columns=columns,
                               filter=pc.field(self.key).isin(list(keys)))


def _literal(value, typ: str) -> str:
    """One Spark SQL literal that round-trips ``value`` exactly: a double
    through ``repr`` (shortest exact form), a string through its UTF-8
    bytes as a hex binary literal — no quoting or escaping to get wrong."""
    if value is None:
        return f"CAST(NULL AS {typ.upper()})"
    if typ == "long":
        return f"{int(value)}L"
    if typ == "int":
        return str(int(value))
    if typ == "double":
        return f"CAST({float(value)!r} AS DOUBLE)"
    return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"


class IndexSearcher:
    """Loads an index built by ``build_index`` and answers queries."""

    def __init__(self, spark: SparkSession, index_root: str,
                 lexicon_driver_cache: bool | None = None,
                 query_aqe: bool = False) -> None:
        # Query plans run on a SIBLING session (shared SparkContext and
        # block-manager caches, independent SQLConf) with AQE off: a
        # single query's shuffles are n_shards-row tiny, and AQE's
        # per-exchange query-stage materialization adds a scheduling
        # round-trip per exchange — measured +25-40% single-query
        # latency at 100k (BENCH/QUERY_AQE_AB_100k.md). The BUILD keeps
        # AQE (coalescing/skew handling matter at corpus scale); the
        # caller's session conf is never touched. query_aqe=True keeps
        # queries on the caller's session (A/B arm).
        if not query_aqe:
            self.spark = spark.newSession()
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            # Without AQE's partition coalescing, a query stage runs
            # shuffle.partitions tasks — at 32 partitions on a 2-core
            # cluster that is 16 scheduling waves of n_shards-row tasks
            # (measured: narrow-level fixture latency 1.43 -> 2.09 s,
            # BENCH/QUERY_SCALING_2_to_8_500k_r5aqe.md). Size the query
            # session's reduce parallelism to the cluster's cores: same
            # total kernel work, one wave. Kernel parallelism is
            # per-shard either way (applyInPandas groups by shard inside
            # the task); cores > n_shards just leaves empty partitions.
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, spark.sparkContext.defaultParallelism)),
            )
        else:
            self.spark = spark
        self.index_root = index_root
        # all index frames bind to self.spark — a DataFrame executes
        # under the conf of the session that created it
        self.postings = index_io.read_postings(self.spark, index_root)
        # the lexicon is hot (probed per query): keep it cluster-cached
        self.lexicon = index_io.read_lexicon(self.spark, index_root).persist()
        self.docs = index_io.read_docs(self.spark, index_root)
        stats = index_io.read_stats(self.spark, index_root)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        # driver-side readers: the small-query postings scan and the
        # decorate lookup
        self._postings_rows = _ParquetLookup(
            index_io.table_path(index_root, POSTINGS_DIR), "term")
        self._doc_rows = _ParquetLookup(
            index_io.table_path(index_root, DOCS_DIR), "doc_id")
        if lexicon_driver_cache is None:
            lexicon_driver_cache = (
                self.lexicon.count() <= LEXICON_DRIVER_CACHE_MAX_TERMS
            )
        self._driver_lex: _DriverLexicon | None = None
        if lexicon_driver_cache:
            # Arrow collect keeps the strings in two flat buffers (offsets
            # + bytes) instead of 4M boxed Python objects
            tbl = self.lexicon.select("term", "df").toArrow()
            order = pc.sort_indices(tbl["term"])
            terms = tbl["term"].take(order).combine_chunks()
            dfs = tbl["df"].take(order).combine_chunks().to_numpy()
            nbytes = terms.nbytes + dfs.nbytes
            if nbytes <= LEXICON_DRIVER_CACHE_MAX_BYTES:
                self._driver_lex = _DriverLexicon(terms, dfs, nbytes)

    # --- planning (P4 lexicon probe + T4 rarest-first) -----------------------

    def _probe_df(self, terms: list[str]) -> dict[str, int]:
        """term -> global df for the given terms; OOV terms absent."""
        if self._driver_lex is not None:
            probed = {t: self._driver_lex.get(t) for t in terms}
            return {t: df for t, df in probed.items() if df is not None}
        rows = (
            self.lexicon.filter(F.col("term").isin(list(terms)))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def plan_terms(self, query: Query) -> list[tuple[str, int, float]]:
        """[(term, global_df, idf)] rarest-first; OOV terms dropped."""
        terms = list(dict.fromkeys(query.terms))
        if not terms:
            return []
        df_by_term = self._probe_df(terms)
        meta = sorted(df_by_term.items(), key=lambda x: (x[1], x[0]))
        return [(t, df, idf_np(df, self.n_docs)) for t, df in meta]

    # --- public API -----------------------------------------------------------

    def search(self, query: Query, method: str = "pruned",
               decorate: bool = True, and_bounds: bool = True) -> DataFrame:
        """Answer one query; returns (rank, doc_id, score[, repo, path,
        commit]) ordered by rank.

        EAGER: the query runs inside this call (like the reference's
        synchronous query processor) and the returned DataFrame is a
        local relation over the <= k ranked rows — collecting it runs no
        Spark job, and ``.explain()`` shows the relation, not the kernel
        subplan. A pruned query whose postings are small
        (``DRIVER_SEARCH_MAX_POSTINGS``, ``DRIVER_SEARCH_MAX_SCAN_BYTES``)
        runs no Spark job at all when the lexicon is driver-cached.

        ``and_bounds=False`` disables the conjunctive kernel's
        block-max theta pruning (A/B arm — rank-identical results)."""
        planned = self.plan_terms(query)
        n_query_terms = len(set(query.terms))
        if not planned or (query.mode == "AND" and len(planned) < n_query_terms):
            return self._empty(decorate)
        if method == "exhaustive":
            rows = self._exhaustive(planned, query)
        elif method == "pruned":
            rows = self._pruned(planned, query, and_bounds=and_bounds)
        else:
            raise ValueError(f"unknown method {method!r}")
        return self._relation(rows, _RANKED, decorate)

    # --- path 3: exhaustive decode + hash agg ---------------------------------

    def _exhaustive(self, planned, query: Query) -> list[tuple[int, int, float]]:
        return self._top_rows(self._exhaustive_scored(planned, query), query.k)

    def _exhaustive_scored(self, planned, query: Query) -> DataFrame:
        """The lazy pre-rank (doc_id, score) frame — exposed separately so
        plan audits (tests, plans/r06) can explain the kernel subplan,
        which the eager ranked result does not show."""
        terms = [t for t, _, _ in planned]
        # r6: one mapInArrow decodes AND explodes (term, doc_id, tf,
        # doclen) posting rows — the former two list-returning pandas
        # UDFs + explode(arrays_zip(...)) crossed the Arrow boundary
        # twice per payload and built Python lists per posting
        expl = self.postings.filter(F.col("term").isin(terms)).select(
            "term", "doc_ids_vb", "tfs_vb", "doclens_vb"
        ).mapInArrow(
            decode_postings_map(),
            "term string, doc_id long, tf long, doclen long",
        )
        # per-term (rarest-first position, idf) as a LITERAL map: the idf
        # is the driver's idf_np float64, the very value the pruned
        # kernels multiply (JVM log and numpy log can differ by 1 ulp, so
        # computing idf in Spark would break bitwise score identity); the
        # position orders the per-doc fold rarest-first like the kernels
        meta = F.create_map(*[
            x for pos, (t, _, idf) in enumerate(planned)
            for x in (F.lit(t), F.struct(F.lit(pos).alias("pos"),
                                         F.lit(float(idf)).alias("idf")))
        ])
        scored = expl.withColumn("m", meta[F.col("term")]).withColumn(
            "partial",
            F.col("m.idf") * tf_part_col(F.col("tf"), F.col("doclen"),
                                         self.avgdl),
        )
        per_doc = scored.groupBy("doc_id").agg(
            F.count("*").alias("n_terms"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("m.pos").alias("pos"), "partial"))),
                    lambda x: x["partial"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
        if query.mode == "AND":
            per_doc = per_doc.filter(F.col("n_terms") == len(planned))
        return per_doc.select("doc_id", "score")

    # --- path 2: per-shard DAAT/BMW kernel ------------------------------------

    def _pruned(self, planned, query: Query,
                and_bounds: bool = True) -> list[tuple[int, int, float]]:
        if sum(df for _, df, _ in planned) <= DRIVER_SEARCH_MAX_POSTINGS:
            terms = [t for t, _, _ in planned]
            groups, nbytes = self._postings_rows.row_groups(terms)
            if nbytes <= DRIVER_SEARCH_MAX_SCAN_BYTES:
                return self._pruned_local(planned, query, and_bounds, groups)
        return self._top_rows(
            self._pruned_scored(planned, query, and_bounds), query.k
        )

    def _pruned_local(self, planned, query: Query, and_bounds: bool,
                      row_groups: np.ndarray) -> list[tuple[int, int, float]]:
        """The pruned path on the driver: one pyarrow term-IN read of the
        planned terms' postings rows, ``shard_topk`` per shard, and the
        (score DESC, doc_id ASC) merge TakeOrderedAndProject does."""
        plan = [(t, idf) for t, _, idf in planned]
        tbl = self._postings_rows.read([t for t, _ in plan], _SCAN_COLS,
                                       row_groups)
        by_shard: dict[int, dict] = {}
        for r in tbl.to_pylist():
            by_shard.setdefault(r["shard"], {})[r["term"]] = r
        found = [shard_topk(present, plan, query.mode, query.k, self.avgdl,
                            use_bounds=and_bounds)
                 for present in by_shard.values()]
        if not found:
            return []
        ids = np.concatenate([i for i, _ in found])
        scores = np.concatenate([s for _, s in found])
        top = np.lexsort((ids, -scores))[:query.k]
        return [(r + 1, int(ids[o]), float(scores[o]))
                for r, o in enumerate(top)]

    def _pruned_scored(self, planned, query: Query,
                       and_bounds: bool = True) -> DataFrame:
        """Lazy pre-rank per-shard candidate frame (see _exhaustive_scored)."""
        terms = [t for t, _, _ in planned]
        plan = [(t, idf) for t, _, idf in planned]  # already rarest-first
        mode, k, avgdl = query.mode, query.k, self.avgdl

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            present = {r["term"]: r for _, r in pdf.iterrows()}
            ids, scores = shard_topk(present, plan, mode, k, avgdl,
                                     use_bounds=and_bounds)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        return (
            self.postings.filter(F.col("term").isin(terms))
            .select(*_SCAN_COLS)
            .groupBy("shard")
            .applyInPandas(kernel, "doc_id long, score double")
        )

    # --- batched multi-query search (SURVEY §2.5/T3 batch form) ---------------

    def search_batch(
        self,
        queries: dict[int, Query] | list[tuple[int, Query]],
        decorate: bool = False,
        max_terms_per_chunk: int | str | None = None,
    ) -> DataFrame:
        """Answer MANY queries in ONE postings scan -> (query_id, rank,
        doc_id, score[, repo, path, commit]) ordered by (query_id, rank).

        EAGER like ``search``: each chunk's scan+kernel job runs inside
        this call and per-query ranks are merged driver-side over the
        bounded (n_queries x n_shards x k) candidate rows.

        Amortizes the per-query Spark job floor: all query terms ride one
        lexicon probe and one term-IN-pushdown scan; each shard kernel
        runs every query against its co-located slices (decoded blocks
        are shared across queries via the TermSlice cache), then the
        driver merges each query's n_shards*k candidate rows. Scores are
        bitwise identical to the single-query pruned path (same
        rarest-first slice order, same ``shard_topk``).

        ``max_terms_per_chunk`` bounds the DISTINCT terms any single
        scan+kernel job carries: a giant batch whose term set covers most
        of the vocabulary makes each shard kernel decode most of the
        index in one working set; chunking (queries greedily grouped by
        term overlap, one scan per chunk) keeps the per-kernel decoded
        set bounded at the cost of more jobs. Per-query results are
        identical either way (chunks partition the QUERIES, never one
        query's terms).

        ``"auto"`` resolves the bound from the batch itself:
        ``max(512, union_size // 3)`` — the measured sweet spot of the
        U-curve in BENCH/BATCH_CHUNKING_500k.md (512-term chunks ran
        1.21x over one scan at a 1,349-term union; any bound >= ~1/4 of
        the union measured within 7% of the best, while over-fine
        chunking lost to per-chunk job floors). A batch whose union is
        already <= 512 terms stays one scan.
        """
        items = list(queries.items()) if isinstance(queries, dict) else list(queries)
        all_terms = sorted({t for _, q in items for t in q.terms})
        if not items or not all_terms:
            return self._empty_batch(decorate)
        df_by_term = self._probe_df(all_terms)
        # per-query plan: rarest-first kept terms; OOV => AND empty, OR skip
        qplans: dict[int, tuple[str, int, list[tuple[str, float]]]] = {}
        for qid, q in items:
            terms = list(dict.fromkeys(q.terms))
            kept = [t for t in terms if t in df_by_term]
            if not kept or (q.mode == "AND" and len(kept) < len(terms)):
                continue
            meta = sorted((df_by_term[t], t) for t in kept)
            qplans[int(qid)] = (
                q.mode, q.k, [(t, idf_np(d, self.n_docs)) for d, t in meta]
            )
        if not qplans:
            return self._empty_batch(decorate)
        if max_terms_per_chunk == "auto":
            union = len({t for _, _, tl in qplans.values() for t, _ in tl})
            max_terms_per_chunk = max(512, union // 3)
        rows = [r for ch in self._chunk_qplans(qplans, max_terms_per_chunk)
                for r in self._batch_topk(ch)]
        rows.sort(key=lambda r: (r[0], r[1]))
        return self._relation(rows, _BATCH, decorate)

    @staticmethod
    def _chunk_qplans(
        qplans: dict[int, tuple], max_terms: int | None
    ) -> list[dict[int, tuple]]:
        """Greedy term-overlap grouping: queries sorted by term signature
        (so near-duplicate term sets land adjacent), packed until the
        chunk's distinct-term union would exceed ``max_terms``."""
        if not max_terms:
            return [qplans]
        ordered = sorted(
            qplans.items(),
            key=lambda kv: tuple(sorted(t for t, _ in kv[1][2])),
        )
        chunks: list[dict[int, tuple]] = []
        cur: dict[int, tuple] = {}
        cur_terms: set[str] = set()
        for qid, plan in ordered:
            terms = {t for t, _ in plan[2]}
            if cur and len(cur_terms | terms) > max_terms:
                chunks.append(cur)
                cur, cur_terms = {}, set()
            cur[qid] = plan
            cur_terms |= terms
        if cur:
            chunks.append(cur)
        return chunks

    def _batch_topk(
        self, qplans: dict[int, tuple[str, int, list[tuple[str, float]]]]
    ) -> list[tuple[int, int, int, float]]:
        """One scan + per-shard multi-query kernel, then per-query rank
        merged driver-side -> (query_id, rank, doc_id, score) rows."""
        cand = self._batch_cand(qplans)
        # r6: per-query rank assigned driver-side over the collected
        # candidates — bounded at n_queries_in_chunk * n_shards * k rows
        # (each shard kernel already top-k's per query). Replaces a
        # Window(query_id) + broadcast-join(k) tail: one exchange, a
        # window stage and a createDataFrame round-trip per chunk gone.
        by_qid: dict[int, list] = {}
        for r in cand.collect():
            by_qid.setdefault(r["query_id"], []).append(r)
        out = []
        for qid, (_, k, _) in qplans.items():
            got = by_qid.get(qid)
            if not got:
                continue
            got.sort(key=lambda r: (-r["score"], r["doc_id"]))
            for i, r in enumerate(got[:k]):
                out.append((int(qid), i + 1, int(r["doc_id"]), float(r["score"])))
        return out

    def _batch_cand(
        self, qplans: dict[int, tuple[str, int, list[tuple[str, float]]]]
    ) -> DataFrame:
        """Lazy multi-query per-shard candidate frame (plan-audit seam)."""
        scan_terms = sorted({t for _, _, tl in qplans.values() for t, _ in tl})
        avgdl = self.avgdl

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            present = {r["term"]: r for _, r in pdf.iterrows()}
            cache: dict = {}
            qids, ids, scores = [], [], []
            for qid, (mode, k, tl) in qplans.items():
                i, s = shard_topk(present, tl, mode, k, avgdl, cache=cache)
                qids.append(np.full(i.size, qid, dtype=np.int64))
                ids.append(i)
                scores.append(s)
            return pd.DataFrame({
                "query_id": np.concatenate(qids),
                "doc_id": np.concatenate(ids),
                "score": np.concatenate(scores),
            })

        return (
            self.postings.filter(F.col("term").isin(scan_terms))
            .select(*_SCAN_COLS)
            .groupBy("shard")
            .applyInPandas(kernel, "query_id long, doc_id long, score double")
        )

    # --- shared tail ------------------------------------------------------------

    def _top_rows(self, scored: DataFrame, k: int) -> list[tuple[int, int, float]]:
        """Global top-k + rank. r6: ``orderBy().limit(k)`` executes as a
        TERMINAL TakeOrderedAndProject (per-partition numpy heaps merged on
        the driver — the reference's size-k heap merge), and the rank is
        attached driver-side over the <= k collected rows. The former lazy
        form stacked Window on top of the limit, which re-planned
        TakeOrdered into Sort + single-partition Exchange + WindowExec —
        one extra stage per query, measured ~0.15-0.25 s of the ~0.5 s
        single-query latency."""
        rows = scored.orderBy(F.desc("score"), "doc_id").limit(k).collect()
        return [(i + 1, int(r["doc_id"]), float(r["score"]))
                for i, r in enumerate(rows)]

    def _decoration(self, doc_ids) -> dict[int, tuple]:
        """doc_id -> (repo, path, commit) for the given ids: a pyarrow
        point lookup on the docs table, no Spark job."""
        tbl = self._doc_rows.read(doc_ids, ["doc_id"] + _DOC_COLS)
        cols = [tbl.column(c).to_pylist() for c in _DOC_COLS]
        return dict(zip(tbl.column("doc_id").to_pylist(), zip(*cols)))

    def _relation(self, rows: list[tuple], cols: list[tuple[str, str]],
                  decorate: bool) -> DataFrame:
        """Bounded ranked rows laid out as ``cols`` (doc_id right before
        score) -> a VALUES-literal LocalRelation, decorated with the doc
        table's keys when asked.

        ``collect()`` on it is driver-only (no job), where
        ``createDataFrame(list)`` parallelizes an RDD whose collect is a
        full job (~0.3 s measured). Every literal round-trips exactly
        (``_literal``), so scores stay bitwise identical and strings
        byte-identical. An empty result is the same relation over one
        placeholder row filtered out, so both have one schema."""
        if decorate:
            keys = self._decoration([r[-2] for r in rows])
            rows = [r + keys[r[-2]] for r in rows]
            cols = cols + _DECORATION
        names = ", ".join(c for c, _ in cols)
        if not rows:
            row = {"int": 0, "long": 0, "double": 0.0, "string": ""}
            vals = "(" + ",".join(_literal(row[t], t) for _, t in cols) + ")"
            return self.spark.sql(
                f"SELECT {names} FROM VALUES {vals} AS t({names}) WHERE false")
        vals = ", ".join(
            "(" + ",".join(_literal(v, t) for v, (_, t) in zip(r, cols)) + ")"
            for r in rows
        )
        return self.spark.sql(f"SELECT {names} FROM VALUES {vals} AS t({names})")

    def _empty(self, decorate: bool) -> DataFrame:
        return self._relation([], _RANKED, decorate)

    def _empty_batch(self, decorate: bool) -> DataFrame:
        return self._relation([], _BATCH, decorate)
