"""Repository benchmark: one seeded workload per run, in a fresh process.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):
  build  build_index over a generated code corpus, repeated in a closed loop
  query  over a freshly built index: one client's closed loop of decorated
         pruned searches, then a closed loop of search_batch calls

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload with a span around every call into the engine, adds per-layer
probes, and prints the per-layer metrics instead. Human-readable lines come
first; the last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("build", "query")
E2E = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "items_per_s": "1/s",
    "index_bytes_per_content_byte": "ratio",
}
_PHASES = ("assign", "docs_write", "postings", "lexicon")
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warmup_s": "s",
    **{f"build_index.{p}_s": "s" for p in _PHASES},
    **{f"build_index.{p}.{m}": "%" for p in _PHASES for m in ("sys_pct", "idle_pct")},
    "build_index.n_shards": "count",
    "build_index.postings": "count",
    "build_index.bytes_out": "bytes",
    "build_index.compression_ratio": "ratio",
    "tokenize.fallback_slice_share": "ratio",
    "tokenize.kernel_us_per_doc": "us",
    "tokenize.spec_us_per_doc": "us",
    "search_index.open_s": "s",
    "search_index.plan_ms": "ms",
    "search_index.search_ms": "ms",
    "search_index.decorate_ms": "ms",
    "search_index.spark_jobs_per_call": "count",
    "search_index.job_overhead_ms": "ms",
    "index_io.scan_ms": "ms",
    "index_io.scan_bytes": "bytes",
    "daat.termslice_build_ms": "ms",
    "daat.kernel_ms": "ms",
    "daat.blocks_decoded": "count",
    "daat.blocks_total": "count",
    "daat.blocks_decoded_share": "ratio",
    "daat.candidates_per_query": "count",
    "trace.span_cost_us": "us",
    **{f"trace.overhead.{m}_pct": "%" for m in ("setup_s", "call_p50_ms", "items_per_s")},
}

N_DOCS = {"build": 5_000, "query": 3_000}
INTERACTIVE_SHARE = 0.6    # of the query workload's window; batch gets the rest
# calls a window always holds, however slow the host, so its median is stable
MIN_CALLS = {"build": 4, "interactive": 7, "batch": 5}
BATCH_QUERIES = 200        # queries per search_batch call
PROBE_QUERIES = 6          # single-query decompositions in the traced run
CHECK_TERMS = {"rare": 4, "mid": 4, "hot": 2}
QUERY_DOCS = 256           # sampled docs whose terms AND queries combine
DRIVER_MEM = "2g"


def _warm_worker(batches):
    """Python-worker warm-up: import the engine's worker-side modules."""
    import pyarrow as pa

    import nyu_search_engine_spark.operators.assemble  # noqa: F401
    from nyu_search_engine_spark.functions.tokenize import tokenize_tf_batch

    for b in batches:
        tokenize_tf_batch(pa.array(["warmUp worker"]))
        yield b


class Bench:
    def __init__(self, args, work: str) -> None:
        from measure import Outcomes, Tracer

        self.args = args
        self.work = work
        self.n_docs = N_DOCS[args.workload]
        self.tr = Tracer(bool(args.trace))
        self.out = Outcomes()
        self.cores = len(os.sched_getaffinity(0))
        self.e2e: dict[str, tuple[float, int]] = {}   # name -> (value, samples)
        self.layer: dict[str, float] = {}
        self.setup_steps: dict[str, float] = {}
        self.windows: dict[str, dict] = {}
        self.spans_per_call: dict[str, tuple[float, float]] = {}  # (spans, p50 s)
        self.spark = None
        self.searcher = None
        self.marks = [("start", time.perf_counter())]

    def mark(self, name: str) -> None:
        self.marks.append((name, time.perf_counter()))

    def info(self, what: str, **kv) -> None:
        print(what + ": " + ", ".join(f"{k}={v}" for k, v in kv.items()), flush=True)

    # --- set-up ---------------------------------------------------------------

    def _setup_step(self, name: str, fn, *a, **kw):
        """Run one set-up step; its time counts into setup_s."""
        with self.tr.span(name):
            t = time.perf_counter()
            r = fn(*a, **kw)
            self.setup_steps[name] = time.perf_counter() - t
        return r

    def start_session(self) -> None:
        from nyu_search_engine_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        # Python workers import the package from this checkout; every
        # scratch file stays inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        self.spark = self._setup_step(
            "session.start", get_spark, app_name="perfbench",
            cores=self.cores, shuffle_partitions=self.cores,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.local.dir": local,
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"})

        def warm():
            self.spark.range(self.cores, numPartitions=self.cores).mapInArrow(
                _warm_worker, "id long").collect()

        self._setup_step("session.worker_warmup", warm)

    def stop_session(self) -> None:
        """Stop Spark and wait until the driver JVM (and with it every
        Python worker) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # --- inputs ---------------------------------------------------------------

    def make_corpus(self) -> None:
        import pyarrow.parquet as pq

        from checks import docs_in_id_order
        from gen import corpus_properties, make_corpus

        tbl = make_corpus(self.args.seed, self.n_docs)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(tbl, self.corpus_path)
        self.docs = docs_in_id_order(tbl)
        self.props = corpus_properties(tbl)
        self.info("input", **self.props)

    def corpus_df(self):
        from nyu_search_engine_spark.sources.corpus import load_corpus

        return load_corpus(self.spark, self.corpus_path, fmt="parquet")

    def read_lexicon(self, index_root: str) -> None:
        """Query strata and the term sample the build checks recount."""
        import numpy as np

        import pyarrow as pa

        from checks import lexicon_table, recount
        from gen import doc_strata, lexicon_strata
        from nyu_search_engine_spark.functions.tokenize import tokenize_py

        lex = lexicon_table(index_root)
        self.strata = lexicon_strata(lex.column("term").to_pylist(),
                                     lex.column("df").to_numpy(), self.n_docs)
        self.info("lexicon", terms=lex.num_rows,
                  **{f"{k}_terms": len(v) for k, v in self.strata.items()})
        rng = np.random.default_rng([self.args.seed, 7])
        sample = rng.choice(self.docs.num_rows, size=QUERY_DOCS, replace=False)
        self.doc_pools = doc_strata(
            [tokenize_py(c) for c in self.docs.column("content").take(
                pa.array(np.sort(sample))).to_pylist()], self.strata)
        terms = []
        for s, k in CHECK_TERMS.items():
            pool = self.strata[s]
            for i in rng.choice(len(pool), size=min(k, len(pool)), replace=False):
                terms.append(pool[int(i)])
        self.expected = recount(self.docs, terms)

    def gen_queries(self, n: int, stream: int, **kw):
        from gen import make_queries

        return make_queries(self.args.seed, self.strata, n, self.doc_pools,
                            stream=stream, **kw)

    def queries(self, n: int, stream: int, **kw):
        from nyu_search_engine_spark.plans.search import Query

        return [Query(g.terms, g.mode, g.k) for g in self.gen_queries(n, stream, **kw)]

    # --- measurement ------------------------------------------------------------

    def loop(self, name: str, call, seconds: float) -> list[float]:
        """Closed loop of ``call(i)`` until the window ends (and at least
        MIN_CALLS[name] calls)."""
        from measure import cpu_mix, cpu_sample

        lat = []
        n_spans = len(self.tr.spans)
        c0 = cpu_sample()
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(lat) < MIN_CALLS[name]:
            t = time.perf_counter()
            call(len(lat))
            lat.append(time.perf_counter() - t)
        self.windows[name] = {"calls": len(lat), **cpu_mix(c0, cpu_sample())}
        self.spans_per_call[name] = (
            (len(self.tr.spans) - n_spans) / len(lat), statistics.median(lat))
        return lat

    def report_calls(self, name: str, lat: list[float]) -> float:
        from measure import summarize

        s = summarize(lat)
        top = (f"p{s['top_p']:g}={1e3 * s['top_value']:.1f}ms" if s["top_p"]
               else "none (fewer than 10 samples above one)")
        self.info(f"{name}_calls", n=s["n"], p50_ms=round(1e3 * s["median"], 1),
                  highest_percentile_with_10_beyond=top,
                  ms=[round(1e3 * x) for x in lat])
        return s["median"]

    def build_layers(self, m: dict) -> None:
        for p in _PHASES:
            ph = m["phases"][p]
            self.layer[f"build_index.{p}_s"] = ph["wall_s"]
            self.layer[f"build_index.{p}.sys_pct"] = ph["sys_pct"]
            self.layer[f"build_index.{p}.idle_pct"] = ph["idle_pct"]
        self.layer["build_index.n_shards"] = m["n_shards"]
        self.layer["build_index.postings"] = m["n_postings"]
        self.layer["build_index.bytes_out"] = m["bytes_out"]
        self.layer["build_index.compression_ratio"] = m["compression_ratio"]

    def check_build(self, m: dict, root: str) -> None:
        from checks import check_build

        bad = check_build(m, root, self.n_docs, self.expected)
        self.out.record(not bad, "; ".join(bad))

    def index_ratio(self, root: str) -> float:
        from checks import index_bytes

        return index_bytes(root) / self.props["content_bytes"]

    # --- workloads ------------------------------------------------------------

    def cold_build(self) -> tuple[str, dict]:
        """The first build of a fresh session: part of set-up."""
        from nyu_search_engine_spark.plans.build_index import build_index

        root = os.path.join(self.work, "idx0")
        m = self._setup_step("build_index.cold_build", build_index, self.spark,
                             self.corpus_df(), root, cache_input=False)
        self.read_lexicon(root)
        self.check_build(m, root)
        return root, m

    def run_build(self) -> None:
        from nyu_search_engine_spark.plans.build_index import build_index

        root0, _ = self.cold_build()
        corpus = self.corpus_df()
        built = []

        def call(i):
            root = os.path.join(self.work, f"idx{i + 1}")
            with self.tr.span("build_index.build_index"):
                m = self.out.call(build_index, self.spark, corpus, root,
                                  cache_input=False)
            built.append((m, root))

        lat = self.loop("build", call, self.args.seconds)
        self.mark("windows")
        med = self.report_calls("build", lat)
        for m, root in built:
            if m is not None:
                self.check_build(m, root)
        # the nearest-rank median build, the one call_p50_ms reports
        ok = sorted(((t, m, r) for t, (m, r) in zip(lat, built) if m is not None),
                    key=lambda x: x[0])
        _, m_med, root_med = ok[(len(ok) - 1) // 2]
        self.build_layers(m_med)
        self.e2e["call_p50_ms"] = (1e3 * med, len(lat))
        self.e2e["items_per_s"] = (self.n_docs / med, len(lat))
        self.e2e["index_bytes_per_content_byte"] = (self.index_ratio(root_med), len(ok))
        self.last_root = root_med
        for r in [root0] + [r for _, r in built if r != root_med]:
            shutil.rmtree(r, ignore_errors=True)

    def run_query(self) -> None:
        from gen import query_properties
        from nyu_search_engine_spark.plans.search_index import IndexSearcher

        root, m = self.cold_build()
        self.build_layers(m)
        self.last_root = root
        self.e2e["index_bytes_per_content_byte"] = (self.index_ratio(root), 1)
        s = self.searcher = self._setup_step(
            "search_index.open", IndexSearcher, self.spark, root)
        warm = self.queries(BATCH_QUERIES, stream=10)

        def warm_up():
            # the first call of each kind runs slow while the JVM compiles
            # its code paths
            s.search(warm[0], "pruned", decorate=True).collect()
            s.search_batch(dict(enumerate(warm))).collect()

        self._setup_step("search_index.warmup", warm_up)

        # interactive: one client, each decorated search waited on
        single = self.queries(5000, stream=2)
        answers = []

        def one(i):
            q = single[i]
            with self.tr.span("search_index.search_decorated", qid=i):
                rows = self.out.call(
                    lambda: s.search(q, "pruned", decorate=True).collect())
            answers.append((q, rows))

        t_i = INTERACTIVE_SHARE * self.args.seconds
        lat_i = self.loop("interactive", one, t_i)
        p50_i = self.report_calls("interactive", lat_i)
        self.info("interactive_queries", **query_properties(
            self.gen_queries(len(lat_i), stream=2)))

        # batch: a few hundred queries per call, undecorated
        batches = []

        def many(i):
            qs = dict(enumerate(self.queries(BATCH_QUERIES, stream=100 + i)))
            with self.tr.span("search_index.search_batch", qid=i):
                rows = self.out.call(lambda: s.search_batch(qs).collect())
            batches.append((qs, rows))

        lat_b = self.loop("batch", many, self.args.seconds - t_i)
        qps = BATCH_QUERIES / self.report_calls("batch", lat_b)
        self.info("batch_queries", per_call=BATCH_QUERIES, **query_properties(
            self.gen_queries(BATCH_QUERIES, stream=100)))

        self.e2e["call_p50_ms"] = (1e3 * p50_i, len(lat_i))
        self.e2e["items_per_s"] = (qps, len(lat_b))
        self.mark("windows")
        self.check_queries(answers, batches)

    def check_queries(self, answers, batches) -> None:
        """Decorated pruned answers against the exhaustive path; every
        query of every batch call against the single-query pruned answer,
        replayed on the driver over a pyarrow scan of the index."""
        from checks import compare_ranked, decorated_matches, postings_dataset
        from probes import expected_batch

        s = self.searcher

        def check_one(item):
            q, rows = item
            want = [tuple(r) for r in s.search(q, "exhaustive", decorate=False).collect()]
            ok, ulp = compare_ranked([tuple(r)[:3] for r in rows], want)
            return ok and decorated_matches(rows, self.docs), ulp, str(q)

        dataset = postings_dataset(self.last_root)
        ulp_total = batch_compared = 0
        with ThreadPoolExecutor(max_workers=self.cores) as ex:
            # the exhaustive searches run as Spark jobs while the driver
            # replays the batch answers
            one = ex.map(check_one, [a for a in answers if a[1] is not None])
            for qs, rows in batches:
                if rows is None:
                    continue
                got: dict[int, list] = {}
                for r in rows:
                    got.setdefault(r["query_id"], []).append(
                        (r["rank"], r["doc_id"], r["score"]))
                want = expected_batch(dataset, s, qs)
                bad = [str(qs[i]) for i in qs if sorted(got.get(i, [])) != want[i]]
                batch_compared += len(qs)
                self.out.record(not bad, f"search_batch rows differ from the "
                                         f"single-query pruned answer for {bad[:5]}")
            for ok, ulp, q in one:
                self.out.record(ok, f"{q}: pruned answer differs from exhaustive")
                ulp_total += ulp
        self.info("checks", exhaustive_compared=len(answers),
                  batch_queries_compared=batch_compared,
                  score_ulp_mismatches=ulp_total)

    # --- traced-run probes ------------------------------------------------------

    def tracing_overhead(self, cost_us: float) -> None:
        """What the spans add to each timed end-to-end figure: spans per
        timed call (or per set-up step) x the cost of one span, as a share
        of the figure. Tracing writes nothing to the index, so
        index_bytes_per_content_byte has none."""
        cost_s = 1e-6 * cost_us
        self.layer["trace.overhead.setup_s_pct"] = 100 * (
            len(self.setup_steps) * cost_s / sum(self.setup_steps.values()))
        call_w, items_w = (("build", "build") if self.args.workload == "build"
                           else ("interactive", "batch"))
        for metric, w in (("call_p50_ms", call_w), ("items_per_s", items_w)):
            spans, p50 = self.spans_per_call[w]
            self.layer[f"trace.overhead.{metric}_pct"] = 100 * spans * cost_s / p50

    def probes(self) -> None:
        import probes
        from measure import span_cost_us
        from nyu_search_engine_spark.plans.search_index import IndexSearcher

        cost_us = self.layer["trace.span_cost_us"] = span_cost_us()
        self.tracing_overhead(cost_us)
        batch_rows = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        slices = probes.build_slices(self.last_root, self.n_docs, batch_rows)
        self.layer.update(probes.tokenizer(self.docs, slices, self.tr))
        if self.searcher is None:
            self.searcher = self._setup_step(
                "search_index.open", IndexSearcher, self.spark, self.last_root)
        self.layer["search_index.open_s"] = self.setup_steps["search_index.open"]
        for k in ("session.start", "session.worker_warmup"):
            self.layer[k + "_s"] = self.setup_steps[k]
        qs = self.queries(PROBE_QUERIES, stream=3, oov_share=0.0)
        pq = probes.query_path(self.spark, self.searcher, self.last_root, qs, self.tr)
        self.info("probe", queries=pq.pop("search_index.probe_queries"))
        self.layer.update(pq)


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nyu_search_engine_spark", "__init__.py")):
        print("perfbench: the nyu_search_engine_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    b = Bench(args, work)
    try:
        b.info("run", workload=args.workload, seed=args.seed,
               seconds=args.seconds, trace=args.trace, cores=b.cores)
        b.make_corpus()
        b.mark("corpus")
        b.start_session()
        {"build": b.run_build, "query": b.run_query}[args.workload]()
        b.mark("checks")
        if args.trace:
            b.probes()
            b.mark("probes")
    finally:
        b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))
        b.mark("stop")

    b.info("setup", **{k: round(v, 3) for k, v in b.setup_steps.items()})
    b.info("timeline_s", **{n: round(t - t0, 1) for (_, t0), (n, t) in
                            zip(b.marks, b.marks[1:])})
    for name, w in b.windows.items():
        b.info(f"window_{name}", cores=b.cores,
               **{k: round(v, 1) for k, v in w.items()})
    b.info("outcomes", attempted=b.out.attempted, failed=b.out.failed,
           error_rate=round(b.out.error_rate, 6))
    for note in b.out.notes:
        print("failure: " + note)
    if args.trace:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        b.tr.dump(path)
        b.info("spans", count=len(b.tr.spans), file=os.path.relpath(path, ROOT))
        units, values, samples = PER_LAYER, b.layer, {}
    else:
        b.e2e["setup_s"] = (sum(b.setup_steps.values()), 1)
        units = E2E
        values = {k: v for k, (v, _) in b.e2e.items()}
        samples = {k: n for k, (_, n) in b.e2e.items()}
    missing = [k for k in units if not _finite(values.get(k))]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    for k in units:
        n = f" (n={samples[k]})" if k in samples else ""
        print(f"metric {k} = {values[k]:.6g} {units[k]}{n}")
    print(json.dumps({
        "correct": b.out.failed == 0,
        "attempted": b.out.attempted,
        "failed": b.out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
