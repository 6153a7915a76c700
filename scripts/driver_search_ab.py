"""Interleaved fresh-JVM sweep: driver-local vs Spark pruned search, by Σ df.

``IndexSearcher.search(method="pruned")`` answers on the driver when the
planned terms' total postings (Σ df) are at most
``DRIVER_SEARCH_MAX_POSTINGS``, and in Spark above it. This sweep times
decorated searches in both arms over OR queries whose Σ df spans the
crossover, so the constant comes from a measurement:

  * arm ``driver`` sets ``DRIVER_SEARCH_MAX_POSTINGS`` and
    ``DRIVER_SEARCH_MAX_SCAN_BYTES`` to infinity (every query local);
  * arm ``spark`` sets them to 0 (every query through applyInPandas).

Each row also reports the postings bytes the driver arm reads (the row
groups that may hold the terms), the input of the second constant.

Each trial starts one fresh JVM per arm, arms alternating which goes
first; inside a JVM every query is warmed once and then timed REPS times
(median kept). Queries are picked from the index's own lexicon: for each
Σ df target, the single term, or the OR of 2, 3 or 4 of the 64, 24 or 12
highest-df terms, whose Σ df is closest to it.

Usage:
    python scripts/driver_search_ab.py <index_root> [trials] [out.md]

The index must exist (``build_index`` over a corpus big enough that hot
terms pass the crossover, e.g. ``synth_corpus`` at 200k docs).
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TARGETS = [2_000, 10_000, 25_000, 50_000, 100_000, 150_000, 200_000,
           300_000, 400_000, 600_000, 800_000]
REPS = 3
CORES = len(os.sched_getaffinity(0))

TRIAL_CODE = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from nyu_search_engine_spark.session import get_spark
from nyu_search_engine_spark.plans import search_index as si
from nyu_search_engine_spark.plans.search import Query

arm, queries = sys.argv[1], json.loads(sys.argv[2])
cap = float("inf") if arm == "driver" else 0
si.DRIVER_SEARCH_MAX_POSTINGS = si.DRIVER_SEARCH_MAX_SCAN_BYTES = cap
spark = get_spark(app_name="driver_search_ab", cores={cores},
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
s = si.IndexSearcher(spark, {root!r})
sc = spark.sparkContext
out = []
for i, terms in enumerate(queries):
    q = Query(tuple(terms), "OR", 10)
    s.search(q, "pruned").collect()  # warm
    ms = []
    gid = f"q{{i}}"
    sc.setJobGroup(gid, "sweep")
    for _ in range({reps}):
        t = time.perf_counter()
        s.search(q, "pruned").collect()
        ms.append(1e3 * (time.perf_counter() - t))
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(gid)) / {reps}
    nbytes = s._postings_rows.row_groups(terms)[1]
    out.append({{"ms": statistics.median(ms), "jobs": jobs, "bytes": nbytes}})
print("RESULT " + json.dumps(out))
spark.stop()
"""


def pick_queries(root: str) -> list[tuple[list[str], int]]:
    """(terms, Σ df) closest to each target, from the index's lexicon."""
    import pyarrow.parquet as pq

    from nyu_search_engine_spark.constants import LEXICON_DIR

    lex = pq.read_table(os.path.join(root, LEXICON_DIR), columns=["term", "df"])
    df = dict(zip(lex.column("term").to_pylist(), lex.column("df").to_pylist()))
    top = sorted(df, key=lambda t: (-df[t], t))
    cands = [([t], d) for t, d in df.items()]
    for n, width in ((2, 64), (3, 24), (4, 12)):
        cands += [(list(c), sum(df[t] for t in c))
                  for c in itertools.combinations(top[:width], n)]
    return [min(cands, key=lambda c: (abs(math.log(c[1] / tgt)), c[0]))
            for tgt in TARGETS]


def trial(arm: str, root: str, queries: list[list[str]]) -> list[dict]:
    code = TRIAL_CODE.format(repo=REPO, root=root, cores=CORES, reps=REPS)
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run([sys.executable, "-c", code, arm, json.dumps(queries)],
                         capture_output=True, text=True, timeout=1800, env=env)
    line = [x for x in res.stdout.splitlines() if x.startswith("RESULT ")]
    if not line:
        raise RuntimeError(f"{arm} trial failed:\n{res.stderr[-3000:]}")
    return json.loads(line[0][len("RESULT "):])


def main() -> None:
    root = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out_md = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        REPO, "BENCH", "DRIVER_SEARCH_AB.md")
    picked = pick_queries(root)
    queries = [t for t, _ in picked]
    raw: dict[str, list[list[dict]]] = {"driver": [], "spark": []}
    for i in range(trials):
        order = ("driver", "spark") if i % 2 == 0 else ("spark", "driver")
        for arm in order:
            raw[arm].append(trial(arm, root, queries))
            print(f"trial {i} {arm}: "
                  f"{[round(r['ms']) for r in raw[arm][-1]]}", flush=True)
    rows = []
    for j, (terms, sdf) in enumerate(picked):
        d = [t[j]["ms"] for t in raw["driver"]]
        s = [t[j]["ms"] for t in raw["spark"]]
        wins = sum(a < b for a, b in zip(d, s))
        rows.append((terms, sdf, raw["driver"][0][j]["bytes"], d, s, wins,
                     raw["driver"][0][j]["jobs"], raw["spark"][0][j]["jobs"]))
    lines = [
        "# Driver-local vs Spark pruned search, by Σ df",
        "",
        f"`python scripts/driver_search_ab.py <index_root> {trials}`; "
        f"{CORES} cores, {trials} trials, one fresh JVM per arm per trial, "
        f"arms alternating first; each cell is the median of {REPS} timed "
        "decorated `search(q, \"pruned\")` calls after one warm call.",
        "",
        "| Σ df | terms | scan MB | driver ms (median) | spark ms (median) | "
        "spark/driver | driver wins | jobs/call driver, spark |",
        "|---:|---|---:|---:|---:|---:|---:|---|",
    ]
    for terms, sdf, nb, d, s, wins, jd, js in rows:
        md, ms = statistics.median(d), statistics.median(s)
        lines.append(f"| {sdf} | {' '.join(terms)} | {nb / 2**20:.0f} | "
                     f"{md:.0f} | {ms:.0f} | "
                     f"{ms / md:.2f} | {wins}/{len(d)} | {jd:g}, {js:g} |")
    lines += ["", "Raw per-trial medians (ms), trial order:", "", "```json",
              "{", ' "queries": [',
              ",\n".join(f"  {json.dumps({'terms': t, 'sum_df': sdf})}"
                         for t, sdf in picked),
              " ],"]
    for arm in ("driver", "spark"):
        lines += [f' "{arm}": [',
                  ",\n".join(f"  {json.dumps([round(r['ms'], 1) for r in t])}"
                             for t in raw[arm]),
                  " ]," if arm == "driver" else " ]"]
    lines += ["}", "```", ""]
    with open(out_md, "w") as fh:
        fh.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
