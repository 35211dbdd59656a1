"""Two-cluster-size scaling evidence (BASELINE.md protocol).

No real multi-node cluster exists in this sandbox, so the north-rule's
N -> 4N executor criterion is evidenced by running the SAME job on the
SAME input at local[N] and local[4N].

Methodology (symmetric by construction):
  * Interleaved rounds of fresh JVMs so slow environmental drift hits
    both levels equally; odd rounds run (4N, N) instead of (N, 4N), so
    any penalty the first level leaves for the second alternates sides
    (ABBA) and cancels in the median of the per-round ratios. Per JVM:
    WARMUPS discarded passes then `timed_reps` timed passes, the same
    ex-ante counts at BOTH levels.
  * Both medians are reported: the all-passes median and the
    steady-state median (per-JVM passes after the first timed pass,
    dropped at BOTH levels by the same ex-ante rule).
  * The cache is cleared between passes so every timed pass does the
    full pipeline (tokenize -> lines -> rules -> blocks -> boundaries
    -> body) from the parquet scan, and each pass writes every output
    column to the noop sink: a count() would let Catalyst prune the
    analysis tail and time only the tokenizer and the lines.
  * AQE is ON for the headline (the production session default); an
    AQE-off reference at the high level is recorded for comparison.
  * Default levels: N = nproc / 4 (at least 1) and 4N, from the CPUs this
    process may run on, so the high level uses the whole host and no more.

scaling_efficiency = (throughput_4N / throughput_N) / 4, computed within
each round and reported as the median over rounds.

Usage: python tools/scaling_bench.py [n_docs=1200] [N] [timed_reps=2]
Prints a summary JSON line; per-JVM results go to stderr as they land.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WARMUPS = 2
ROUNDS = 2

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pdf_plumber_util_spark.session import get_spark
from pdf_plumber_util_spark.plans.extract import extract_documents

cores = {cores}
spark = get_spark(app_name="scale", cores=cores)
spark.conf.set("spark.sql.adaptive.enabled", {aqe!r})
pages = spark.read.parquet({pages_dir!r})

def one_pass():
    spark.catalog.clearCache()   # full pipeline every pass
    t0 = time.time()
    extract_documents(pages).write.format("noop").mode("overwrite").save()
    return time.time() - t0

for _ in range({warmups}):
    one_pass()
secs = [one_pass() for _ in range({reps})]
n = extract_documents(pages).count()
print(json.dumps({{"cores": cores, "docs": n, "secs": secs}}))
"""


def _interleaved(pages_dir: str, low: int, high: int, rounds: int,
                 reps: int) -> tuple[int, dict[int, list[list[float]]]]:
    """ABBA rounds of fresh JVMs, symmetric warm-up/timed counts."""
    jvm_secs: dict[int, list[list[float]]] = {low: [], high: []}
    docs = 0
    for r in range(rounds):
        order = (low, high) if r % 2 == 0 else (high, low)
        for cores in order:
            res = run_level(pages_dir, cores, reps=reps, warmups=WARMUPS)
            print(json.dumps(res), file=sys.stderr, flush=True)
            jvm_secs[cores].append(res["secs"])
            docs = res["docs"]
    return docs, jvm_secs


def generate_pages(n_docs: int, out_dir: str) -> None:
    sys.path.insert(0, REPO)
    from pdf_plumber_util_spark.session import get_spark
    from pdf_plumber_util_spark.sources.pages import synth_pages

    spark = get_spark(app_name="gen")
    synth_pages(spark, n_docs, partitions=128).write.mode("overwrite").parquet(out_dir)
    spark.stop()


def run_level(pages_dir: str, cores: int, reps: int, warmups: int = WARMUPS,
              aqe: str = "true") -> dict:
    code = RUNNER.format(repo=REPO, cores=cores, pages_dir=pages_dir,
                         reps=reps, warmups=warmups, aqe=aqe)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=5400
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not line:
        raise RuntimeError(f"run failed (cores={cores}):\n{out.stderr[-2000:]}")
    return json.loads(line[-1])


def main() -> None:
    args = sys.argv[1:]
    n_docs = int(args[0]) if len(args) > 0 else 1200
    low = int(args[1]) if len(args) > 1 else max(1, len(os.sched_getaffinity(0)) // 4)
    reps = int(args[2]) if len(args) > 2 else 2
    high = low * 4

    pages_dir = os.path.join(tempfile.gettempdir(), f"scale_pages_{n_docs}")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        generate_pages(n_docs, pages_dir)

    docs, jvm_secs = _interleaved(pages_dir, low, high, rounds=ROUNDS, reps=reps)
    aqe_off_ref = run_level(pages_dir, high, 2, aqe="false")

    all_passes = {c: [s for jvm in jvm_secs[c] for s in jvm] for c in jvm_secs}
    # steady state: symmetric ex-ante rule — drop each JVM's FIRST timed
    # pass at BOTH levels (identical to all-passes when reps == 1)
    steady = {c: [s for jvm in jvm_secs[c] for s in jvm[1:]] for c in jvm_secs}
    if not all(steady.values()):
        steady = all_passes

    def eff(by_level: dict) -> tuple[dict, float]:
        med = {c: statistics.median(v) for c, v in by_level.items()}
        return med, (med[low] / med[high]) / (high / low)

    med_all, eff_all = eff(all_passes)
    med_st, eff_st = eff(steady)
    # HEADLINE estimator: the ratio computed WITHIN each interleaved
    # round (adjacent-in-time A/B JVMs), then the median over rounds.
    # Interleaving exists to control slow host drift; a pooled-across-
    # rounds median re-introduces it (e.g. drift between rounds can put
    # the pooled low-level median in one round's regime and the
    # high-level median in the other's, biasing the ratio in either
    # direction). The per-round ratio uses ALL timed passes and discards
    # nothing.
    round_effs = [
        (statistics.median(lo) / statistics.median(hi)) / (high / low)
        for lo, hi in zip(jvm_secs[low], jvm_secs[high])
    ]
    eff_rounds = statistics.median(round_effs)
    summary = {
        "n_docs": docs,
        "low_cores": low,
        "high_cores": high,
        "aqe": "on",
        "warmups_per_jvm": WARMUPS,
        "timed_per_jvm": reps,
        "rounds": ROUNDS,
        "median_sec": {str(c): round(med_all[c], 2) for c in med_all},
        "docs_per_sec": {str(c): round(docs / med_all[c], 2) for c in med_all},
        "scaling_efficiency": round(eff_rounds, 3),
        "per_round_efficiencies": [round(e, 3) for e in round_effs],
        "pooled_scaling_efficiency": round(eff_all, 3),
        "steady_median_sec": {str(c): round(med_st[c], 2) for c in med_st},
        "steady_scaling_efficiency": round(eff_st, 3),
        "jvm_runs_sec": {str(c): [[round(x, 2) for x in jvm] for jvm in jvm_secs[c]]
                         for c in jvm_secs},
        "aqe_off_high_median_sec": round(statistics.median(aqe_off_ref["secs"]), 2),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
