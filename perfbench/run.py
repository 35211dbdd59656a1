"""Benchmark of the production extraction plan.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 10 --trace 0

Workloads: extract_html, curate_funnel (workloads.py).
The run starts Spark at this host's core count, makes its inputs from
--seed, warms up, then repeats the workload from an empty cache until
--seconds of timed repetitions have passed, and checks every output
outside the timed window. The last stdout line is one JSON object:

  --trace 0  end-to-end metrics: docs_per_s, setup_s, ok_frac, peak_rss_mb
  --trace 1  per-layer metrics of a separate traced run (STDOUT_LAYERS)

The full ledger (every layer metric, spans with self times, Spark stage
rows, per-repetition walls, and the host's CPU steal and the JVM's peak
old generation over the timed window) goes to perfbench/results/. The expected
curate_funnel outputs are pinned by perfbench/pin_curate.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import env

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "ok_frac": "ratio",
              "peak_rss_mb": "MB"}
# the per-layer metrics printed with --trace 1: the ones an optimisation
# of ROADMAP items 2, 3 and 5 is most likely to move. The ledger file
# holds all of workloads.LAYER_UNITS.
STDOUT_LAYERS = [
    "session.start_s", "tokenizer.wall_s", "tokenizer.py_exec_s",
    "tokenizer.py_init_s", "tokenizer.jvm_cpu_s", "exchange.shuffle_write_bytes",
    "exchange.skew", "lines.wall_s", "lines.task_s", "lines.gc_s",
    "lines.cache_bytes", "boundaries.wall_s", "plan.exchanges", "plan.jobs",
    "pipeline.slot_busy_frac", "pipeline.docs_per_s_1core",
    "pipeline.scaling_eff", "resume.land_s", "resume.audit_s",
    "resume.publish_s", "resume.docs_reprocessed", "curate.wall_s",
    "curate.dedup_s", "curate.perplexity_s", "trace.overhead_s",
]


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def timed_run(wl, seconds: float) -> tuple[dict, list[dict], dict]:
    """Repeat the workload until ``seconds`` of timed repetitions have
    passed. Returns the end-to-end metrics, the repetitions, and the
    host's CPU steal and the JVM's peak old generation over the timed
    window."""
    from ledger import OldGen, PeakMemory, host_cpu, steal_frac

    reps: list[dict] = []
    heap = OldGen(wl.run.spark)
    heap.reset()
    mem = PeakMemory()
    cpu0 = host_cpu()
    mem.start()
    try:
        while not reps or sum(r["wall_s"] for r in reps) < seconds:
            r = wl.rep(len(reps))
            del r["out"]  # checked; held, it would grow the peak with the rep count
            reps.append(r)
    finally:
        peak = mem.stop()
    window = {"steal_frac": steal_frac(cpu0, host_cpu()),
              "jvm_old_gen_peak_mb": heap.peak_bytes() / 1e6}
    wall = sum(r["wall_s"] for r in reps)
    ok = sum(r["ok"] for r in reps)
    return {"docs_per_s": ok / wall, "peak_rss_mb": peak / 1e6}, reps, window


def main(argv: list[str] | None = None, plant_mismatch: bool = False) -> int:
    """Run one workload; ``plant_mismatch`` (self-test only) corrupts one
    output row before it is checked."""
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    env.configure(env.WORK)

    import workloads
    from ledger import stop_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    run = workloads.Run(args.seed, env.WORK, plant_mismatch)
    wl = workloads.WORKLOADS[args.workload](run)
    ledger: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": run.cores}
    try:
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        with run.spans.span("expected"):
            wl.load_expected()
        if args.trace:
            wl.trace()
        else:
            e2e, reps, window = timed_run(wl, args.seconds)
    finally:
        if run.spark is not None:
            with run.spans.span("stop"):
                stop_spark(run.spark)

    if args.trace:
        attempted, failed = run.notes["attempted"], run.notes["failed"]
        correct = failed == 0 and run.notes["trace_correct"]
        metrics = {n: _metric(run.layer[n], workloads.LAYER_UNITS[n])
                   for n in STDOUT_LAYERS}
    else:
        attempted = sum(r["attempted"] for r in reps)
        failed = attempted - sum(r["ok"] for r in reps)
        correct = failed == 0
        values = dict(e2e, setup_s=setup_s, ok_frac=(attempted - failed) / attempted)
        metrics = {n: _metric(values[n], u) for n, u in END_TO_END.items()}
        ledger.update(reps=reps, timed_window=window)

    ledger.update(correct=correct, attempted=attempted, failed=failed,
                  setup_s=setup_s, metrics=metrics,
                  layer={n: _metric(v, workloads.LAYER_UNITS[n])
                         for n, v in run.layer.items()},
                  spans=run.spans.with_self_times(), notes=run.notes)
    os.makedirs(env.RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(env.RESULTS, name), "w") as fh:
        json.dump(ledger, fh, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
