"""Self-test of the benchmark, at a tiny extract size (a few minutes):

  1. every workload and metric BENCHMARK.json names is printed, with its
     unit, in a last stdout line of at most 1,500 characters;
  2. a planted change to one output row makes the run report failures
     (ok_frac < 1, correct false) on every workload;
  3. a repetition that starts with anything cached is refused;
  4. the recorder that ties the traced extract layers to
     plans.extract.extract_documents tells two compositions apart.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import env
import run as bench


def _run(argv: list[str], plant: bool = False) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert bench.main(argv, plant_mismatch=plant) == 0
    line = buf.getvalue().strip().splitlines()[-1]
    assert len(line) <= 1500, f"summary line is {len(line)} chars"
    return json.loads(line)


def main() -> int:
    import workloads
    from ledger import WarmCacheError, stop_spark

    workloads.HTML_PAGES, workloads.WARM_PAGES, workloads.RESUME_PAGES = 12, 4, 6
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}

    for w in workloads.WORKLOADS:
        for trace in (0, 1):
            res = _run(["--workload", w, "--seed", "3", "--seconds", "1",
                        "--trace", str(trace)])
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            assert got == wanted[trace], (w, trace, got)
            assert res["correct"] and res["failed"] == 0, (w, trace, res)
            print(f"ok  {w} --trace {trace}: {len(got)} metrics", file=sys.stderr)
        res = _run(["--workload", w, "--seed", "3", "--seconds", "1"], plant=True)
        assert not res["correct"] and res["failed"] > 0, res
        assert res["metrics"]["ok_frac"]["value"] < 1, res
        print(f"ok  {w}: planted mismatch -> failed={res['failed']}", file=sys.stderr)

    env.configure(env.WORK)
    run = workloads.Run(3, env.WORK)
    wl = workloads.ExtractHtml(run)
    try:
        wl.setup()
        wl.load_expected()
        run.spark.sparkContext.parallelize(range(4)).cache().count()
        try:
            wl.rep(0)
        except WarmCacheError:
            print("ok  warm-cache repetition refused", file=sys.stderr)
        else:
            raise AssertionError("a repetition started with a cached RDD")
        from pdf_plumber_util_spark.config import EngineConfig
        from pdf_plumber_util_spark.plans.extract import extract_documents

        with workloads.recorded_calls() as plain:
            extract_documents(wl.pages)
        with workloads.recorded_calls() as other:
            extract_documents(wl.pages, cfg=EngineConfig(drop_boilerplate=True))
        assert plain and plain != other, (plain, other)
        print("ok  a changed extract composition is seen", file=sys.stderr)
    finally:
        stop_spark(run.spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
