"""Headline benchmark: the production extraction plan and the curate funnel.

    python bench.py

Runs perfbench/run.py (the benchmark declared in BENCHMARK.json) for the
extract_html and then the curate_funnel workload, each in its own process
at --seed 1 --seconds 10 --trace 0, and prints one JSON line of at most
1,500 chars built from their last stdout lines. The headline value is
extract_html's docs_per_s; the full ledgers are in perfbench/results/.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_html", "curate_funnel")
SEED = 1
MAX_CHARS = 1500


def ledger_path(workload: str) -> str:
    return f"perfbench/results/{workload}-seed{SEED}-trace0.json"


def headline(runs: dict[str, dict], cpus: int) -> str:
    """One JSON line from each workload's parsed perfbench stdout line."""
    return json.dumps({
        "metric": "extract_docs_per_sec",
        "value": runs["extract_html"]["metrics"]["docs_per_s"]["value"],
        "unit": "docs/s",
        "correct": all(r["correct"] and r["failed"] == 0 for r in runs.values()),
        "cpus": cpus,
        "workloads": {name: {m: v["value"] for m, v in r["metrics"].items()}
                      for name, r in runs.items()},
        "ledgers": [ledger_path(name) for name in runs],
    }, separators=(",", ":"))


def run_workload(workload: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "10", "--trace", "0"]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode == 0 and lines and lines[-1].startswith("{"):
        return json.loads(lines[-1])
    sys.stderr.write(out.stderr[-3000:])
    sys.exit(f"bench: perfbench {workload} exited {out.returncode} "
             "without a JSON line")


def main() -> None:
    runs = {w: run_workload(w) for w in WORKLOADS}
    with open(os.path.join(REPO, ledger_path("extract_html"))) as fh:
        cpus = json.load(fh)["cores"]
    line = headline(runs, cpus)
    assert len(line) <= MAX_CHARS, len(line)
    print(line)


if __name__ == "__main__":
    main()
