"""Recompute the pinned curate_funnel outputs (curate_pins.json).

    python3 perfbench/pin_curate.py             # recompute, print differences
    python3 perfbench/pin_curate.py --replace   # and write the new pins

Each variant runs through the workload's own set-up and repetition, in a
session of its own. Without --replace the pins file is never written and
the exit code is 1 when any pin differs. A replaced pin is a change of
the curate_funnel output: the change that replaces it says why.
"""

from __future__ import annotations

import argparse
import json
import sys

import env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--replace", action="store_true", help="write the new pins")
    args = ap.parse_args()
    env.configure(env.WORK)

    import inputs
    import workloads
    from ledger import stop_spark

    try:
        old = inputs.read_pins()
    except FileNotFoundError:
        old = {}
    new = {"documents_sha256": None, "outputs": {}}
    for v in range(inputs.CURATE_VARIANTS):
        run = workloads.Run(v, env.WORK)
        wl = workloads.CurateFunnel(run)
        try:
            wl.setup()
            new["documents_sha256"] = wl.docs_digest
            new["outputs"][str(v)] = wl.rep(0)["digest"]
        finally:
            if run.spark is not None:
                stop_spark(run.spark)
        print(v, new["outputs"][str(v)], flush=True)

    def flat(pins: dict) -> dict:
        return {"documents_sha256": pins.get("documents_sha256"),
                **{f"outputs.{v}": d for v, d in pins.get("outputs", {}).items()}}

    was, now = flat(old), flat(new)
    changed = sorted(k for k in was.keys() | now.keys() if was.get(k) != now.get(k))
    for key in changed:
        print(f"changed {key}: {was.get(key)} -> {now.get(key)}")
    if not changed:
        print("pins unchanged")
        return 0
    if not args.replace:
        return 1
    with open(inputs.PINS, "w") as fh:
        json.dump(new, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
