"""Process environment for a benchmark run.

Must run before pyspark is imported: the JVM and the Python UDF workers
read these variables when they start.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-run scratch (spark local dirs, temp files, inputs, outputs)
WORK = os.path.join(HERE, "_work")
# one ledger file per run (full metrics, spans, stage rows)
RESULTS = os.path.join(HERE, "results")
# The JVM heap, fixed (-Xms = -Xmx) as the session itself fixes it, but
# at 2g rather than its 8g default: a run should not hold 8 GiB of a host
# it shares. Pre-touch stays off, so the JVM's resident memory is the
# heap the plan has actually touched, not the whole reservation.
DRIVER_MEM = "2g"


def nproc() -> int:
    """CPUs this process may run on (``nproc`` with OMP_NUM_THREADS unset)."""
    return len(os.sched_getaffinity(0))


def configure(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the package from any working directory."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
