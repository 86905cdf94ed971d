"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a traced run (spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``). The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it report input and index sizes, Spark job counts and, traced,
per-layer self times. Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "update_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    base = ROOT / ".perfbench"
    work = base / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    results = base / "results"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    results.mkdir(exist_ok=True)
    # Spark's JVM, its Python workers and their scratch files all stay
    # inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, str(ROOT))

    try:
        from workloads import execute

        result, lines = execute(
            args.workload, args.seed, args.seconds, bool(args.trace), work, results
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
