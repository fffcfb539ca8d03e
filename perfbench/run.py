"""Repository benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Every file the run writes (inputs, stores,
Spark scratch, event log) goes under ``.perfbench_work/`` there; the run's
own directory is removed at the end, the span file of a traced run is kept
in ``.perfbench_work/spans/``. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it, prefixed
``# report``, carries the workload-specific metrics, the failure notes and
the environment. Exits 2 without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _workload_names() -> list[str]:
    """The workloads BENCHMARK.json (next to this directory) declares."""
    spec = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(spec, encoding="utf-8") as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def _isolate(work: str) -> None:
    """Point every temp-file location of Python, the JVMs (the launcher
    too) and Spark at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=_workload_names())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rdf_tabular_spark", "__init__.py")):
        print("perfbench: rdf_tabular_spark/ not found in the current "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, root)
    import rdf_tabular_spark
    if not os.path.abspath(rdf_tabular_spark.__file__).startswith(root + os.sep):
        print("perfbench: rdf_tabular_spark imported from outside the "
              "checkout", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads import WORKLOADS
    try:
        out = harness.run(WORKLOADS[args.workload](), args.seed, args.seconds,
                          bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# report " + json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
