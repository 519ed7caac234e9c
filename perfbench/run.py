"""nyuki_spark benchmark: run one workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 10 --trace 0

Workloads: ``llm_dedup`` and ``bus_live`` (see ``perfbench/workloads.py`` and
``BENCHMARK.json``). ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
prints the per-layer metrics of a traced run.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
gives each metric with its sample count (and tail percentile where one
exists) and the host and configuration fingerprint. The full report (host
fingerprint, every op's raw samples, streaming progress) and, in traced runs,
the spans are written under ``.perfbench/reports``. Everything the run writes
stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _isolate(run_dir: str) -> None:
    """Point every temporary-file location of this process, the JVM and the
    Python workers into the work directory, before Spark is imported."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"), run_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import nyuki_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS, Run, execute

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="check against a deliberately wrong expected result "
                         "(self-test of the result check)")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    _isolate(run_dir)
    run = Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), corrupt_oracle=args.corrupt_oracle,
        root=ROOT, work=WORK, run_dir=run_dir,
    )
    try:
        out = execute(run)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(f"{stem}.json", "w", encoding="utf-8") as fh:
        json.dump(run.report, fh, default=str)
    if run.traced:
        run.tracer.write(f"{stem}.spans.json")
    print(json.dumps({"detail": out["detail"], "host": run.report.get("host"),
                      "report": f"{stem}.json"}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
