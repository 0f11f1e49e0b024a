"""Benchmark entry point.

    python3 perfbench/run.py --workload pos_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the input tables from
``--seed``, starts a local Spark session, runs one untimed warm pass,
then timed passes for at least ``--seconds`` seconds, checks every
pass's outputs and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (and writes its spans under ``.perfbench_out/``).

Everything the run writes lives under ``.perfbench_run/`` in the
repository root and is deleted before exit.  Exit status: 0 when every
output checked out, 1 on a mismatch or failed operation, 2 when the
package cannot be imported from this checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pos_pipeline_core_etl_spark"


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``run_dir`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv: list[str]) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    try:
        import pos_pipeline_core_etl_spark as pkg  # noqa: F401
    except ImportError as exc:
        print(f"cannot import {PACKAGE} from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"{PACKAGE} resolved outside this checkout: {pkg.__file__}", file=sys.stderr)
        return 2
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    trace_path = os.path.join(ROOT, ".perfbench_out",
                              f"trace-{args.workload}-s{args.seed}.json")
    isolate(run_dir)
    # what outlives the JVM is handed to this process, which waits for it
    spans.become_subreaper()
    try:
        result, lines = workloads.run(args.workload, args.seed, args.seconds,
                                      bool(args.trace), run_dir, T_START, trace_path)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it
        except OSError:
            pass
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
