"""logpipe benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a logpipe checkout. Workloads: batch_closed_loop,
stream_open_loop (see perfbench/README.md). The inputs are generated from
--seed; --trace 0 measures the end-to-end metrics, --trace 1 runs the
per-layer traced run. Human-readable lines go to stdout first; the last
stdout line is one JSON object {correct, attempted, failed, metrics}.
Everything the run writes stays under <checkout>/.perfbench_work and
<checkout>/.perfbench_out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("batch_closed_loop", "stream_open_loop")


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the Python workers import logpipe."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers it forked) and wait
    for it, so no process of the run outlives it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="input sizes from spec.json")
    args = ap.parse_args(argv)

    if not (ROOT / "logpipe" / "__init__.py").is_file():
        print(f"perfbench: no logpipe package under {ROOT}; run from a logpipe checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        from perfbench import bench  # noqa: PLC0415 - needs the environment set above

        result = bench.run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
