"""pysearch benchmark entry point.

    python3 perfbench/run.py --workload query_ingest --seed 1 --seconds 3 --trace 0

Run from the root of a pysearch checkout.  Generates the workload's inputs
from ``--seed`` in a child process (cached under ``.perfbench/``), starts
Spark as ``local[nproc]`` in this process, drives the workload through
pysearch's public entry points with one closed-loop client, checks every
output, and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
and the Spark event log and reports the per-layer metrics instead.  The
full report of a run (every named number with its sample count, host
calibration, spans summary, tracing overhead) is written to
``.perfbench/results/<workload>-s<seed>-t<trace>.json``.  Every file the
run reads or writes is under the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def calibrate(threads: int, seconds: float = 0.25) -> float:
    """Aggregate sha256 ops/s of ``threads`` threads hashing 4 KiB blocks
    (hashlib releases the GIL).  Taken with no JVM alive, so it samples the
    host, not the benchmark; the host's single-core speed drifts enough
    that cross-run comparisons need it."""
    block = b"x" * 4096
    counts = [0] * threads
    stop = time.perf_counter() + seconds

    def work(i):
        n = 0
        while time.perf_counter() < stop:
            for _ in range(100):
                hashlib.sha256(block).digest()
            n += 100
        counts[i] = n

    t0 = time.perf_counter()
    ts = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return sum(counts) / (time.perf_counter() - t0)


def host_calibration(nproc: int) -> dict:
    return {"sha256_1t_ops": round(calibrate(1)),
            f"sha256_{nproc}t_ops": round(calibrate(nproc))}


def _isolate_environment() -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into the checkout's work directory before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSEARCH_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pysearch", "__init__.py")):
        print("perfbench: no pysearch package beside perfbench/; run from "
              "the root of a pysearch checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    _isolate_environment()
    # anything the JVM or pysearch prints goes to stderr: the result must
    # be the last line of stdout
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result, report = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), WORK,
            host_calibration)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"report={os.path.relpath(path, ROOT)}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
