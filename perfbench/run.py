"""Benchmark entry point: one seeded workload per run.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from the seed;
the program is driven as a user would drive it (the ``HuntEngine``
build and the HTTP server); every reply is checked against
``hunt_spark.oracle.OracleIndex``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``); a summary of the run goes to standard error. Spark
runs as local[<cores available>] with its driver
heap sized from physical memory; scratch files go under
``.bench_work/run-<pid>/`` and are removed at exit, and a traced run
leaves its spans in ``.bench_work/spans/<workload>-seed<n>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def driver_mem() -> str:
    """An eighth of physical RAM, between 1 and 4 GiB: the 32g default
    heap of ``hunt_spark.session`` exceeds small hosts."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = min(4096, max(1024, phys // 8 // 2**20))
    return f"{mib}m"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    # a run killed before its clean-up may have left this pid's directory
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["HUNT_SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Spark's Python workers import hunt_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    try:
        import hunt_spark  # noqa: F401 — fail before Spark starts

        from perfbench import workloads

        res = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res.pop("info")), file=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
