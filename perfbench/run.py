"""Ingest benchmark for the Kafka→HDFS sink.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hourly_parquet --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries run details (sample counts, set-up runs, failure messages).
Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("hourly_parquet", "contract_avro", "hourly_visible")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N]; 1 gives the single-thread baseline")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kafka_connect_hdfs_spark", "__init__.py")):
        print("run from the root of a checkout: kafka_connect_hdfs_spark/ is missing",
              file=sys.stderr)
        return 2
    # Spark's Python workers import the package too; without it on their
    # path the Avro write fails with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [root, HERE]

    import workloads

    with open(os.path.join(HERE, "settings.json")) as fh:
        settings = json.load(fh)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = workloads.Run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, settings,
            args.cpus,
        ).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result.pop("detail")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
