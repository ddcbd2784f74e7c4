"""The benchmark's own checks of its counts.

Deterministic counts (files and bytes landed, Spark jobs, stages, tasks and
shuffle bytes per batch) must repeat exactly at one seed; another seed must
change the data but not the correctness verdict. Each case starts Spark
several times, so the module takes minutes. From the checkout root:

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

WORKLOADS = ("hourly_parquet", "contract_avro", "hourly_visible")
TIMED_COUNTS = ("files_per_mrec", "bytes_per_record", "jobs_per_batch")
TRACED_COUNTS = (
    "sinks.files_per_batch",
    "sinks.bytes_per_batch",
    "spark.jobs_per_batch",
    "spark.stages_per_batch",
    "spark.tasks_per_batch",
    "spark.shuffle_write_bytes_per_batch",
)


@functools.cache
def bench(workload: str, seed: int, trace: int, attempt: int = 0) -> dict:
    """One shortest run of the benchmark; ``attempt`` tells repeats apart."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    return result["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_at_one_seed(workload):
    for names, trace in ((TIMED_COUNTS, 0), (TRACED_COUNTS, 1)):
        first, second = bench(workload, 11, trace), bench(workload, 11, trace, 1)
        for name in names:
            assert first[name]["value"] == second[name]["value"], name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_keeps_the_verdict(workload):
    # bench() asserts the run is correct with no failed operation;
    # test_seed_decides_the_data checks that the seed changes the data
    bench(workload, 12, 0)


def test_seed_decides_the_data(tmp_path):
    def table(seed, name):
        gen.generate(str(tmp_path / name), seed, 2, 500)
        return [pq.read_table(str(tmp_path / name / f"src-{i:05d}.parquet"))
                for i in range(2)]

    a, again, other = table(11, "a"), table(11, "b"), table(12, "c")
    assert all(x.equals(y) for x, y in zip(a, again))
    assert not any(x.equals(y) for x, y in zip(a, other))
