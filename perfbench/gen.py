"""Seeded Kafka-envelope backlog generator.

One process, no threads: numpy draws the records, pyarrow writes one parquet
file per micro-batch. The program under test only ever sees these files.

Record shape (the Connect envelope plus a small payload):
  topic, partition (8 Kafka partitions, key-hashed), offset (contiguous per
  partition across the whole backlog), timestamp (arrival), key,
  user_id (Zipf-skewed), event_type, amount, page, ts (record time).

Record time tracks arrival; a fixed share of records is up to 24 h late, so
an hourly-partitioned batch fans out to about 25 hour directories.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "clicks"
PARTITIONS = 8
#: arrival time of the first record of file 0 (2026-01-05T00:00:00Z)
BASE_EPOCH_S = 1_767_571_200
#: arrival time covered by one source file
FILE_SPAN_S = 3600
LATE_SHARE = 0.10
MAX_LATE_S = 24 * 3600
USERS = 50_000
ZIPF_A = 1.3
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "search", "share"])
EVENT_WEIGHTS = np.array([0.50, 0.25, 0.10, 0.05, 0.08, 0.02])

SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("key", pa.string()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("amount", pa.int32()),
        ("page", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

#: the same schema as a Spark DDL string, for the stream reader
SPARK_DDL = (
    "topic string, partition int, offset bigint, timestamp timestamp, "
    "key string, user_id bigint, event_type string, amount int, "
    "page string, ts timestamp"
)


def generate(out_dir: str, seed: int, files: int, records_per_file: int) -> None:
    """Write ``files`` source files ``src-<n>.parquet`` into ``out_dir``.

    File ``n`` holds the records that arrived in hour ``n`` of the backlog;
    each partition's offsets start at 0 and run on across the files. File
    modification times increase with ``n`` so a file stream source replays
    them in order.
    """
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    offsets = [0] * PARTITIONS
    for n in range(files):
        m = records_per_file
        arrival_us = (
            (BASE_EPOCH_S + n * FILE_SPAN_S) * 1_000_000
            + np.sort(rng.integers(0, FILE_SPAN_S * 1_000_000, m))
        )
        late = rng.random(m) < LATE_SHARE
        lateness_us = rng.integers(1, MAX_LATE_S * 1_000_000, m) * late
        user = (rng.zipf(ZIPF_A, m) - 1) % USERS
        # Kafka's default partitioner: the key decides the partition
        part = ((user * 2_654_435_761) % 2**32 % PARTITIONS).astype(np.int32)
        offset = np.empty(m, dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(part == p)
            offset[idx] = offsets[p] + np.arange(idx.size)
            offsets[p] += idx.size
        etype = rng.choice(EVENT_TYPES, m, p=EVENT_WEIGHTS)
        amount = rng.integers(1, 10_000, m).astype(np.int32)
        page = np.char.add("/p/", (rng.integers(0, 500, m)).astype(str))
        table = pa.table(
            {
                "topic": pa.array([TOPIC] * m, pa.string()),
                "partition": part,
                "offset": offset,
                "timestamp": pa.array(arrival_us, pa.timestamp("us", tz="UTC")),
                "key": pa.array(user.astype(str), pa.string()),
                "user_id": user.astype(np.int64),
                "event_type": pa.array(etype, pa.string()),
                "amount": amount,
                "page": pa.array(page, pa.string()),
                "ts": pa.array(arrival_us - lateness_us, pa.timestamp("us", tz="UTC")),
            },
            schema=SCHEMA,
        )
        path = os.path.join(out_dir, f"src-{n:05d}.parquet")
        pq.write_table(table, path, compression="snappy")
        stamp = BASE_EPOCH_S + n
        os.utime(path, (stamp, stamp))
