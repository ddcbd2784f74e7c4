"""Correctness checks. Each returns a list of failure messages (empty = pass);
every check run counts as one attempted operation, every failure as one
failed operation.

The landed output is read back with DuckDB (Parquet) or with the small
independent Avro decoder below, never with the sink's own readers.
"""

from __future__ import annotations

import io
import json
import os
import zlib

import duckdb

# ---------------------------------------------------------------------------
# Parquet landings (hourly partitioner)


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def check_hourly_landing(out_root: str, src_files: list[str]) -> list[str]:
    """Landed (partition, offset) equals the source exactly, and every row
    sits in the directory of its record hour."""
    con = _con()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet({src_files!r})")
    con.execute(
        "CREATE VIEW landed AS SELECT * FROM read_parquet("
        f"'{out_root}/**/*.parquet', hive_partitioning = true)"
    )
    missing, extra = con.execute(
        'SELECT (SELECT count(*) FROM (SELECT "partition", "offset" FROM src '
        'EXCEPT ALL SELECT "partition", "offset" FROM landed)), '
        '(SELECT count(*) FROM (SELECT "partition", "offset" FROM landed '
        'EXCEPT ALL SELECT "partition", "offset" FROM src))'
    ).fetchone()
    misplaced = con.execute(
        "SELECT count(*) FROM landed WHERE epoch_us(ts) // 3600000000 <> "
        "epoch_us(make_timestamp(year::BIGINT, month::BIGINT, day::BIGINT, hour::BIGINT, 0, 0)) // 3600000000"
    ).fetchone()[0]
    con.close()
    out = []
    if missing or extra:
        out.append(f"landed != source: {missing} missing, {extra} extra")
    if misplaced:
        out.append(f"{misplaced} rows outside their record-hour directory")
    return out


def source_answers(src_files: list[str], hour: tuple[int, int, int, int]) -> dict:
    """DuckDB answers of the query mix over the given source files."""
    con = _con()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet({src_files!r})")
    y, m, d, h = hour
    out = {
        "q_hour_count": con.execute(
            "SELECT count(*) FROM src WHERE epoch_us(ts) // 3600000000 = "
            f"epoch_us(make_timestamp({y}, {m}, {d}, {h}, 0, 0)) // 3600000000"
        ).fetchall(),
        "q_type_rollup": con.execute(
            "SELECT event_type, count(*), sum(amount)::BIGINT FROM src "
            "GROUP BY event_type ORDER BY event_type"
        ).fetchall(),
        "q_offset_restore": con.execute(
            'SELECT "partition", max("offset") + 1 FROM src '
            'GROUP BY "partition" ORDER BY "partition"'
        ).fetchall(),
    }
    con.close()
    return out


def source_next_offsets(src_files: list[str]) -> dict[int, int]:
    con = _con()
    rows = con.execute(
        'SELECT "partition", max("offset") + 1 FROM read_parquet('
        f'{src_files!r}) GROUP BY "partition"'
    ).fetchall()
    con.close()
    return dict(rows)


def compare_answers(got: dict, want: dict) -> list[str]:
    out = []
    for name, rows in want.items():
        g = sorted(tuple(r) for r in got[name])
        if g != [tuple(r) for r in sorted(rows)]:
            out.append(f"{name}: {g[:4]}... != {sorted(rows)[:4]}...")
    return out


# ---------------------------------------------------------------------------
# Avro landings with contract names


def _read_long(buf: io.BytesIO) -> int:
    shift = n = 0
    while True:
        b = buf.read(1)[0]
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return (n >> 1) ^ -(n & 1)


def _skip_or_read(buf: io.BytesIO, t):
    """Decode one value of Avro type ``t`` (spec 1.11, binary encoding)."""
    if isinstance(t, list):
        return _skip_or_read(buf, t[_read_long(buf)])
    if isinstance(t, dict):
        return _skip_or_read(buf, t["type"])
    if t == "null":
        return None
    if t in ("int", "long"):
        return _read_long(buf)
    if t in ("string", "bytes"):
        return buf.read(_read_long(buf))
    if t == "double":
        return buf.read(8)
    if t == "float":
        return buf.read(4)
    if t == "boolean":
        return buf.read(1)
    raise ValueError(f"unexpected Avro type {t!r}")


def avro_offsets(path: str) -> tuple[list[int], list[int]]:
    """(partition, offset) columns of one Avro object container file; the
    partition column is empty when the directory carries it instead."""
    with open(path, "rb") as fh:
        buf = io.BytesIO(fh.read())
    if buf.read(4) != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro container")
    meta = {}
    while (count := _read_long(buf)) != 0:
        if count < 0:
            _read_long(buf)
            count = -count
        for _ in range(count):
            key = buf.read(_read_long(buf)).decode()
            meta[key] = buf.read(_read_long(buf))
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)
    fields = [(f["name"], f["type"]) for f in schema["fields"]]
    parts, offs = [], []
    end = len(buf.getbuffer())
    while buf.tell() < end:
        n = _read_long(buf)
        block = buf.read(_read_long(buf))
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec != "null":
            raise ValueError(f"{path}: unexpected codec {codec}")
        rec = io.BytesIO(block)
        for _ in range(n):
            for name, t in fields:
                v = _skip_or_read(rec, t)
                if name == "partition":
                    parts.append(v)
                elif name == "offset":
                    offs.append(v)
        if buf.read(16) != sync:
            raise ValueError(f"{path}: bad sync marker")
    return parts, offs


def check_contract_landing(spark, out_root: str, src_files: list[str]) -> list[str]:
    """Every committed filename parses through ``parse_committed_filename``;
    its [start, end] covers exactly the file's offsets; per Kafka partition
    the files tile the source's offsets with no gap or overlap."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.contract_names import parse_committed_filename

    out = []
    files = []
    for d, dirs, names in os.walk(out_root):
        for name in names:
            if not name.startswith((".", "_")):
                files.append((os.path.basename(d), name, os.path.join(d, name)))
        if d != out_root and dirs:
            out.append(f"unexpected subdirectories under {d}: {dirs[:3]}")
    if not files:
        return ["no files landed"]
    parsed = spark.createDataFrame(
        [(n,) for _, n, _ in files], "file_name string"
    ).select("file_name", *parse_committed_filename(F.col("file_name"))).collect()
    by_name = {r["file_name"]: r for r in parsed}
    ranges: dict[int, list[tuple[int, int]]] = {}
    for dir_name, name, path in files:
        r = by_name[name]
        if r["topic"] != "clicks" or r["partition"] is None or not name.endswith(".avro"):
            out.append(f"{name}: does not parse as a committed filename")
            continue
        if dir_name != f"partition={r['partition']}":
            out.append(f"{name}: in directory {dir_name}")
        parts, offs = avro_offsets(path)
        if set(parts) - {r["partition"]} or sorted(offs) != list(
            range(r["start_offset"], r["end_offset"] + 1)
        ):
            out.append(f"{name}: offsets do not match the name's range")
        ranges.setdefault(r["partition"], []).append((r["start_offset"], r["end_offset"]))
    want = source_next_offsets(src_files)
    if set(ranges) != set(want):
        out.append(f"partitions {sorted(ranges)} != source {sorted(want)}")
    for p, rs in ranges.items():
        rs.sort()
        nxt = 0
        for start, end in rs:
            if start != nxt:
                out.append(f"partition {p}: range starts at {start}, expected {nxt}")
                break
            nxt = end + 1
        if nxt != want.get(p):
            out.append(f"partition {p}: landed up to {nxt}, source has {want.get(p)}")
    return out
