"""Pure-Python Avro container format: encode/decode goldens, Spark pipeline
round-trip, codec variants, and (when spark-avro is present) cross-validation
against the JVM reader — the strongest spec-compliance check available.
"""

from __future__ import annotations

import datetime
import io

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.formats.avro_io import (
    read_container, read_long, struct_to_avro_schema, write_container, write_long,
)
from kafka_connect_hdfs_spark.sinks import PurePythonAvroSink, build_sink


def test_zigzag_varint_golden():
    # spec examples: 0→00, -1→01, 1→02, -2→03, 2→04; -64→7f, 64→80 01
    for n, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                      (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        buf = io.BytesIO()
        write_long(buf, n)
        assert buf.getvalue() == expect, n
        assert read_long(io.BytesIO(expect)) == n


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "bzip2"])
def test_container_roundtrip_all_types(tmp_path, codec):
    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "arr", "type": {"type": "array", "items": "float"}},
        ],
    }
    rows = [
        {"i": 1, "s": "héllo", "d": 2.5, "b": True,
         "ts": datetime.datetime(2001, 2, 3, 4, 5, 6, 789000),
         "arr": [1.5, -2.25]},
        {"i": -42, "s": None, "d": -0.125, "b": False,
         "ts": datetime.datetime(1999, 12, 31, 23, 59, 59),
         "arr": []},
    ] * 700  # multiple blocks (block_records=1000)
    p = str(tmp_path / "t.avro")
    assert write_container(p, schema, iter(rows), codec=codec) == 1400
    got_schema, got = read_container(p)
    assert got_schema == schema
    assert len(got) == 1400
    assert got[0]["s"] == "héllo" and got[1]["s"] is None
    assert got[0]["ts"] == rows[0]["ts"]
    assert got[0]["arr"] == [1.5, -2.25]
    assert got[1]["i"] == -42

    # every Spark type the sink maps (_avro_type), non-null and nullable:
    # the compiled encoders write exactly _encode_value's bytes
    import decimal

    from pyspark.sql import types as T

    from kafka_connect_hdfs_spark.formats.avro_io import _encode_value, compile_encoder

    utc = datetime.timezone.utc
    plus2 = datetime.timezone(datetime.timedelta(hours=2))
    values = {
        "bigint": (T.LongType(), [0, -1, 63, -64, 64, 2**63 - 1, -(2**63)]),
        "int": (T.IntegerType(), [0, 7, -2**31, 2**31 - 1]),
        "smallint": (T.ShortType(), [-300, 300]),
        "tinyint": (T.ByteType(), [-128, 127]),
        "double": (T.DoubleType(), [0.0, -0.125, 1e300, float("inf")]),
        "float": (T.FloatType(), [1.5, -2.25, 2.0**100]),
        "string": (T.StringType(), ["", "héllo", "x" * 200]),
        "boolean": (T.BooleanType(), [True, False]),
        "binary": (T.BinaryType(), [b"", b"\x00\xff", bytearray(b"ab")]),
        "ts_naive": (T.TimestampType(), [datetime.datetime(2001, 2, 3, 4, 5, 6, 789001),
                                         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)]),
        "ts_aware": (T.TimestampType(), [datetime.datetime(2001, 2, 3, 4, 5, 6, 1, tzinfo=utc),
                                         datetime.datetime(2001, 2, 3, 6, 5, 6, 1, tzinfo=plus2)]),
        "ts_ntz": (T.TimestampNTZType(), [datetime.datetime(2262, 1, 1, 0, 0, 0, 1)]),
        "date": (T.DateType(), [datetime.date(1970, 1, 1), datetime.date(1900, 3, 1),
                                datetime.date(9999, 12, 31)]),
        "decimal": (T.DecimalType(18, 2), [decimal.Decimal("1234567890123456.78"),
                                           decimal.Decimal("-0.01"), decimal.Decimal("0.00")]),
        "decimal38": (T.DecimalType(38, 0), [decimal.Decimal(10) ** 20, decimal.Decimal(-128)]),
        "array": (T.ArrayType(T.IntegerType()), [[], [1, -2, 3], list(range(130))]),
        "array_str": (T.ArrayType(T.StringType()), [["a", ""], []]),
    }
    struct = T.StructType(
        [T.StructField(k, dt, False) for k, (dt, _) in values.items()]
        + [T.StructField(f"{k}_n", dt, True) for k, (dt, _) in values.items()]
    )
    typed = struct_to_avro_schema(struct, name="typed")
    for f in typed["fields"]:
        enc = compile_encoder(f["type"])
        vals = values[f["name"].removesuffix("_n")][1]
        for v in vals + ([None] if f["name"].endswith("_n") else []):
            ref = io.BytesIO()
            _encode_value(ref, f["type"], v)
            assert enc(v) == ref.getvalue(), (f["name"], v)
    def pick(f, i):
        vals = values[f.name.removesuffix("_n")][1]
        return vals[i % len(vals)]

    typed_rows = [{f.name: pick(f, i) for f in struct.fields} for i in range(3)]
    typed_rows.append({f.name: None if f.nullable else pick(f, 0) for f in struct.fields})
    tp = str(tmp_path / "typed.avro")
    assert write_container(tp, typed, iter(typed_rows), codec=codec) == 4
    _, back = read_container(tp)
    for want, have in zip(typed_rows, back):
        for k, v in want.items():
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                v = v.astimezone(utc).replace(tzinfo=None)  # decoded as naive UTC
            if isinstance(v, bytearray):
                v = bytes(v)
            assert have[k] == v, (k, v, have[k])


def test_container_header_schema_is_compact(tmp_path):
    """The header carries the schema as compact JSON (no spaces after
    separators, as Avro's ``Schema.toString()`` writes it); it parses to the
    same schema, and both the sink's reader and perfbench's independent
    decoder read the container."""
    import json

    from kafka_connect_hdfs_spark.formats.avro_io import read_bytes, read_schema
    from perfbench.checks import avro_offsets

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "partition", "type": "int"},
            {"name": "offset", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
        ],
    }
    p = str(tmp_path / "t.avro")
    write_container(p, schema, iter([{"partition": 3, "offset": 7, "s": "x"}]))
    with open(p, "rb") as fh:
        fh.read(4)
        assert read_long(fh) == 2
        assert read_bytes(fh) == b"avro.schema"
        header = read_bytes(fh).decode()
    assert ", " not in header and ": " not in header
    assert json.loads(header) == schema == read_schema(p)
    assert avro_offsets(p) == ([3], [7])


def test_spark_partitioned_write_and_readback(spark, sf_dir, tmp_path):
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").limit(300)
    sink = build_sink(HdfsSinkConfig(url="file:///x", format="avro", flush_size=10))
    assert isinstance(sink, PurePythonAvroSink)
    out = f"{tmp_path}/landed"
    sink.write(ev.withColumn("etype", F.col("event_type")), out, ["etype"])
    back = sink.read(spark, out)
    assert back.count() == 300
    # payload columns survive; partition col comes back from the dir name
    assert set(back.columns) == set(ev.columns) | {"etype"}
    orig_sum = ev.agg(F.sum("event_id")).first()[0]
    assert back.agg(F.sum("event_id")).first()[0] == orig_sum
    # O5: schema recovered from the newest landed container header
    rec = sink.schema_of(spark, out)
    assert {f.name for f in rec.fields} == set(ev.columns)


def test_jvm_reader_cross_validation(spark, tmp_path):
    """If spark-avro is on the classpath, the JVM reader must accept our
    files byte-for-byte (the real spec-compliance oracle)."""
    df = spark.createDataFrame(
        [Row(a=i, b=f"s{i}", c=float(i) / 4) for i in range(50)]
    )
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/plain"
    sink.write(df, out, [])
    try:
        back = spark.read.format("avro").load(out)
        n = back.count()
    except Exception as e:
        pytest.skip(f"JVM avro datasource unavailable: {e}")
    assert n == 50
    assert back.agg(F.sum("a")).first()[0] == sum(range(50))


def test_e3_schema_bootstrap_from_avro_containers(spark, tmp_path):
    """Reference flow: restart with compatibility=BACKWARD bootstraps the
    current schema from the NEWEST committed avro file
    (TopicPartitionWriter.java:334-350 + AvroFileReader.java:42-53), then
    projects older records up to it."""
    from kafka_connect_hdfs_spark.operators.schema_evolution import (
        VersionedSchema, project,
    )

    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/evolve"
    v1 = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    sink.write(v1, out, [])
    import time as _t

    _t.sleep(0.05)  # schema_of picks the newest file by mtime
    v2 = spark.createDataFrame(
        [Row(id=3, name="c", score=1.5)]
    )
    import os

    os.makedirs(f"{out}/gen2", exist_ok=True)
    sink.write(v2, f"{out}/gen2", [])

    current = sink.schema_of(spark, out)  # newest = v2 (sorted last)
    assert "score" in current.fieldNames()

    projected = project(
        v1,
        VersionedSchema(v1.schema, version=1),
        VersionedSchema(current, version=2),
    )
    rows = projected.orderBy("id").collect()
    assert [r.asDict() for r in rows] == [
        {"id": 1, "name": "a", "score": None},
        {"id": 2, "name": "b", "score": None},
    ]


def test_decimal_logical_type_roundtrip(tmp_path):
    """Decimal-as-bytes (two's-complement unscaled int + precision/scale),
    the Connect decimal pass-through (SURVEY §1.2)."""
    import decimal

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "amt", "type": {"type": "bytes", "logicalType": "decimal",
                                     "precision": 18, "scale": 2}},
            {"name": "opt", "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                              "precision": 10, "scale": 3}],
             "default": None},
        ],
    }
    D = decimal.Decimal
    rows = [
        {"amt": D("1234567890123456.78"), "opt": D("-0.001")},
        {"amt": D("-0.01"), "opt": None},
        {"amt": D("0.00"), "opt": D("9999999.999")},
    ]
    p = str(tmp_path / "dec.avro")
    write_container(p, schema, iter(rows))
    _, got = read_container(p)
    assert [r["amt"] for r in got] == [r["amt"] for r in rows]
    assert [r["opt"] for r in got] == [r["opt"] for r in rows]


def test_timestamp_codec_integer_utc():
    """Encode/decode must use integer micros with a UTC convention on both
    sides — naive datetimes round-trip identically in any OS timezone."""
    import calendar

    from kafka_connect_hdfs_spark.formats.avro_io import _decode_value, _encode_value

    t = {"type": "long", "logicalType": "timestamp-micros"}
    for dt_ in [
        datetime.datetime(2001, 2, 3, 4, 5, 6, 789001),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),  # negative micros
        datetime.datetime(2262, 1, 1, 0, 0, 0, 1),            # past float precision comfort
    ]:
        buf = io.BytesIO()
        _encode_value(buf, t, dt_)
        buf.seek(0)
        micros_expect = calendar.timegm(dt_.timetuple()) * 1_000_000 + dt_.microsecond
        buf2 = io.BytesIO(buf.getvalue())
        assert read_long(buf2) == micros_expect
        buf.seek(0)
        assert _decode_value(buf, t) == dt_


def test_primitive_value_container_unwrap(spark, tmp_path):
    """NonRecordContainer semantics (AvroRecordWriterProvider.java:79-85):
    a single bare 'value' column lands with a PRIMITIVE container schema."""
    from kafka_connect_hdfs_spark.formats.avro_io import read_schema

    df = spark.range(100).select(F.col("id").alias("value"))
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/prim"
    sink.write(df, out, [])
    import glob

    files = glob.glob(f"{out}/*.avro")
    assert files
    schema = read_schema(files[0])
    # nullable long -> union [null, long]; NOT a record wrapper
    assert schema == ["null", "long"] or schema == "long"
    back = sink.read(spark, out)
    assert back.columns == ["value"]
    assert back.agg(F.sum("value")).first()[0] == sum(range(100))


def test_append_batches_never_overwrite(spark, tmp_path):
    """ADVICE(high): a second append into the same partition dirs must not
    reuse filenames — both batches' rows survive."""
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/appends"
    b1 = spark.createDataFrame([Row(k="a", v=i) for i in range(10)])
    b2 = spark.createDataFrame([Row(k="a", v=i) for i in range(10, 30)])
    sink.write(b1, out, ["k"])
    sink.write(b2, out, ["k"])  # same partition dir k=a, same partition indices
    back = sink.read(spark, out)
    assert back.count() == 30
    assert back.agg(F.sum("v")).first()[0] == sum(range(30))


def test_overwrite_mode_and_invalid_mode(spark, tmp_path):
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/ow"
    sink.write(spark.createDataFrame([Row(v=1), Row(v=2)]), out, [])
    sink.write(spark.createDataFrame([Row(v=10)]), out, [], mode="overwrite")
    assert [r.v for r in sink.read(spark, out).collect()] == [10]
    with pytest.raises(ValueError):
        sink.write(spark.createDataFrame([Row(v=1)]), out, [], mode="errorifexists")


def test_unsupported_codec_fails_loudly_not_silently(spark, tmp_path):
    """The reference's codec enumeration (null/deflate/snappy/bzip2,
    avro/AvroRecordWriterProvider.java:69) is fully supported since r11;
    anything OUTSIDE it (e.g. the optional zstandard codec) must refuse
    — never silently write null-codec — unless the caller opts into the
    downgrade, which then warns."""
    import warnings

    out = f"{tmp_path}/codec"
    df = spark.createDataFrame([Row(v=1)])

    sink = PurePythonAvroSink("avro", ".avro", {"compression": "zstandard"})
    with pytest.raises(ValueError, match="zstandard"):
        sink.write(df, out, [])

    lenient = PurePythonAvroSink(
        "avro", ".avro",
        {"compression": "zstandard", "allowCodecFallback": True},
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lenient.write(df, out, [])
    assert any("zstandard" in str(w.message) for w in caught)
    assert lenient.read(spark, out).count() == 1


def test_unsupported_codec_error_names_supported_codecs(spark, tmp_path):
    """The refusal lists every codec the writer does support."""
    from kafka_connect_hdfs_spark.sinks import AVRO_CODECS

    sink = PurePythonAvroSink("avro", ".avro", {"compression": "lz4"})
    with pytest.raises(ValueError) as err:
        sink.write(spark.createDataFrame([Row(v=1)]), f"{tmp_path}/c", [])
    assert set(AVRO_CODECS) == {"null", "deflate", "snappy", "bzip2"}
    assert all(codec in str(err.value) for codec in AVRO_CODECS)


def test_schema_of_prefers_max_committed_offset(spark, tmp_path):
    """Reference bootstraps from the file with the MAX END OFFSET
    (FileUtils.fileStatusWithMaxOffset), not the newest mtime: a replayed
    older chunk re-written later (newer mtime) must not win."""
    import os
    import time

    from kafka_connect_hdfs_spark.formats.avro_io import write_container

    out = f"{tmp_path}/boot"
    os.makedirs(out)
    new_schema = {"type": "record", "name": "r",
                  "fields": [{"name": "id", "type": "long"},
                             {"name": "extra", "type": "string"}]}
    old_schema = {"type": "record", "name": "r",
                  "fields": [{"name": "id", "type": "long"}]}
    # higher end offset written FIRST (older mtime)
    write_container(f"{out}/t+0+200+299.avro", new_schema,
                    iter([{"id": 1, "extra": "x"}]))
    time.sleep(0.05)
    # replay of an older chunk lands later (newer mtime, lower offset)
    write_container(f"{out}/t+0+000+099.avro", old_schema, iter([{"id": 2}]))
    sink = PurePythonAvroSink("avro", ".avro", {})
    got = sink.schema_of(spark, out)
    assert "extra" in got.fieldNames()


def test_distributed_read_multifile(spark, tmp_path):
    """Read path decodes executor-side over a parallelized file list — many
    files, one job, no driver-side row materialization (plan check: the
    result is RDD-backed, built from N file tasks)."""
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/many"
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).repartition(8)
    sink.write(df, out, ["g"])
    import glob

    n_files = len(glob.glob(f"{out}/**/*.avro", recursive=True))
    assert n_files >= 7  # one file per (task, partition-dir) pair at least
    back = sink.read(spark, out)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == sum(range(1000))


class TestPropertyRoundtrip:
    """Hypothesis fuzz of the container codec: arbitrary rows of every
    supported primitive must survive encode→decode bit-for-bit, in every
    codec, including block-boundary and empty-string/None edges."""

    def test_fuzz_rows_roundtrip(self, tmp_path):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from kafka_connect_hdfs_spark.formats.avro_io import (
            read_container, write_container,
        )

        schema = {
            "type": "record",
            "name": "fuzz",
            "fields": [
                {"name": "i", "type": ["null", "long"]},
                {"name": "s", "type": ["null", "string"]},
                {"name": "d", "type": ["null", "double"]},
                {"name": "b", "type": ["null", "boolean"]},
                {"name": "raw", "type": ["null", "bytes"]},
            ],
        }
        row = st.fixed_dictionaries(
            {
                "i": st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "s": st.none() | st.text(max_size=40),
                "d": st.none()
                | st.floats(allow_nan=False, allow_infinity=True, width=64),
                "b": st.none() | st.booleans(),
                "raw": st.none() | st.binary(max_size=20),
            }
        )
        counter = [0]

        @settings(max_examples=30, deadline=None)
        @given(rows=st.lists(row, max_size=25), codec=st.sampled_from(
            ["null", "deflate", "bzip2"]))
        def run(rows, codec):
            counter[0] += 1
            path = str(tmp_path / f"fuzz{counter[0]}.avro")
            n = write_container(path, schema, iter(rows), codec=codec)
            assert n == len(rows)
            _, back = read_container(path)
            assert back == rows

        run()


def test_killed_writer_leaves_no_visible_container(tmp_path):
    """A writer killed mid-container leaves only a hidden temporary file:
    nothing a reader's ``*.avro`` glob or the contract publish's ``part-*``
    glob would pick up. A completed container keeps the sync marker of its
    final path."""
    import glob
    import hashlib
    import os
    import subprocess
    import sys
    import textwrap

    import kafka_connect_hdfs_spark

    final = tmp_path / "part-00000-run.avro"
    script = textwrap.dedent(f"""
        import os
        from kafka_connect_hdfs_spark.formats.avro_io import write_container

        def rows():
            for i in range(5000):
                if i == 2500:
                    os._exit(9)  # killed mid-write: no cleanup runs
                yield {{"i": i}}

        schema = {{"type": "record", "name": "r", "fields": [{{"name": "i", "type": "long"}}]}}
        write_container({str(final)!r}, schema, rows(), block_records=100)
    """)
    root = os.path.dirname(os.path.dirname(kafka_connect_hdfs_spark.__file__))
    env = {**os.environ, "PYTHONPATH": root}
    assert subprocess.run([sys.executable, "-c", script], env=env).returncode == 9
    assert not final.exists()
    assert glob.glob(f"{tmp_path}/*.avro") == []
    assert glob.glob(f"{tmp_path}/part-*") == []
    assert len(os.listdir(tmp_path)) == 1  # the hidden temporary file

    schema = {"type": "record", "name": "r", "fields": [{"name": "i", "type": "long"}]}
    assert write_container(str(final), schema, iter([{"i": 1}])) == 1
    data = final.read_bytes()
    assert data[-16:] == hashlib.md5(str(final).encode()).digest()
    with pytest.raises(KeyError):  # an encoding error removes the temporary file
        write_container(str(tmp_path / "part-1.avro"), schema, iter([{"j": 1}]))
    assert not (tmp_path / "part-1.avro").exists()
    assert len(os.listdir(tmp_path)) == 2


def test_avro_write_refuses_non_local_schemes(spark, tmp_path, monkeypatch):
    """The pure-Python writer writes through the local filesystem only: a
    remote URL must fail, never land on local disk under a mangled path."""
    import os

    monkeypatch.chdir(tmp_path)
    sink = PurePythonAvroSink("avro", ".avro", {})
    df = spark.createDataFrame([Row(v=1)])
    for url in ("hdfs://namenode:8020/topics/t", "s3a://bucket/topics/t",
                "file://otherhost/topics/t"):
        with pytest.raises(ValueError, match="local paths"):
            sink.write(df, url, [])
    assert os.listdir(tmp_path) == []
    sink.write(df, f"file://{tmp_path}/ok", [])
    sink.write(df, f"{tmp_path}/ok", [])
    assert sink.read(spark, f"file://{tmp_path}/ok").count() == 2


def test_sink_write_arrow_roundtrip_typed_columns(spark, tmp_path):
    """``sink.write`` through ``mapInArrow``: decimal, date, array and
    timestamp columns round-trip, and a partition-dir group longer than one
    Arrow batch streams into ONE container per (task, directory). The
    timestamps are UTC instants, so the check holds in any host timezone."""
    import decimal
    import glob

    utc = datetime.timezone.utc
    rows = [
        Row(g=i % 2, amount=decimal.Decimal(i) / 4, day=datetime.date(2020, 1, 1 + i % 28),
            tags=[i, -i] if i % 3 else [],
            ts=datetime.datetime(2021, 5, 6, 7, 8, 9, i, tzinfo=utc),
            note=None if i % 5 == 0 else f"n{i}")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "g int, amount decimal(10,2), day date, tags array<int>, "
              "ts timestamp, note string",
    ).coalesce(1)
    out = f"{tmp_path}/typed"
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        PurePythonAvroSink("avro", ".avro", {}).write(df, out, ["g"])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    files = glob.glob(f"{out}/g=*/*.avro")
    assert sorted(f.split("/")[-2] for f in files) == ["g=0", "g=1"]
    got = {}
    for fp in files:
        g = int(fp.split("/")[-2][2:])
        for r in read_container(fp)[1]:
            got[(g, r["ts"])] = r
    assert len(got) == 60
    for r in rows:
        have = got[(r.g, r.ts.replace(tzinfo=None))]  # decoded as naive UTC
        assert (have["amount"], have["day"], have["tags"], have["note"]) == (
            r.amount, r.day, r.tags, r.note)


def test_avro_timestamps_roundtrip_in_non_utc_timezone(tmp_path):
    """With the driver, JVM and Python workers in a non-UTC zone, the sink
    writes true UTC micros (Avro ``timestamp-micros``) and ``read`` gives
    back the same instants — top-level and inside arrays."""
    import os
    import subprocess
    import sys
    import textwrap

    import kafka_connect_hdfs_spark

    script = textwrap.dedent(f"""
        import datetime
        import glob

        from pyspark.sql import SparkSession

        from kafka_connect_hdfs_spark.formats.avro_io import read_container
        from kafka_connect_hdfs_spark.sinks import PurePythonAvroSink

        assert datetime.datetime.now().astimezone().utcoffset()
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "512m").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        local = [datetime.datetime(2021, 5, 6, 7, 8, 9, 10),
                 datetime.datetime(1999, 12, 31, 23, 59, 59)]
        df = spark.createDataFrame(
            [(i, t, [t]) for i, t in enumerate(local)],
            "i int, ts timestamp, tss array<timestamp>",
        ).coalesce(1)
        out = {str(tmp_path / "tz")!r}
        sink = PurePythonAvroSink("avro", ".avro", {{}})
        sink.write(df, out, [])
        utc = [t.astimezone(datetime.timezone.utc).replace(tzinfo=None) for t in local]
        (fp,) = glob.glob(out + "/*.avro")
        raw = sorted(read_container(fp)[1], key=lambda r: r["i"])
        assert [(r["ts"], r["tss"]) for r in raw] == [(u, [u]) for u in utc], raw
        back = sink.read(spark, out).orderBy("i").collect()
        assert [(r.ts, r.tss) for r in back] == [(t, [t]) for t in local], back
        spark.stop()
        print("roundtrip ok")
    """)
    root = os.path.dirname(os.path.dirname(kafka_connect_hdfs_spark.__file__))
    env = {**os.environ, "PYTHONPATH": root, "TZ": "Asia/Kolkata"}
    run = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True
    )
    assert run.returncode == 0 and "roundtrip ok" in run.stdout, run.stderr[-3000:]
