"""The ingest pipeline: records → partition → rotate → land → register.

Batch-first (SURVEY.md §7.1): ``ingest_batch`` is a pure function used both by
tests/correctness harness (static DataFrame in) and by the streaming wrapper
(``streaming/pipeline.py`` calls it from ``foreachBatch``). It reproduces the
reference data path (HdfsSinkTask.put → DataWriter.write →
TopicPartitionWriter state machine, SURVEY.md §3.2) in set-oriented form:

  1. optional schema projection to the current schema (E2)
  2. partitioner → partition columns + encodedPartition (P1-P7)
  3. size-based chunking + offset bookkeeping (F1, W6)
  4. partitioned write in the configured format (O1-O4)
  5. file manifest with the reference's offset-encoded names (W6/F5)

Scale: one shuffle total — the window for chunking partitions by
(kafkaPartition, encodedPartition), which is exactly the layout the
partitioned write wants; everything else is narrow. Writes are
append-immutable like the reference's rename-commit (F5), and each write
job commits atomically, so no reader sees a partial file. That is not the
WAL's exactly-once (W1-W5, SURVEY.md §2.5): a batch that runs again after a
crash appends again; only ``contract_names`` publishes idempotently.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import NamedTuple

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_connect_hdfs_spark import statedir
from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.operators.partitioners import build_partitioner
from kafka_connect_hdfs_spark.operators.rotation import chunk_file_manifest, size_based_chunks
from kafka_connect_hdfs_spark.sinks import build_sink

#: Kafka-envelope columns (FIXTURES.md §5) that are bookkeeping, not payload
ENVELOPE_COLS = ("topic", "partition", "offset", "timestamp", "key")


@dataclass
class IngestResult:
    data: DataFrame          # records that were committed (chunk-complete)
    partition_columns: list[str]
    topic: str
    extension: str
    pad_width: int

    @cached_property
    def manifest(self) -> DataFrame:
        """One row per committed file (W6 contract), built on first use:
        most batches never read it, and every frame costs an analysis."""
        return chunk_file_manifest(
            self.data, self.topic, self.extension, pad_width=self.pad_width
        )


def ingest_batch(
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    ts_col: str = "ts",
    discard_partial: bool = True,
) -> IngestResult:
    """Assign every record to its (partition dir, committed file) — the
    set-oriented equivalent of one DataWriter.write() pass. Does NOT write;
    ``land`` does, so correctness tests can verify assignment without I/O.
    """
    part = build_partitioner(cfg, ts_col=ts_col)
    spec = part.apply(df)
    flush = cfg.flush_size or 1000
    chunked = size_based_chunks(
        spec.df,
        spec.encoded,
        flush,
        discard_partial=discard_partial,
    )
    return IngestResult(
        chunked, spec.partition_columns, topic, build_sink(cfg).extension,
        cfg.filename_offset_zero_pad_width,
    )


def land(
    spark: SparkSession,
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    ts_col: str = "ts",
    discard_partial: bool = True,
    register_table: bool = False,
) -> IngestResult:
    """Full data path: assign + write + (optionally) register in the catalog.

    Directory layout mirrors the reference
    (``<url>/<topics.dir>/<topic>/<encodedPartition>/...``, SURVEY.md §1.3)
    via ``partitionBy`` on the partitioner's columns.

    With ``register_table``, the write itself reports which partition
    directories it wrote: an ``Observation`` (``collect_set`` over the
    partition columns, cast to string as ``partitionBy`` names them) rides
    on the written frame, so learning them costs no job. They go to
    :func:`register_external_table`, which in steady state only adds them
    to the catalog (H3); the batch then runs one Spark action, the write.
    """
    res = ingest_batch(df, cfg, topic, ts_col=ts_col, discard_partial=discard_partial)
    sink = build_sink(cfg)
    path = f"{cfg.topics_path}/{topic}"
    pcols = res.partition_columns
    out = res.data.drop("encodedPartition", "chunk")
    observed = Observation() if register_table and pcols else None
    if observed is not None:
        dirs = F.struct(*[F.col(c).cast("string") for c in pcols])
        out = out.observe(observed, F.collect_set(dirs).alias("dirs"))
    sink.write(out, path, pcols)
    if register_table:
        written = [tuple(r) for r in observed.get["dirs"]] if observed else []
        register_external_table(
            spark, cfg, topic, pcols, path, batch=BatchWrite(out.schema, written)
        )
    return res


def backfill(
    spark: SparkSession,
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    ts_col: str = "ts",
) -> IngestResult:
    """Idempotent reprocessing of a partition range: re-land corrected
    records, replacing ONLY the partition directories the new batch touches
    and leaving every other partition's committed files untouched. This is
    the recovery/backfill story the reference handles by truncating the WAL
    and rewinding offsets per topic-partition (TopicPartitionWriter
    recovery) — expressed at the directory-partition level, the granularity
    a batch engine can replace atomically. Re-running the same backfill
    reproduces the same content (safe after a failure).

    Scale: native formats use dynamic partition overwrite — overwrite scope
    is computed executor-side from the written partitions, unrelated
    partitions are never listed, read, or rewritten, and no partition list
    ever funnels through the driver. The pure-Python avro fallback collects
    the touched partition VALUES (dir count, not data) to clear those dirs,
    then appends fresh containers.
    """
    from kafka_connect_hdfs_spark.sinks import jvm_avro_available

    res = ingest_batch(df, cfg, topic, ts_col=ts_col, discard_partial=False)
    path = f"{cfg.topics_path}/{topic}"
    out = res.data.drop("encodedPartition", "chunk")
    pcols = res.partition_columns
    if cfg.format == "avro" and not jvm_avro_available(spark):
        import shutil

        sink = build_sink(cfg)
        local = path.removeprefix("file://")
        touched = out.select(*pcols).distinct().collect()
        for r in touched:
            d = "/".join([local] + [f"{c}={r[c]}" for c in pcols])
            shutil.rmtree(d, ignore_errors=True)
        sink.write(out, path, pcols)
        return res
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        writer = out.write.mode("overwrite").format(cfg.format)
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.save(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return res


def land_topics(
    spark: SparkSession,
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic_col: str = "topic",
    ts_col: str = "ts",
    discard_partial: bool = True,
    register_tables: bool = False,
) -> dict[str, IngestResult]:
    """Multi-topic landing (R1 routing: DataWriter keeps one writer per
    topic-partition, DataWriter.java:314-333). Each topic lands under its own
    ``<topics.dir>/<topic>/`` root — the reference's raw-topic-name layout,
    which ``partitionBy`` alone can't produce (it would emit ``topic=`` dirs).

    One write job per topic, submitted from a driver-side thread pool so the
    Spark scheduler overlaps them (FIFO scheduling interleaves task sets;
    the reference serializes on one task thread — we don't have to). Threads
    only submit jobs; all data movement stays on the executors.
    """
    from concurrent.futures import ThreadPoolExecutor

    topics = sorted(r[0] for r in df.select(topic_col).distinct().collect())

    def land_one(topic: str) -> IngestResult:
        sub = df.filter(F.col(topic_col) == topic)
        return land(
            spark, sub, cfg, topic, ts_col=ts_col,
            discard_partial=discard_partial, register_table=register_tables,
        )

    if len(topics) <= 1:
        return {t: land_one(t) for t in topics}
    with ThreadPoolExecutor(max_workers=min(8, len(topics))) as pool:
        results = pool.map(land_one, topics)
        return dict(zip(topics, results))


# ---------------------------------------------------------------------------
# Hive/catalog operators H1-H4 (SURVEY.md §2.8)


def avro_schema_literal(schema, partition_columns: list[str], topic: str) -> str:
    """The ``avro.schema.literal`` table property the reference attaches to
    Avro Hive tables (avro/AvroHiveUtil.java:73-97): the latest landed
    PAYLOAD schema (partition columns excluded — they live in the dir
    layout) as an Avro record named after the topic."""
    import json

    from kafka_connect_hdfs_spark.formats.avro_io import struct_to_avro_schema

    payload = [f for f in schema.fields if f.name not in partition_columns]
    record = struct_to_avro_schema(
        type(schema)(payload), name=topic.replace(".", "_")
    )
    return json.dumps(record)


class BatchWrite(NamedTuple):
    """What one ``land`` wrote: the schema of the written frame (payload
    plus partition columns, as the writer typed them) and the partition
    directories it wrote, one tuple of the values cast to string per
    directory (a null or empty value is Spark's default partition)."""

    schema: StructType
    partitions: list


#: table property holding the digest of (format, location, writer schema)
#: that the table was last fully synced for
SYNC_PROPERTY = "sink.sync.digest"

#: partition clauses per ``ALTER TABLE ... ADD`` statement
_ADD_BATCH = 100


def register_external_table(
    spark: SparkSession,
    cfg: HdfsSinkConfig,
    topic: str,
    partition_columns: list[str],
    path: str,
    batch: "BatchWrite | None" = None,
) -> None:
    """H1 + H3 + H4 — keep the external partitioned table in step with
    what landed under ``path``.

    Reference: avro/AvroHiveUtil.constructAvroTable (AvroHiveUtil.java:73-97),
    ParquetHiveUtil.java:61-84; partition registration
    TopicPartitionWriter.addHivePartition (:787-800, H3, run when a writer
    first opens a directory) and DataWriter.syncWithHive (:383-420, H4, run
    on start).

    Steady state (H3): given ``batch`` — what ``land`` just wrote — and a
    table whose :data:`SYNC_PROPERTY` matches that write's format, location
    and writer schema, only the batch's partition directories are added
    (``ADD IF NOT EXISTS``, which also refreshes the table; a batch with no
    partition to add refreshes it directly). No schema inference,
    DROP, CREATE or directory listing; the catalog work follows the batch,
    not the table's history.

    Full sync (H4), run when the table is missing, was synced for another
    writer schema (an evolution, H2) or by code that set no digest, when
    ``batch`` is not given, or when a written value no longer casts to the
    partition column type inferred at the last sync: infer the landed
    schema (partition column types as Spark infers them from directory
    names), DROP + CREATE at the external location with the digest, then
    register every partition directory under ``path``. Avro tables carry
    ``avro.schema.literal`` exactly like the reference's
    (AvroHiveUtil.java:73-97), recomputed from the landed files at every
    full sync. Before any data file has landed (an empty first batch) the
    table takes ``batch.schema`` and no digest, so the next batch fully
    syncs.
    """
    table = table_name_for_topic(cfg, topic)
    digest = None
    if batch is not None:
        digest = _sync_digest(cfg, path, batch.schema)
        if _synced_digest(spark, table) == digest:
            try:
                altered = _add_partitions(spark, table, path, partition_columns, batch.partitions)
            except PySparkException as e:
                # a value that no longer casts to the inferred partition
                # type: re-infer the types at a full sync
                if e.getCondition() != "CAST_INVALID_INPUT":
                    raise
            else:
                if not altered:
                    # an ALTER ... ADD PARTITION refreshes the table itself,
                    # even when every partition already exists
                    spark.catalog.refreshTable(table)
                return
    try:
        schema = build_sink(cfg).schema_of(spark, path)
    except PySparkException as e:
        # nothing has landed yet (an empty first batch): create the table
        # from the writer schema, without a digest, so the first batch
        # with data runs the full sync that infers the landed types
        if batch is None or e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        schema, digest = batch.schema, None
    if cfg.format == "avro":
        # partition cols come from dir names, not the container schema
        from pyspark.sql import types as T

        for c in partition_columns:
            if c not in schema.fieldNames():
                schema = schema.add(T.StructField(c, T.StringType(), True))
    if batch is not None:
        # the file the inference sampled may predate this batch, whose
        # columns are the latest writer schema (H2)
        for f in batch.schema.fields:
            if f.name not in schema.fieldNames():
                schema = schema.add(f)
    _recreate_external_table(
        spark, cfg, topic, schema, partition_columns, path, digest=digest
    )


def _sync_digest(cfg: HdfsSinkConfig, path: str, writer_schema) -> str:
    import hashlib
    import json

    key = json.dumps([cfg.format, path, writer_schema.jsonValue()], sort_keys=True)
    return hashlib.sha256(key.encode("utf-8")).hexdigest()


def _synced_digest(spark: SparkSession, table: str) -> "str | None":
    """The table's :data:`SYNC_PROPERTY`, or None when the table is missing.
    Catalog reads only (no Spark job); a table without the property yields
    Spark's "does not have property" text, which matches no digest."""
    if not spark.catalog.tableExists(table):
        return None
    return spark.sql(f"SHOW TBLPROPERTIES {table} ('{SYNC_PROPERTY}')").first()["value"]


def _sql_str(s: str) -> str:
    """``s`` as a single-quoted Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _add_partitions(
    spark: SparkSession,
    table: str,
    path: str,
    partition_columns: "list[str]",
    partitions: list,
) -> bool:
    """H3 — ``ALTER TABLE ... ADD IF NOT EXISTS PARTITION (...) LOCATION``
    for each tuple of raw partition values, :data:`_ADD_BATCH` clauses per
    statement; whether any statement ran (each one refreshes the table,
    Spark's ``AlterTableAddPartitionCommand``). The one way this module
    registers a partition: the
    location is the directory ``partitionBy`` wrote (Spark's own escaping,
    ``ExternalCatalogUtils.getPartitionPathString``; null and empty values
    map to ``__HIVE_DEFAULT_PARTITION__``) and the spec gives the raw
    string, which Spark casts to the column's catalog type (``month='01'``
    is stored as ``month=1``), so re-adding a directory is a no-op."""
    if not partitions:
        return False
    utils = getattr(spark._jvm, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils")
    default = f"={utils.DEFAULT_PARTITION_NAME()}"
    # Hadoop's qualified spelling (``file:/x``, not ``file:///x``), as file
    # listings produce it: full scans over ``file:///`` partition locations
    # measured ~10 % slower
    fs, Path = statedir.hadoop_fs(spark, path)
    base = fs.makeQualified(Path(path)).toString().rstrip("/")
    clauses = []
    for values in partitions:
        segs = [utils.getPartitionPathString(c, v) for c, v in zip(partition_columns, values)]
        spec = ", ".join(
            f"`{c}` = {'NULL' if seg.endswith(default) else _sql_str(v)}"
            for c, v, seg in zip(partition_columns, values, segs)
        )
        location = "/".join([base, *segs])
        clauses.append(f"PARTITION ({spec}) LOCATION {_sql_str(location)}")
    for i in range(0, len(clauses), _ADD_BATCH):
        spark.sql(
            f"ALTER TABLE {table} ADD IF NOT EXISTS " + " ".join(clauses[i:i + _ADD_BATCH])
        )
    return True


def _partition_dirs(spark: SparkSession, path: str, partition_columns: "list[str]") -> list:
    """Every partition directory under ``path`` (``<col>=<value>`` per
    level, in ``partition_columns`` order) as a tuple of raw values —
    the H4 walk (FileUtils.getDirectories, FileUtils.java:151-176), one
    listing per directory through ``statedir.hadoop_fs``."""
    fs, Path = statedir.hadoop_fs(spark, path)
    utils = getattr(spark._jvm, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils")
    level = [((), Path(path))] if fs.exists(Path(path)) else []
    for c in partition_columns:
        prefix = f"{utils.escapePathName(c)}="
        below = []
        for values, parent in level:
            for st in fs.listStatus(parent):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith(prefix):
                    value = utils.unescapePathName(name[len(prefix):])
                    below.append((values + (value,), st.getPath()))
        level = below
    return [values for values, _ in level]


def _recreate_external_table(
    spark: SparkSession,
    cfg: HdfsSinkConfig,
    topic: str,
    schema,
    partition_columns: "list[str]",
    path: str,
    digest: "str | None" = None,
) -> None:
    """The shared Hive DDL tail (H1 create + H2 replace + H4 sync): render
    the column list (data columns first, partition columns last — Spark's
    table layout rule; USING syntax lists every column once,
    PARTITIONED BY takes names only), DROP + CREATE at the external
    location (with ``digest`` as :data:`SYNC_PROPERTY` when given), then
    register every partition directory under ``path`` through
    :func:`_add_partitions`. One definition so the H1 and H2 paths can
    never produce divergent catalog tables (r07 review)."""
    table = table_name_for_topic(cfg, topic)
    ordered = [f for f in schema.fields if f.name not in partition_columns] + [
        f for f in schema.fields if f.name in partition_columns
    ]
    cols_sql = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in ordered)
    part_sql = ", ".join(f"`{c}`" for c in partition_columns)
    fmt = {
        "parquet": "PARQUET", "orc": "ORC", "avro": "AVRO",
        "json": "JSON", "text": "TEXT",
    }[cfg.format]
    props = {}
    if cfg.format == "avro":
        props["avro.schema.literal"] = avro_schema_literal(schema, partition_columns, topic)
    if digest is not None:
        props[SYNC_PROPERTY] = digest
    props_sql = ""
    if props:
        props_sql = " TBLPROPERTIES (" + ", ".join(
            f"{_sql_str(k)} = {_sql_str(v)}" for k, v in props.items()
        ) + ")"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    partitioned = f" PARTITIONED BY ({part_sql})" if part_sql else ""
    spark.sql(
        f"CREATE TABLE {table} ({cols_sql}) USING {fmt}{partitioned}"
        f"{props_sql} LOCATION {_sql_str(path)}"
    )
    if partition_columns:
        _add_partitions(
            spark, table, path, partition_columns,
            _partition_dirs(spark, path, partition_columns),
        )


def alter_table_schema(
    spark: SparkSession, cfg: HdfsSinkConfig, topic: str, new_columns: dict[str, str]
) -> None:
    """H2 — evolve the catalog table to the latest schema by adding the new
    columns (Avro path replaces avro.schema.literal, Parquet path replaces
    the column list — avro/AvroHiveUtil.java:62-71, ParquetHiveUtil.java:53-59;
    triggered async in TopicPartitionWriter.alterHiveSchema :772-785).

    Spark: ALTER TABLE ADD COLUMNS — additive evolution matches the
    BACKWARD/FULL gate (H6) under which hive integration runs.
    """
    table = table_name_for_topic(cfg, topic)
    existing = {f.name for f in spark.table(table).schema.fields}
    cols = ", ".join(
        f"`{name}` {dtype}" for name, dtype in new_columns.items() if name not in existing
    )
    if cols:
        spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols})")
    if cfg.format == "avro":
        # replace avro.schema.literal with the evolved schema, exactly the
        # reference's alterSchema (avro/AvroHiveUtil.java:62-71)
        desc = spark.sql(f"DESCRIBE TABLE {table}").collect()
        part_cols, in_part = [], False
        for r in desc:
            if r.col_name.startswith("# Partition"):
                in_part = True
            elif in_part and r.col_name and not r.col_name.startswith("#"):
                part_cols.append(r.col_name)
        literal = avro_schema_literal(spark.table(table).schema, part_cols, topic)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            "('avro.schema.literal' = '" + literal.replace("'", "\\'") + "')"
        )


def replace_table_schema(
    spark: SparkSession,
    cfg: HdfsSinkConfig,
    topic: str,
    schema,
    partition_columns: "list[str]",
    path: str,
) -> None:
    """H2 (full) — REPLACE COLUMNS semantics: swap the catalog table's
    column list for ``schema`` wholesale, including column DROPS, exactly
    the reference's ParquetHiveUtil.alterSchema
    (parquet/ParquetHiveUtil.java:53-59, ``ALTER TABLE … REPLACE
    COLUMNS``). Spark SQL has no REPLACE COLUMNS for v1 external tables,
    but for an EXTERNAL location the column list is pure catalog metadata
    — so the equivalent is re-registering the table at the same location
    with the new list (DROP + CREATE + partition registration, which
    :func:`register_external_table`'s create path already performs
    atomically enough for a single-writer catalog). Data files are
    untouched; columns absent from the new list become invisible, columns
    the files lack read as NULL — Hive REPLACE COLUMNS behavior.

    Use :func:`alter_table_schema` (ADD COLUMNS) for the additive
    BACKWARD/FULL path; this entry point exists for FORWARD-compatible
    evolution where the newest writer schema may DROP fields
    (schema_evolution.py compatibility modes).
    """
    from pyspark.sql import types as T

    table = table_name_for_topic(cfg, topic)
    # partition columns absent from the new schema keep their CURRENT
    # catalog type (r07 review: a payload-only evolution must not
    # silently retype `partition int` to string); STRING only when the
    # table never existed
    # only a MISSING table may fall through to the fresh-create default
    # (r07 ADVICE): a transient metastore error swallowed here would
    # silently retype existing partition columns to STRING — exactly what
    # the preservation below exists to prevent — so anything else
    # propagates.
    current = {}
    if spark.catalog.tableExists(table):
        current = {
            f.name: f for f in spark.table(table).schema.fields
        }
    fields = list(schema.fields)
    have = {f.name for f in fields}
    for c in partition_columns:
        if c not in have:
            fields.append(
                current.get(c, T.StructField(c, T.StringType(), True))
            )
    _recreate_external_table(
        spark, cfg, topic, T.StructType(fields), partition_columns, path
    )


def table_name_for_topic(cfg: HdfsSinkConfig, topic: str) -> str:
    """Topics may contain dots (`topic.with.dots`,
    HdfsSinkConnectorTestBase.java:48); Hive table names can't."""
    return f"{cfg.hive_database}.`{topic.replace('.', '_')}`"
