"""Partition-scoped MERGE (upsert) over landed data — the lakehouse
operation the reference cannot express (it can only append new files,
SURVEY.md §2.4-2.6): apply a batch of keyed updates/inserts to a
partitioned parquet/orc landing, rewriting ONLY the partitions the batch
touches.

Semantics: last-writer-wins per key — an update replaces the existing
row with the same key; unseen keys insert into their partition.

Execution shape (Spark-first, 100 TB-ready):
  1. ONE job stages the merged state of every affected partition into a
     hidden staging dir: the target is scanned with a partition-value
     filter (Catalyst prunes untouched directories at planning time —
     they are never opened), existing rows of updated keys drop via a
     broadcast anti-join, and the update batch unions in.
  2. The driver then swaps each staged partition directory into place
     with :func:`statedir.publish_dir`, like :mod:`.compaction` and
     :mod:`.erasure` — metadata-only renames, readers see old or new,
     and re-running converges: the next run first restores any
     ``.<leaf>__merge_old`` backup whose live dir is missing (a crash
     inside the two-rename window) before reading the table.

Untouched partitions are never read, written, or renamed (byte-identical
files, same inode — asserted in tests). The update-key anti-join is
broadcast because a merge batch is small relative to the table; swap in a
shuffle join for giant backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark import statedir


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str,
    fmt: str = "parquet",
) -> dict[str, int]:
    """MERGE ``updates`` into the partitioned table at ``table_path``.

    ``updates`` must carry the full row schema including ``partition_col``
    (a key's partition value must not change across the merge — moving a
    key between partitions is a delete+insert the caller expresses
    explicitly). Returns
    ``{"n_partitions_touched", "n_update_rows", "n_rows_after_affected"}``.
    """
    fs, Path = statedir.hadoop_fs(spark, table_path)

    # Crash recovery from a prior interrupted merge: restore every
    # .<leaf>__merge_old backup stranded mid-swap BEFORE computing the
    # merged state (merging against a table missing that partition and
    # then deleting the backup would permanently lose its non-updated
    # rows: the staged content here derives from the live table).
    statedir.restore_backups(fs, Path, table_path, "__merge_old")

    # one pass over updates yields the touched partitions AND the row
    # count (was a distinct-collect plus a second full count() scan)
    part_stats = (
        updates.groupBy(partition_col).agg(F.count("*").alias("_n")).collect()
    )
    parts = sorted(r[0] for r in part_stats)
    n_update_rows = sum(r["_n"] for r in part_stats)

    tgt = spark.read.format(fmt).load(table_path)
    existing = tgt.filter(F.col(partition_col).isin(parts))
    keep = existing.join(
        F.broadcast(updates.select(key_col).distinct()), key_col, "left_anti"
    )
    merged = keep.unionByName(updates.select(*keep.columns))

    staging = f"{table_path}/.merge_tmp"
    fs.delete(Path(staging), True)
    # one job: stage the post-merge state of every affected partition
    merged.write.format(fmt).mode("overwrite").partitionBy(partition_col).save(staging)
    n_after = spark.read.format(fmt).load(staging).count()

    # swap the ACTUAL staged leaf dirs (Spark escapes special characters in
    # partition values — listing the staging output inherits its escaping
    # instead of re-deriving names from raw values)
    prefix = f"{partition_col}="
    staged_leaves = [
        st.getPath().getName()
        for st in fs.listStatus(Path(staging))
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    for leaf in staged_leaves:
        statedir.publish_dir(
            fs, Path, f"{table_path}/{leaf}", f"{staging}/{leaf}",
            f"{table_path}/.{leaf}__merge_old",
        )
    fs.delete(Path(staging), True)

    return {
        "n_partitions_touched": len(parts),
        "n_update_rows": n_update_rows,
        "n_rows_after_affected": n_after,
    }


def refresh_aggregate(
    base_agg: "DataFrame | None",
    delta: "DataFrame",
    keys: "list[str]",
    count_col: str = "n_rows",
    sum_cols: "dict[str, str] | None" = None,
) -> "DataFrame":
    """Incremental materialized-view maintenance for DISTRIBUTIVE
    aggregates (count/sum — the self-maintainable class from the
    materialized-view literature; Gupta & Mumick's delta rules): fold a
    delta batch into an existing per-key aggregate table WITHOUT
    re-scanning the base corpus.

        refreshed = base_agg ⊎ aggregate(delta)   (per-key partial merge)

    ``sum_cols`` maps source value columns in ``delta`` to their sum
    column names in ``base_agg`` (summed as decimal(18,2) — the repo's
    money convention, exact and order-free). The result is
    bit-identical to a full recompute over base ∪ delta, which is what
    the gate's oracle checks.

    Scale: this is THE reason aggregate marts stay cheap at 100 TB —
    the delta (hours of data) shuffles at delta size, the base mart is
    keys-bounded and never re-scanned; the merge groupBy touches
    |affected keys| + |mart| rows. A full recompute would re-shuffle
    the entire corpus per refresh. AVG/stddev refresh by carrying
    (count, sum, sumsq) partials; MIN/MAX are NOT delete-maintainable
    (kept insert-only here, matching the append-only landing model —
    reference sinks never retract, SURVEY §2.4).
    """
    from pyspark.sql import functions as F

    sum_cols = sum_cols or {}
    # partials carry decimal(28,2) — what a full recompute's sum over
    # decimal(18,2) inputs produces — so the merge NEVER downcasts an
    # accumulated total (a cast back to (18,2) silently nulls past 1e16
    # and would drop the whole base contribution for that key)
    aggs = [F.count("*").cast("long").alias(count_col)] + [
        F.sum(F.col(src).cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias(dst)
        for src, dst in sum_cols.items()
    ]
    d = delta.groupBy(*keys).agg(*aggs)
    if base_agg is None:
        # bootstrap: no mart yet — the delta aggregate IS the mart
        return d
    merged_aggs = [F.sum(count_col).cast("long").alias(count_col)] + [
        F.sum(F.col(dst).cast("decimal(28,2)"))
        .cast("decimal(28,2)")
        .alias(dst)
        for dst in sum_cols.values()
    ]
    return (
        base_agg.select(
            *keys,
            F.col(count_col).cast("long").alias(count_col),
            *[
                F.col(dst).cast("decimal(28,2)").alias(dst)
                for dst in sum_cols.values()
            ],
        )
        .unionByName(d)
        .groupBy(*keys)
        .agg(*merged_aggs)
    )


def merge_keyed(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str,
    fmt: str = "parquet",
    delete_col: "str | None" = None,
) -> dict[str, int]:
    """GENERAL keyed MERGE across partitions — Delta/Iceberg MERGE parity
    (r08 verdict item 7), generalizing :func:`merge_upsert` in the three
    ways the partition-scoped form cannot express:

    - **cross-partition key moves**: an update row whose key currently
      lives in a DIFFERENT partition deletes the old row there and lands
      the new row where the update says (``merge_upsert`` requires keys
      to stay put);
    - **deletes**: with ``delete_col`` set, update rows whose flag is
      true remove the key wherever it lives (WHEN MATCHED THEN DELETE);
    - **emptied partitions are dropped**: a partition whose last rows
      moved or deleted is removed from the table, not left stale.

    Semantics (Delta MERGE): per key, matched → replace (or delete),
    not-matched → insert into the row's partition. ``updates`` must be
    key-unique (two source rows for one key raise, Delta's
    multiple-matches error) and carry the full row schema including
    ``partition_col``.

    Execution shape, 100 TB-ready:
      1. LOCATE: when a FRESH bucketed key→partition index exists
         (:func:`build_key_index`), read ONLY the index buckets the
         update keys hash into — O(update keys), the sustained-cadence
         path; otherwise one column-pruned scan (``key_col`` bytes only
         — ``partition_col`` comes from directory names) semi-joined
         against the broadcast update keys. The index is fingerprint-
         validated (:func:`locate_keys`) and refreshed incrementally
         after the swap (:func:`refresh_key_index`); staleness can only
         cost a scan, never a wrong answer.
      2. STAGE: one job writes the post-merge state of every touched
         partition (current rows minus updated keys, union the update
         rows) into a hidden staging tree.
      3. SWAP: each staged leaf swaps in via :func:`statedir.publish_dir`,
         and the next call restores a crashed swap on entry, as in
         :func:`merge_upsert`; leaves
         EMPTIED by the merge roll forward through a
         ``.<leaf>__merge_dropped`` rename-then-delete. Untouched
         partitions are never read, written, or renamed
         (inode-identical, asserted in tests).

    Returns ``{"n_partitions_touched", "n_update_rows",
    "n_rows_after_affected", "n_partitions_dropped"}``.
    """
    jvm = spark._jvm
    # module-attribute call: the chaos kill-point sweep monkeypatches
    # statedir.hadoop_fs to inject a mutation-counting fs proxy
    fs, Path = statedir.hadoop_fs(spark, table_path)

    # crash recovery (same contract as merge_upsert) for __merge_old
    # backups. An __merge_dropped dir is a partition-drop that crashed
    # before its final delete — the merge that created it already
    # decided the partition is gone, so completing the delete is the
    # roll-forward.
    statedir.restore_backups(fs, Path, table_path, "__merge_old")
    for st in fs.listStatus(Path(table_path)):
        if statedir.backup_leaf(st.getPath().getName(), "__merge_dropped"):
            fs.delete(st.getPath(), True)

    # ONE aggregate answers the key-uniqueness check AND the update row
    # count (was a dup-check job plus a second full count() pass over the
    # update frame — at scale updates are the large input here)
    _key_stats = (
        updates.groupBy(key_col)
        .agg(F.count("*").alias("_n"))
        .agg(F.max("_n").alias("_mx"), F.sum("_n").alias("_rows"))
        .collect()[0]
    )
    if (_key_stats["_mx"] or 0) > 1:
        raise ValueError(
            f"updates are not key-unique on {key_col!r}: a MERGE source "
            "with multiple rows per key is ambiguous (Delta's "
            "multiple-matches error) — pre-aggregate to one row per key"
        )
    n_update_rows = int(_key_stats["_rows"] or 0)

    all_keys = updates.select(key_col).distinct()
    if delete_col is not None:
        upd_rows = updates.filter(
            ~F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        ).drop(delete_col)
    else:
        upd_rows = updates

    tgt = spark.read.format(fmt).load(table_path)
    # LOCATE where the keys currently live. Fast path (r09 VERDICT item
    # 4): a FRESH bucketed key→partition index answers from the buckets
    # the update keys hash into — O(update keys). Fallback: the
    # key-column-only full scan (column-pruned; partition values come
    # from directory names). The index is validated against the live
    # listing fingerprint inside locate_keys, so a stale index can only
    # cost a scan, never a wrong answer.
    idx_meta = _read_index_meta(spark, table_path)
    located = locate_keys(
        spark, table_path, all_keys, key_col, partition_col, fmt,
        meta=idx_meta,
    )
    if located is not None:
        old_vals = [r[0] for r in located.collect()]
    else:
        idx_meta = None  # absent or stale: do not refresh incrementally
        old_vals = [
            r[0]
            for r in tgt.join(F.broadcast(all_keys), key_col, "left_semi")
            .select(partition_col)
            .distinct()
            .collect()
        ]
    new_vals = [
        r[0] for r in upd_rows.select(partition_col).distinct().collect()
    ]
    touched = sorted(set(old_vals) | set(new_vals), key=str)
    if not touched:
        return {
            "n_partitions_touched": 0,
            "n_update_rows": n_update_rows,
            "n_rows_after_affected": 0,
            "n_partitions_dropped": 0,
        }

    # NULL partition values need an explicit isNull disjunct: isin(...)
    # is three-valued NULL under SQL semantics, so a key living in the
    # __HIVE_DEFAULT_PARTITION__ leaf would silently escape the rewrite
    # and the merge would DUPLICATE it
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in touched):
        cond = cond | F.col(partition_col).isNull()
    existing = tgt.filter(cond)
    keep = existing.join(F.broadcast(all_keys), key_col, "left_anti")
    merged = keep.unionByName(upd_rows.select(*keep.columns))

    staging = f"{table_path}/.merge_keyed_tmp"
    fs.delete(Path(staging), True)
    (
        merged.write.format(fmt)
        .mode("overwrite")
        .partitionBy(partition_col)
        .save(staging)
    )
    prefix = f"{partition_col}="
    staged_leaves = [
        st.getPath().getName()
        for st in fs.listStatus(Path(staging))
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    n_after = (
        spark.read.format(fmt).load(staging).count() if staged_leaves else 0
    )
    for leaf in staged_leaves:
        statedir.publish_dir(
            fs, Path, f"{table_path}/{leaf}", f"{staging}/{leaf}",
            f"{table_path}/.{leaf}__merge_old",
        )
    fs.delete(Path(staging), True)

    # partitions the merge emptied: touched but absent from the staged
    # tree — drop via rename-then-delete (roll-forward recoverable).
    # Leaf names derive from Spark's own partition-path escaping so the
    # comparison matches what the writer produced.
    esc = getattr(jvm, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils")
    expected = {
        f"{prefix}{esc.escapePathName(str(v))}"
        for v in touched
        if v is not None
    }
    if any(v is None for v in touched):
        # Spark lands NULL partition values in the Hive default leaf
        expected.add(f"{prefix}__HIVE_DEFAULT_PARTITION__")
    n_dropped = 0
    for leaf in sorted(expected - set(staged_leaves)):
        live_p = Path(f"{table_path}/{leaf}")
        if fs.exists(live_p):
            dropped = Path(f"{table_path}/.{leaf}__merge_dropped")
            fs.delete(dropped, True)
            if not fs.rename(live_p, dropped):
                raise IOError(f"merge drop rename failed for {leaf}")
            fs.delete(dropped, True)
            n_dropped += 1

    # index maintenance: only when a FRESH index served this merge's
    # LOCATE (idx_meta survived) — rewrite the touched buckets and
    # republish the fingerprint of the post-merge listing. If the index
    # was absent/stale we leave it; build_key_index is the recovery.
    if idx_meta is not None:
        refresh_key_index(
            spark, table_path, all_keys, upd_rows,
            key_col, partition_col, idx_meta,
        )

    return {
        "n_partitions_touched": len(touched),
        "n_update_rows": n_update_rows,
        "n_rows_after_affected": n_after,
        "n_partitions_dropped": n_dropped,
    }


# ---------------------------------------------------------------------------
# Bucketed key→partition index for merge_keyed's LOCATE pass (r09 VERDICT
# item 4). Without it every merge pays a full key-column scan of the
# table; with it LOCATE reads only the index buckets the update keys hash
# into — O(update keys), never O(table). The index lives INSIDE the table
# dir under `_key_index/` (Spark's file index hides `_`-prefixed dirs, so
# ordinary reads never see it), bucketed as hive dirs `bucket=N` so the
# bucket filter prunes at PLANNING time.
#
# Consistency contract: `_key_index/meta.json` records a listing
# fingerprint (leaf/file/size) of the table it indexes. locate_keys uses
# the index ONLY while the fingerprint matches the live listing — any
# out-of-band write, crashed refresh, or manual surgery makes the index
# silently STALE and LOCATE falls back to the full scan (correctness
# never depends on the index; it is purely a fast path). merge_keyed
# refreshes the touched buckets after its swap and republishes the meta
# atomically (write-hidden-then-rename, the manifest protocol).


_INDEX_SUBDIR = "_key_index"


def _index_dirs(table_path: str) -> "tuple[str, str, str]":
    root = f"{table_path.rstrip('/')}/{_INDEX_SUBDIR}"
    return root, f"{root}/data", f"{root}/meta.json"


def _table_sig(fs, Path, table_path: str, partition_col: str) -> str:
    """Fingerprint of the table's leaf listing: sorted
    ``leaf/file:size:mtime`` lines, md5'd. O(files) driver metadata —
    the cheap staleness signal the index contract rests on. Size catches
    most same-name rewrites; mtime (r10 ADVICE) catches the residual
    same-name/same-size rewrite, which would otherwise leave the index
    'fresh' while its pairs are wrong. The NULL-partition leaf is
    covered: Spark names it ``{partition_col}=__HIVE_DEFAULT_PARTITION__``,
    which matches the prefix test like any other value."""
    import hashlib

    prefix = f"{partition_col}="
    lines = []
    root = Path(table_path.rstrip("/"))
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(prefix)):
                continue
            for f in fs.listStatus(st.getPath()):
                fname = f.getPath().getName()
                if f.isFile() and not fname.startswith(("_", ".")):
                    lines.append(
                        f"{name}/{fname}:{f.getLen()}:"
                        f"{f.getModificationTime()}"
                    )
    return hashlib.md5("\n".join(sorted(lines)).encode("utf-8")).hexdigest()


def _read_index_meta(spark: SparkSession, table_path: str) -> "dict | None":
    import json

    fs, Path = statedir.hadoop_fs(spark, table_path)
    _, _, meta_path = _index_dirs(table_path)
    if not fs.exists(Path(meta_path)):
        return None
    return json.loads(statedir.read_text(spark, Path(meta_path)))


def _write_index_meta(spark: SparkSession, table_path: str, meta: dict) -> None:
    import json

    fs, Path = statedir.hadoop_fs(spark, table_path)
    root, _, meta_path = _index_dirs(table_path)
    fs.mkdirs(Path(root))
    tmp = Path(f"{root}/.meta.json.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    fs.delete(Path(meta_path), False)
    if not fs.rename(tmp, Path(meta_path)):
        raise IOError(f"key index meta rename failed for {table_path}")


def _index_pairs(df: DataFrame, key_col: str, partition_col: str,
                 n_buckets: int) -> DataFrame:
    """(k, p, bucket) projection: bucket = pmod(murmur3(key), n_buckets)
    — F.hash is seed-42 murmur3, stable across sessions/versions, so an
    index built in one job resolves in every later one."""
    return df.select(
        F.col(key_col).alias("k"), F.col(partition_col).alias("p")
    ).withColumn("bucket", F.pmod(F.hash(F.col("k")), F.lit(n_buckets)))


def build_key_index(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    partition_col: str,
    fmt: str = "parquet",
    n_buckets: int = 64,
    table_schema=None,
) -> dict:
    """(Re)build the key→partition index from a full table scan — the
    bootstrap and the staleness-recovery path. One column-pruned scan
    (key bytes only; the partition value comes from directory names),
    one shuffle into ``n_buckets`` hive dirs. Size ``n_buckets`` so a
    bucket's pairs fit one task comfortably (~10⁷ keys/bucket); at
    100 TB/10¹⁰ keys use 4096. Returns the published meta.

    ``table_schema`` (a StructType) is REQUIRED to bootstrap an index
    on an empty/leafless table: parquet schema inference has no files
    to read there, so ``spark.read.load`` fails before any index exists
    (r10 ADVICE — the recorded index_schema only makes the index
    READABLE once built; it cannot conjure the table's key dtype). With
    the schema supplied, the build publishes an empty index whose
    recorded schema carries the declared key/partition dtypes."""
    fs, Path = statedir.hadoop_fs(spark, table_path)
    root, data_dir, _ = _index_dirs(table_path)
    reader = spark.read.format(fmt)
    if table_schema is not None:
        reader = reader.schema(table_schema)
    tgt = reader.load(table_path)
    pairs = _index_pairs(tgt, key_col, partition_col, n_buckets)
    schema_json = pairs.schema.json()
    # build is the documented recovery from a crashed incremental
    # refresh — sweep its residue (stage tree, per-bucket backups) so
    # repeated crash/rebuild cycles cannot accumulate hidden dirs
    if fs.exists(Path(root)):
        for st in fs.listStatus(Path(root)):
            name = st.getPath().getName()
            if name == ".refresh_stage" or name.startswith(".bucket_"):
                fs.delete(st.getPath(), True)
    staging = f"{root}/.data_stage"
    fs.delete(Path(staging), True)
    # cluster by bucket before the partitioned write: without it every
    # scan task emits a file per bucket it touches (tasks x n_buckets
    # files at scale); REBALANCE keeps it O(n_buckets), AQE still splits
    # an oversized bucket
    pairs.hint("rebalance", "bucket").write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(staging)
    # no restore on entry: the index is rebuilt whole from the table,
    # so a stranded .data_old backup is never the only copy of anything
    statedir.publish_dir(fs, Path, data_dir, staging, f"{root}/.data_old")
    meta = {
        "key_col": key_col,
        "partition_col": partition_col,
        "n_buckets": n_buckets,
        "format": fmt,
        # recorded schema: reads never depend on parquet schema inference,
        # which fails on an index built from an EMPTY table (no files)
        "index_schema": schema_json,
        "sig": _table_sig(fs, Path, table_path, partition_col),
    }
    _write_index_meta(spark, table_path, meta)
    return meta


def key_index_status(
    spark: SparkSession, table_path: str, partition_col: str
) -> str:
    """'absent' | 'fresh' | 'stale' — the maintenance probe: stale means
    the table listing no longer matches the indexed fingerprint (an
    out-of-band write or a crashed refresh) and LOCATE is falling back
    to full scans until :func:`build_key_index` runs again."""
    meta = _read_index_meta(spark, table_path)
    if meta is None:
        return "absent"
    fs, Path = statedir.hadoop_fs(spark, table_path)
    cur = _table_sig(fs, Path, table_path, partition_col)
    return "fresh" if cur == meta.get("sig") else "stale"


def _index_key_type(meta: dict):
    """The key dtype the index was BUILT with (from the recorded
    schema). F.hash is type-sensitive — hashing an int32 key against an
    index built from int64 keys prunes to the WRONG buckets and the
    fast path would silently miss matched keys (duplicate rows on
    merge). Casting the caller's keys to the recorded type restores the
    'staleness can only cost a scan, never a wrong answer' contract.
    None for legacy metas without a recorded schema."""
    sj = meta.get("index_schema")
    if not sj:
        return None
    import json

    from pyspark.sql.types import StructType

    st = StructType.fromJson(json.loads(sj))
    return {f.name: f.dataType for f in st.fields}.get("k")


def _read_index_data(spark: SparkSession, data_dir: str, meta: dict):
    """Read the index data tree with the RECORDED schema when the meta
    carries one (an index built from an empty table has no parquet files
    to infer from); fall back to inference for pre-schema metas."""
    sj = meta.get("index_schema")
    if sj:
        import json

        from pyspark.sql.types import StructType

        return spark.read.schema(
            StructType.fromJson(json.loads(sj))
        ).parquet(data_dir)
    return spark.read.parquet(data_dir)


def locate_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key_col: str,
    partition_col: str,
    fmt: str = "parquet",
    meta: "dict | None" = None,
) -> "DataFrame | None":
    """Index-backed LOCATE: the distinct partitions the given keys
    currently live in, reading ONLY the index buckets those keys hash
    into (planning-time partition pruning on the ``bucket`` dirs — the
    plan's PartitionFilters, asserted in tests). Returns None when the
    index is absent, indexes different columns, or is STALE against the
    live listing — the caller falls back to the full key-column scan.
    """
    if meta is None:
        meta = _read_index_meta(spark, table_path)
    if (
        meta is None
        or meta.get("key_col") != key_col
        or meta.get("partition_col") != partition_col
        or meta.get("format") != fmt
    ):
        return None
    fs, Path = statedir.hadoop_fs(spark, table_path)
    if _table_sig(fs, Path, table_path, partition_col) != meta["sig"]:
        return None  # stale: correctness falls back to the scan
    _, data_dir, _ = _index_dirs(table_path)
    n_buckets = int(meta["n_buckets"])
    ktype = _index_key_type(meta)
    if ktype is not None:
        keys = keys.select(F.col(key_col).cast(ktype).alias(key_col))
    want = keys.select(
        F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets)).alias("bucket")
    ).distinct()
    buckets = [r[0] for r in want.collect()]
    idx = _read_index_data(spark, data_dir, meta).filter(
        F.col("bucket").isin(buckets)
    )
    return (
        idx.join(
            F.broadcast(keys.select(F.col(key_col).alias("k"))),
            "k",
            "left_semi",
        )
        .select(F.col("p").alias(partition_col))
        .distinct()
    )


def refresh_key_index(
    spark: SparkSession,
    table_path: str,
    all_keys: DataFrame,
    surviving: DataFrame,
    key_col: str,
    partition_col: str,
    meta: dict,
) -> None:
    """Incremental index maintenance after a merge commit: rewrite ONLY
    the buckets the update keys hash into — drop every update key from
    them, add back the surviving rows' (key, new partition) pairs — then
    republish the meta with the POST-merge listing fingerprint. The meta
    write is the publish point: a crash anywhere earlier leaves the old
    meta whose fingerprint no longer matches the merged table, so the
    index reads as stale and LOCATE falls back — a half-refreshed index
    can never serve wrong answers."""
    fs, Path = statedir.hadoop_fs(spark, table_path)
    root, data_dir, _ = _index_dirs(table_path)
    n_buckets = int(meta["n_buckets"])
    ktype = _index_key_type(meta)
    if ktype is not None:
        # same type discipline as locate_keys: hash with the BUILT key
        # dtype or the refreshed pairs land in the wrong buckets
        all_keys = all_keys.select(
            F.col(key_col).cast(ktype).alias(key_col)
        )
        surviving = surviving.withColumn(
            key_col, F.col(key_col).cast(ktype)
        )
    key_b = F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets))
    buckets = [
        r[0]
        for r in all_keys.select(key_b.alias("bucket")).distinct().collect()
    ]
    if buckets:
        existing = (
            _read_index_data(spark, data_dir, meta)
            .filter(F.col("bucket").isin(buckets))
            .join(
                F.broadcast(all_keys.select(F.col(key_col).alias("k"))),
                "k",
                "left_anti",
            )
            .select("k", "p", "bucket")
        )
        fresh = _index_pairs(surviving, key_col, partition_col, n_buckets)
        merged = existing.unionByName(fresh)
        staging = f"{root}/.refresh_stage"
        fs.delete(Path(staging), True)
        # same rebalance-before-partitionBy as build_key_index
        merged.hint("rebalance", "bucket").write.partitionBy(
            "bucket"
        ).mode("overwrite").parquet(staging)
        for b in buckets:
            live = f"{data_dir}/bucket={b}"
            staged = f"{staging}/bucket={b}"
            if fs.exists(Path(staged)):
                statedir.publish_dir(
                    fs, Path, live, staged, f"{root}/.bucket_{b}__old"
                )
            else:
                fs.delete(Path(live), True)  # the merge emptied the bucket
        fs.delete(Path(staging), True)
    meta = dict(meta)
    meta["sig"] = _table_sig(fs, Path, table_path, partition_col)
    _write_index_meta(spark, table_path, meta)
