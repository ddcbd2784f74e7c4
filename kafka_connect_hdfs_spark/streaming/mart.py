"""Streaming incremental-mart maintenance: a ``foreachBatch`` loop that
folds every micro-batch into a persisted per-key aggregate table with
:func:`kafka_connect_hdfs_spark.merge.refresh_aggregate` — the live
counterpart of the batch mart refresh, and the aggregate twin of
:mod:`.cdc` (which maintains latest-state; this maintains count/sum
marts).

Per micro-batch: aggregate the batch (delta-sized shuffle), merge with
the current mart (keys-bounded), and publish with the SAME
crash-recoverable two-rename swap as :func:`.cdc._merge_batch` — write
new state to a hidden sibling, rename live aside, rename new in, drop
the backup last, restore a stranded backup on the next batch. Because
count/sum are distributive, arrival order across micro-batches cannot
change the result: the final mart equals the full batch rollup, which is
what makes the gate oracle-able.

Scale: each trigger costs O(|batch| + |mart|) — the corpus is never
re-scanned. This is how a 100 TB landing keeps its dashboards current
from the stream instead of re-aggregating nightly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def start_mart_refresh(
    stream: DataFrame,
    state_path: str,
    keys: Sequence[str],
    checkpoint: str,
    count_col: str = "n_rows",
    sum_cols: "dict[str, str] | None" = None,
    available_now: bool = True,
):
    """Start the mart-maintenance query; returns the StreamingQuery. The
    mart at ``state_path`` is plain parquet, readable between batches.

    The mart is BOUND to its checkpoint (r06 ADVICE): batch ids are scoped
    to a checkpoint, so the replay marker records the stream identity
    (the query id Spark persists at ``{checkpoint}/metadata``) alongside
    the batch id. Restarting against an existing mart with a FRESH
    checkpoint (ids restart at 0) raises instead of silently skipping
    every batch whose id is <= the old marker. Delete the mart together
    with its checkpoint, or keep both.
    """
    spark = stream.sparkSession
    ident: "dict[str, str | None]" = {}

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        if "sid" not in ident:
            # Spark writes {checkpoint}/metadata (the query id) during
            # start(), strictly before the first batch runs
            ident["sid"] = _stream_identity(spark, checkpoint)
        _refresh_batch(
            spark,
            batch_df,
            state_path,
            list(keys),
            count_col,
            sum_cols,
            batch_id=batch_id,
            stream_id=ident["sid"],
        )

    writer = stream.writeStream.foreachBatch(_refresh).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_MARKER_PREFIX = "_applied_"


def _stream_identity(spark: SparkSession, checkpoint: str) -> "str | None":
    """The streaming-query id persisted at ``{checkpoint}/metadata`` —
    stable across restarts of the SAME checkpoint, regenerated when the
    checkpoint is wiped (which is exactly when batch ids restart at 0 and
    the replay guard must not trust them)."""
    import json

    from kafka_connect_hdfs_spark import statedir

    fs, Path = statedir.hadoop_fs(spark, checkpoint)
    p = f"{checkpoint.rstrip('/')}/metadata"
    if not fs.exists(Path(p)):
        return None
    return str(json.loads(statedir.read_text(spark, p))["id"])


def _parse_marker(name: str) -> "tuple[str | None, int]":
    """``_applied_<stream_id>_<batch_id>`` -> (stream_id, batch_id);
    legacy ``_applied_<batch_id>`` -> (None, batch_id)."""
    rest = name[len(_MARKER_PREFIX):]
    if "_" in rest:
        sid, bid = rest.rsplit("_", 1)
        return sid, int(bid)
    return None, int(rest)


def _refresh_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_path: str,
    keys: "list[str]",
    count_col: str,
    sum_cols: "dict[str, str] | None",
    batch_id: "int | None" = None,
    stream_id: "str | None" = None,
) -> None:
    """Fold one micro-batch through the shared crash-recoverable swap
    (statedir.swap_state_update). UNLIKE the CDC upsert, an additive
    count/sum fold is NOT idempotent — a batch re-delivered after a
    crash that landed past the publish but before the streaming offset
    commit would double-count — so the last-applied (stream id, batch id)
    rides as a marker file INSIDE the swapped state dir (atomic with the
    data; parquet readers ignore underscore files). An already-applied
    batch id from the SAME stream is skipped; a marker from a DIFFERENT
    stream raises — batch ids are checkpoint-scoped, so a fresh
    checkpoint restarting at id 0 against an old mart would otherwise
    silently drop every batch (r06 ADVICE)."""
    from kafka_connect_hdfs_spark.merge import refresh_aggregate
    from kafka_connect_hdfs_spark.statedir import (
        state_marker, swap_state_update,
    )

    if batch_id is not None:
        m = state_marker(spark, state_path, _MARKER_PREFIX)
        if m is not None:
            m_sid, m_bid = _parse_marker(m)
            if m_sid is None and stream_id is not None:
                # legacy pre-identity marker (`_applied_<n>`) found by a
                # stream caller (r07 ADVICE): the marker was written by a
                # stream under the old format, so the SAME stream resuming
                # its original checkpoint must keep working. Adopt when
                # the batch-id sequence is consistent with a resume —
                # Spark replays at most the last committed batch, so a
                # genuine resume delivers m_bid (replay → skip) or a
                # later id (fold; the marker is rewritten in the new
                # format below). A strictly LOWER id can only mean a
                # fresh checkpoint (ids restarted at 0) → fall through to
                # the ownership error. Equal ids are a replay ONLY when
                # m_bid > 0: a legacy marker at batch 0 meeting a caller
                # at batch 0 is indistinguishable from a FRESH checkpoint
                # (ids restart at 0), and adopting it would silently skip
                # the fresh stream's first batch (r08 ADVICE) — the
                # ambiguous equal-zero case falls through to the
                # ownership error instead of dropping data.
                if batch_id > m_bid or (batch_id == m_bid and m_bid > 0):
                    m_sid = stream_id
            if m_sid != stream_id:
                # covers all three ownership mismatches (r07 review): a
                # DIFFERENT stream id (fresh checkpoint — ids restart at
                # 0), a STREAM taking over a batch-API mart (legacy
                # marker, m_sid None), and the batch API touching a
                # stream-owned mart (stream_id None). In every case the
                # batch-id comparison is meaningless and silently
                # skipping would drop data.
                raise ValueError(
                    f"mart at {state_path} was last folded by "
                    f"{'stream ' + m_sid if m_sid else 'the batch API'} "
                    f"(last batch {m_bid}) but this caller is "
                    f"{'stream ' + stream_id if stream_id else 'the batch API'}: "
                    "batch ids are scoped to one checkpoint/owner, so "
                    "folding would double-count or drop batches. The "
                    "mart and its checkpoint must live and die together "
                    "— delete both to rebuild, or restart with the "
                    "original checkpoint."
                )
            if batch_id <= m_bid:
                return  # replayed batch: already folded into the mart
        tag = f"{stream_id}_{batch_id}" if stream_id is not None else str(batch_id)
    else:
        tag = None

    def _upd(state: "DataFrame | None") -> DataFrame:
        return refresh_aggregate(
            state, batch_df, keys, count_col=count_col, sum_cols=sum_cols
        )

    swap_state_update(
        spark,
        state_path,
        _upd,
        suffix="mart",
        marker=(f"{_MARKER_PREFIX}{tag}" if tag is not None else None),
    )
