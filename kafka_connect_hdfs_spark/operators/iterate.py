"""One place that decides when a plan is materialized, and for how long.

Every operator that needs a frame computed once — an edge list read by
several joins, a feed consumed by checks and a write, a convergence loop's
rounds — goes through :func:`materialize`: an eager local checkpoint
(cached blocks, lineage cut, one Spark job). Two things distinguish it
from a bare ``localCheckpoint(eager=True)``:

- **A measured size estimate.** Spark keeps the origin plan's statistics
  on a checkpoint, so an estimate that compounds per round (k-core's
  per-round joins multiplied theirs into a 3.4 M-digit ``BigInteger``
  after 11 rounds, and planning alone took minutes) is carried into the
  next round's plan. Here the checkpoint carries its cached size and row
  count instead, both known once the job has run.
- **A lifetime.** A checkpoint stays persisted until the JVM garbage
  collector happens to find its ``RDD`` unreachable, which a loop of
  superseded rounds can outrun. Only the checkpoints the returned plan
  references should stay persisted: :func:`materialized` releases the
  frame when its block exits (use it when the function consumes the
  frame before it returns), and :func:`fixpoint` releases each
  superseded round, keeping only the last.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Hashable, Optional

from pyspark.sql import DataFrame


def _checkpoint(df: DataFrame) -> "tuple[DataFrame, int]":
    """:func:`materialize` that also returns the row count."""
    cp_df = df.localCheckpoint(eager=False)
    cp = cp_df._jdf.queryExecution().analyzed()  # the LogicalRDD
    rows = cp.rdd().count()  # the job; the checkpoint completes with it
    # Spark's own estimate for ``rows`` rows of this schema, read off the
    # analyzed plan of a limited projection: py4j hands a Scala BigInt back
    # as a Python int, so no figure can be passed in directly. The limit
    # takes an int (past it no estimate is near a broadcast threshold) and
    # the projection drops its capped row count.
    stats = cp_df.limit(min(rows, 2**31 - 1)).select("*")._jdf.queryExecution().analyzed().stats()
    jvm, extra = df.sparkSession._jvm, cp.otherCopyArgs()  # (session, stats, constraints)
    plan = cp.copy(
        cp.output(), cp.rdd(), cp.outputPartitioning(), cp.outputOrdering(), cp.isStreaming(),
        cp.stream(), extra.apply(0), getattr(jvm, "scala.Some")(stats), extra.apply(2),
    )
    jdf = getattr(jvm, "org.apache.spark.sql.classic.Dataset").ofRows(extra.apply(0), plan)
    return DataFrame(jdf, df.sparkSession), rows


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once into cached blocks, lineage cut, with the size
    Spark estimates for its measured row count as the plan statistics. One
    Spark job (the one ``localCheckpoint(eager=True)`` runs) plus the
    shuffle stages of ``df`` itself."""
    return _checkpoint(df)[0]


def release(df: DataFrame) -> None:
    """Drop the cached blocks of a frame :func:`materialize` returned. No
    plan may read it afterwards."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@contextmanager
def materialized(df: DataFrame):
    """:func:`materialize` for the span of a ``with`` block, released on
    exit: for a frame the function consumes before it returns."""
    m = materialize(df)
    try:
        yield m
    finally:
        release(m)


def fixpoint(
    step: Callable[[DataFrame], DataFrame], init: DataFrame,
    signature: Optional[Callable[[DataFrame], Hashable]], max_rounds: int,
    confirm: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
) -> DataFrame:
    """Iterate ``step`` from ``init`` until a round's ``signature`` equals
    the previous round's (and ``confirm(new, previous)``, when given,
    agrees), or for ``max_rounds`` rounds. A ``signature`` of None compares
    row counts, which materializing measures anyway (exact for a step that
    only ever removes rows). Each round is materialized and the round it
    supersedes released, so the returned frame — the last round,
    materialized — is the only one left persisted."""
    def _round(df: DataFrame) -> "tuple[DataFrame, Hashable]":
        m, rows = _checkpoint(df)
        return m, rows if signature is None else signature(m)

    cur, sig = _round(init)
    for _ in range(max_rounds):
        nxt, nxt_sig = _round(step(cur))
        done = nxt_sig == sig and (confirm is None or confirm(nxt, cur))
        release(cur)
        cur, sig = nxt, nxt_sig
        if done:
            break
    return cur
