"""Spans around the calls into each layer, recorded from the benchmark's own
process. Nothing in the package is edited: the traced run replaces module
and class attributes with timing wrappers and puts them back afterwards.

A span has a name, start, end, parent and the batch it belongs to. Spans
stay in memory until the run ends. A span's self time is its duration minus
the part of it that its children cover.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.batch = -1
        # per-batch status-store counters, filled by the batch-level wrappers
        self.counters: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "id": len(self.spans),
            "batch": self.batch,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(original))

    def timed(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span called ``name``."""

        def factory(original):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return wrapper

        self.patch(owner, attr, factory)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def named(self, name: str, batches: set[int] | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (batches is None or s["batch"] in batches)]

    def self_ms(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"] - covered) * 1000.0


def ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def _add(acc: dict, c: dict) -> None:
    for k, v in c.items():
        acc[k] = acc.get(k, [] if isinstance(v, list) else 0) + v


def install(tracer: Tracer, counters) -> None:
    """Wrap the public entry points of each layer.

    ``streaming.pipeline`` imports ``land`` by name, so its attribute is
    patched as well as ``pipeline.land``. ``build_sink`` returns a fresh
    object per call, so the sink classes' ``write`` methods are patched.
    Each batch-level call first runs the same batch's assignment
    (``ingest_batch(...).data`` minus the bookkeeping columns, the
    projection ``land`` writes) through Spark's ``noop`` sink, so the
    assignment layer is timed on its own. Status-store reads get spans of
    their own, so their cost never counts as a layer's self time.
    """
    from kafka_connect_hdfs_spark import contract_names, pipeline, sinks
    from kafka_connect_hdfs_spark.streaming import pipeline as streaming_pipeline

    def take() -> dict:
        with tracer.span("trace.counters"):
            c = counters.take()
        _add(tracer.counters[-1], c)
        return c

    def batch_level(name):
        def factory(original):
            def wrapper(spark_, df, cfg, topic, *args, **kwargs):
                tracer.batch += 1
                with tracer.span("batch"):
                    with tracer.span("pipeline.assign"):
                        res = pipeline.ingest_batch(
                            df, cfg, topic, ts_col=kwargs.get("ts_col", "ts"),
                            discard_partial=kwargs.get("discard_partial", True),
                        )
                        res.data.drop("encodedPartition", "chunk").write.format(
                            "noop"
                        ).mode("overwrite").save()
                    with tracer.span("trace.counters"):
                        counters.take()  # the probe's jobs are not the batch's
                    tracer.counters.append({})
                    with tracer.span(name):
                        out = original(spark_, df, cfg, topic, *args, **kwargs)
                        take()
                return out

            return wrapper

        return factory

    def write_factory(original):
        def wrapper(*args, **kwargs):
            take()
            with tracer.span("sinks.write") as rec:
                out = original(*args, **kwargs)
            rec["counters"] = take()
            return out

        return wrapper

    land_wrapper = batch_level("pipeline.land")
    tracer.patch(pipeline, "land", land_wrapper)
    tracer.patch(streaming_pipeline, "land", land_wrapper)
    tracer.patch(contract_names, "land_with_contract_names",
                 batch_level("contract_names.land"))
    tracer.timed(pipeline, "register_external_table", "pipeline.register")
    tracer.patch(sinks.FormatSink, "write", write_factory)
    tracer.patch(sinks.PurePythonAvroSink, "write", write_factory)
