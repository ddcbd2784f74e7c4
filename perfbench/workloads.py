"""The three workloads and the metrics they report.

Every workload replays a seeded backlog in a closed loop: one source file per
micro-batch (or per batch ``land`` cycle), the next starting only after the
previous one commits. The backlog is sized from ``--seconds`` and a nominal
batch time, so a run does a fixed amount of work and every count it reports
repeats exactly at one seed.

  hourly_parquet  start_ingest, hourly partitioner, Parquet, Spark part names
  contract_avro   start_ingest(use_contract_names=True), default partitioner,
                  pure-Python Avro, small flush.size
  hourly_visible  land(..., register_table=True) cycles, each followed by a
                  fixed query mix through the catalog
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import time

import checks
import gen
import harness
import tracing

QUERY_SQL = {
    "q_hour_count": (
        "SELECT count(*) FROM {t} WHERE year = {y} AND month = {m} "
        "AND day = {d} AND hour = {h}"
    ),
    "q_type_rollup": (
        "SELECT event_type, count(*), sum(amount) FROM {t} GROUP BY event_type"
    ),
    "q_offset_restore": (
        "SELECT `partition`, max(`offset`) + 1 FROM {t} GROUP BY `partition`"
    ),
}


def file_hour(n: int) -> tuple[int, int, int, int]:
    """(year, month, day, hour) in which source file ``n`` arrived."""
    t = datetime.datetime.fromtimestamp(
        gen.BASE_EPOCH_S + n * gen.FILE_SPAN_S, datetime.timezone.utc
    )
    return t.year, t.month, t.day, t.hour


class Run:
    """One benchmark run: its inputs, counters of operations, and results."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 work: str, settings: dict, cpus: int) -> None:
        self.name, self.seed, self.trace, self.work = name, seed, trace, work
        self.cpus = cpus
        self.settings = settings
        self.spec = settings["workloads"][name]
        self.batches = (
            max(self.spec["min_batches"], round(seconds / self.spec["nominal_batch_s"]))
            + self.spec["discard_batches"]
        )
        self.records = self.spec["records_per_batch"]
        self.attempted = 0
        self.failures: list[str] = []
        self.failed = 0
        self.detail: dict = {}
        self.tracer = tracing.Tracer(enabled=False)
        self.samples: list[tuple[str, float, int]] = []  # (query, ms, files scanned)

    # -- bookkeeping -------------------------------------------------------

    def check(self, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def src_files(self, n: int | None = None) -> list[str]:
        n = self.batches if n is None else n
        return [os.path.join(self.work, "src", f"src-{i:05d}.parquet") for i in range(n)]

    def cfg(self, root: str):
        from kafka_connect_hdfs_spark.config import HdfsSinkConfig

        if self.name == "contract_avro":
            return HdfsSinkConfig(url=f"file://{root}", format="avro",
                                  partitioner="default",
                                  flush_size=self.spec["flush_size"])
        return HdfsSinkConfig(url=f"file://{root}", format="parquet",
                              partitioner="hourly", flush_size=1000)

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        spec = self.spec
        gen.generate(os.path.join(self.work, "src"), self.seed, self.batches, self.records)
        # warm-up backlog: same shape, its own stream of the seed
        gen.generate(os.path.join(self.work, "src-warm"), self.seed + 7919,
                     spec["warmup_batches_per_setup"], self.records)
        spark, session_s = harness.start_session(self.work, self.cpus, self.settings)
        try:
            self.spark = spark
            streaming = self.name != "hourly_visible"
            setup = self._stream_setup if streaming else self._visible_setup
            setups = []
            for i in range(spec["setups"]):
                t0 = time.perf_counter()
                setup(os.path.join(self.work, f"setup-{i}"))
                setups.append(time.perf_counter() - t0)
                shutil.rmtree(os.path.join(self.work, f"setup-{i}"))
            self.detail["session_s"] = session_s
            self.detail["setup_runs_s"] = setups
            self.setup_s = session_s + statistics.median(setups)

            counters = harness.StatusCounters(spark)
            self.tracer = tracing.Tracer(enabled=self.trace)
            if self.trace:
                tracing.install(self.tracer, counters)
            try:
                cpu0, gc0 = harness.cpu_snapshot(), harness.gc_ms(spark)
                steal0 = harness.host_steal()
                self.out = os.path.join(self.work, "main")
                (self._stream_main if streaming else self._visible_main)()
                # the traced run reads the counters per batch instead
                self.jobs = counters.jobs_since()
                self.cpu = harness.cpu_delta(cpu0, harness.cpu_snapshot())
                steal1 = harness.host_steal()
                self.detail["steal_share"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
                self.gc_ms = harness.gc_ms(spark) - gc0
                self._read_back()
            finally:
                self.tracer.restore()
            self._verify()
            return self._result()
        finally:
            harness.stop_session(spark)

    # -- streaming workloads ----------------------------------------------

    def _start_stream(self, src: str, root: str):
        from kafka_connect_hdfs_spark.streaming.pipeline import (
            file_replay_source, start_ingest,
        )

        source = file_replay_source(self.spark, src, gen.SPARK_DDL, max_files_per_trigger=1)
        query = start_ingest(
            self.spark, source, self.cfg(root), gen.TOPIC,
            os.path.join(root, "checkpoint"),
            use_contract_names=self.name == "contract_avro",
        )
        query.awaitTermination()
        return query

    def _stream_setup(self, root: str) -> None:
        self._start_stream(os.path.join(self.work, "src-warm"), root)

    def _stream_main(self) -> None:
        query = self._start_stream(os.path.join(self.work, "src"), self.out)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        self.attempted += len(progress)
        if len(progress) != self.batches:
            self.check([f"{len(progress)} batches ran, {self.batches} expected"])
        measured = progress[self.spec["discard_batches"]:]
        self.progress = measured
        self.batch_ms = [p["durationMs"]["triggerExecution"] for p in measured]
        self.visible_ms = [
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("commitOffsets", 0)
            for p in measured
        ]

    # -- writes beside reads ----------------------------------------------

    def _land_cycle(self, src: str, n: int, cfg) -> tuple[float, float, dict]:
        """land(..., register_table=True) source file ``n``, then the query
        mix. Returns (land ms, visible ms, answers)."""
        from kafka_connect_hdfs_spark import pipeline

        df = self.spark.read.schema(gen.SPARK_DDL).parquet(src)
        t0 = time.perf_counter()
        pipeline.land(self.spark, df, cfg, gen.TOPIC, discard_partial=False,
                      register_table=True)
        land_ms = (time.perf_counter() - t0) * 1000
        answers, query_ms = self._query_mix(f"default.{gen.TOPIC}", file_hour(n))
        return land_ms, land_ms + query_ms["q_hour_count"], answers

    def _visible_setup(self, root: str) -> None:
        warm = os.path.join(self.work, "src-warm")
        for n, f in enumerate(sorted(os.listdir(warm))):
            self._land_cycle(os.path.join(warm, f), n, self.cfg(root))
        self.spark.sql(f"DROP TABLE IF EXISTS default.{gen.TOPIC}")

    def _visible_main(self) -> None:
        cfg = self.cfg(self.out)
        self.samples, self.batch_ms, self.visible_ms, self.answers = [], [], [], []
        for n, src in enumerate(self.src_files()):
            land_ms, visible_ms, answers = self._land_cycle(src, n, cfg)
            self.attempted += 1
            self.answers.append(answers)
            if n < self.spec["discard_batches"]:
                self.samples.clear()
            else:
                self.batch_ms.append(land_ms)
                self.visible_ms.append(visible_ms)

    # -- queries -------------------------------------------------------------

    def _query_mix(self, table: str, hour) -> tuple[dict, dict]:
        """Run every query of the mix once; returns (answers, ms) by name and
        records each as a (name, ms, files scanned) sample."""
        y, m, d, h = hour
        answers, query_ms = {}, {}
        for name, sql in QUERY_SQL.items():
            with self.tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                df = self.spark.sql(sql.format(t=table, y=y, m=m, d=d, h=h))
                answers[name] = [tuple(r) for r in df.collect()]
                query_ms[name] = (time.perf_counter() - t0) * 1000
            self.samples.append((name, query_ms[name], _files_scanned(df) if self.trace else 0))
        self.attempted += len(QUERY_SQL)
        return answers, query_ms

    def _read_back(self) -> None:
        """Streaming workloads end with reads over what they landed: the
        hourly landing is read by path (no catalog); the contract landing
        restores offsets from its committed filenames, the reference's
        recovery scan."""
        if self.name == "hourly_visible":
            return
        self.samples = []
        path = os.path.join(self.out, "topics", gen.TOPIC)
        hour = file_hour(self.batches - 1)
        want = checks.source_answers(self.src_files(), hour)
        for _ in range(self.spec["query_rounds"]):
            if self.name == "hourly_parquet":
                self.spark.read.parquet(path).createOrReplaceTempView("landed")
                got = self._query_mix("landed", hour)[0]
            else:
                got = {"q_offset_restore": self._restore_from_names(path)}
            self.check(checks.compare_answers(got, {k: want[k] for k in got}))

    def _restore_from_names(self, path: str) -> list[tuple]:
        from pyspark.sql import functions as F

        from kafka_connect_hdfs_spark.contract_names import parse_committed_filename

        with self.tracer.span("query.q_offset_restore"):
            t0 = time.perf_counter()
            names = [(f,) for d in sorted(os.listdir(path))
                     for f in os.listdir(os.path.join(path, d))]
            rows = (
                self.spark.createDataFrame(names, "file_name string")
                .select(*parse_committed_filename(F.col("file_name")))
                .groupBy("partition")
                .agg((F.max("end_offset") + 1).alias("next_offset"))
                .collect()
            )
            ms = (time.perf_counter() - t0) * 1000
        self.samples.append(("q_offset_restore", ms, len(names)))
        self.attempted += 1
        return [tuple(r) for r in rows]

    # -- correctness -------------------------------------------------------

    def _verify(self) -> None:
        out_root = os.path.join(self.out, "topics", gen.TOPIC)
        if self.name == "contract_avro":
            self.check(checks.check_contract_landing(self.spark, out_root, self.src_files()))
        else:
            self.check(checks.check_hourly_landing(out_root, self.src_files()))
        if self.name == "hourly_visible":
            for n, got in enumerate(self.answers):
                want = checks.source_answers(self.src_files(n + 1), file_hour(n))
                self.check(checks.compare_answers(got, want))

    # -- results -----------------------------------------------------------

    def _landed(self) -> tuple[int, int]:
        ext = ".avro" if self.name == "contract_avro" else ".parquet"
        sizes = harness.landed_sizes(os.path.join(self.out, "topics"), ext)
        return len(sizes), sum(sizes)

    def _result(self) -> dict:
        total_records = self.batches * self.records
        n_files, n_bytes = self._landed()
        query_ms = [ms for _, ms, _ in self.samples]
        self.detail.update(
            batches=self.batches, measured_batches=len(self.batch_ms),
            query_samples=len(self.samples), records=total_records,
            batch_ms=[round(x, 1) for x in self.batch_ms],
            failures=self.failures[:20],
        )
        # batch latency and throughput move with other tenants' load on the
        # host far more than any bound allows (README.md, "Steadiness"), so
        # they are printed in the detail line and not gated
        ungated = {
            "records_per_s": (self.records * len(self.batch_ms)
                              / (sum(self.batch_ms) / 1000), "rec/s"),
            "batch_ms_p50": (harness.pct(self.batch_ms, 50), "ms"),
            "batch_ms_p75": (harness.pct(self.batch_ms, 75), "ms"),
            "visible_ms_p50": (harness.pct(self.visible_ms, 50), "ms"),
        }
        self.detail["ungated"] = {k: {"value": v, "unit": u} for k, (v, u) in ungated.items()}
        metrics = self._layer_metrics(n_files, n_bytes) if self.trace else {
            "cpu_s_per_mrec": (sum(self.cpu.values()) / (total_records / 1e6), "s"),
            "query_ms_p50": (harness.pct(query_ms, 50), "ms"),
            "query_ms_p75": (harness.pct(query_ms, 75), "ms"),
            "files_per_mrec": (n_files / (total_records / 1e6), "count"),
            "bytes_per_record": (n_bytes / total_records, "bytes"),
            "jobs_per_batch": (self.jobs / self.batches, "count"),
            "setup_s": (self.setup_s, "s"),
        }
        return {
            "detail": self.detail,
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _layer_metrics(self, n_files: int, n_bytes: int) -> dict:
        tr = self.tracer
        measured = set(range(self.spec["discard_batches"], self.batches))
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        streaming = self.name != "hourly_visible"

        def duration(key):
            return med([p["durationMs"].get(key, 0) for p in self.progress]) if streaming else 0.0

        batch_name = "contract_names.land" if self.name == "contract_avro" else "pipeline.land"
        writes = tr.named("sinks.write", measured)
        skews = []
        for w in writes:
            stage = max(w["counters"]["task_ms"], key=sum)
            skews.append(max(stage) / statistics.median(stage))
        per_batch = lambda key: statistics.fmean(c[key] for c in tr.counters)  # noqa: E731
        queries: dict[str, list[float]] = {}
        for name, q_ms, _ in self.samples:
            queries.setdefault(name, []).append(q_ms)
        # share of each batch's own duration (addBatch, or the land call)
        # that the batch span covers
        batch_spans = tr.named("batch", measured)
        totals = ([p["durationMs"]["addBatch"] for p in self.progress]
                  if streaming else self.batch_ms)
        coverage = [tracing.ms(s) / t for s, t in zip(batch_spans, totals)]
        contract = self.name == "contract_avro"
        partitions = 0
        if self.name == "hourly_visible":
            partitions = self.spark.sql(f"SHOW PARTITIONS default.{gen.TOPIC}").count()
        return {
            "streaming.offsets_ms": (duration("latestOffset"), "ms"),
            "streaming.planning_ms": (duration("queryPlanning"), "ms"),
            "streaming.commit_ms": (duration("walCommit") + duration("commitOffsets"), "ms"),
            "streaming.add_batch_ms": (duration("addBatch"), "ms"),
            "pipeline.assign_ms": (med([tracing.ms(s) for s in tr.named("pipeline.assign", measured)]), "ms"),
            "sinks.write_ms": (med([tracing.ms(s) for s in writes]), "ms"),
            "sinks.write_tasks": (statistics.fmean(
                sum(len(t) for t in w["counters"]["task_ms"]) for w in writes), "count"),
            "sinks.task_skew": (med(skews), "ratio"),
            "sinks.files_per_batch": (n_files / self.batches, "count"),
            "sinks.bytes_per_batch": (n_bytes / self.batches, "bytes"),
            "contract_names.self_ms": (
                med([tr.self_ms(s) for s in tr.named(batch_name, measured)]) if contract else 0.0, "ms"),
            "contract_names.files_committed": (n_files / self.batches if contract else 0.0, "count"),
            "pipeline.register_ms": (med([tracing.ms(s) for s in tr.named("pipeline.register", measured)]), "ms"),
            "pipeline.partitions_registered": (partitions, "count"),
            "query.q_hour_count_ms": (med(queries.get("q_hour_count", [])), "ms"),
            "query.q_type_rollup_ms": (med(queries.get("q_type_rollup", [])), "ms"),
            "query.q_offset_restore_ms": (med(queries.get("q_offset_restore", [])), "ms"),
            "query.files_scanned": (statistics.fmean(f for _, _, f in self.samples), "count"),
            "spark.jobs_per_batch": (per_batch("jobs"), "count"),
            "spark.stages_per_batch": (per_batch("stages"), "count"),
            "spark.tasks_per_batch": (per_batch("tasks"), "count"),
            "spark.shuffle_write_bytes_per_batch": (per_batch("shuffle_write_bytes"), "bytes"),
            "cpu.jvm_s": (self.cpu["jvm"], "s"),
            "cpu.pyworker_s": (self.cpu["pyworker"], "s"),
            "cpu.driver_s": (self.cpu["driver"], "s"),
            "jvm.gc_ms": (self.gc_ms, "ms"),
            "trace.batch_ms_p50": (harness.pct(self.batch_ms, 50), "ms"),
            "trace.add_batch_covered": (med(coverage), "ratio"),
            "trace.counters_ms": (med([tracing.ms(s) for s in tr.named("trace.counters", measured)]), "ms"),
        }


def _files_scanned(df) -> int:
    """Files read by the file scans of an executed query (scan metrics)."""
    todo, total = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            total += node.metrics().apply("numFiles").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
