"""The benchmark's workloads, their closed loops, and the traced run.

Both workloads are closed loops with one client on ``local[<cpus>]``: the
next operation starts when the previous one returns. They drive only the
program's public entry points: ``__main__.load_input`` and
``pipeline.run_pipeline`` (``bulk_parquet``), and
``streaming.stream_pipeline.read_transcript_stream_jsonl`` +
``streaming_route`` (``stream_drops``).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
import traceback
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_system_spark.__main__ import load_input
from log_analysis_system_spark.functions import parse
from log_analysis_system_spark.operators import performance as perf
from log_analysis_system_spark.operators import security as sec
from log_analysis_system_spark.pipeline import run_pipeline
from log_analysis_system_spark.session import get_spark
from log_analysis_system_spark.sources.dims import enrich
from log_analysis_system_spark.streaming.stream_pipeline import (
    read_transcript_stream_jsonl,
    streaming_route,
)

import check
import gen
import tracing

N_BUCKETS = 32  # run_pipeline's and streaming_route's default
BULK_TURNS = 20_000
DROP_TURNS = 2_000
N_DROPS = 6
WARM_BATCHES = 1
SLICE_TURNS = 10_000
STREAM_TIMEOUT_S = 150

E2E = {
    "setup_s": "s",
    "op_s": "s",
    "turns_per_s": "turns/s",
    "sink_files": "count",
}
PER_LAYER = {
    "ingest.s": "s", "ingest.jobs": "count", "ingest.feed_scans": "count",
    "ingest.rejects": "count",
    "parse.pandas.s": "s", "parse.sql.s": "s", "parse.pandas.kernel_s": "s",
    "enrich.s": "s",
    "detect.row.s": "s", "detect.agg.s": "s", "threat.s": "s",
    "metrics.s": "s", "anomalies.s": "s",
    "catalog.write.s": "s", "catalog.write.calls": "count",
    "catalog.read.calls": "count", "catalog.probe.s": "s",
    "catalog.probe.calls": "count", "catalog.bytes_written": "bytes",
    "state.append.s": "s", "state.append.calls": "count",
    "state.resume_probe.s": "s", "state.throttle.s": "s",
    "route.s": "s", "route.sinks_s": "s", "route.self_s": "s",
    "aggregate.s": "s", "aggregate.self_s": "s",
    "pipeline.jobs": "count", "route.jobs": "count", "aggregate.jobs": "count",
    "pipeline.tasks": "count", "pipeline.executor_s": "s",
    "pipeline.shuffle_bytes": "bytes", "pipeline.spill_bytes": "bytes",
    "route.task_skew": "ratio", "pipeline.fixed_s": "s",
    "pipeline.per_kturn_ms": "ms",
    "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.wal_commit_s": "s",
    "trace.coverage": "ratio", "trace.overhead": "ratio",
    # an end-to-end metric in intent, but its run-to-run spread on a 4-core
    # host was 0.14-0.29 of the median
    "jvm_peak_rss_mb": "MB",
}


def session(work: str, trace_on: bool) -> SparkSession:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace_on:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file, readable with the standard library
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark: SparkSession) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(ln for ln in fh if ln.startswith("VmHWM"))
    return int(hwm.split()[1]) / 1024


def parquet_files(root: str) -> list[str]:
    return glob.glob(f"{root}/**/*.parquet", recursive=True)


def noop_s(df: DataFrame) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Workload:
    """Closed-loop bookkeeping shared by both workloads."""

    def __init__(self, spark: SparkSession, work: str, seed: int, turns: int | None,
                 t0: float | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.turns = turns
        # process start (perf_counter) and the offset from epoch seconds
        self.t0 = time.perf_counter() if t0 is None else t0
        self.epoch_to_perf = time.perf_counter() - time.time()
        self.setup_s = 0.0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.op_s: list[float] = []
        self.turns_per_s: list[float] = []
        self.sink_files: list[int] = []
        self.layers: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self._mark = time.perf_counter()

    def setup_done(self, part: str) -> None:
        """Record how long set-up step ``part`` took (reported, not a metric)."""
        now = time.perf_counter()
        self.setup_parts[part] = round(now - self._mark, 3)
        self._mark = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, n_ops: int, problems: list[str]) -> None:
        self.attempted += n_ops
        if problems:
            self.failed += n_ops
            self.errors.extend(problems[:5])

    def guarded(self, n_ops: int, fn):
        """Run one operation; an exception counts its ops as failed."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.record(n_ops, [traceback.format_exc(limit=3)])
            return None

    @staticmethod
    def checked(fn) -> list[str]:
        """Run one output check; an exception is a failed check."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - reported as the check's failure
            return [traceback.format_exc(limit=3)]

    def window(self, seconds: float) -> None:
        start = time.perf_counter()
        i = 0
        while True:
            self.timed_op(i)
            i += 1
            if time.perf_counter() - start >= seconds:
                return

    def probes(self, df: DataFrame) -> None:
        """Each layer function on the same rows, forced to a noop sink;
        its input is cached first so only the layer itself is timed."""
        cached: list[DataFrame] = []

        def keep(frame: DataFrame) -> DataFrame:
            frame = frame.persist()
            frame.count()
            cached.append(frame)
            return frame

        try:
            src = keep(df)
            L = self.layers
            L["parse.pandas.s"] = noop_s(parse.parse_transcripts(src, engine="pandas"))
            L["parse.sql.s"] = noop_s(parse.parse_transcripts(src, engine="sql"))
            texts = src.select("text").toPandas()["text"]
            batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            t = time.perf_counter()
            for i in range(0, len(texts), batch):
                parse.parse_text_udf.func(texts.iloc[i:i + batch])
            L["parse.pandas.kernel_s"] = time.perf_counter() - t
            parsed = keep(parse.parse_transcripts(src, engine="sql"))
            L["enrich.s"] = noop_s(enrich(parsed))
            enriched = keep(enrich(parsed))
            access = keep(enriched.where(F.col("log_type") == "access"))
            L["detect.row.s"] = noop_s(check.row_events(enriched))
            L["detect.agg.s"] = noop_s(check.agg_events(access))
            events = keep(check.row_events(enriched).unionByName(check.agg_events(access)))
            L["threat.s"] = noop_s(sec.ip_threat_scores(events))
            L["metrics.s"] = noop_s(perf.performance_metrics(access))
            L["anomalies.s"] = noop_s(check.anomalies(access))
        finally:
            for frame in cached:
                frame.unpersist()

    def traced_pipeline_op(self, tr: tracing.Tracer, in_dir: str, out: str, run_id: str,
                           resume: bool, expected: dict[str, int],
                           ingest_rejects: int | None = None) -> float | None:
        """One ``load_input`` + ``run_pipeline`` call under the tracer,
        checked like a timed op; returns its wall time less the tracer's
        own bookkeeping."""
        shutil.rmtree(out, ignore_errors=True)
        before = tr.bookkeeping_s

        def op():
            tr.stage("ingest")
            with tr.span("ingest"):
                df = load_input(self.spark, in_dir, out)
            tr.stage("route")
            res = run_pipeline(self.spark, df, out, run_id=run_id, resume=resume)
            tr.stage(None)
            return res

        res = self.guarded(1, op)
        if res is None:
            tr.stage(None)
            return None
        cost = tr.bookkeeping_s - before
        wall = tr.marks["end"] - tr.marks["ingest"] - cost
        self.layers["trace.overhead"] = cost / wall
        self.layers["catalog.bytes_written"] = sum(
            os.path.getsize(f) for f in parquet_files(out))
        self.record(1, self.checked(lambda: check.batch_mismatches(
            out, run_id, expected, res.sink_counts, N_BUCKETS, ingest_rejects)))
        return wall

    def spark_expected(self, transcripts: DataFrame, formula: dict[str, int]) -> dict[str, int]:
        """Every sink's count on the Spark path, which must agree with the
        formula counts on the route sinks (one checked op)."""
        expected = check.expected_counts(transcripts)
        self.record(1, [f"{k}: Spark path {expected[k]}, formula {v}"
                        for k, v in formula.items() if expected[k] != v])
        return expected

    def result(self, traced: bool) -> tuple[dict, dict]:
        if traced:
            values = {name: self.layers.get(name, 0.0) for name in PER_LAYER}
            units = PER_LAYER
        else:
            values = {
                "setup_s": self.setup_s,
                "op_s": statistics.median(self.op_s) if self.op_s else 0.0,
                "turns_per_s": statistics.median(self.turns_per_s) if self.turns_per_s else 0.0,
                "sink_files": statistics.median(self.sink_files) if self.sink_files else 0,
            }
            units = E2E
        result = {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        info = {"setup_parts": self.setup_parts, "ops": len(self.op_s),
                "op_s_all": self.op_s, "errors": self.errors}
        return result, info


class BulkParquet(Workload):
    """A fresh ``run_pipeline(resume=False)`` over one parquet transcripts
    table per op, each into a new output directory."""

    def setup(self) -> None:
        self.n = self.turns or BULK_TURNS
        self.table = self.path("in", "bulk")
        gen.transcripts(self.spark, self.n, gen.window_start(self.seed)).write.parquet(self.table)
        self.setup_done("generate")
        self.expected = self.spark_expected(
            self.spark.read.parquet(self.table),
            check.formula_route_counts(gen.window_start(self.seed), self.n))
        self.setup_done("expected_counts")

    def run_op(self, in_dir: str, out: str, run_id: str):
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        df = load_input(self.spark, in_dir, out)
        res = run_pipeline(self.spark, df, out, run_id=run_id, resume=False)
        return time.perf_counter() - t, res

    def timed_op(self, i: int) -> None:
        out, run_id = self.path("out", "bulk"), f"op{i}"
        done = self.guarded(1, lambda: self.run_op(self.table, out, run_id))
        if done is None:
            return
        wall, res = done
        self.op_s.append(wall)
        self.turns_per_s.append(self.n / wall)
        self.sink_files.append(len(parquet_files(out)))
        self.record(1, self.checked(lambda: check.batch_mismatches(
            out, run_id, self.expected, res.sink_counts, N_BUCKETS)))

    def traced(self) -> tracing.Tracer:
        with tracing.Tracer(self.spark.sparkContext) as tr:
            wall = self.traced_pipeline_op(
                tr, self.table, self.path("out", "traced"), "traced", False, self.expected)
        small = self.path("in", "slice")
        gen.transcripts(
            self.spark, min(SLICE_TURNS, self.n), gen.window_start(self.seed)).write.parquet(small)
        fixed, _ = self.run_op(small, self.path("out", "slice"), "slice")
        self.layers["pipeline.fixed_s"] = fixed
        if wall is not None and self.n > SLICE_TURNS:
            self.layers["pipeline.per_kturn_ms"] = (
                (wall - fixed) / (self.n - SLICE_TURNS) * 1e6)
        self.probes(self.spark.read.parquet(self.table))
        return tr


class StreamDrops(Workload):
    """JSONL drop files through the stream door to ``streaming_route``
    with ``availableNow`` and one file per trigger. One op is one
    micro-batch; a round stages every drop and drains them in one query
    restarted from the same checkpoint. The first round's query first
    drains a copy of the first drop, whose micro-batch counts as set-up:
    the first batch of a fresh JVM and query runs slow."""

    def setup(self) -> None:
        self.drop_turns = n = self.turns or DROP_TURNS
        start = gen.window_start(self.seed, 1)
        feed = gen.with_drops(gen.transcripts(self.spark, N_DROPS * n, start), n)
        self.drops = [self.path("drops", str(k), "drop.jsonl") for k in range(N_DROPS)]
        self.bad_lines = gen.write_jsonl_drops(feed, self.drops, self.seed)
        # ts rises with event_id, so drop k holds the k-th n-event slice
        self.expected = [check.formula_route_counts(start + k * n, n) for k in range(N_DROPS)]
        # the warm-up files are the first drops again: the same code paths
        # at the same batch size as the timed drops
        self.warm = self.drops[:WARM_BATCHES]
        self.setup_done("generate")
        self.rounds = 0
        # staged files get rising whole-second mtimes: the file source
        # takes them oldest first, so warm-up files go before the drops
        self.mtime = int(time.time())

    def first_drop(self) -> DataFrame:
        """Drop 0's clean turns, as the program reads them from its file."""
        feed = gen.with_drops(gen.transcripts(
            self.spark, N_DROPS * self.drop_turns, gen.window_start(self.seed, 1)),
            self.drop_turns)
        return feed.where(F.col("drop") == 0).drop("drop")

    def drain(self, in_dir: str, out: str, ckpt: str) -> list[dict]:
        """Run one ``availableNow`` query; its non-empty batches in order."""
        q = streaming_route(read_transcript_stream_jsonl(self.spark, in_dir, 1), out, ckpt)
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError(f"stream round still running after {STREAM_TIMEOUT_S} s")
        finally:
            q.stop()
        return sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])

    def run_round(self) -> list[dict]:
        """Stage the drops (after the warm-up files, on the first round),
        drain them, and return the timed batches' progress."""
        in_dir, r = self.path("stream", "in"), self.rounds
        self.rounds += 1
        os.makedirs(in_dir, exist_ok=True)
        warm = self.warm if r == 0 else []
        for k, src in enumerate(warm + self.drops):
            dst = os.path.join(in_dir, f"r{r:03d}-{k:02d}.jsonl")
            shutil.copy(src, dst)
            os.utime(dst, (self.mtime, self.mtime))
            self.mtime += 1
        progress = self.drain(in_dir, self.path("stream", "out"), self.path("stream", "ckpt"))
        if warm:
            # set-up ends when the first timed micro-batch starts
            first = datetime.strptime(progress[len(warm)]["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            ends = first.replace(tzinfo=timezone.utc).timestamp() + self.epoch_to_perf
            self.setup_parts["warm_up"] = round(ends - self._mark, 3)
            self.setup_s = ends - self.t0
        return progress[len(warm):]

    def timed_op(self, i: int) -> None:
        progress = self.guarded(N_DROPS, self.run_round)
        if progress is None:
            return
        batch_ids = [p["batchId"] for p in progress]
        out = self.path("stream", "out")
        for p in progress:
            self.op_s.append(p["durationMs"]["triggerExecution"] / 1000)
            self.turns_per_s.append(p["numInputRows"] / self.op_s[-1])
            files = [f for f in parquet_files(out) if f"/batch_id={p['batchId']}/" in f]
            self.sink_files.append(len(files))
        for key, name in (("addBatch", "stream.add_batch_s"),
                          ("queryPlanning", "stream.planning_s"),
                          ("walCommit", "stream.wal_commit_s")):
            self.layers[name] = statistics.median(
                p["durationMs"].get(key, 0) / 1000 for p in progress)
        problems = self.checked(lambda: check.stream_mismatches(out, batch_ids, self.expected))
        if len(progress) != N_DROPS:
            problems.append(f"{len(progress)} batches for {N_DROPS} drops")
        self.record(N_DROPS, problems)

    def traced(self) -> tracing.Tracer:
        with tracing.Tracer(self.spark.sparkContext) as tr:
            # the batch JSONL door on every drop: ingest layer and rejects
            rejects = []
            for k, drop in enumerate(self.drops):
                out = self.path("ingest", str(k))
                tr.stage("ingest")
                with tr.span("ingest"):
                    load_input(self.spark, os.path.dirname(drop), out)
                tr.stage(None)
                rejects.append(check.sink_rows(os.path.join(out, "rejects_jsonl")))
                self.record(1, [] if rejects[-1] == self.bad_lines[k] else [
                    f"drop {k}: {rejects[-1]} ingest rejects, expected {self.bad_lines[k]}"])
            self.layers["ingest.rejects"] = statistics.median(rejects)
            # the first drop through the batch door and run_pipeline: its
            # route sinks must hold what the stream wrote for that drop
            first = self.first_drop().persist()
            expected = self.spark_expected(first, self.expected[0])
            wall = self.traced_pipeline_op(
                tr, os.path.dirname(self.drops[0]), self.path("batch", "out"), "drop0",
                True, expected, self.bad_lines[0])
        if wall is not None:
            self.layers["pipeline.fixed_s"] = wall
        self.probes(first)
        first.unpersist()
        return tr


WORKLOADS = {"bulk_parquet": BulkParquet, "stream_drops": StreamDrops}


def pipeline_layers(tr: tracing.Tracer, log: tracing.EventLog) -> dict[str, float]:
    """Route/aggregate/catalog/state/job metrics of the traced
    ``run_pipeline`` call, and the share of its wall time that spans or
    attributed Spark jobs cover."""
    lo, hi = tr.marks["route"], tr.marks["end"]
    mid = tr.marks.get("aggregate", hi)
    spans = [s for s in tr.spans if lo <= s.start < hi]

    def iv(ss):
        return [(s.start, s.end) for s in ss]

    def named(name, stage=None):
        return [s for s in spans if s.name == name and stage in (None, s.stage)]

    def jobs_of(*stages):
        return [j for j in log.jobs.values() if j.desc.split("/")[0] in stages]

    route_jobs, agg_jobs = jobs_of("route"), jobs_of("aggregate")
    tot = tracing.job_totals(log, route_jobs + agg_jobs)
    covered = tracing.union_s(tracing.clip(
        iv(spans) + [(j.start, j.end) for j in route_jobs + agg_jobs], lo, hi))
    return {
        "route.s": mid - lo,
        "route.sinks_s": tracing.union_s(iv(named("catalog.write", "route"))),
        "route.self_s": (mid - lo) - tracing.union_s(
            tracing.clip(iv(s for s in spans if s.stage == "route"), lo, mid)),
        "aggregate.s": hi - mid,
        "aggregate.self_s": (hi - mid) - tracing.union_s(
            tracing.clip(iv(s for s in spans if s.stage == "aggregate"), mid, hi)),
        "catalog.write.s": tracing.union_s(iv(named("catalog.write"))),
        "catalog.write.calls": len(named("catalog.write")),
        "catalog.read.calls": len(named("catalog.read")),
        "catalog.probe.s": tracing.union_s(iv(named("catalog.probe"))),
        "catalog.probe.calls": len(named("catalog.probe")),
        "state.append.s": sum(s.end - s.start for s in named("state.append")),
        "state.append.calls": len(named("state.append")),
        "state.resume_probe.s": sum(s.end - s.start for s in named("state.resume_probe")),
        "state.throttle.s": sum(s.end - s.start for s in named("state.throttle")),
        "pipeline.jobs": tot["jobs"],
        "route.jobs": len(route_jobs),
        "aggregate.jobs": len(agg_jobs),
        "pipeline.tasks": tot["tasks"],
        "pipeline.executor_s": tot["executor_s"],
        "pipeline.shuffle_bytes": tot["shuffle_bytes"],
        "pipeline.spill_bytes": tot["spill_bytes"],
        "route.task_skew": tracing.task_skew(log, route_jobs),
        "trace.coverage": covered / (hi - lo),
    }


def ingest_layers(tr: tracing.Tracer, log: tracing.EventLog) -> dict[str, float]:
    """Per-call medians over every traced ``load_input`` call."""
    calls = [s for s in tr.spans if s.name == "ingest"]
    per_call = []
    for s in calls:
        jobs = [j for j in log.jobs.values()
                if j.desc.startswith("ingest") and s.start <= j.start <= s.end]
        per_call.append((s.end - s.start, tracing.job_totals(log, jobs)))
    return {
        "ingest.s": statistics.median(c[0] for c in per_call),
        "ingest.jobs": statistics.median(c[1]["jobs"] for c in per_call),
        "ingest.feed_scans": statistics.median(c[1]["json_scans"] for c in per_call),
    }


def run(name: str, seed: int, seconds: float, trace_on: bool, work: str,
        t0: float, turns: int | None) -> tuple[dict, dict]:
    spark = session(work, trace_on)
    try:
        w = WORKLOADS[name](spark, work, seed, turns, t0)
        w.setup_parts["session"] = round(time.perf_counter() - t0, 3)
        w.setup()
        # a workload may move the end of set-up into its first op
        w.setup_s = time.perf_counter() - t0
        w.window(seconds)
        w.layers["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        tr = w.traced() if trace_on else None
    finally:
        stop(spark)
    if tr is None:
        return w.result(traced=False)
    log = tracing.read_event_log(os.path.join(work, "eventlog"))
    if "end" in tr.marks and "route" in tr.marks:
        w.layers.update(pipeline_layers(tr, log))
    w.layers.update(ingest_layers(tr, log))
    return w.result(traced=True)
