"""The benchmark's two workloads.

Each workload generates its inputs from the seed, stages them under the
run's scratch directory, runs full passes over them, and checks every pass
against a reference computed without Spark.

* ``ja_sql_batch`` — the reference's own usage: ``register_udfs`` and one
  ``LATERAL VIEW explode(tokenize_ja_neologd(text))`` top-k query over long
  Japanese lines.  The lattice kernel does most of the work.
* ``ja_stream`` — short mixed lines drained through ``streaming_term_counts``
  in micro-batches (closed loop: the whole backlog is present before the
  query starts and is drained with ``availableNow``).  Per-batch costs
  dominate.
"""

from __future__ import annotations

import collections
import concurrent.futures
import contextlib
import datetime as dt
import multiprocessing
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import layers

TOP_K = 100
BATCH_SQL = f"""
SELECT token, n, total FROM (
  SELECT token, count(*) AS n, sum(count(*)) OVER () AS total
  FROM corpus LATERAL VIEW explode(tokenize_ja_neologd(text)) t AS token
  GROUP BY token)
ORDER BY n DESC, token LIMIT {TOP_K}
"""

STREAM_WINDOW_S = 600
STREAM_WATERMARK_S = 300
STREAM_FILES_PER_TRIGGER = 1

class Pass:
    """One full pass: wall time, per-operation latencies, checked outcomes."""

    def __init__(self):
        self.seconds = 0.0
        self.op_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.progress: list[dict] = []  # streaming micro-batch reports
        self.layers: dict = {}  # builder_s, plan_s, exec_s (+ jobs, stages when traced)


class Workload:
    name = ""
    # Set-ups per untraced run, each in a fresh JVM.  A set-up costs 10-20 s,
    # most of it the JVM start and the cold warm-up pass, so a workload makes
    # a second one only if its run has the time.
    setups = 1
    # Unmeasured passes between the warm-up pass and the timed ones, while
    # the JIT and the Python workers settle.
    settle_passes = 0

    def __init__(self, seed: int, scratch: str, cpus: int):
        self.seed, self.scratch, self.cpus = seed, scratch, cpus
        self.sf_dir = os.path.join(scratch, "inputs")
        self.n_pass = 0

    @contextlib.contextmanager
    def job_group(self, spark, traced: bool, phase: str):
        """With tracing on, run the block under a job group unique to this
        pass, so its jobs and stages can be counted afterwards."""
        if not traced:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(self.group(phase), self.name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, phase: str) -> str:
        return f"{phase}:{self.n_pass}"

    def count_jobs(self, spark, rec: dict, exec_group: str | None = None) -> None:
        rec["eager_jobs"], _ = layers.group_jobs_and_stages(spark, self.group("build"))
        rec["jobs"], rec["stages"] = layers.group_jobs_and_stages(spark, exec_group or self.group("exec"))

    # Subclasses implement:
    def generate(self):  # -> inputs, a pure function of the seed
        raise NotImplementedError

    def lines(self, inputs) -> list[str]:
        """The text lines the tokenizer sees (for the Spark-free probes)."""
        raise NotImplementedError

    def describe(self, inputs) -> dict:
        raise NotImplementedError

    def reference(self, inputs) -> None:
        raise NotImplementedError

    def stage(self, inputs) -> None:
        raise NotImplementedError

    def prepare(self, spark, tracer) -> None:
        pass

    def run_pass(self, spark, tracer) -> Pass:
        """One full, checked pass.  With a recording ``tracer`` the pass also records
        spans, forces planning as its own step and counts jobs and stages."""
        raise NotImplementedError

    def named_metrics(self, pass_s: float, op_ms: list[float], props: dict) -> dict:
        """The workload's own names for its headline numbers (printed beside
        the metrics every workload shares)."""
        return {"chars_per_s": props["chars"] / pass_s}


def _write_split(table: pa.Table, directory: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files, rows dealt round-robin so
    every file (and so every scan partition) gets an even share of work."""
    os.makedirs(directory, exist_ok=True)
    for f in range(files):
        pq.write_table(table.take(list(range(f, table.num_rows, files))),
                       os.path.join(directory, f"part-{f:03d}.parquet"))


# --- ja_sql_batch ------------------------------------------------------------

def _token_counts(lines: list[str]) -> collections.Counter:
    from hive_udf_neologd_spark.tokenizer import JapaneseAnalyzer

    tok = JapaneseAnalyzer().tokenize
    return collections.Counter(t for line in lines for t in tok(line))


class JaSqlBatch(Workload):
    name = "ja_sql_batch"
    setups = 2
    settle_passes = 1  # the first full pass after the warm-up is ~15% slower than the next

    def generate(self):
        return gen.ja_batch_lines(self.seed)

    def lines(self, inputs):
        return inputs

    def describe(self, inputs):
        return gen.describe(inputs, gen.BATCH_FILES_PER_CPU * self.cpus)

    def reference(self, inputs):
        # One process per core; runs before the JVM starts, so forking is safe.
        with concurrent.futures.ProcessPoolExecutor(
                self.cpus, mp_context=multiprocessing.get_context("fork")) as pool:
            parts = pool.map(_token_counts, [inputs[i::self.cpus] for i in range(self.cpus)])
            counts = sum(parts, collections.Counter())
        total = sum(counts.values())
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        self.expected = [(t, n, total) for t, n in top]

    def stage(self, inputs):
        table = pa.table({"doc_id": pa.array(range(len(inputs)), pa.int64()), "text": inputs})
        _write_split(table, os.path.join(self.sf_dir, "documents.parquet"),
                     gen.BATCH_FILES_PER_CPU * self.cpus)

    def prepare(self, spark, tracer):
        from hive_udf_neologd_spark import register_udfs

        with tracer.span("register_udfs", "functions"):
            register_udfs(spark)

    def run_pass(self, spark, tracer):
        from hive_udf_neologd_spark.sources import read_table

        p, tr, traced = Pass(), tracer, tracer.enabled
        t0 = time.perf_counter()
        with self.job_group(spark, traced, "build"):
            with tr.span("read_table", "sources"):
                read_table(spark, self.sf_dir, "documents").createOrReplaceTempView("corpus")
            with tr.span("sql", "operators"):
                df = spark.sql(BATCH_SQL)
        t1 = time.perf_counter()
        if traced:
            with tr.span("plan", "operators"):
                df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with self.job_group(spark, traced, "exec"), tr.span("execute", "operators"):
            rows = df.collect()
        p.seconds = time.perf_counter() - t0
        p.op_ms = [p.seconds * 1e3]
        p.layers = {"builder_s": t1 - t0, "plan_s": t2 - t1, "exec_s": time.perf_counter() - t2}
        if traced:
            self.count_jobs(spark, p.layers)
        p.attempted = 1
        p.failed = int([(r.token, r.n, r.total) for r in rows] != self.expected)
        return p


# --- ja_stream -----------------------------------------------------------------

class JaStream(Workload):
    name = "ja_stream"
    # Warm passes get 25-35% faster after 10-40 s of micro-batches, depending
    # on the host; every phase of a micro-batch speeds up alike, as the JIT
    # warms.  Four passes cover the usual case and keep a run near 50 s.
    settle_passes = 4

    def generate(self):
        return gen.ja_stream_rows(self.seed)

    def lines(self, inputs):
        return [text for _, text in inputs]

    def describe(self, inputs):
        return gen.describe(self.lines(inputs), gen.STREAM_FILES)

    def named_metrics(self, pass_s, op_ms, props):
        pct, tail = percentile_tail(op_ms)
        return {"chars_per_s": props["chars"] / pass_s, "batch_p50_ms": statistics.median(op_ms),
                "batch_p90_ms": tail, "batch_tail_percentile": pct, "batch_samples": len(op_ms)}

    def _files(self, inputs):
        per = len(inputs) // gen.STREAM_FILES
        return [inputs[f * per:(f + 1) * per] for f in range(gen.STREAM_FILES)]

    def reference(self, inputs):
        """Window counts as the stream must emit them.  A micro-batch drops
        the rows whose window ends at or before the previous batch's
        watermark (Spark judges late events against the watermark one batch
        behind the one it evicts with), and append mode emits a window once
        the final watermark reaches its end."""
        from hive_udf_neologd_spark.tokenizer import JapaneseAnalyzer

        tok = JapaneseAnalyzer().tokenize
        epoch = dt.datetime(1970, 1, 1)
        counts: collections.Counter = collections.Counter()
        watermark = late_cutoff = 0
        self.dropped = 0  # rows too late to count
        files = self._files(inputs)
        for b in range(0, len(files), STREAM_FILES_PER_TRIGGER):
            batch = [r for f in files[b:b + STREAM_FILES_PER_TRIGGER] for r in f]
            stamps = [int((ts - epoch).total_seconds()) for ts, _ in batch]
            for sec, (_, text) in zip(stamps, batch):
                start = sec - sec % STREAM_WINDOW_S
                if start + STREAM_WINDOW_S <= late_cutoff:
                    self.dropped += 1
                    continue
                for t in tok(text):
                    counts[(start, t)] += 1
            late_cutoff = watermark
            watermark = max(watermark, max(stamps) - STREAM_WATERMARK_S)
        self.expected = sorted(
            (start, t, n) for (start, t), n in counts.items() if start + STREAM_WINDOW_S <= watermark
        )

    def stage(self, inputs):
        # The drops live at <sf>/documents.parquet, so sources.read_table
        # can scan the same files as a batch table.
        drops = os.path.join(self.sf_dir, "documents.parquet")
        os.makedirs(drops)
        n = 0
        mtime = time.time() - gen.STREAM_FILES
        for f, rows in enumerate(self._files(inputs)):
            path = os.path.join(drops, f"drop-{f:03d}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array(range(n, n + len(rows)), pa.int64()),
                "ts": pa.array([ts for ts, _ in rows], pa.timestamp("us", tz="UTC")),
                "text": [t for _, t in rows],
            }), path)
            os.utime(path, (mtime + f, mtime + f))  # the file source orders drops by mtime
            n += len(rows)
        self.drops = drops

    def run_pass(self, spark, tracer):
        from pyspark.sql import functions as F

        from hive_udf_neologd_spark.streaming import streaming_term_counts
        from hive_udf_neologd_spark.streaming.term_counts import DOCUMENT_STREAM_SCHEMA

        p, tr, traced = Pass(), tracer, tracer.enabled
        sink = f"ja_stream_{self.n_pass}"
        t0 = time.perf_counter()
        with self.job_group(spark, traced, "build"), tr.span("streaming_term_counts", "streaming"):
            docs = (spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER).parquet(self.drops))
            out = streaming_term_counts(docs, window=f"{STREAM_WINDOW_S} seconds",
                                        watermark=f"{STREAM_WATERMARK_S} seconds")
        t1 = time.perf_counter()
        with tr.span("drain", "streaming"):
            stream = (out.writeStream.format("memory").queryName(sink)
                      .option("checkpointLocation", os.path.join(self.scratch, "ckpt", sink))
                      .outputMode("append").trigger(availableNow=True).start())
            stream.awaitTermination()
            p.seconds = time.perf_counter() - t0
            p.progress = [_progress_dict(x) for x in stream.recentProgress]
            to_perf = time.perf_counter() - time.time()
            for x in p.progress:
                tr.add("micro_batch", "streaming", x["start_epoch_s"] + to_perf, x["end_epoch_s"] + to_perf)
        if stream.exception() is not None:
            raise RuntimeError(f"stream failed: {stream.exception()}")
        p.op_ms = [x["durationMs"]["triggerExecution"] for x in p.progress
                   if x["numInputRows"] > 0]
        p.layers = {
            "builder_s": t1 - t0,
            "plan_s": sum(x["durationMs"].get("queryPlanning", 0) for x in p.progress) / 1e3,
            "exec_s": p.seconds - (t1 - t0),
        }
        if traced:  # micro-batch jobs run under the stream's run id as job group
            self.count_jobs(spark, p.layers, exec_group=str(stream.runId))
        p.attempted = 1
        got = sorted(
            (r.w, r.token, r.n) for r in spark.table(sink).select(
                F.unix_timestamp("window_start").alias("w"), "token", "n").collect()
        )
        p.failed = int(got != self.expected)
        spark.catalog.dropTempView(sink)
        return p


def _progress_dict(progress) -> dict:
    d = dict(progress)
    started = dt.datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
    d["start_epoch_s"] = started
    d["end_epoch_s"] = started + d["durationMs"].get("triggerExecution", 0) / 1e3
    return d


WORKLOADS = {w.name: w for w in (JaSqlBatch, JaStream)}


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """The 90th percentile if ten samples lie beyond it, else the highest
    percentile that has ten beyond it (the median when there are fewer than
    twenty samples).  Returns (percentile, value)."""
    n = len(values)
    if n < 2:
        return 50.0, values[0] if values else 0.0
    pct = max(50.0, min(90.0, 100.0 * (n - 10) / n))
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return pct, cuts[int(pct) - 1]
