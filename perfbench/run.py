"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload ja_sql_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` it reports the end-to-end
metrics named in ``BENCHMARK.json``; with ``--trace 1`` it reports the
per-layer metrics from a traced run and writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.  Every line before the last is
a human-readable report; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.

All inputs, checkpoints and Spark's scratch files go under
``.perfbench/run-<pid>``, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import NullTracer, Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hive_udf_neologd_spark"
SCAN_REPEATS = 3
NULL = NullTracer()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def set_host_env(scratch: str, cpus: int) -> None:
    """Point every writer Spark, the JVM and the package have at the
    scratch root, and let the Python workers import the package from any
    working directory.  Must run before the JVM starts."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = os.path.join(scratch, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def host_stamp(seed: int, cpus: int) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "commit": commit, "nproc": cpus, "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "seed": seed,
    }


class Session:
    """Owns the SparkSession and the JVM behind it; ``close`` stops both and
    waits for the JVM and its Python workers to end."""

    def __init__(self, cpus: int):
        self.cpus, self.spark = cpus, None

    def start(self):
        from hive_udf_neologd_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        import layers

        descendants = layers.descendants()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 60
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in descendants):
            time.sleep(0.1)
        self.spark = None


def one_pass(w, spark, tracer, tally: dict):
    """One pass, tallied; a pass that raises counts as one failed operation
    and returns None."""
    import layers

    w.n_pass += 1
    try:
        p = w.run_pass(spark, tracer)
    except Exception:  # the benchmark reports the failure and goes on
        traceback.print_exc()
        tally["attempted"] += 1
        tally["failed"] += 1
        return None
    tally["attempted"] += p.attempted
    tally["failed"] += p.failed
    tally["rss"] = max(tally["rss"], layers.python_worker_peak_rss_mb())
    return p


def timed_passes(w, spark, seconds: float, tally: dict, tracers=(NULL,)) -> list[list]:
    """Full passes until ``seconds`` have elapsed, cycling through
    ``tracers`` so traced and untraced passes interleave (each cycle in the
    reverse order of the last); at least one pass per tracer.  Returns the
    passes made under each tracer."""
    passes = [[] for _ in tracers]
    order = list(range(len(tracers)))
    deadline = time.perf_counter() + seconds
    while True:
        for i in order:
            p = one_pass(w, spark, tracers[i], tally)
            if p is not None:
                passes[i].append(p)
        order.reverse()
        if time.perf_counter() >= deadline:
            break
    if not all(passes):
        raise RuntimeError(f"{w.name}: every pass failed")
    return passes


def run_untraced(w, session: Session, seconds: float, tally: dict, report: dict) -> dict:
    inputs = w.generate()
    w.reference(inputs)
    report["inputs"] = w.describe(inputs)
    # Set up w.setups times, each in a fresh JVM; the package import happens
    # once per process, so it is added to the median of the rest.
    setups = []
    for k in range(w.setups):
        if k:
            session.close()
            shutil.rmtree(w.sf_dir)
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        w.stage(w.generate())
        w.prepare(spark, NULL)
        t2 = time.perf_counter()
        one_pass(w, spark, NULL, tally)  # the warm-up pass
        t3 = time.perf_counter()
        setups.append({"session": t1 - t0, "inputs": t2 - t1, "warm_up_pass": t3 - t2})
    setup_s = report["import_s"] + statistics.median(sum(s.values()) for s in setups)
    report["setup_parts_s"] = {"import": report["import_s"], "setups": setups}
    for _ in range(w.settle_passes):
        one_pass(w, spark, NULL, tally)
    (passes,) = timed_passes(w, spark, seconds, tally)

    pass_s = statistics.median(p.seconds for p in passes)
    ops = [ms for p in passes for ms in p.op_ms]
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "worker_peak_rss_mb": tally["rss"],
        "ok_share": (tally["attempted"] - tally["failed"]) / tally["attempted"],
    }
    report["extra"] = {"setup_parts_s": report["setup_parts_s"],
                       "pass_times_s": [round(p.seconds, 3) for p in passes], "op_p50_ms": statistics.median(ops),
                       "failed_share": tally["failed"] / tally["attempted"],
                       **w.named_metrics(pass_s, ops, report["inputs"])}
    return metrics


def run_traced(w, session: Session, seconds: float, tally: dict, report: dict, tracer) -> dict:
    import layers

    inputs = w.generate()
    with tracer.span("tokenizer_probes", "tokenizer"):
        m = layers.tokenizer_probes(w.lines(inputs))
    w.reference(inputs)
    report["inputs"] = w.describe(inputs)
    with tracer.span("get_spark", "session"):
        t0 = time.perf_counter()
        spark = session.start()
        m["session.start_s"] = time.perf_counter() - t0
    m["session.import_s"] = report["import_s"]
    w.stage(inputs)
    w.prepare(spark, tracer)
    one_pass(w, spark, NULL, tally)  # the warm-up pass
    for _ in range(w.settle_passes):
        one_pass(w, spark, NULL, tally)
    sql = layers.SqlMetrics(spark)
    sql.mark()
    untraced, traced = timed_passes(w, spark, 2 * seconds, tally, (NULL, tracer))
    totals = sql.totals()

    from hive_udf_neologd_spark.sources import read_table

    scans = []
    for _ in range(SCAN_REPEATS):
        with tracer.span("read_table", "sources"):
            t0 = time.perf_counter()
            read_table(spark, w.sf_dir, "documents").write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t0)
    m["sources.scan_s"] = statistics.median(scans)

    per_pass = 1 / (len(traced) + len(untraced))
    m.update({k: v * per_pass for k, v in totals.items()})
    u_pass = statistics.median(p.seconds for p in untraced)
    floor = m["tokenizer.us_per_char"] * report["inputs"]["chars"] / w.cpus / 1e6
    m["functions.kernel_floor_s"] = floor
    m["functions.spark_over_kernel"] = u_pass / floor

    progress = [x for p in untraced + traced for x in p.progress]
    durations = lambda key: [x["durationMs"].get(key, 0) for x in progress if x["numInputRows"] > 0]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    m["streaming.add_batch_ms"] = med(durations("addBatch"))
    m["streaming.query_planning_ms"] = med(durations("queryPlanning"))
    m["streaming.wal_commit_ms"] = med(durations("walCommit"))
    m["streaming.commit_offsets_ms"] = med(durations("commitOffsets"))
    last = [p.progress[-1]["stateOperators"][0] for p in traced if p.progress]
    m["streaming.state_rows"] = med([s["numRowsTotal"] for s in last])
    m["streaming.state_memory_bytes"] = med([s["memoryUsedBytes"] for s in last])
    m["streaming.rows_dropped_by_watermark"] = med(
        [sum(x["stateOperators"][0]["numRowsDroppedByWatermark"] for x in p.progress) for p in traced]
    )

    for f in ("builder_s", "eager_jobs", "plan_s", "exec_s", "jobs", "stages"):
        m[f"operators.{f}"] = med([p.layers[f] for p in traced])

    self_s = tracer.self_seconds()
    for layer in ("session", "sources", "tokenizer", "functions", "streaming", "operators"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    m["trace.overhead_s"] = statistics.median(p.seconds for p in traced) - u_pass
    m["trace.spans"] = len(tracer.spans)
    report["extra"] = {"untraced_passes": len(untraced), "traced_passes": len(traced)}
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    spec = load_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch)
    set_host_env(scratch, cpus)
    session = Session(cpus)
    tally = {"attempted": 0, "failed": 0, "rss": 0.0}
    report: dict = {}
    try:
        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else NULL
        t0 = time.perf_counter()
        with tracer.span("import", "session"):
            import hive_udf_neologd_spark  # noqa: F401
            import hive_udf_neologd_spark.session  # noqa: F401
            import hive_udf_neologd_spark.sources  # noqa: F401
            import hive_udf_neologd_spark.streaming  # noqa: F401
        report["import_s"] = time.perf_counter() - t0
        stamp = host_stamp(args.seed, cpus)
        w = WORKLOADS[args.workload](args.seed, scratch, cpus)
        if args.trace:
            values = run_traced(w, session, args.seconds, tally, report, tracer)
        else:
            values = run_untraced(w, session, args.seconds, tally, report)
    finally:
        session.close()
        shutil.rmtree(scratch, ignore_errors=True)
    stamp["loadavg_end"] = os.getloadavg()
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"), stamp)

    print("stamp", json.dumps(stamp))
    print("inputs", json.dumps(report["inputs"]))
    print("loop: closed; each pass drains an input fully present before it starts")
    for k, v in report["extra"].items():
        print(f"{args.workload} {k} {json.dumps(v)}")
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{args.workload} {m['name']} {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": tally["failed"] == 0, "attempted": tally["attempted"],
                      "failed": tally["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
