"""Per-layer probes: process memory, Spark's status store, and the tokenizer
kernel timed without Spark.

Everything here reads state from outside (``/proc``, the JVM's status
stores) or times calls into the package's public functions; nothing inside
the package is instrumented.
"""

from __future__ import annotations

import os
import re
import time


# --- /proc -----------------------------------------------------------------

def _proc_status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended while we looked
        pass
    return 0


def rss_mb() -> float:
    return _proc_status_kb("self", "VmRSS") / 1024


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended while we looked
                continue
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def python_worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` among this process's descendant PySpark worker
    processes (the daemon and the workers it forks)."""
    peak = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            peak = max(peak, _proc_status_kb(pid, "VmHWM"))
    return peak / 1024


# --- Spark status stores -----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# SQL metric name -> per-layer metric name.
SQL_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "time to start Python workers": "functions.python_start_s",
    "data sent to Python workers": "functions.bytes_to_python",
    "data returned from Python workers": "functions.bytes_from_python",
    "shuffle bytes written": "operators.shuffle_bytes",
    "spill size": "operators.spill_bytes",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``'9.0 s'``, ``'284.8 KiB'``, ``'6,963'``,
    or a ``total (min, med, max ...)`` block) as seconds, bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SqlMetrics:
    """Sums named SQL metrics over the executions that start after
    ``mark()`` — read from the SQL status store, which Spark keeps with the
    UI disabled."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen: set[int] = set()

    def _executions(self):
        ex = self._store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def mark(self) -> None:
        self._seen = {e.executionId() for e in self._executions()}

    def totals(self) -> dict[str, float]:
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for e in self._executions():
            if e.executionId() in self._seen:
                continue
            values = self._store.executionMetrics(e.executionId())
            metrics, done = e.metrics(), set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name, acc = m.name(), m.accumulatorId()
                if name not in SQL_METRICS or acc in done:
                    continue  # adaptive re-plans list an accumulator twice
                done.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[SQL_METRICS[name]] += parse_metric(v.get())
        return out


def group_jobs_and_stages(spark, group: str) -> tuple[int, int]:
    """Jobs and stages Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(list(info.stageIds))
    return len(jobs), stages


# --- the tokenizer kernel without Spark ----------------------------------------

SAMPLE_CHARS = 40_000


def tokenizer_probes(lines: list[str]) -> dict[str, float]:
    """Time the tokenizer's public functions on a seeded sample of a
    workload's own lines.  Must run before anything else in the process
    loads the built-in dictionary, so ``dict_load_s`` is the cold load."""
    from hive_udf_neologd_spark.tokenizer import JapaneseAnalyzer
    from hive_udf_neologd_spark.tokenizer.dictionary import builtin_dictionary
    from hive_udf_neologd_spark.tokenizer.lattice import Lattice

    from gen import ASCII_LINE

    sample, n = [], 0
    for s in lines:  # generated lines are i.i.d., so a prefix is a fair sample
        if n >= SAMPLE_CHARS:
            break
        sample.append(s)
        n += len(s)
    chars = sum(len(s) for s in sample)
    rss0 = rss_mb()
    t0 = time.perf_counter()
    dictionary = builtin_dictionary()
    t1 = time.perf_counter()
    analyzer = JapaneseAnalyzer()
    t2 = time.perf_counter()
    rss1 = rss_mb()

    t = time.perf_counter()
    out = [analyzer.tokenize(s) for s in sample]
    tok_s = time.perf_counter() - t
    n_tokens = sum(len(o) for o in out)

    # Segment and tokenize alternate line by line, in alternating order, so
    # drift and cache warm-up fall on both alike; tokenize minus segment is
    # the filter chain.
    lattice_lines = [s for s in sample if not ASCII_LINE.match(s)]
    lattice_chars = sum(len(s) for s in lattice_lines) or 1
    lattice = Lattice(dictionary, None, "normal")
    seg_s = tok_lattice_s = probe_s = 0.0
    for k, s in enumerate(lattice_lines):
        calls = [lattice.segment, analyzer.tokenize]
        if k % 2:
            calls.reverse()
        took = []
        for call in calls:
            t = time.perf_counter()
            call(s)
            took.append(time.perf_counter() - t)
        if k % 2:
            took.reverse()
        seg_s += took[0]
        tok_lattice_s += took[1]
        t = time.perf_counter()
        for i in range(len(s)):
            dictionary.prefix_matches(s, i)
        probe_s += time.perf_counter() - t

    rich = [analyzer.analyze_rich(s) for s in sample]
    n_rich = sum(len(r) for r in rich) or 1
    n_unknown = sum(1 for r in rich for tok in r if tok["unknown"])
    return {
        "tokenizer.dict_load_s": t1 - t0,
        "tokenizer.build_s": t2 - t1,
        "tokenizer.analyzer_rss_mb": rss1 - rss0,
        "tokenizer.us_per_char": tok_s / chars * 1e6,
        "tokenizer.us_per_line": tok_s / len(sample) * 1e6,
        "tokenizer.segment_us_per_char": seg_s / lattice_chars * 1e6,
        "tokenizer.probe_us_per_char": probe_s / lattice_chars * 1e6,
        "tokenizer.filter_share": (tok_lattice_s - seg_s) / tok_lattice_s if lattice_lines else 0.0,
        "tokenizer.tokens_per_char": n_tokens / chars,
        "tokenizer.unknown_share": n_unknown / n_rich,
        "tokenizer.ascii_line_share": 1 - len(lattice_lines) / len(sample),
    }
