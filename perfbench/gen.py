"""Seeded input generator for the benchmark's two workloads.

Every input is a pure function of the seed and of ``vocab.json`` (frozen in
this directory), never of the package's own corpora or dictionary, so a later
package edit cannot change what the benchmark feeds it.

    python3 perfbench/gen.py --seed 1        # print each workload's input properties
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import re
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

# ja_sql_batch: a fixed character budget of long lines, written as two
# parquet files per core so the scan splits evenly.
BATCH_CHARS = 800_000
BATCH_LINE_LEN = (20, 400)
BATCH_FILES_PER_CPU = 2
# ja_stream: fixed line count, written as FILES drops of equal size.
STREAM_LINES = 1_600
STREAM_FILES = 4
STREAM_LINE_LEN = (4, 40)
STREAM_ASCII_SHARE = 0.5
STREAM_T0 = dt.datetime(2024, 1, 1)
STREAM_STEP_S = 5.0  # event time advances five seconds per line
# A few rows are stamped late.  A drop spans 2000 s of event time, and Spark
# judges late rows against the watermark one batch behind, so a row is
# dropped only when it is more than about 2300 s late: the range below drops
# some of the late rows and keeps the rest.
STREAM_LATE_SHARE = 0.03
STREAM_LATE_S = (2500, 4000)

UNKNOWN_SHARE = 0.04  # noun slots filled with a random katakana run instead
LATIN = (
    "data", "stream", "spark", "query", "table", "token", "batch", "model", "cloud",
    "cache", "index", "vector", "server", "client", "shard", "cluster", "python",
    "kernel", "buffer", "window", "event", "metric", "trace", "queue", "node",
)
KATAKANA = "".join(chr(c) for c in range(0x30A2, 0x30F3))  # ア..ン
ASCII_LINE = re.compile(r"[A-Za-z0-9 ]*\Z")

def _vocab() -> dict:
    with open(os.path.join(HERE, "vocab.json"), encoding="utf-8") as f:
        return json.load(f)


class _Composer:
    """Japanese sentences from the frozen templates with re-sampled noun slots."""

    def __init__(self, rng: random.Random):
        v = _vocab()
        self.rng, self.templates, self.nouns = rng, v["templates"], v["nouns"]

    def noun(self) -> str:
        rng = self.rng
        if rng.random() < UNKNOWN_SHARE:
            return "".join(rng.choice(KATAKANA) for _ in range(rng.randint(3, 6)))
        return rng.choice(self.nouns)

    def sentence(self) -> str:
        rng = self.rng
        out = [p if p is not None else self.noun() for p in rng.choice(self.templates)]
        r = rng.random()
        if r < 0.08:  # a Latin word or a number between sentences
            out.append(rng.choice(LATIN).capitalize() + " ")
        elif r < 0.14:
            out.append(str(rng.randint(1, 9999)))
        return "".join(out)

    def line(self, length: int) -> str:
        text = ""
        while len(text) < length:
            text += self.sentence()
        return text[:length]

    def ascii_line(self, length: int) -> str:
        rng, words = self.rng, []
        while len(" ".join(words)) < length:
            words.append(rng.choice(LATIN) if rng.random() < 0.8 else str(rng.randint(0, 99999)))
        return " ".join(words)[:length].strip() or "x"


def ja_batch_lines(seed: int) -> list[str]:
    """Long, almost never pure-ASCII lines summing to exactly ``BATCH_CHARS``."""
    comp = _Composer(random.Random(f"ja_sql_batch/{seed}"))
    lines, left = [], BATCH_CHARS
    while left > 0:
        n = min(left, comp.rng.randint(*BATCH_LINE_LEN))
        if left - n < BATCH_LINE_LEN[0]:
            n = left
        lines.append(comp.line(n))
        left -= n
    return lines


def ja_stream_rows(seed: int) -> list[tuple[dt.datetime, str]]:
    """Short mixed lines, about half pure ``[A-Za-z0-9 ]``, each with an event
    time; a few are stamped late by more than the watermark delay."""
    comp = _Composer(random.Random(f"ja_stream/{seed}"))
    rng, rows = comp.rng, []
    for i in range(STREAM_LINES):
        n = rng.randint(*STREAM_LINE_LEN)
        text = comp.ascii_line(n) if rng.random() < STREAM_ASCII_SHARE else comp.line(n)
        offset = i * STREAM_STEP_S
        if rng.random() < STREAM_LATE_SHARE:
            offset -= rng.randint(*STREAM_LATE_S)
        rows.append((STREAM_T0 + dt.timedelta(seconds=max(0.0, offset)), text))
    return rows


def describe(lines: list[str], files: int) -> dict:
    """The input properties a workload's behaviour depends on."""
    lens = [len(s) for s in lines]
    q1, q2, q3 = statistics.quantiles(lens, n=4)
    return {
        "rows": len(lines),
        "chars": sum(lens),
        "line_len_q1_q2_q3": [q1, q2, q3],
        "ascii_line_share": round(sum(1 for s in lines if ASCII_LINE.match(s)) / len(lines), 4),
        "files": files,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    seed = ap.parse_args().seed
    props = {
        "ja_sql_batch": describe(ja_batch_lines(seed), BATCH_FILES_PER_CPU * len(os.sched_getaffinity(0))),
        "ja_stream": describe([t for _, t in ja_stream_rows(seed)], STREAM_FILES),
    }
    for name, p in props.items():
        print(name, json.dumps(p))


if __name__ == "__main__":
    main()
