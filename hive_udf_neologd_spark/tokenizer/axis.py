"""One exact-match scoring harness for the held-out parity axes.

Five axes score the engine by exact token-sequence match per sentence:
modes (t25, ``mode_parity``), lemmas (t27, ``lemma_parity``), readings
(t28, ``reading_parity``), user dictionaries (t29, ``userdict_parity``)
and POS strings (t30, ``pos_parity``).  Each module keeps its corpus,
its recorded aggregates and its floor, and declares one ``AXIS``; the
scoring below, the Spark query (``operators/textops._parity_query``) and
the oracle SQL are shared.  t22 (``parity.py``) scores span F1 with
different columns and stays separate.

Recapture after any dictionary, matrix, lattice or filter change with
``python tools/parity_report.py``, which prints every axis's live
aggregates and mismatches; paste the aggregates over the module's
recorded ``T2x_EXPECTED``.  tests/test_parity.py asserts
``compute_expected(axis) == axis.expected`` for every axis, so a
re-segmentation can never silently desynchronise an oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass
from functools import cache, lru_cache, partial

# (sid, register, config, text, expected tokens)
Row = tuple[int, str, tuple[str, ...], str, tuple[str, ...]]
# register -> (n_sent, n_match, n_tok_exp, n_tok_pred)
Aggregates = Mapping[str, tuple[int, int, int, int]]


@dataclass(frozen=True, eq=False)
class Axis:
    """An exact-match parity axis.

    ``corpus`` rows are ``(sid, register, config, text, expected)``.
    ``config`` is the tuple of strings an engine is built from (empty
    when every sentence runs the default analyzer); ``expected`` is the
    token sequence ``predict`` must return, already encoded as strings
    (``encode_pair`` for two-field tokens) so the Spark scorer can ship
    it as ``array<string>``.  ``build(config, dictionary)`` makes an
    engine, ``dictionary=None`` meaning the builtin one, and
    ``predict(engine, text)`` runs it.  ``module`` is the import path of
    the module that defines ``AXIS``: Spark workers import it rather
    than unpickle the corpus.
    """

    module: str
    corpus: tuple[Row, ...]
    build: Callable
    predict: Callable
    expected: Aggregates
    floor: float


def encode_pair(first: str, second: str | None) -> str:
    """Stable string encoding of a two-field token (surface + reading or
    POS).  A None field becomes empty; \\x1f never appears in corpus
    text and no token carries an empty reading or POS."""
    return f"{first}\x1f{second if second is not None else ''}"


def default_analyzer(config: tuple[str, ...], dictionary):
    """Engine builder for axes that run every sentence through the
    default analyzer chain (empty ``config``)."""
    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer

    return JapaneseAnalyzer(dictionary=dictionary)


def rich_pairs(field: str) -> Callable:
    """``predict`` for axes scored on the ``(surface, field)`` pairs of
    the analyzer's rich output."""
    return lambda analyzer, text: [
        encode_pair(tok["surface"], tok[field]) for tok in analyzer.analyze_rich(text)
    ]


# One entry per (axis, config): the corpora hold 33 distinct configs, and
# every engine shares the cached builtin Dictionary, so an entry is just
# a Lattice plus a small user-dictionary index.
@lru_cache(maxsize=64)
def _builtin_engine(axis: Axis, config: tuple[str, ...]):
    return axis.build(config, None)


def predict(axis: Axis, config: tuple[str, ...], text: str) -> list[str]:
    """The builtin engine's encoded tokens for one sentence."""
    return axis.predict(_builtin_engine(axis, config), text)


def compute_expected(axis: Axis, dictionary=None) -> dict[str, tuple[int, int, int, int]]:
    """Per-register (n_sent, n_match, n_tok_exp, n_tok_pred) by running the
    live engine, plus the ``__total__`` row: the recapture source for the
    axis's recorded aggregates and the consistency gate in tests.
    ``dictionary`` scores the axis on another Dictionary, with one engine
    built per config."""
    if dictionary is None:
        engine = partial(_builtin_engine, axis)
    else:
        engine = cache(lambda config: axis.build(config, dictionary))
    agg: dict[str, list[int]] = {}
    for _sid, register, config, text, expected in axis.corpus:
        pred = axis.predict(engine(config), text)
        row = agg.setdefault(register, [0, 0, 0, 0])
        row[0] += 1
        row[1] += 1 if list(expected) == pred else 0
        row[2] += len(expected)
        row[3] += len(pred)
    agg["__total__"] = [sum(col) for col in zip(*agg.values())]
    return {k: tuple(v) for k, v in sorted(agg.items())}


def accuracy(expected: Aggregates) -> float:
    n, match, _, _ = expected["__total__"]
    return match / n if n else 1.0


def mismatches(axis: Axis) -> list[tuple[int, str, tuple[str, ...], str, tuple[str, ...], list[str]]]:
    """``(sid, register, config, text, expected, predicted)`` for every
    sentence the builtin engine gets wrong."""
    out = []
    for sid, register, config, text, expected in axis.corpus:
        pred = predict(axis, config, text)
        if list(expected) != pred:
            out.append((sid, register, config, text, expected, pred))
    return out


def values_sql(axis: Axis) -> str:
    """The axis's oracle: its recorded aggregates as a VALUES table, with
    the same IEEE ``acc`` expression as the Spark query."""
    rows = []
    for register, (n_sent, n_match, n_tok_exp, n_tok_pred) in sorted(
        axis.expected.items()
    ):
        rows.append(f"('{register}', {n_sent}, {n_match}, {n_tok_exp}, {n_tok_pred})")
    values = ",\n  ".join(rows)
    return f"""
SELECT register, n_sent, n_match, n_tok_exp, n_tok_pred,
       CAST(n_match AS DOUBLE) / n_sent AS acc
FROM (VALUES
  {values}
) AS v(register, n_sent, n_match, n_tok_exp, n_tok_pred)
ORDER BY register
"""
