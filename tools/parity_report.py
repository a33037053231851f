"""Parity report and recapture command for every held-out parity axis.

Usage: python tools/parity_report.py [--all]
Prints every sentence whose predicted spans differ from the expected ones
(or all with --all), with aligned token lists — the authoring loop for
dictionary waves driven by measured F1 failures (VERDICT r6 #8).  Then,
for t22 and each exact-match axis (t25, t27-t30; tokenizer/axis.py), it
prints the live per-register aggregates — paste them over the recorded
``T22_EXPECTED`` / ``T2x_EXPECTED`` after an adjudicated change — and
every mismatching sentence.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_udf_neologd_spark.tokenizer.parity import (  # noqa: E402
    PARITY_CORPUS,
    T22_EXPECTED,
    _raw_lattice,
    compute_expected,
    expected_spans,
    micro_f1,
    predicted_spans,
)


def print_aggregates(agg: dict, recorded: dict) -> None:
    """Live per-register aggregates, ready to paste over ``recorded``."""
    for reg, row in agg.items():
        flag = "" if row == recorded.get(reg) else "  # <-- differs from recorded"
        print(f"    {reg!r}: {row},{flag}")


def main() -> int:
    show_all = "--all" in sys.argv
    n_diff = 0
    for sid, register, text, surfaces in PARITY_CORPUS:
        exp = expected_spans(text, surfaces)
        pred = predicted_spans(text)
        if set(exp) == set(pred) and not show_all:
            continue
        if set(exp) != set(pred):
            n_diff += 1
        pred_surf = [t.surface for t in _raw_lattice().segment(text)]
        print(f"--- {sid} [{register}] {text}")
        print(f"  exp : {'|'.join(surfaces)}")
        print(f"  pred: {'|'.join(pred_surf)}")
    agg = compute_expected()
    n, tp, n_pred, n_exp = agg["__total__"]
    print(f"\nsentences={n} differing={n_diff} tp={tp} n_pred={n_pred} n_exp={n_exp}")
    print(f"micro-F1={micro_f1(agg):.6f}  P={tp/n_pred:.4f}  R={tp/n_exp:.4f}")
    print("=== parity (T22_EXPECTED)")
    print_aggregates(agg, T22_EXPECTED)
    from hive_udf_neologd_spark.tokenizer import (  # noqa: E402
        lemma_parity,
        mode_parity,
        pos_parity,
        reading_parity,
        userdict_parity,
    )
    from hive_udf_neologd_spark.tokenizer.axis import (  # noqa: E402
        accuracy,
        compute_expected as axis_expected,
        mismatches,
    )

    def show(tokens) -> str:
        return "|".join(t.replace("\x1f", ":") for t in tokens)

    for module in (mode_parity, lemma_parity, reading_parity, userdict_parity, pos_parity):
        axis = module.AXIS
        name = module.__name__.rsplit(".", 1)[1]
        aagg = axis_expected(axis)
        print(f"\n=== {name}")
        print_aggregates(aagg, axis.expected)
        for sid, reg, config, text, want, got in mismatches(axis):
            cfg = f"/{config[0]}" if config else ""
            print(f"--- {name} #{sid} [{reg}{cfg}] {text}")
            print(f"  exp : {show(want)}")
            print(f"  pred: {show(got)}")
        an, am, _, _ = aagg["__total__"]
        print(f"{name}: sentences={an} matched={am} accuracy={accuracy(aagg):.6f}")

    # Reading-tier coverage stats (VERDICT r10 #4): how much of the live
    # corpus vocabulary the authored tier covers, and the head of the
    # still-unauthored frequency list — the targeting input for the next
    # tranche, computed rather than guessed.
    from collections import Counter

    from hive_udf_neologd_spark.tokenizer.analyzer import JapaneseAnalyzer
    from hive_udf_neologd_spark.tokenizer.lemma_parity import (  # noqa: E402
        LEMMA_PARITY_CORPUS,
    )
    from hive_udf_neologd_spark.tokenizer.mode_parity import (  # noqa: E402
        MODE_PARITY_CORPUS,
    )
    from hive_udf_neologd_spark.tokenizer.readings import LEMMA_READINGS

    analyzer = JapaneseAnalyzer()
    covered: Counter = Counter()
    uncovered: Counter = Counter()
    texts = (
        [t for _, _, t, _ in PARITY_CORPUS]
        + [t for _, _, t, _ in LEMMA_PARITY_CORPUS]
        + [row[3] for row in MODE_PARITY_CORPUS]
    )
    for t in texts:
        for tok in analyzer.analyze_rich(t):
            if tok["unknown"]:
                continue
            key = tok["base_form"] or tok["surface"]
            (covered if tok["reading"] is not None else uncovered)[key] += 1
    n_cov = sum(covered.values())
    n_unc = sum(uncovered.values())
    print(
        f"reading tier: {len(LEMMA_READINGS)} authored lemmas; corpus "
        f"token coverage {n_cov}/{n_cov + n_unc} "
        f"({n_cov / (n_cov + n_unc):.1%}), {len(uncovered)} distinct "
        f"lemmas still None"
    )
    print("  top unauthored (next-tranche candidates):")
    for lemma, freq in uncovered.most_common(25):
        print(f"    {freq:3d} {lemma}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
