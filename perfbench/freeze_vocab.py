"""Write ``vocab.json``: the frozen vocabulary the input generator draws from.

Run once from the repository root (``python3 perfbench/freeze_vocab.py``);
the output is committed, so later edits to the package's corpora or
dictionary do not change the benchmark's inputs.

Each parity-corpus sentence becomes a template: a list of literal pieces and
``null`` noun slots, where a slot is a known common or proper noun.  The noun
pool is every such surface.  The generator re-samples the slots from the pool.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _is_slot(tok) -> bool:
    return (
        not tok.is_unknown
        and not tok.is_punct
        and (tok.pos == "名詞-一般" or tok.pos.startswith("名詞-固有名詞"))
    )


def main() -> None:
    from hive_udf_neologd_spark.tokenizer import JapaneseAnalyzer
    from hive_udf_neologd_spark.tokenizer.parity import PARITY_CORPUS

    lattice = JapaneseAnalyzer()._lattice
    templates, nouns = [], set()
    for _sid, _register, text, _expected in PARITY_CORPUS:
        pieces, lit, cursor = [], "", 0
        for tok in lattice.segment(text):
            at = text.index(tok.surface, cursor)
            lit += text[cursor:at]
            if _is_slot(tok):
                if lit:
                    pieces.append(lit)
                pieces.append(None)
                nouns.add(tok.surface)
                lit = ""
            else:
                lit += tok.surface
            cursor = at + len(tok.surface)
        lit += text[cursor:]
        if lit:
            pieces.append(lit)
        if None in pieces:
            templates.append(pieces)
    def rows(items):
        return ",\n".join(json.dumps(x, ensure_ascii=False) for x in items)

    with open(os.path.join(HERE, "vocab.json"), "w", encoding="utf-8") as f:
        f.write(f'{{"templates": [\n{rows(templates)}\n],\n"nouns": [\n{rows(sorted(nouns))}\n]}}\n')
    print(f"{len(templates)} templates, {len(nouns)} nouns")


if __name__ == "__main__":
    main()
