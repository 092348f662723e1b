"""Where the extractor's per-row Python time goes on one core, by turn class,
and what an exact per-turn reject in Python would cost.

Generates perfbench's ``campaign_text`` corpus for ``--seed``, builds the
5k-term benchmark lexicon, runs ``extract_from_text`` over every turn once
to split the turns into three classes (no mention; digits and at least one
mention; terms only), then times ``extract_from_text`` over each class and
the reject over every turn, min of ``--repeat`` passes. The reject keeps a
turn when it has a decimal digit or a token that can start a dictionary
match or belongs to a label (the matcher index and the label-token map);
the script checks that it drops no turn that yields a mention. No Spark.

    python3 BENCH/python_task_cost/extract_split.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402

from biosd_feature_annotator_spark.operators.extract import (  # noqa: E402
    _TOKEN_RE,
    extract_from_text,
)
from biosd_feature_annotator_spark.synth import bench_lexicon  # noqa: E402

_DIGIT_RE = re.compile(r"\d")


def best_of(repeat: int, fn) -> float:
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()
    texts = [str(t) for t in gen.campaign_text(args.seed, 30_000)["turns"][3]]
    lex = bench_lexicon(gen.LEXICON_TERMS)
    idx, ltm = lex.matcher_index(), lex.label_token_map()

    classes: dict[str, list[str]] = {"no_mention": [], "digits": [], "terms_only": []}
    for text in texts:
        if not extract_from_text(text, lex):
            classes["no_mention"].append(text)
        elif _DIGIT_RE.search(text):
            classes["digits"].append(text)
        else:
            classes["terms_only"].append(text)

    def keep(text: str) -> bool:
        if _DIGIT_RE.search(text):
            return True
        return any(t in idx or t in ltm
                   for t in (m.group(0).lower() for m in _TOKEN_RE.finditer(text)))

    kept = [t for t in texts if keep(t)]
    dropped_with_mention = sum(1 for t in texts if not keep(t) and extract_from_text(t, lex))
    out = {"seed": args.seed, "turns": len(texts), "repeat": args.repeat}
    for name, group in classes.items():
        out[name] = {"turns": len(group), "extract_s": round(best_of(
            args.repeat, lambda g=group: [extract_from_text(t, lex) for t in g]), 3)}
    out["all_turns_extract_s"] = round(best_of(
        args.repeat, lambda: [extract_from_text(t, lex) for t in texts]), 3)
    out["reject"] = {"s": round(best_of(args.repeat, lambda: [keep(t) for t in texts]), 3),
                     "kept": len(kept), "dropped_turns_with_mentions": dropped_with_mention}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
