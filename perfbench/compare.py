"""Summaries over benchmark artifacts (perfbench/out/*.json), run from
the checkout root.

    python3 -m perfbench.compare spread A.json B.json ...
        per end-to-end metric: median, quartile spread as a share of the
        median, and whether it is under a third of the metric's bound.
    python3 -m perfbench.compare diff --base A1.json ... --head B1.json ...
        pairs runs by seed, refuses pairs whose stamps differ in anything
        but the code under test, and reports each metric's median change
        against its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from perfbench import stats
from perfbench.stamp import StampMismatch, check_comparable

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def _spec() -> list[dict]:
    with open(SPEC) as fh:
        return json.load(fh)["end_to_end"]


def spread(paths: list[str]) -> int:
    arts = _load(paths)
    steady = True
    for m in _spec():
        vals = [a["result"]["metrics"][m["name"]]["value"] for a in arts]
        s = stats.spread(vals) if statistics.median(vals) else 0.0
        ok = m["name"] == "setup_s" or s < m["bound"] / 3
        steady &= ok
        print(
            f"{m['name']:14s} median={statistics.median(vals):.4f} "
            f"spread={s:.4f} bound={m['bound']} {'ok' if ok else 'WIDE'}"
        )
    return 0 if steady else 1


def diff(base: list[str], head: list[str]) -> int:
    b = {a["stamp"]["seed"]: a for a in _load(base)}
    h = {a["stamp"]["seed"]: a for a in _load(head)}
    if set(b) != set(h):
        print("base and head must cover the same seeds", file=sys.stderr)
        return 2
    try:
        for seed in b:
            check_comparable(b[seed]["stamp"], h[seed]["stamp"])
    except StampMismatch as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 3
    worse = False
    for m in _spec():
        mb = statistics.median(a["result"]["metrics"][m["name"]]["value"] for a in b.values())
        mh = statistics.median(a["result"]["metrics"][m["name"]]["value"] for a in h.values())
        change = (mh - mb) / mb if mb else 0.0
        bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        worse |= bad
        print(f"{m['name']:14s} base={mb:.4f} head={mh:.4f} change={change:+.2%} "
              f"bound={m['bound']} {'WORSE' if bad else 'ok'}")
    return 1 if worse else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("artifacts", nargs="+")
    dp = sub.add_parser("diff")
    dp.add_argument("--base", nargs="+", required=True)
    dp.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args()
    if args.cmd == "spread":
        return spread(args.artifacts)
    return diff(args.base, args.head)


if __name__ == "__main__":
    sys.exit(main())
