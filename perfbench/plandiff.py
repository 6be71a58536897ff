"""Label each op's latency change between two benchmark result files.

    python3 perfbench/plandiff.py perfbench/results/A.json perfbench/results/B.json

The files are the detailed results ``run.py`` writes. For every op in
both, it prints the median warm latency of each side, the relative
change, and one label:

- ``plan changed``: the executed operator trees differ (``plan_fp``);
- ``same plan, time moved``: same trees, latency moved by more than
  ``MOVED`` (10 %);
- ``same plan``: same trees, latency within ``MOVED``;
- ``plan unknown``: a side has no fingerprint (an untraced run).
"""

from __future__ import annotations

import argparse
import json
import statistics

MOVED = 0.1  # relative latency change that counts as moved


def summarize(result: dict) -> dict[str, tuple[float, frozenset[str]]]:
    """op name -> (median warm latency, set of plan fingerprints seen)."""
    lat: dict[str, list[float]] = {}
    fps: dict[str, set[str]] = {}
    for rec in result["ops"]:
        if rec["pass"] == 0:
            continue
        lat.setdefault(rec["op"], []).append(rec["latency_s"])
        if rec.get("plan_fp") is not None:
            fps.setdefault(rec["op"], set()).add(rec["plan_fp"])
    return {op: (statistics.median(v), frozenset(fps.get(op, ()))) for op, v in lat.items()}


def label(a: tuple[float, frozenset], b: tuple[float, frozenset]) -> str:
    if not a[1] or not b[1]:
        return "plan unknown"
    if a[1] != b[1]:
        return "plan changed"
    if abs(b[0] - a[0]) > MOVED * a[0]:
        return "same plan, time moved"
    return "same plan"


def diff(a: dict, b: dict) -> list[tuple[str, float, float, float, str]]:
    sa, sb = summarize(a), summarize(b)
    return [
        (op, sa[op][0], sb[op][0], sb[op][0] / sa[op][0] - 1, label(sa[op], sb[op]))
        for op in sorted(sa.keys() & sb.keys())
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    with open(args.before) as f:
        before = json.load(f)
    with open(args.after) as f:
        after = json.load(f)
    print(f"{'op':28s} {'before_s':>9s} {'after_s':>9s} {'change':>8s}  label")
    for op, x, y, rel, what in diff(before, after):
        print(f"{op:28s} {x:9.4f} {y:9.4f} {rel:+8.1%}  {what}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
