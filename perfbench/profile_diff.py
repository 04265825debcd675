"""Compare the per-layer metrics of two traced benchmark runs.

    python3 perfbench/profile_diff.py BEFORE AFTER

BEFORE and AFTER are the standard output of ``run.py --trace 1`` (its
last line is read) or a file written with ``--trace-out``. Prints every
per-layer metric that moved, largest relative move first, and names the
layer whose time (``*.s``, ``*.self_s``) and whose Spark job count
(``*.jobs``) moved most.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_metrics(path: str) -> dict[str, float]:
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.strip().splitlines()[-1])
    return {k: (v["value"] if isinstance(v, dict) else v) for k, v in doc["metrics"].items()}


def diff(before: dict[str, float], after: dict[str, float]) -> list[tuple[str, float, float, float]]:
    """(metric, before, after, relative move) for every metric that moved."""
    rows = []
    for k in sorted(set(before) | set(after)):
        a, b = before.get(k, 0.0), after.get(k, 0.0)
        if a == b:
            continue
        rel = (b - a) / abs(a) if a else float("inf")
        rows.append((k, a, b, rel))
    return sorted(rows, key=lambda r: -abs(r[3]))


def moved_layer(before: dict[str, float], after: dict[str, float], suffixes: tuple[str, ...]):
    """(layer, metric, move) of the metric ending in one of `suffixes`
    whose absolute move is largest, or None."""
    best = None
    for k, a, b, _ in diff(before, after):
        if k.endswith(suffixes) and not k.startswith(("trace.", "session.", "spark.")):
            if best is None or abs(b - a) > abs(best[2]):
                best = (k.split(".")[0], k, b - a)
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    before, after = load_metrics(args.before), load_metrics(args.after)
    for k, a, b, rel in diff(before, after):
        print(f"{k:45s} {a:14.4f} -> {b:14.4f}  {rel:+.1%}")
    for what, suffixes in (("time", (".s", ".self_s")), ("job count", (".jobs",))):
        best = moved_layer(before, after, suffixes)
        if best is None:
            print(f"no layer's {what} moved")
        else:
            print(f"layer whose {what} moved most: {best[0]} ({best[1]}, {best[2]:+.4g})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
