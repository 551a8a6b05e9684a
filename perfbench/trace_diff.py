#!/usr/bin/env python3
"""Layer-by-layer comparison of traced runs: where did the time go, and
where did a saving appear?

    python3 perfbench/trace_diff.py --a BEFORE.json [...] --b AFTER.json [...]

Each file is a trace a `--trace 1` run kept under <build dir>/traces/. Per
side, self times (span duration minus the time its child spans cover) are
summed per layer and averaged over the side's files, as are the per-layer
metrics; the table shows both sides and the change.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def side(paths):
    """(mean self seconds per layer, mean per-layer metrics) over `paths`."""
    selfs, metrics = {}, {}
    for p in paths:
        doc = json.load(open(p))
        npass = max(1, doc["result"]["extra"]["passes"])
        for k, v in stats.layer_self_seconds(doc["trace"]["spans"]).items():
            selfs[k] = selfs.get(k, 0.0) + v / npass / len(paths)
        for k, v in doc["layers"].items():
            metrics[k] = metrics.get(k, 0.0) + v["value"] / len(paths)
    return selfs, metrics


def rows(a, b):
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k, 0.0), b.get(k, 0.0)
        rel = f"{(y - x) / x:+8.1%}" if x else ("        " if y == 0 else "     new")
        yield f"  {k:44s} {x:14.6g} {y:14.6g} {y - x:+14.6g} {rel}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args()
    (sa, ma), (sb, mb) = side(args.a), side(args.b)
    head = f"  {'':44s} {'A':>14s} {'B':>14s} {'B-A':>14s} {'rel':>8s}"
    print("self time per pass (s), by layer" + ("" if len(args.a) == 1 else " (mean of runs)"))
    print(head)
    print("\n".join(rows(sa, sb)))
    print("\nper-layer metrics")
    print(head)
    print("\n".join(rows(ma, mb)))


if __name__ == "__main__":
    main()
