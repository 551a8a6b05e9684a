#!/usr/bin/env python3
"""Steadiness check: runs workloads repeatedly on one commit and reports,
per metric, the median, the quartiles, the inter-quartile spread and
(max - min) / median, against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload gate_iterative --seeds 1-10 [--trace]
    python3 perfbench/steady.py --all --seeds 1-10 --overhead

An end-to-end metric whose (max - min) / median exceeds a tenth is flagged;
one whose quartile spread exceeds a third of its bound is flagged too. The
per-pass table (median over runs of the k-th timed pass) shows whether the
warm-up has converged: later passes should not be faster than the first.
With --overhead each seed is also run traced, and the tracing overhead is
reported as traced_pass_s - pass_s (medians). Results also go to
<build dir>/steady/<timestamp>.json.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    bdir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    res = json.load(open(os.path.join(bdir, "runs", f"{workload}-s{seed}-t{trace}",
                                      "result.json")))
    # the printed figures beyond the contract: `metric <workload> <name> <value> <unit>`
    figures = {}
    for line in lines[:-1]:
        parts = line.split()
        if parts[0] == "metric" and len(parts) >= 4:
            try:
                figures[parts[2]] = float(parts[3])
            except ValueError:
                pass
    return json.loads(lines[-1]), res, figures


def table(rows, bounds, title):
    print(f"\n{title}")
    print(f"  {'metric':28s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/med':>8s} "
          f"{'range/med':>9s}  flags")
    flagged = []
    for name, vals in rows.items():
        q1, q2, q3 = stats.quartiles(vals)
        iqr = stats.spread(vals) or 0.0
        rng = (max(vals) - min(vals)) / q2 if q2 else 0.0
        flags = []
        if name in bounds:
            if rng > 0.1:
                flags.append("range>0.1")
            if name != "setup_s" and iqr > bounds[name] / 3:
                flags.append(f"iqr>bound/3 ({bounds[name]})")
        if flags:
            flagged.append(name)
        print(f"  {name:28s} {q2:14.6g} {q1:14.6g} {q3:14.6g} {iqr:8.4f} {rng:9.4f}  "
              f"{' '.join(flags)}")
    return flagged


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--all", action="store_true", help="every workload in BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", action="store_true", help="measure the per-layer metrics")
    ap.add_argument("--overhead", action="store_true", help="also run traced; report overhead")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = [w["name"] for w in bench["workloads"]] if args.all else args.workload
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        e2e, figs, layers, per_pass_rows, traced_pass = {}, {}, {}, {}, []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            if not args.trace:
                out, res, fig = one_run(w, seed, seconds, 0)
                if not out["correct"]:
                    print(f"  {w} seed {seed}: NOT correct ({out['failed']} failed)")
                for k, v in out["metrics"].items():
                    e2e.setdefault(k, []).append(v["value"])
                for k, v in fig.items():
                    if k not in e2e and not math.isnan(v):
                        figs.setdefault(k, []).append(v)
                by_pass = {}
                for c in res["calls"]:
                    by_pass[c["pass"]] = by_pass.get(c["pass"], 0.0) + c["wall_s"]
                for p, v in by_pass.items():
                    per_pass_rows.setdefault(p, []).append(v)
            if args.trace or args.overhead:
                out, _, _ = one_run(w, seed, seconds, 1)
                for k, v in out["metrics"].items():
                    layers.setdefault(k, []).append(v["value"])
                traced_pass.append(out["metrics"]["traced_pass_s"]["value"])
            print(f"  {w} seed {seed}: {time.time() - t0:.1f} s wall", flush=True)
        flagged = []
        if e2e:
            runs = len(e2e["setup_s"])
            flagged = table(e2e, bounds, f"{w}: end-to-end over {runs} runs")
            table(figs, {}, f"{w}: other printed figures over {runs} runs (not in the contract)")
            print("  per-pass median over runs (warm-up convergence): " + ", ".join(
                f"pass{p}={stats.median(v):.4g}s(n={len(v)})"
                for p, v in sorted(per_pass_rows.items())))
        if layers:
            table(layers, {}, f"{w}: per-layer over {len(traced_pass)} traced runs")
        rep = {"end_to_end": e2e, "figures": figs, "per_layer": layers, "flagged": flagged}
        if figs and traced_pass:
            over = stats.median(traced_pass) - stats.median(figs["pass_s"])
            rep["tracing_overhead_s"] = over
            print(f"  tracing overhead: traced_pass_s - pass_s = {over:.4f} s "
                  f"({over / stats.median(figs['pass_s']):.2%})")
        report[w] = rep
    bdir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(os.path.join(bdir, "steady"), exist_ok=True)
    path = os.path.join(bdir, "steady", f"{int(time.time())}.json")
    json.dump(report, open(path, "w"), indent=1)
    print(f"\nwritten {path}")


if __name__ == "__main__":
    main()
