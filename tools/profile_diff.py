#!/usr/bin/env python3
"""Diff two `graft.Dev profile` runs layer by layer.

Reads two JSONL files of `Dev profile` records (one line per query rep; a
leading sbt `[info] ` tag is skipped) and prints, per query and per phase
(construct / plan / exec), the median over reps of the before and after
wall seconds and the change in seconds, jobs, stages, tasks and task CPU
seconds, then one total row per phase over the queries both files hold.
Reps that failed (an `error` record) are left out and counted.
Run: python3 tools/profile_diff.py BEFORE.jsonl AFTER.jsonl
"""
import json
import statistics
import sys

PHASES = ("construct", "plan", "exec")
FIELDS = ("s", "jobs", "stages", "tasks", "cpu_s")


def load(path):
    """{query: {phase: {field: median over reps}}} and the failed-rep count."""
    reps, failed = {}, 0
    with open(path) as f:
        for line in f:
            start = line.find("{")
            if start < 0 or '"query"' not in line:
                continue
            rec = json.loads(line[start:])
            if "error" in rec:
                failed += 1
                continue
            for ph in PHASES:
                p = rec[ph]
                row = dict(s=p["s"], jobs=p["jobs"], stages=p["stages"],
                           tasks=p["tasks"], cpu_s=p["cpu_ns"] / 1e9)
                for k, v in row.items():
                    reps.setdefault(rec["query"], {}).setdefault(ph, {}).setdefault(k, []).append(v)
    med = {q: {ph: {k: statistics.median(vs) for k, vs in fs.items()} for ph, fs in phs.items()}
           for q, phs in reps.items()}
    return med, failed


def diff(before, after):
    """Rows (query, phase, before s, after s, Δ per FIELDS), then per-phase totals."""
    rows = []
    totals = {ph: {k: [0.0, 0.0] for k in FIELDS} for ph in PHASES}
    for q in sorted(set(before) & set(after)):
        for ph in PHASES:
            b, a = before[q][ph], after[q][ph]
            rows.append((q, ph, b["s"], a["s"]) + tuple(a[k] - b[k] for k in FIELDS))
            for k in FIELDS:
                totals[ph][k][0] += b[k]
                totals[ph][k][1] += a[k]
    for ph in PHASES:
        t = totals[ph]
        rows.append(("TOTAL", ph, t["s"][0], t["s"][1]) + tuple(t[k][1] - t[k][0] for k in FIELDS))
    return rows


def fmt(row):
    q, ph, bs, as_, ds, dj, dst, dt, dc = row
    return (f"{q:<32} {ph:<9} {bs:>9.3f} {as_:>9.3f} {ds:>+9.3f} "
            f"{dj:>+7g} {dst:>+7g} {dt:>+7g} {dc:>+9.3f}")


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, bfail = load(argv[1])
    after, afail = load(argv[2])
    print(f"{'query':<32} {'phase':<9} {'before_s':>9} {'after_s':>9} {'Δs':>9} "
          f"{'Δjobs':>7} {'Δstages':>7} {'Δtasks':>7} {'Δcpu_s':>9}")
    for row in diff(before, after):
        print(fmt(row))
    for name, only in (("before", set(before) - set(after)), ("after", set(after) - set(before))):
        if only:
            print(f"only in {name}: {', '.join(sorted(only))}")
    print(f"failed reps: before {bfail}, after {afail}")


if __name__ == "__main__":
    main(sys.argv)
