#!/usr/bin/env python3
"""Benchmark entry point. From the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state, into
$CARGO_TARGET_DIR or .bench_build), runs one workload in a fresh JVM on
local[<cores>], checks every output against its oracle outside the timed
window, prints one `metric <name> <value> <unit>` line per figure and, last,
one JSON object {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import stats  # noqa: E402

DATA = os.path.join("perfbench", "data")

ITERATIVE = ["q109_pagerank", "q125_kcore", "q173_sssp"]

# Sizes of each workload. The gate suites read the fixed seed-42 tables
# copied under perfbench/data; the seed only orders their queries.
WORKLOADS = {
    "tile_pipeline": {"n": 5_000_000, "parts": 16, "warm": 8},
    "ingest_validate": {"n": 3000, "buckets": 8, "stop_after": 3, "parts": 8},
    "gate_iterative": {"queries": ",".join(ITERATIVE), "data": f"{DATA}/sf0.01"},
}
HEAP = "3g"
# a fixed young generation: G1's adaptive young sizing follows pause times,
# which made peak RSS swing by a third between identical runs on a busy host
YOUNG = "640m"
RUN_LIMIT_S = 170  # every run must exit within 180 s of its start (build excluded)

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanaged jar
    directory the engine's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob("src/main/**/*.scala", recursive=True) +
                    glob.glob("src/main/**/*.java", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return engine, harness


def java_cmd(bdir, jars):
    """The JVM command line every harness run (and the archive dump) uses."""
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
            [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={os.path.join(bdir, 'tmp')}",
             f"-Djava.io.tmpdir={os.path.join(bdir, 'tmp')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(bdir, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(bdir, 'tmp')}",
             "-cp", os.pathsep.join([os.path.join(bdir, "perfbench.jar"), os.path.join(jars, "*")])])


def build(bdir, jars):
    """Compiles engine + harness into bdir/perfbench.jar, and dumps the
    class-data-sharing archive bdir/perfbench.jsa from a toy run of every
    workload, unless the stamp of the current sources says both are there.
    The archive saves each benchmark JVM several seconds of class loading;
    a JVM that cannot use it runs without it."""
    engine, harness = sources()
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(bdir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    log("building engine and harness from source")
    classes = os.path.join(bdir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    os.makedirs(classes)
    scalac_cp = os.pathsep.join(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                                glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                                glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    lib_cp = os.path.join(jars, "*")
    java_srcs = [f for f in engine if f.endswith(".java")]

    def run(cmd):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit(f"perfbench: build step failed: {' '.join(cmd[:4])}")

    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", scalac_cp, "scala.tools.nsc.Main",
              "-usejavacp", "-nowarn"]
    run(scalac + ["-cp", lib_cp, "-d", classes] + engine)
    if java_srcs:
        run(["javac", "-encoding", "UTF-8", "-nowarn", "-cp", classes + os.pathsep + lib_cp,
             "-d", classes] + java_srcs)
    run(scalac + ["-cp", classes + os.pathsep + lib_cp, "-d", classes] + harness)
    run(["jar", "cf", os.path.join(bdir, "perfbench.jar"), "-C", classes, "."])
    gate = WORKLOADS["gate_iterative"]
    run(java_cmd(bdir, jars) + [f"-XX:ArchiveClassesAtExit={os.path.join(bdir, 'perfbench.jsa')}",
                                "perfbench.Harness", "workload=train", "seed=0", "trace=0",
                                f"cores={len(os.sched_getaffinity(0))}",
                                f"out={os.path.join(bdir, 'train')}",
                                f"queries={gate['queries']}", f"data={gate['data']}"])
    shutil.rmtree(os.path.join(bdir, "train"), ignore_errors=True)
    open(stamp, "w").write(h.hexdigest())


def rss_hwm_kb(pid):
    try:
        for line in open(f"/proc/{pid}/status"):
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return None


def launch(bdir, jars, args, cores, out, t_start):
    """Runs the harness JVM; returns (exit code, launch time, peak RSS kB)."""
    params = dict(WORKLOADS[args.workload])
    params.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, out=out, cores=cores)
    cmd = (java_cmd(bdir, jars) +
           [f"-XX:SharedArchiveFile={os.path.join(bdir, 'perfbench.jsa')}", "-Xshare:auto",
            "perfbench.Harness"] + [f"{k}={v}" for k, v in params.items()])
    logf = open(os.path.join(out, "jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
    hwm = 0
    deadline = t_start + RUN_LIMIT_S
    while p.poll() is None:
        hwm = max(hwm, rss_hwm_kb(p.pid) or 0)
        if time.time() > deadline:
            p.kill()
            p.wait()
            log(f"harness exceeded {RUN_LIMIT_S} s; killed")
            return -9, t_launch, hwm
        time.sleep(0.05)
    logf.close()
    return p.returncode, t_launch, hwm


def cpu_stat():
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    try:
        return [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    except OSError:
        return None


def per_pass(calls, names=None):
    """{pass: summed call wall time}, restricted to call `names` if given."""
    out = {}
    for c in calls:
        if names is None or c["name"] in names:
            out[c["pass"]] = out.get(c["pass"], 0.0) + c["wall_s"]
    return out


def evaluate(res, run_dir, bdir):
    """Runs the output checks; returns (indices of failed calls, named
    figures [(name, value, unit)], check lines)."""
    w = res["workload"]
    oracles = checks.Oracles(os.path.join(HERE, "expected", "oracles.json"),
                             os.path.join(bdir, "oracle_cache.json"))
    calls, extra = res["calls"], res["extra"]
    bad_calls = {i for i, c in enumerate(calls) if not c["ok"]}
    lines = [f"jvm check {c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    figs = []
    passes = per_pass(calls)
    if w == "tile_pipeline":
        ok, detail, oracle_rows = checks.tile(run_dir, extra["n"], oracles)
        lines.append(f"tile output vs OracleSql.q32({extra['n']}): {detail}")
        for i, c in enumerate(calls):
            if not ok or c["rows"] != oracle_rows:
                bad_calls.add(i)
        figs.append(("tile_rows_per_s", extra["n"] / stats.median(list(passes.values())), "rows/s"))
    elif w == "ingest_validate":
        n = extra["n"]
        jvm_bad = {c["name"].split("[pass")[1].rstrip("]") for c in res["checks"] if not c["ok"]}
        for cyc in extra["cycles"]:
            bad = checks.ingest_cycle(cyc, n)
            if bad or str(cyc["pass"]) in jvm_bad:
                lines.append(f"ingest pass {cyc['pass']}: {'; '.join(bad) or 'manifest mismatch'}")
                bad_calls |= {i for i, c in enumerate(calls) if c["pass"] == cyc["pass"]}
        epoch = per_pass(calls, {"stop", "resume"})
        figs += [
            ("ingest_rows_per_s", stats.median([n / v for v in epoch.values()]), "rows/s"),
            ("resume_s", stats.median([c["wall_s"] for c in calls if c["name"] == "resume"]), "s"),
            ("validate_rows_per_s", stats.median(
                [n / c["wall_s"] for c in calls if c["name"] == "validate"]), "rows/s")]
    else:
        data = WORKLOADS[w]["data"]
        result = checks.gate(run_dir, data, extra["queries"], oracles)
        for q, (ok, detail) in sorted(result.items()):
            if not ok:
                lines.append(f"{q}: {detail}")
                bad_calls |= {i for i, c in enumerate(calls) if c["name"] == q}
        lines.append(f"{sum(ok for ok, _ in result.values())}/{len(result)} queries match "
                     f"their DuckDB oracle on {os.path.basename(data)}")
        for c in res["checks"]:
            if not c["ok"]:  # a later pass returned other rows than the checked one
                q, p = c["name"].split("[pass")
                bad_calls |= {i for i, x in enumerate(calls)
                              if x["name"] == q and str(x["pass"]) == p.rstrip("]")}
        figs.append(("iterative_suite_s", stats.median(list(passes.values())), "s"))
        tail = stats.tail_percentile([c["wall_s"] for c in calls if c["ok"]])
        figs.append(("iterative_query_tail_s", tail[1] if tail else None,
                     f"s (p{tail[0]} of {tail[2]} calls)" if tail else
                     f"s (undefined: {len(calls)} calls, fewer than 11)"))
    return bad_calls, figs, lines


def layer_metrics(res, trace, cores):
    """Per-layer figures from a traced run (see README.md, "Per-layer")."""
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    # timed calls only: warm-up calls run before the first pass span
    calls = [s for s in spans if s["layer"] == "call" and by_id[s["parent"]]["layer"] == "pass"]
    call_ids = {s["id"] for s in calls}
    npass = max(1, res["extra"]["passes"])
    phases = {k: 0.0 for k in ("construct", "plan", "exec")}
    for s in spans:
        if s["layer"] in phases and s["parent"] in call_ids:
            phases[s["layer"]] += (s["end_ns"] - s["start_ns"]) / 1e9

    def tot(k):
        return sum(s["counters"].get(k, 0.0) for s in calls)

    wall = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in calls)
    result_rows = sum(max(c["rows"], 0) for c in res["calls"] if c["ok"])
    residue = [e for e in trace["events"] if e.get("type") == "residue"]
    m = {
        "construct_s": phases["construct"] / npass, "plan_s": phases["plan"] / npass,
        "exec_s": phases["exec"] / npass,
        "jobs": tot("jobs") / npass, "stages": tot("stages") / npass, "tasks": tot("tasks") / npass,
        "task_s": tot("task_ms") / 1e3 / npass, "cpu_s": tot("cpu_ns") / 1e9 / npass,
        "core_busy_ratio": (tot("task_ms") / 1e3) / (wall * cores) if wall else 0.0,
        "shuffle_write_bytes": tot("shuffle_write_bytes") / npass,
        "shuffle_read_bytes": tot("shuffle_read_bytes") / npass,
        "spill_bytes": tot("spill_bytes") / npass,
        "broadcast_count": tot("broadcast_count") / npass,
        "broadcast_bytes": tot("broadcast_bytes") / npass,
        "ckpt_rdds_created": tot("ckpt_rdds_created") / npass,
        "ckpt_bytes_peak": max([s["counters"].get("ckpt_bytes_peak", 0.0) for s in calls] or [0.0]),
        "ckpt_held_after_bytes": sum(e["bytes"] for e in residue) / npass,
        "engine_warnings": tot("engine_warnings") / npass,
        "rows_examined_per_result": tot("rows_examined") / result_rows if result_rows else 0.0,
        "gc_s": tot("jvm_gc_ms") / 1e3 / npass,
        "heap_peak_mb": max([s["counters"].get("heap_peak_bytes", 0.0) for s in calls] or [0.0]) / 2**20,
        "traced_pass_s": wall / npass,
    }
    for k in ("synth_s", "derive_encode_s", "pip_s", "rollup_s", "synth_encode_s", "epoch_s",
              "bytes_written", "bytes_per_row", "resume_skipped_buckets", "validate_task_s"):
        m[k] = 0.0
    extra = res["extra"]
    if res["workload"] == "tile_pipeline":
        pre = extra["prefixes"]
        run = {c["pass"]: c["wall_s"] for c in res["calls"]}
        m["synth_s"] = stats.median([p["synth"] for p in pre])
        m["derive_encode_s"] = stats.median([p["derive_encode"] - p["synth"] for p in pre])
        m["pip_s"] = stats.median([p["pip"] - p["derive_encode"] for p in pre])
        m["rollup_s"] = stats.median([run[p["pass"]] - p["pip"] for p in pre])
    elif res["workload"] == "ingest_validate":
        cyc = extra["cycles"]
        m["synth_encode_s"] = stats.median([c["synth_encode_s"] for c in cyc])
        m["epoch_s"] = stats.median(list(per_pass(res["calls"], {"stop", "resume"}).values()))
        m["bytes_written"] = stats.median([c["bytes_written"] for c in cyc])
        m["bytes_per_row"] = m["bytes_written"] / extra["n"]
        m["resume_skipped_buckets"] = stats.median([c["resume_skipped_buckets"] for c in cyc])
        m["validate_task_s"] = sum(s["counters"].get("task_ms", 0.0) for s in calls
                                   if s["name"] == "validate") / 1e3 / npass
    return m


# unit of every per-layer metric, in the order they are reported
LAYER_UNITS = {
    "construct_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "task_s": "s", "cpu_s": "s", "core_busy_ratio": "ratio",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "broadcast_count": "count", "broadcast_bytes": "bytes", "ckpt_rdds_created": "count",
    "ckpt_bytes_peak": "bytes", "ckpt_held_after_bytes": "bytes", "engine_warnings": "count",
    "rows_examined_per_result": "ratio", "gc_s": "s", "heap_peak_mb": "MB",
    "traced_pass_s": "s", "synth_s": "s", "derive_encode_s": "s", "pip_s": "s",
    "rollup_s": "s", "synth_encode_s": "s", "epoch_s": "s", "bytes_written": "bytes",
    "bytes_per_row": "bytes/row", "resume_skipped_buckets": "count", "validate_task_s": "s",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        sys.exit("perfbench: --seed must be >= 0")
    if not os.path.isdir("src/main/scala") or not os.path.isfile("build.sbt"):
        sys.exit("perfbench: run from the root of an engine source checkout "
                 "(src/main/scala and build.sbt not found)")
    bdir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    jars = spark_jars()
    build(bdir, jars)
    t_start = time.time()  # the 180 s budget of a run excludes the build
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stat0 = cpu_stat()
    code, t_launch, hwm_kb = launch(bdir, jars, args, cores, run_dir, t_start)
    stat1 = cpu_stat()
    res_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        log_tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        sys.stderr.write(log_tail)
        sys.exit(f"perfbench: harness exited with {code}")
    res = json.load(open(res_path))
    bad_calls, figs, lines = evaluate(res, run_dir, bdir)
    calls = res["calls"]
    attempted, failed = len(calls), len(bad_calls)
    for c in calls:
        if not c["ok"]:
            lines.append(f"call {c['name']} pass {c['pass']} threw: {c['error']}")
    for line in lines:
        print(f"check {line}")
    for i in sorted(bad_calls):
        print(f"failed {calls[i]['name']} pass {calls[i]['pass']}")

    passes = per_pass(calls)
    pass_s = stats.median(list(passes.values()))
    cpu = {}
    for c in calls:
        cpu[c["pass"]] = cpu.get(c["pass"], 0.0) + c["cpu_s"]
    # set-up is gated as the JVM's CPU time before the first timed call, for
    # the reason pass_cpu_s is (README.md, "Why CPU time"); its wall time is
    # printed as setup_wall_s
    setup_s = res["first_call_cpu_s"]
    setup_wall_s = res["first_call_ms"] / 1000.0 - t_launch
    peak_rss_mb = hwm_kb / 1024.0
    pass_cpu_s = stats.median(list(cpu.values()))
    e2e = {"setup_s": (setup_s, "s"), "pass_cpu_s": (pass_cpu_s, "s"),
           "peak_rss_mb": (peak_rss_mb, "MB")}
    figs = [("setup_s", setup_s, "s"), ("setup_wall_s", setup_wall_s, "s"),
            ("setup_session_s", res["session_ms"] / 1000.0 - t_launch, "s (of setup_wall_s)")
            ] + figs + [
        ("pass_s", pass_s, "s"), ("pass_cpu_s", pass_cpu_s, "s"),
        ("failed_share", failed / attempted if attempted else 1.0, "ratio"),
        ("peak_rss_mb", peak_rss_mb, "MB"), ("passes", len(passes), "count"),
        ("cores", cores, "count")]
    if stat0 and stat1 and sum(stat1) > sum(stat0):
        # CPU time the hypervisor gave to other guests while this run was
        # live: the figures above are only comparable at similar steal
        figs.append(("host_steal_share", (stat1[7] - stat0[7]) / (sum(stat1) - sum(stat0)),
                     "ratio"))
    for name, value, unit in figs:
        print(f"metric {args.workload} {name} {value} {unit}")

    if args.trace:
        trace = json.load(open(os.path.join(run_dir, "trace.json")))
        layers = layer_metrics(res, trace, cores)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
        keep = os.path.join(bdir, "traces", f"{trace['run_id']}.json")
        json.dump({"result": res, "trace": trace, "layers": metrics}, open(keep, "w"))
        for layer, sec in sorted(stats.layer_self_seconds(trace["spans"]).items()):
            print(f"self {layer} {sec:.6f} s")
        print(f"trace {keep}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
