#!/usr/bin/env python3
"""Where the executor threads of a JVM spent their time, by engine layer,
and what they allocated, by class, from a JDK Flight Recorder recording.

Input is the JSON that `jfr print --json` prints for the two sampled events:

    jfr print --json --stack-depth 32 \\
        --events jdk.ExecutionSample,jdk.ObjectAllocationSample rec.jfr > rec.json
    python3 tools/jfr_layers.py rec.json

The document is read one event at a time, so a recording of a few hundred
MB of JSON needs a few MB of memory. Only samples of executor task threads
("Executor task launch worker …") count. Each execution sample goes to the layer of its innermost frame that
names one (LAYERS, first rule first); a sample with no such frame is
"other". "other" also holds the generated code of every operator but the
hash aggregate, such as arithmetic the stage inlines. The report gives
each layer's sample count and share with the total, then the allocation
weight (bytes the sampler attributes) of the heaviest classes.
"""
import json
import sys

EXECUTOR = "Executor task launch worker"

GENERATED = "org.apache.spark.sql.catalyst.expressions.GeneratedClass"

# (layer, test on a frame's class and method name): the flagship's layers
# (ROADMAP aim 1) as the frames that implement them. Whole-stage codegen
# inlines every operator of a stage into the aggregate's loop, so a
# generated frame is told apart by the operator prefix of its name, and a
# generated frame of any other operator ends the search as "other".
LAYERS = [
    ("ray-cast", lambda c, m: c == "graft.geo.Geo$" and m == "pointInRing"),
    ("PIP probe", lambda c, m: c.startswith("graft.spatial.BoundaryIndex")),
    # the tile encoder (Quadkey.cellIdOf, reached from generated code through
    # Statics.quadCell); its StrictMath.log is a native frame with no layer
    ("tile encode", lambda c, m: c == "graft.index.Quadkey$"),
    ("geotag/derive", lambda c, m: c.startswith(("graft.synth.", "graft.functions.", "graft.index."))),
    ("hash aggregation", lambda c, m: c.startswith((
        "org.apache.spark.unsafe.map.", "org.apache.spark.sql.execution.aggregate.",
        "org.apache.spark.sql.execution.UnsafeFixedWidthAggregationMap")) or
        (c.startswith(GENERATED) and ("$hashAgg_" in c or m.startswith(("hashAgg_", "agg_"))))),
    ("other", lambda c, m: c.startswith(GENERATED)),
]
TOP_CLASSES = 8


def layer_of(frames):
    for f in frames:
        c, m = f["method"]["type"]["name"].replace("/", "."), f["method"]["name"]
        for name, test in LAYERS:
            if test(c, m):
                return name
    return "other"


def events(lines):
    """Each event of a `jfr print --json` document. The printer opens the
    first event on the line `    "events": [{`, each next one on `    }, {`,
    and closes the last on `    }]`."""
    body = None
    for line in lines:
        s = line.rstrip("\n")
        if s in ('    "events": [{', "    }, {", "    }]"):
            if body is not None:
                yield json.loads("{" + "".join(body) + "}")
            body = None if s == "    }]" else []
        elif body is not None:
            body.append(line)


def split(lines):
    """({layer: executor samples}, {class: allocation weight}) of the lines
    of a `jfr print --json` document."""
    layers = {name: 0 for name, _ in LAYERS}
    alloc = {}
    for e in events(lines):
        v = e["values"]
        if e["type"] == "jdk.ExecutionSample":
            thread = v.get("sampledThread") or {}
            if (thread.get("javaName") or "").startswith(EXECUTOR):
                layers[layer_of((v.get("stackTrace") or {}).get("frames") or [])] += 1
        elif e["type"] == "jdk.ObjectAllocationSample":
            thread = v.get("eventThread") or {}
            if (thread.get("javaName") or "").startswith(EXECUTOR):
                cls = v["objectClass"]["name"].replace("/", ".")
                alloc[cls] = alloc.get(cls, 0) + v["weight"]
    return layers, alloc


def report(layers, alloc):
    n = sum(layers.values())
    out = [f"executor samples: {n}"]
    for name, k in layers.items():
        out.append(f"  {name:<18} {k:>7}  {100.0 * k / n if n else 0.0:5.1f} %")
    total = sum(alloc.values())
    out.append(f"executor allocation weight: {total / 2**20:.1f} MiB")
    for cls, w in sorted(alloc.items(), key=lambda kv: -kv[1])[:TOP_CLASSES]:
        out.append(f"  {cls:<48} {w / 2**20:9.1f} MiB  {100.0 * w / total:5.1f} %")
    return "\n".join(out)


def main(argv):
    if len(argv) != 2:
        sys.exit("usage: jfr_layers.py <jfr print --json output | ->")
    with (sys.stdin if argv[1] == "-" else open(argv[1], encoding="utf-8")) as fh:
        print(report(*split(fh)))


if __name__ == "__main__":
    main(sys.argv)
