#!/usr/bin/env python3
"""Name-based reachability check over the engine's main sources.

A hit is a def/val/var/object/class/trait declared under `src/main` whose
name appears nowhere in `src/main` or `perfbench/scala` except where it is
declared. Comments are not references; strings are (generated code names
`Statics` methods by string); `src/test` is not scanned, so a def only specs
call is a hit. `override`s, `implicit`s (reached by type, not by name) and
objects that declare `def main` are not hits; members of a hit object are
reported as that object.

Run: python3 tools/reach.py   (exits 1 on a hit missing from KEEP, or on a
KEEP entry that is no longer a hit)
"""
import os
import re
import sys
from collections import Counter

DECL_ROOT, REF_ROOTS = "src/main", ("src/main", "perfbench/scala")
KEEP = {
    "entry": "SparkEntry.entry, the flagship entry of the driver-facing SparkEntry contract",
    "SafeRows": "per-row isolation for Validate and runEpoch's manifests; wiring it adds behaviour",
    "featuresFromTable": "the north rule's stored-table input; StoredTableSpec pins its byte pruning",
    "repartitionByCellSalted": "the north rule's tile skew treatment; SkewSpec covers it",
    "cellCenterLatLng": "inverts the S2Like projection with its internals; IndexSpec's oracle",
}
# strings are kept; a comment becomes the newlines it spanned
COMMENT = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
DECL = re.compile(r"\b((?:(?:override|implicit|lazy|final|private|protected|sealed|abstract|case)"
                  r"(?:\[\w+\])?\s+)*)(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")


def sources(root, sub):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(f for f in files if f.endswith((".scala", ".java"))):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                code = COMMENT.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'"
                                   else "\n" * m.group(0).count("\n"), fh.read())
            yield os.path.relpath(os.path.join(d, f), root), code


def declarations(rel, code):
    """(rel, line, name, kind, exempt, enclosing containers) per declaration;
    containers nest by indentation, as every source here is laid out."""
    stack = []
    for no, line in enumerate(code.split("\n"), 1):
        indent = len(line) - len(line.lstrip())
        while line.strip() and stack and stack[-1][0] >= indent:
            stack.pop()
        outer = tuple(name for _, name in stack)
        for m in DECL.finditer(line):
            yield rel, no, m[3], m[2], bool(re.search(r"\b(override|implicit)\b", m[1])), outer
            if m[2] in ("object", "class", "trait"):
                stack.append((indent, m[3]))


def scan(root):
    """Sorted (path, line, name) hits under `root`."""
    refs = Counter(w for sub in REF_ROOTS for _, code in sources(root, sub)
                   for w in re.findall(r"\w+", code))
    decls = [d for rel, code in sources(root, DECL_ROOT) for d in declarations(rel, code)]
    declared = Counter(d[2] for d in decls)
    mains = {d[5][-1] for d in decls if d[2] == "main" and d[5]}
    dead = [d for d in decls if not d[4] and d[2] != "main" and d[2] not in mains
            and refs[d[2]] == declared[d[2]]]
    dead_types = {d[2] for d in dead if d[3] in ("object", "class", "trait")}
    return sorted((d[0], d[1], d[2]) for d in dead if not dead_types.intersection(d[5]))


def check(hits, keep):
    """(hits missing from keep, keep entries that are no longer hits)."""
    return [h for h in hits if h[2] not in keep], sorted(set(keep) - {h[2] for h in hits})


def main():
    unlisted, stale = check(scan(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), KEEP)
    for path, line, name in unlisted:
        print(f"{path}:{line}: {name} is reached by nothing outside its declaration")
    for name in stale:
        print(f"KEEP entry {name} is no longer a hit; remove it from tools/reach.py")
    return 1 if unlisted or stale else 0


if __name__ == "__main__":
    sys.exit(main())
