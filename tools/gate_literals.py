#!/usr/bin/env python3
"""Gate-value check over the gate registry in SparkEntry.

Each gate query pairs an engine call in `SparkEntry.queries` with a DuckDB
oracle in `SparkEntry.oracleSql`; both must see the same sizes, thresholds,
windows and round counts. A value is spelled once when it is a named
constant beside the engine code that uses it, read by the engine default,
the registry and the oracle builder alike. A hit is a numeric literal passed
directly to a call on a capitalised object (`Graph.kCore(s, 8)`,
`OracleSql.q97(4, 256)`, `minCos = 0.95`) inside the bodies of `queries` and
`oracleSql`, including `${...}` interpolations inside oracle strings.
Literals inside strings, comments, and calls on values or lowercase
functions (`lit(0.001)`, `col("x") * 1e6`) are not hits. `entry` is not a
gate: it has no oracle.

Run: python3 tools/gate_literals.py   (exits 1 on any hit)
"""
import os
import re
import sys

SOURCE = "src/main/scala/graft/SparkEntry.scala"
REGIONS = ("queries", "oracleSql")
CALL = re.compile(r"\b([A-Z]\w*)\s*\.\s*(\w+)\s*(?:\[[^\]\n]*\])?\s*\(")
NUMBER = re.compile(r"(?<![\w.$])(?:0[xX][0-9a-fA-F]+|\d[\d_]*(?:\.\d+)?(?:[eE][+-]?\d+)?)[LlFfDd]?(?![\w.])")
OPEN, CLOSE = "([{", ")]}"


def blank(text):
    return re.sub(r"[^\n]", " ", text)


def code_only(src):
    """`src` with comments and string contents blanked (lengths and newlines
    kept, so offsets still map to lines); the code inside `${...}` of an
    interpolated string stays."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(blank(src[i:j]))
            i = j
        elif src[i] == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            quote = '"""' if src.startswith('"""', i) else '"'
            j = i + len(quote)
            out.append(blank(quote))
            while j < n and not src.startswith(quote, j):
                if interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    out.append("  " + code_only(src[j + 2:k - 1]) + " ")
                    j = k
                elif quote == '"' and src[j] == "\\":
                    out.append(blank(src[j:j + 2]))
                    j += 2
                else:
                    out.append(blank(src[j]))
                    j += 1
            # a triple-quoted string ends at the last of a run of quotes
            while quote == '"""' and src.startswith('""""', j):
                out.append(" ")
                j += 1
            out.append(blank(src[j:j + len(quote)]))
            i = j + len(quote)
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
            out.append(blank(src[i:j]))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def closing(code, start):
    """Offset just past the bracket that closes the one at `start`."""
    depth = 0
    for j in range(start, len(code)):
        if code[j] in OPEN:
            depth += 1
        elif code[j] in CLOSE:
            depth -= 1
            if not depth:
                return j + 1
    raise ValueError(f"unbalanced bracket at offset {start}")


def region(code, name):
    """(start, end) of the bracketed body of `def <name>`."""
    m = re.search(r"\bdef\s+%s\b(?:=>|[^=\n])*=\s*\w*\s*\(" % name, code)
    if not m:
        raise ValueError(f"def {name} not found")
    return m.end() - 1, closing(code, m.end() - 1)


def hits_in(code, start, end):
    """(offset, call, literal) for each literal passed directly to a call on a
    capitalised object between `start` and `end`."""
    for m in CALL.finditer(code, start, end):
        lo, hi = m.end() - 1, closing(code, m.end() - 1)
        args, depth = [], 0
        for j in range(lo + 1, hi - 1):
            c = code[j]
            depth += (c in OPEN) - (c in CLOSE)
            args.append(c if depth == 0 or c == "\n" else " ")
        for lit in NUMBER.finditer("".join(args)):
            yield lo + 1 + lit.start(), f"{m[1]}.{m[2]}", lit.group(0)


def scan(root):
    """Sorted (path, line, call, literal) hits in the registry under `root`."""
    with open(os.path.join(root, SOURCE), encoding="utf-8") as fh:
        code = code_only(fh.read())
    return sorted((SOURCE, code.count("\n", 0, off) + 1, call, lit)
                  for start, end in (region(code, name) for name in REGIONS)
                  for off, call, lit in hits_in(code, start, end))


def main(root=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))):
    hits = scan(root)
    for path, line, call, lit in hits:
        print(f"{path}:{line}: {call} is passed the literal {lit}; "
              f"name it beside the engine code that uses it")
    print(f"{len(hits)} gate literal(s)")
    return 1 if hits else 0


if __name__ == "__main__":
    sys.exit(main())
