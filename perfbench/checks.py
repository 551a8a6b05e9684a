"""Output checks, run after the timed window: engine results (parquet the
harness wrote) against DuckDB oracles, canonicalized exactly as the
repository's gate check (`tools/gatecheck.py`) does."""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """(sorted column names, row count, md5 of the sorted canonical rows) —
    columns sorted by name, floats as %.10g, everything else str()."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append(f"{v:.10g}")
            else:
                row.append(str(v))
        rows.append("|".join(row))
    rows.sort()
    return cols, len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def canon_parquet(path):
    return canon(duckdb.sql(f"SELECT * FROM '{path}/*.parquet'").df())


def canon_sql(sql, data_dir=None, memory_limit=None):
    con = duckdb.connect()
    if memory_limit:
        con.execute(f"SET memory_limit='{memory_limit}'")
        con.execute("SET threads=2")
    if data_dir:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return canon(con.sql(sql).df())


def oracle_key(sql, data_dir):
    """Cache key of an oracle result: its SQL text and the data it reads."""
    return hashlib.sha256(f"{os.path.basename(data_dir or '')}\n{sql}".encode()).hexdigest()


class Oracles:
    """DuckDB oracle canons, looked up by `oracle_key` in the committed cache
    (perfbench/expected/oracles.json), then in the build directory's cache,
    and otherwise evaluated live and stored in the build directory's cache.
    A changed oracle or data set changes the key, so a stale entry can never
    be used."""

    def __init__(self, committed, local):
        self.committed, self.local = committed, local
        self.entries = {}
        for path in (committed, local):
            if os.path.exists(path):
                self.entries.update(json.load(open(path)))

    def canon(self, name, sql, data_dir=None, live=True):
        key = oracle_key(sql, data_dir)
        e = self.entries.get(key)
        if e is None:
            if not live:
                return None
            cols, rows, digest = canon_sql(sql, data_dir, memory_limit="3GB")
            e = self.entries[key] = {"query": name, "cols": cols, "rows": rows, "hash": digest}
            local = json.load(open(self.local)) if os.path.exists(self.local) else {}
            local[key] = e
            json.dump(local, open(self.local, "w"), indent=1, sort_keys=True)
        return e["cols"], e["rows"], e["hash"]


def compare(got, want):
    """A check record for engine canon `got` vs oracle canon `want`."""
    (gc, gn, gh), (wc, wn, wh) = got, want
    ok = gc == wc and gn == wn and gh == wh
    detail = "ok" if ok else json.dumps({
        "rows": gn, "oracle_rows": wn, "cols_equal": gc == wc, "hash_equal": gh == wh})
    return ok, detail


def gate(run_dir, data_dir, queries, oracles):
    """{query: (ok, detail)} for every gate query of the run."""
    sqls = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    out = {}
    for q in queries:
        d = os.path.join(run_dir, "gate", q)
        if not os.path.isdir(d):
            out[q] = (False, "no result (every call failed)")
        elif q not in sqls:
            out[q] = (False, "no oracle")
        else:
            try:
                out[q] = compare(canon_parquet(d), oracles.canon(q, sqls[q], data_dir))
            except Exception as ex:  # an oracle or read error fails the query
                out[q] = (False, f"{type(ex).__name__}: {str(ex)[:200]}")
    return out


def tile(run_dir, n, oracles):
    """(ok, detail, oracle_rows) for the flagship result at size `n`. Its
    oracle takes minutes at benchmark sizes, so it is never evaluated during
    a run: it must be in the cache (perfbench/oracle_cache.py puts it there)."""
    sql = open(os.path.join(run_dir, "tile_oracle.sql")).read()
    want = oracles.canon(f"q32({n})", sql, live=False)
    if want is None:
        return False, f"OracleSql.q32({n}) is not cached: run perfbench/oracle_cache.py", -1
    ok, detail = compare(canon_parquet(os.path.join(run_dir, "tile")), want)
    return ok, detail, want[1]


def ingest_cycle(cycle, n):
    """Problems with one stop→resume→validate cycle's manifests and
    validation summary (empty when all hold)."""
    bad = []
    ms = cycle["manifests"]
    for m in ms:
        if not (m["nPixelsOk"] == m["nCaptionsOk"] == m["rowCount"]):
            bad.append(f"bucket {m['bucket']}: pixels/captions ok != rowCount")
    if sum(m["rowCount"] for m in ms) != n:
        bad.append(f"sum rowCount {sum(m['rowCount'] for m in ms)} != {n}")
    if cycle["committed_rows"] != n:
        bad.append(f"rows committed by stop+resume {cycle['committed_rows']} != {n}")
    s = cycle.get("summary") or {}
    for k in ("n_rows", "n_pixels_ok", "n_captions_ok", "n_phash_ok"):
        if s.get(k) != n:
            bad.append(f"validate {k} = {s.get(k)} != {n}")
    if s.get("jpg_psnr_above_40") is not True:
        bad.append("validate: a jpg row is below 40 dB PSNR")
    return bad
