#!/usr/bin/env python3
"""Java-vs-DuckDB libm parity check for the mercator-ty reformulation.

Reads the CSV dumped by `runMain graft.Dev merc` (the latitude and the
engine's `Quadkey.tileYRaw` at z12 as raw IEEE bits, plus its `tileY`),
reconstructs the exact doubles, evaluates the oracle's expression in DuckDB
— `(1 - 0.5*ln((1+sin(r))/(1-sin(r)))/pi())/2*4096` with
r = clamp(lat)/180*pi() — and counts bit-level and tile-level mismatches.
Run: python3 tools/merc_parity.py [/tmp/merc_parity.csv]
"""
import sys, struct, duckdb

path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/merc_parity.csv"
con = duckdb.connect()
con.execute(f"CREATE TABLE raw AS SELECT * FROM read_csv('{path}')")
# reconstruct the JVM's exact doubles from their bit patterns
con.create_function("bits2d", lambda b: struct.unpack("<d", struct.pack("<q", b))[0],
                    ["BIGINT"], "DOUBLE")
q = """
WITH d AS (
  SELECT bits2d(lat_bits) AS lat, bits2d(ty_bits) AS ty_java, ty_tile FROM raw
), e AS (
  SELECT lat, ty_java, ty_tile,
    (1.0 - 0.5 * ln((1.0 + sin(greatest(-85.05112878, least(85.05112878, lat)) / 180.0 * pi()))
                  / (1.0 - sin(greatest(-85.05112878, least(85.05112878, lat)) / 180.0 * pi())))
         / pi()) / 2.0 * 4096.0 AS ty_duck
  FROM d
)
SELECT count(*) AS n,
  sum(CASE WHEN ty_duck <> ty_java THEN 1 ELSE 0 END) AS raw_mismatch,
  sum(CASE WHEN least(4095, greatest(0, floor(ty_duck)::BIGINT)) <> ty_tile THEN 1 ELSE 0 END) AS tile_mismatch,
  max(abs(ty_duck - ty_java)) AS max_abs_diff
FROM e
"""
n, raw_mm, tile_mm, mx = con.execute(q).fetchone()
print(f"rows={n} raw_bit_mismatch={raw_mm} tile_mismatch={tile_mm} max_abs_diff={mx}")
sys.exit(0 if raw_mm == 0 else 1)
