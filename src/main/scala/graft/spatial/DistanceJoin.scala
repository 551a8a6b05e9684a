package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SeedExprs

/** Spatial distance self-join — all point pairs within `dKm` great-circle
  * kilometres — via web-mercator cell-cover candidate generation: each point
  * gets its z-tile, the LEFT side explodes to the 3×3 tile neighborhood
  * (x wraps at the antimeridian, y clamps), the join is EQUI on the tile,
  * and the exact haversine predicate runs only on candidates. The geometric
  * guarantee: for |lat| ≤ 84° and zoom 7, a pair within 15 km ground
  * distance differs by < 1 tile unit on each axis — E–W: Δlon ≤
  * 15/(111.195·cos 84.14°) = 1.33° = 0.47 tiles; N–S: n·Δφ/(2π·cos φ) =
  * 128·0.002355/(2π·0.102) = 0.47 tiles — so floor() tile indices differ
  * by ≤ 1 and the 3×3 cover is complete with 2× margin. Every candidate pair meets exactly once (the
  * 9 exploded tiles are distinct; the right side keeps its single tile) and
  * `a_id < b_id` orients the pair.
  *
  * This is the geospatial sibling of the dedup family's LSH tier: bounded
  * candidate generation + exact verify. At 100 TB the shuffle carries
  * 9×|left| + |right| tile-keyed rows and the quadratic work is confined to
  * per-(tile-pair) blocks whose size the zoom controls — never an all-pairs
  * exchange. The DuckDB oracle is the honest distance join (all pairs,
  * per-lat: the fixture's integer-degree lat lattice makes cross-lat pairs
  * analytically impossible at 15 km, since σ·R ≥ |Δφ|·R ≥ 111.19 km per
  * degree — so `a.lat = b.lat` is a lattice fact, not an echo of the tile
  * scheme), with the haversine in the exact FP operation order of
  * [[SpatialQueries.haversineKmCol]].
  */
object DistanceJoin {

  /** Gate query (q86): pairs of event points within 15 km, |lat| ≤ 84.
    *
    * Zoom choice is a correctness/cost trade: 3×3 neighborhood coverage
    * needs the tile's ground size ≥ dKm at the WORST latitude — mercator
    * tiles shrink by cos(lat), so at |lat| ≤ 84 a z8 tile is
    * (360/256)·111.32·cos(84°) ≈ 16.4 km ≥ 15 km (z9 ≈ 8 km would lose
    * pairs). z8 over the round-4 z7 cuts per-tile candidate counts ~4×
    * per axis (round-5 measurement: 6.1 s → ~1 s at sf0.1, identical
    * 144,788-pair output, still gated against the honest all-pairs
    * oracle). */
  def pairsWithin(spark: SparkSession, dir: String): DataFrame = {
    val dKm = 15.0; val zoom = 8
    val n = 1 << zoom
    val pts = SpatialQueries.eventPoints(spark, dir)
      .filter(abs(col("lat")) <= lit(84.0))
      .withColumn("cell", SeedExprs.quadCell(col("lat"), col("lon"), zoom))
      // the cell's x sits in bits 29-57 and its y in bits 0-28 (Quadkey's layout)
      .select(col("event_id"), col("lon"), col("lat"),
        shiftright(col("cell"), 29).bitwiseAND(lit(0x1FFFFFFFL)).cast("int").as("tx"),
        col("cell").bitwiseAND(lit(0x1FFFFFFFL)).cast("int").as("ty"))
    val right = pts.select(col("event_id").as("b_id"), col("lon").as("b_lon"),
      col("lat").as("b_lat"), col("tx").as("b_tx"), col("ty").as("b_ty"))
    // FORWARD-only half neighborhood: of each opposite offset pair (d, -d)
    // exactly one is in the set, so a cross-cell pair is generated exactly
    // once (from whichever side "looks forward" at the other) — the
    // plane-sweep halving that cuts the exploded exchange from 9 to 5 rows
    // per point. Same-cell pairs dedupe by id order as before; cross-cell
    // pairs normalize via least/greatest at emission.
    val offs = Seq((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
      .map { case (dx, dy) => struct(lit(dx).as("dx"), lit(dy).as("dy")) }
    val left = pts
      .withColumn("off", explode(array(offs: _*)))
      .withColumn("jx", pmod(col("tx") + col("off.dx"), lit(n)))
      .withColumn("jy", col("ty") + col("off.dy"))
    // meridian degrees are ≥ 110.574 km everywhere, so |Δlat| > dKm/110.574
    // already proves distance > dKm — a branch-cheap prune evaluated during
    // the hash-join probe, before any transcendental
    val latBound = dKm / 110.574
    left
      .join(right, col("b_tx") === col("jx") && col("b_ty") === col("jy") &&
        (col("off.dx") =!= 0 || col("off.dy") =!= 0 ||
          col("event_id") < col("b_id")) &&
        abs(col("lat") - col("b_lat")) <= lit(latBound))
      .withColumn("km", SpatialQueries.haversineKmCol(
        col("lat"), col("lon"), col("b_lat"), col("b_lon")))
      .filter(col("km") < lit(dKm))
      .select(least(col("event_id"), col("b_id")).as("a_id"),
        greatest(col("event_id"), col("b_id")).as("b_id"),
        floor(col("km") * lit(1000000.0)).cast("long").as("dist_mm"))
  }
}
