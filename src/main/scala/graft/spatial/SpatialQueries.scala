package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Session.table
import graft.geo.Geo

/** Gate-facing spatial queries: derive deterministic lon/lat from the events
  * table (pure arithmetic, so the DuckDB oracle can derive the identical
  * points) and run the real spatial operators over them.
  */
object SpatialQueries {

  /** Deterministic point cloud from events:
    * lon = fmod(value, 360) − 180 (value ∈ [0.01, ~500] ⇒ well spread),
    * lat = (user_id % 181) − 90 (integer degrees ⇒ boundary-exact).
    * Identical expressions exist in ANSI SQL for the oracle. */
  def eventPoints(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"),
        (col("value") % 360.0 - 180.0).as("lon"),
        (col("user_id") % 181 - 90).cast("double").as("lat"))

  /** Fixture boundary set: 3 disjoint boxes + 1 triangle (non-convex test in
    * ScalaTest; the gate oracle covers boxes + a half-plane-expressible
    * triangle). Mirrors FIXTURES.md §2. */
  // Edge coordinates are deliberately OFF both point lattices (lat = integers,
  // lon = 0.01 grid) so no point ever sits exactly on a boundary edge and the
  // oracle's range predicates agree bit-for-bit with the ray-cast.
  val boundaries: Seq[Boundary] = Seq(
    Boundary("box_a", Array(-179.505, -100.505, -100.505, -179.505, -179.505),
      Array(-89.5, -89.5, -30.5, -30.5, -89.5)),
    Boundary("box_b", Array(-60.505, 20.495, 20.495, -60.505, -60.505),
      Array(-20.5, -20.5, 30.5, 30.5, -20.5)),
    Boundary("box_c", Array(60.495, 169.495, 169.495, 60.495, 60.495),
      Array(35.5, 35.5, 60.5, 60.5, 35.5)),
    // right triangle: (30.25,-80.5) (170.25,-80.5) (30.25,-40.5)
    Boundary("tri_d", Array(30.25, 170.25, 30.25, 30.25),
      Array(-80.5, -80.5, -40.5, -80.5))
  )

  /** J6/F3: point-in-polygon join + per-boundary rollup. */
  def pipJoin(spark: SparkSession, dir: String): DataFrame =
    PipJoin.join(eventPoints(spark, dir), boundaries, "lon", "lat")
      .groupBy(col("boundary_id"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col("user_id")).as("n_users"))

  /** J7/X10/A7: tile assignment + per-tile per-class rollup on a 64×64 grid. */
  def tileRollup(spark: SparkSession, dir: String): DataFrame =
    TileAssign.gridRollup(eventPoints(spark, dir), "lon", "lat", 64,
      "event_type", Seq("click", "view", "purchase"))

  /** J6 via the cell-cover equi-join — identical semantics to [[pipJoin]]
    * through the non-broadcast plan (must agree with q17's oracle exactly). */
  def pipCellJoin(spark: SparkSession, dir: String): DataFrame =
    PipJoin.joinViaCellCover(eventPoints(spark, dir), boundaries,
        "lon", "lat", "event_id")
      .groupBy(col("boundary_id"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col("user_id")).as("n_users"))

  /** kNN via hex-ring expansion vs 5 fixed query points, k=5. */
  val knnQueries: Seq[Knn.QueryPoint] = Seq(
    Knn.QueryPoint(1, -120.0, -60.0), Knn.QueryPoint(2, 0.0, 0.0),
    Knn.QueryPoint(3, 100.0, 40.0), Knn.QueryPoint(4, -30.0, 10.0),
    Knn.QueryPoint(5, 160.0, -70.0))

  def knnHexRing(spark: SparkSession, dir: String): DataFrame =
    Knn.knn(eventPoints(spark, dir), knnQueries, k = 5,
      idCol = "event_id", res = 3)

  /** Great-circle distance in km (haversine), re-expressing turf.lineDistance
    * per segment (reference: util/map-contribution-extractor.js:21-33, turf
    * length), as a pure Column expression that stays inside whole-stage
    * codegen instead of breaking it with a UDF. */
  def haversineKmCol(la1: Column, lo1: Column, la2: Column, lo2: Column): Column = {
    val sLat = sin(radians(la2 - la1) / 2)
    val sLon = sin(radians(lo2 - lo1) / 2)
    val a = sLat * sLat + cos(radians(la1)) * cos(radians(la2)) * sLon * sLon
    lit(2.0 * Geo.EarthRadiusKm) * asin(least(lit(1.0), sqrt(a)))
  }

  /** [[Geo.bboxAreaKm2]] as a pure Column expression: the 5-point bbox ring's
    * spherical shoelace unrolled in the exact term/addition order of
    * [[Geo.sphericalRingAreaM2]] (zero terms included, so FP results match
    * the scalar fn bit-for-bit). */
  def bboxAreaKm2Col(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column = {
    def term(lo1: Column, la1: Column, lo2: Column, la2: Column): Column =
      (radians(lo2) - radians(lo1)) * (lit(2.0) + sin(radians(la1)) + sin(radians(la2)))
    val total = term(minLon, minLat, maxLon, minLat) +
      term(maxLon, minLat, maxLon, maxLat) +
      term(maxLon, maxLat, minLon, maxLat) +
      term(minLon, maxLat, minLon, minLat) +
      term(minLon, minLat, minLon, minLat)
    abs(total * lit(Geo.TurfRadiusM) * lit(Geo.TurfRadiusM) / lit(2.0)) / lit(1e6)
  }

  /** X8: haversine track length per user (consecutive points by ts) —
    * rounded to 6 dp post-aggregation for oracle stability. Pure Column
    * algebra (no UDF): the whole window→distance→agg pipeline codegens. */
  def haversineTracks(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val pts = eventPoints(spark, dir)
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .filter(col("plon").isNotNull)
    pts.withColumn("seg_km", haversineKmCol(col("plat"), col("plon"), col("lat"), col("lon")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segs"),
        round(sum(floor(col("seg_km") * 1000.0).cast("long")) / 1000.0, 3).as("track_km"))
  }

  /** X11: per-user bbox + spherical area class (exact integer-bucketed output:
    * area bucketed to powers of ten so FP noise cannot flip the hash). */
  def bboxAreas(spark: SparkSession, dir: String): DataFrame = {
    eventPoints(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"))
      .withColumn("area_km2", bboxAreaKm2Col(col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")))
      .select(col("user_id"),
        floor(col("min_lon") * 1e6 + 0.5).cast("long").as("min_lon_e6"),
        floor(col("max_lon") * 1e6 + 0.5).cast("long").as("max_lon_e6"),
        col("min_lat").cast("long").as("min_lat"), col("max_lat").cast("long").as("max_lat"),
        floor(log10(greatest(col("area_km2"), lit(1.0)))).cast("long").as("area_mag"))
  }
}
