package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table
import graft.functions.SeedExprs

/** Rectangle–rectangle overlap join (changeset-bbox × AOI-bbox shape,
  * changesets README: area-filtered changeset rectangles) via grid-cell
  * cover candidates + exact overlap verify — the generate→verify pattern
  * the dedup/ANN tiers use, applied to 2-D extents.
  *
  * Candidate completeness: two rectangles overlap iff their intersection is
  * a non-empty rectangle; that rectangle lies inside some grid cell row/col
  * range, and any cell containing a piece of it belongs to BOTH covers — so
  * the (cell ⋈ cell) equi-join has recall 1 (the oracle proves it against
  * the honest all-pairs predicate). Exchange carries (cell, id, extent)
  * rows: cover size is bounded by ceil(w/cellW)·ceil(h/cellH), and at
  * 10^12 rows the cell key is exactly the co-location key Iceberg-style
  * layouts bucket on (q62's layout). A bbox spanning many cells is the
  * skew knob — cell size must be chosen ≥ typical extent (here 5.6°×2.8°
  * vs extents ≤ 4°×2.5°, so covers are ≤ 2×2 ≈ 4 cells).
  */
object BoxJoin {

  /** The gate inputs their oracles read: [[overlapJoin]]'s box counts per
    * side (q112), [[adaptiveTiles]]' refinement cap (q127) and
    * [[gridClusters]]' density threshold in points per 10^4 (q131). */
  val OverlapA = 150
  val OverlapB = 600
  val TileCap = 15L
  val ClusterMinPtsBp = 15L

  private def u20(seed: Column): Column =
    SeedExprs.mix64(seed).bitwiseAND(lit(1048575L)).cast("double") / 1048575.0

  private def u8(seed: Column): Column =
    SeedExprs.mix64(seed).bitwiseAND(lit(255L)).cast("double") / 256.0

  /** Deterministic rectangle set: id, x0, y0, w, h (replayed analytically by
    * the DuckDB oracle via the shared splitmix arithmetic). */
  def synthBoxes(spark: SparkSession, n: Int, base: Long, wBase: Long,
                 hBase: Long, prefix: String): DataFrame = {
    val id = col("id")
    spark.range(0, n.toLong).select(
      id.as(s"${prefix}id"),
      (u20(id * 2 + base) * 350.0 - 180.0).as(s"${prefix}x0"),
      (u20(id * 2 + 1 + base) * 170.0 - 90.0).as(s"${prefix}y0"),
      (u8(id + wBase) * 3.0 + 1.0).as(s"${prefix}w"),
      (u8(id + hBase) * 2.0 + 0.5).as(s"${prefix}h"))
  }

  /** Explode a rectangle to its covering cells on the 64×64 lon/lat grid. */
  private def withCells(df: DataFrame, x0: String, y0: String, w: String,
                        h: String): DataFrame =
    df.withColumn("x", explode(sequence(
        greatest(floor((col(x0) + 180.0) / 5.625).cast("long"), lit(0L)),
        least(floor((col(x0) + col(w) + 180.0) / 5.625).cast("long"), lit(63L)))))
      .withColumn("y", explode(sequence(
        greatest(floor((col(y0) + 90.0) / 2.8125).cast("long"), lit(0L)),
        least(floor((col(y0) + col(h) + 90.0) / 2.8125).cast("long"), lit(63L)))))

  /** Gate query (q112): all overlapping (a, b) rectangle pairs. */
  def overlapJoin(spark: SparkSession, na: Int = OverlapA, nb: Int = OverlapB): DataFrame = {
    val a = withCells(synthBoxes(spark, na, 1000L, 5000L, 7000L, "a"),
      "ax0", "ay0", "aw", "ah")
    val b = withCells(synthBoxes(spark, nb, 9000L, 13000L, 17000L, "b"),
      "bx0", "by0", "bw", "bh")
    a.join(b, Seq("x", "y"))
      .where(col("ax0") <= col("bx0") + col("bw") &&
        col("bx0") <= col("ax0") + col("aw") &&
        col("ay0") <= col("by0") + col("bh") &&
        col("by0") <= col("ay0") + col("ah"))
      .select(col("aid"), col("bid"))
      .distinct() // a pair can share up to 4 cells
  }

  /** Gate query (q113): 3×3-kernel tile-smoothed density over the event
    * point cloud — integer kernel weights (4/2/2/1) so the per-tile sums are
    * merge-order-free and hash-exact. The neighborhood explode is the
    * standard border-replication trick for distributed raster smoothing:
    * each point contributes to 9 (tile, weight) rows map-side, then ONE
    * hash aggregation — no cross-partition halo exchange, because the
    * replication happens before the shuffle rather than after it. */
  def tileDensity(spark: SparkSession, dir: String): DataFrame = {
    val pts = SpatialQueries.eventPoints(spark, dir)
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"),
        lit(if (dx == 0 && dy == 0) 4L else if (dx == 0 || dy == 0) 2L else 1L)
          .as("w"))): _*)
    pts.select(
        ZOrder.gridX(col("lon"), 6).as("tx"),
        ZOrder.gridY(col("lat"), 6).as("ty"))
      .withColumn("o", explode(offs))
      .select((col("tx") + col("o.dx")).as("x"), (col("ty") + col("o.dy")).as("y"),
        col("o.w"))
      .where(col("x") >= 0 && col("x") < 64 && col("y") >= 0 && col("y") < 64)
      .groupBy("x", "y").agg(sum(col("w")).as("density"))
  }

  /** Gate query (q127): adaptive quadtree refinement — coarse (z6-style
    * 64×64) tiles whose count exceeds `cap` are re-emitted at the finer
    * 256×256 level; the rest stay coarse. ONE pass over the points: counts
    * aggregate at the FINE level first, the coarse level is a rollup of the
    * fine counts (tiles, not points, enter the second exchange — the
    * hierarchical-rollup trick that makes adaptive indexing affordable at
    * 10^12 rows), and the hot-tile set is broadcast back over the fine
    * relation. This is the density-adaptive layout step a skewed metro
    * table needs before bucketing (SkewSpec's subject, as an operator). */
  def adaptiveTiles(spark: SparkSession, dir: String, cap: Long = TileCap): DataFrame = {
    val g = SpatialQueries.eventPoints(spark, dir).select(
      ZOrder.gridX(col("lon"), 8).as("x8"),
      ZOrder.gridY(col("lat"), 8).as("y8"))
    val c8 = g.groupBy(col("x8"), col("y8"),
        expr("x8 div 4").as("x6"), expr("y8 div 4").as("y6"))
      .agg(count(lit(1)).as("n"))
    val c6 = c8.groupBy("x6", "y6").agg(sum(col("n")).as("n"))
    val hot = c6.where(col("n") > cap).select("x6", "y6")
    val fine = c8.join(broadcast(hot), Seq("x6", "y6"))
      .select(col("x8").as("x"), col("y8").as("y"), lit(8L).as("z"), col("n"))
    val coarse = c6.join(broadcast(hot), Seq("x6", "y6"), "left_anti")
      .select(col("x6").as("x"), col("y6").as("y"), lit(6L).as("z"), col("n"))
    coarse.unionByName(fine)
  }

  /** Gate query (q167): inverse-distance-weighted surface interpolation —
    * the scattered-samples→raster step (heatmap of "typical value" per
    * tile, kriging's cheap cousin). Each sample contributes its value to
    * its 3×3 tile neighborhood with INTEGER weights 10⁶ div (1 + d²)
    * (1e6 / 5e5 / 333333) so both Σw·v and Σw are exact and merge-order-
    * free; the interpolated value is one integer division. Identical
    * exchange shape to q113's KDE: replication happens map-side BEFORE the
    * single hash aggregation — no halo exchange. */
  def idwSurface(spark: SparkSession, dir: String): DataFrame = {
    val pts = SpatialQueries.eventPoints(spark, dir)
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"),
        lit(1000000L / (1L + dx * dx + dy * dy)).as("w"))): _*)
    pts.select(
        ZOrder.gridX(col("lon"), 6).as("tx"),
        ZOrder.gridY(col("lat"), 6).as("ty"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("o", explode(offs))
      .select((col("tx") + col("o.dx")).as("x"), (col("ty") + col("o.dy")).as("y"),
        col("o.w"), (col("o.w") * col("cents")).as("wv"))
      .where(col("x") >= 0 && col("x") < 64 && col("y") >= 0 && col("y") < 64)
      .groupBy("x", "y")
      .agg(sum(col("w")).as("sw"), sum(col("wv")).as("swv"))
      .select(col("x"), col("y"), col("sw"),
        expr("swv div sw").as("idw_cents"))
  }

  /** Gate query (q131): grid-density clustering (the GBSCAN / grid-DBSCAN
    * shape): tiles with ≥ minPts points are "dense"; dense tiles merge into
    * clusters by 4-adjacency, resolved with the SAME hash-min label
    * propagation engine the dedup pair graph uses
    * ([[graft.text.Dedup.componentLabels]] — one definition, both domains).
    * Density estimation is one point exchange; everything after runs on
    * TILES (hot-tile adjacency via two equi-joins on shifted coordinates,
    * never a distance join), which is what makes density clustering
    * tractable at 10^12 points — the classic grid approximation of DBSCAN
    * with the ε-neighborhood quantized to the tile graph. Isolated dense
    * tiles are their own clusters. Oracle: recursive-CTE closure over the
    * same adjacency (the q63 different-algorithm-family discipline). */
  def gridClusters(spark: SparkSession, dir: String,
                   minPtsBp: Long = ClusterMinPtsBp): DataFrame = graft.CacheOps.scope { s =>
    // density threshold RELATIVE to the corpus (minPtsBp per 10^4 points):
    // a fixed absolute cap stops meaning "dense" the moment the table grows
    // — at 10x the rows, near-every tile crossed the old bar and the hot
    // graph became a >64-diameter snake (caught by the sf0.1 gate, round 5)
    val total = table(spark, dir, "events").count()
    val minPts = math.max(1L, minPtsBp * total / 10000L)
    val hot = s.checkpoint(SpatialQueries.eventPoints(spark, dir).select(
        ZOrder.gridX(col("lon"), 6).as("x"),
        ZOrder.gridY(col("lat"), 6).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
      .where(col("n") >= minPts)
      .withColumn("tid", col("x") * 64 + col("y"))) // consumed by 2 adjacency joins + the final rollup
    val right = hot.select(col("x").as("rx"), col("y").as("ry"),
      col("tid").as("rtid"))
    // two EQUI-joins (right/up neighbor), not one OR-join — the OR form
    // degrades to a nested-loop; these stay hash joins on shifted keys
    val pairsR = hot.join(right,
      col("rx") === col("x") + 1 && col("ry") === col("y"))
    val pairsU = hot.join(right,
      col("rx") === col("x") && col("ry") === col("y") + 1)
    val pairs = pairsR.unionByName(pairsU)
      .select(least(col("tid"), col("rtid")).as("a"),
        greatest(col("tid"), col("rtid")).as("b"))
    val labels = graft.text.Dedup.componentLabels(pairs)
      .withColumnRenamed("doc_id", "tid")
    val singles = hot.select("tid")
      .join(labels.select("tid"), Seq("tid"), "left_anti")
      .withColumn("label", col("tid"))
    s.checkpoint(labels.unionByName(singles)
      .join(hot.select("tid", "n"), "tid")
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_tiles"), sum(col("n")).as("n_points")))
  }
}
