package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SeedExprs
import graft.index.Quadkey

/** Point-in-polygon join (SURVEY.md J6/F3), Spark-first.
  *
  * Two algorithms, one per size of the polygon side:
  *  - [[withOrdinal]] / [[join]]: the polygon set ships with the plan as a
  *    [[BoundaryIndex]] and every point is probed once, by `explode` over
  *    the codegen `pip_hits` expression ([[SeedExprs.pipHits]]): scan → one
  *    whole-stage-codegen generator, zero shuffles, no per-row JVM object.
  *    The index's 64×64 grid rejects points far from every boundary with two
  *    divisions and an array read, and each boundary's bbox raster decides
  *    most of the rest; only points near a ring edge ray-cast. This is the
  *    one broadcast PIP path; the flagship pipeline and the gate queries all
  *    run it.
  *  - [[joinViaCellCover]]: a distributed equi-join on cell ids, for polygon
  *    sets too large to ship with every task.
  *
  * Scale trade: the index travels as a reference inside the serialized plan
  * and is deserialized once per task, not fetched once per executor like a
  * broadcast variable. Every caller passes 5 rings or fewer; a polygon set
  * large enough for that to matter goes through [[joinViaCellCover]].
  */
object PipJoin {

  /** Cell-cover zoom: z6 tiles are ~5.6° wide, the grain of the fixtures. */
  private val CoverZoom = 6

  /** Rows whose (lonCol, latCol) fall inside a boundary get the ordinal (the
    * position in `boundaries`) of the lowest-id containing boundary in
    * `b_ord`, the highest position among equal lowest ids; rows outside
    * every boundary, or with a null, NaN or out-of-range coordinate, drop.
    * The probe is a generator of 0 or 1 rows, so Catalyst cannot push a
    * copy of it into a filter: it runs once per row. */
  def withOrdinal(points: DataFrame, boundaries: Seq[Boundary],
                  lonCol: String, latCol: String): DataFrame =
    points.withColumn("b_ord", explode(SeedExprs.pipHits(col(lonCol), col(latCol),
      new BoundaryIndex(boundaries.toArray))))

  /** Inner PIP join: [[withOrdinal]] with the boundary's id in `boundary_id`
    * in place of its ordinal. */
  def join(points: DataFrame, boundaries: Seq[Boundary],
           lonCol: String, latCol: String): DataFrame =
    withOrdinal(points, boundaries, lonCol, latCol)
      .withColumn("boundary_id", element_at(lit(boundaries.map(_.id).toArray), col("b_ord") + 1))
      .drop("b_ord")

  /** Distributed PIP join via cell-cover EQUI-join — the path past the
    * broadcast ceiling (north_star: "range-join pushdown on cell ID
    * intervals"). Each boundary explodes to the z6 cells covering its bbox
    * (the discretized cell-ID interval); each point computes its one cell in
    * codegen ([[SeedExprs.quadCell]]), with the same encoder,
    * [[Quadkey.cellIdOf]], that covers the bboxes; the join is a plain equi-join on `cell` that Catalyst plans
    * however the sides' sizes dictate — broadcast for small boundary sets,
    * shuffle hash join when millions of polygons make [[join]]'s shipped
    * index impossible. The exact ray-cast verifies candidates after the join
    * (never in the join condition), and [[join]] parity (lowest id wins)
    * comes from one row_number over the candidate set — which is
    * cover-pruned, NOT the point table. A point with a null coordinate has
    * no cell; a NaN or out-of-range one fails every bbox test (Spark orders
    * NaN above every number). */
  def joinViaCellCover(points: DataFrame, boundaries: Seq[Boundary],
                       lonCol: String, latCol: String, idCol: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val bRows = boundaries.flatMap { b =>
      val x0 = Quadkey.tileX(b.minLon, CoverZoom); val x1 = Quadkey.tileX(b.maxLon, CoverZoom)
      val y0 = Quadkey.tileY(b.maxLat, CoverZoom); val y1 = Quadkey.tileY(b.minLat, CoverZoom)
      for (x <- x0 to x1; y <- y0 to y1)
        yield (Quadkey.cellId(x, y, CoverZoom), b.id, b.lons.toSeq, b.lats.toSeq,
          b.minLon, b.maxLon, b.minLat, b.maxLat)
    }
    val bDf = bRows.toDF("cell", "boundary_id", "__b_lons", "__b_lats",
      "__w", "__e", "__s", "__n")
    val pts = points.withColumn("cell",
      SeedExprs.quadCell(col(latCol), col(lonCol), CoverZoom))
    val inRing = udf { (lon: Double, lat: Double, lons: Seq[Double], lats: Seq[Double]) =>
      graft.geo.Geo.pointInRing(lon, lat, lons.toArray, lats.toArray)
    }
    // bbox rejection on the precomputed scalars (pure Column, codegen) so the
    // ray-cast UDF only runs on rows inside a boundary's bbox
    val cand = pts.join(bDf, Seq("cell"))
      .filter(col(lonCol) >= col("__w") && col(lonCol) <= col("__e") &&
        col(latCol) >= col("__s") && col(latCol) <= col("__n"))
      .filter(inRing(col(lonCol), col(latCol), col("__b_lons"), col("__b_lats")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("boundary_id"))
    cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__b_lons", "__b_lats", "__w", "__e", "__s", "__n", "cell")
  }
}
