package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CellScalar, SeedExprs}
import graft.index.Quadkey

/** The engine's one tile encoder, [[Quadkey.cellIdOf]], against the two
  * ways generated plans reach it: `SeedExprs.quadCell` compiled by
  * whole-stage codegen and the same expression's interpreted `eval`. The
  * latitudes are where a rounding difference would move a tile: every tile
  * row boundary ±64 ulps, the mercator clamp and just past it, the poles,
  * signed zero and the non-finite values. */
class TileEncoderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ulpsAround(v: Double, k: Int): Seq[Double] = {
    var lo = v
    (0 until k).foreach(_ => lo = math.nextDown(lo))
    Iterator.iterate(lo)(math.nextUp).take(2 * k + 1).toSeq
  }

  private def latitudes(z: Int): Seq[Double] = {
    val n = 1 << z
    (0 to n).flatMap { y =>
      ulpsAround(math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * y / n)))), 64)
    } ++ Seq(Quadkey.MaxLat, -Quadkey.MaxLat, math.nextUp(Quadkey.MaxLat),
      math.nextDown(-Quadkey.MaxLat), 85.1, -85.1, 90.0, -90.0, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  }

  for (z <- Seq(6, 8, 12)) test(s"quadCell: codegen, eval and Quadkey.cellIdOf agree at z$z") {
    val lats = latitudes(z)
    // each latitude with a longitude spread over the globe, so x varies too;
    // the last rows carry a null on either side
    val rows = lats.zipWithIndex.map { case (lat, i) => Row(lat, lat * 2.0 + (i % 3 - 1) * 1e-9) } ++
      Seq(Row(null, 10.0), Row(10.0, null), Row(Double.NaN, Double.NaN), Row(45.0, Double.PositiveInfinity))
    val schema = StructType(Seq(StructField("lat", DoubleType), StructField("lon", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select(col("lat"), col("lon"), SeedExprs.quadCell(col("lat"), col("lon"), z).as("cell"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("quadCell")),
      s"quadCell is not whole-stage compiled:\n$plan")
    val interpreted = CellScalar(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, DoubleType, nullable = true), z, "quadCell")
    val got = df.collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      val (lat, lon) = (r.get(0), r.get(1))
      val eval = interpreted.eval(InternalRow(lat, lon))
      if (lat == null || lon == null) {
        assert(r.isNullAt(2) && eval == null, s"($lat, $lon)")
      } else {
        val want = Quadkey.cellIdOf(r.getDouble(1), r.getDouble(0), z)
        assert(r.getLong(2) == want, f"codegen at lat=${r.getDouble(0)}%.17g lon=${r.getDouble(1)}%.17g")
        assert(eval == want, f"eval at lat=${r.getDouble(0)}%.17g lon=${r.getDouble(1)}%.17g")
      }
    }
  }
}
