package graft.geo

import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Weight-aware centroid — the reference's `turf.centerOfMass` over per-
  * user/day geometry collections (util/map-contribution-extractor.js:203-224,
  * 253-274), as a typed Spark `Aggregator` (SURVEY.md §7.3: the one real
  * custom UDAF this workload needs). Partial aggregation (merge) works, so
  * the shuffle carries 3 doubles per group, never geometry.
  */
object WeightedCentroid {

  final case class CentroidBuf(var sx: Double, var sy: Double, var sw: Double)
  final case class Point(lon: Double, lat: Double)

  /** (lon, lat, weight) rows → weighted mean point. Weight 0 rows ignored;
    * empty group → null (matches turf's behavior on empty collections). */
  val agg: Aggregator[(Double, Double, Double), CentroidBuf, Point] =
    new Aggregator[(Double, Double, Double), CentroidBuf, Point] {
      override def zero: CentroidBuf = CentroidBuf(0.0, 0.0, 0.0)
      override def reduce(b: CentroidBuf, in: (Double, Double, Double)): CentroidBuf = {
        val (lon, lat, w) = in
        b.sx += lon * w; b.sy += lat * w; b.sw += w; b
      }
      override def merge(a: CentroidBuf, b: CentroidBuf): CentroidBuf = {
        a.sx += b.sx; a.sy += b.sy; a.sw += b.sw; a
      }
      override def finish(b: CentroidBuf): Point =
        if (b.sw == 0.0) null else Point(b.sx / b.sw, b.sy / b.sw)
      override def bufferEncoder: Encoder[CentroidBuf] = Encoders.product[CentroidBuf]
      override def outputEncoder: Encoder[Point] = Encoders.product[Point]
    }

  /** Typed column for use in `Dataset.groupByKey(...).agg(...)`. */
  def column: TypedColumn[(Double, Double, Double), Point] = agg.toColumn.name("centroid")
}
