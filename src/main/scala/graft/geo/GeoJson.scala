package graft.geo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** GeoJSON feature writing (reference: the geojsonseq sink,
  * InteractionsBuilder.java:427-439 + GeoJsonWriter(18) at :88 — one feature
  * per line, no CRS). Properties are emitted key-sorted so output is
  * byte-deterministic (the reference's HashMap key order was not — SURVEY.md
  * §7.4 #2 — which is exactly why goldens there had to be normalized).
  */
object GeoJson {

  /** Doubles rendered like Java's shortest-roundtrip toString. */
  @inline private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def pointGeometry(lon: Double, lat: Double): String =
    s"""{"type":"Point","coordinates":[${num(lon)},${num(lat)}]}"""

  /** One feature line: properties key-sorted; numeric/boolean values pass
    * through, everything else is escaped as a string. */
  def feature(geometry: String, props: Seq[(String, Any)]): String = {
    val kv = props.sortBy(_._1).map {
      case (k, v: Int) => s""""${escape(k)}":$v"""
      case (k, v: Long) => s""""${escape(k)}":$v"""
      case (k, v: Double) => s""""${escape(k)}":${num(v)}"""
      case (k, v: Boolean) => s""""${escape(k)}":$v"""
      case (k, null) => s""""${escape(k)}":null"""
      case (k, v) => s""""${escape(k)}":"${escape(String.valueOf(v))}""""
    }.mkString(",")
    s"""{"type":"Feature","properties":{$kv},"geometry":$geometry}"""
  }

  /** Gate shape for the geojsonseq sink: run the REAL emission path
    * ([[pointFeatures]]) over the event points, parse every emitted line BACK
    * with `from_json`, and aggregate invariants the DuckDB oracle recomputes
    * from the raw rows. A hash match proves each line is well-formed JSON
    * with the Feature/Point structure, that the shortest-roundtrip numeric
    * formatting loses no precision (parse-back equals the source doubles, or
    * the e6/cents sums diverge), and that every property survives emission —
    * content-level verification of the sink without pinning bytes. */
  def roundTripSummary(pts: DataFrame): DataFrame = {
    val lines = pointFeatures(pts)
    val ddl = "type STRING, properties STRUCT<event_id: BIGINT, event_type: STRING, " +
      "user_id: BIGINT, value: DOUBLE>, geometry STRUCT<type: STRING, coordinates: ARRAY<DOUBLE>>"
    lines.toDF("line")
      .select(from_json(col("line"), ddl, java.util.Collections.emptyMap[String, String]()).as("f"))
      .agg(
        count(lit(1)).as("n_features"),
        sum(when(col("f.type") === "Feature" && col("f.geometry.type") === "Point" &&
          size(col("f.geometry.coordinates")) === 2, 1L).otherwise(0L)).as("n_wellformed"),
        sum(floor(element_at(col("f.geometry.coordinates"), 1) * lit(1e6) + lit(0.5))).as("sum_lon_e6"),
        sum(floor(element_at(col("f.geometry.coordinates"), 2) * lit(1e6) + lit(0.5))).as("sum_lat_e6"),
        sum(col("f.properties.event_id")).as("sum_event_id"),
        countDistinct(col("f.properties.event_type")).as("n_types"),
        sum(floor(col("f.properties.value") * lit(100) + lit(0.5))).as("value_cents"))
  }

  /** Point-feature geojsonseq lines from a DataFrame with lon/lat columns;
    * remaining columns become properties. Write with `.write.text(path)`. */
  def pointFeatures(df: DataFrame): Dataset[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.schema.fieldNames.toSeq
    val li = cols.indexOf("lon"); val la = cols.indexOf("lat")
    require(li >= 0 && la >= 0, "missing lon/lat")
    df.map { row =>
      val props = cols.indices.collect {
        case i if i != li && i != la => cols(i) -> row.get(i)
      }
      feature(pointGeometry(row.getDouble(li), row.getDouble(la)), props.toSeq)
    }
  }
}
