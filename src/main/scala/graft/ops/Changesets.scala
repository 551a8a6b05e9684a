package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.geo.Geo

/** The changeset pipeline (reference: changesets/index.js + changesets/
  * map-changeset-parser.js): CSV rows with a JSON tag bag → bbox polygon (or
  * degenerate point), spherical area with a < 2500 km² filter, hashtag
  * tokenizing, `hotosm` detection, date parse — re-expressed as one
  * declarative Column chain over rows under the reference's header list.
  */
object Changesets {

  /** The reference's injected header list (changesets/index.js:17). */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("tags", StringType),
    StructField("created_at", StringType),
    StructField("min_lat", DoubleType), StructField("max_lat", DoubleType),
    StructField("min_lon", DoubleType), StructField("max_lon", DoubleType),
    StructField("num_changes", IntegerType),
    StructField("uid", LongType), StructField("user", StringType)))

  /** The ENHANCED header list (changesets/index.js:17, commented-in variant):
    * base 10 columns + per-user aggregates. When the `days` column is present
    * the parser emits the `@u_*` enhanced-user properties
    * (map-changeset-parser.js:63-70). */
  val enhancedSchema: StructType = StructType(schema.fields ++ Seq(
    StructField("num_changesets", LongType), StructField("sum_changes", LongType),
    StructField("first", StringType), StructField("latest", StringType),
    StructField("days", IntegerType)))

  val MaxAreaKm2 = 2500.0

  /** The reference's CSV rows (schema above) → parsed rows. Mirrors
    * changesets/map-changeset-parser.js:13-80. */
  def parse(raw: DataFrame): DataFrame = {
    // enhanced-user columns appear iff the input carried the 15-header form
    // (reference checks HEADERS.indexOf('days') > -1)
    val enhanced = raw.columns.contains("days")
    // DELIBERATE schema deviation from the reference: map-changeset-parser.js
    // :66-67 passes row.first/row.latest through VERBATIM as strings; this
    // engine normalizes them to unix seconds (and the counters to numbers) so
    // the columns are typed, comparable and joinable against the epoch-second
    // timestamps used everywhere else. The oracle encodes the same contract.
    val uCols =
      if (enhanced) Seq(
        col("num_changesets").as("u_changesets"),
        col("sum_changes").as("u_sum_changes"),
        unix_timestamp(col("first")).as("u_first_edit"),
        unix_timestamp(col("latest")).as("u_latest_edit"),
        col("days").as("u_days_editing"))
      else Seq.empty
    val areaUdf = udf { (w: Double, s: Double, e: Double, n: Double) =>
      Geo.bboxAreaKm2(w, s, e, n)
    }
    raw
      .withColumn("area_km2", areaUdf(col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")))
      // area filter (:32 via index.js:26 maxAreaKM)
      .filter(col("area_km2") < MaxAreaKm2)
      // degenerate bbox -> Point (:27-30)
      .withColumn("geom_type",
        when(col("min_lat") === col("max_lat") && col("min_lon") === col("max_lon"), "Point")
          .otherwise("Polygon"))
      // tags JSON parse (:34)
      .withColumn("tag_map", from_json(col("tags"), MapType(StringType, StringType)))
      .withColumn("comment", coalesce(col("tag_map")("comment"), lit("")))
      // hashtags: whitespace tokens starting with '#', lowercased (:36-46)
      .withColumn("hashtags",
        array_distinct(transform(
          filter(split(col("comment"), " "), t => t.startsWith("#")),
          t => lower(t))))
      // HOT detection: comment contains 'hotosm' (:48-52)
      .withColumn("hot", col("comment").contains("hotosm"))
      // date parse -> unix seconds (:61)
      .withColumn("ts", unix_timestamp(col("created_at")))
      .select(Seq(col("id").as("cs_id"), col("uid"), col("user"), col("comment"),
        col("area_km2"), col("geom_type"), col("hashtags"), col("hot"),
        col("ts"), col("num_changes")) ++ uCols: _*)
  }

  /** Deterministic 15-column fixture for the enhanced-user path. */
  def enhancedFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      (1L, """{"comment":"#hotosm-task-123 mapping"}""", "2020-01-24 20:34:15",
        10.0, 10.2, 20.0, 20.2, 40, 7L, "alice", 120L, 4520L, "2014-03-01 08:00:00", "2020-01-24 20:34:15", 210),
      (2L, """{"comment":"corner shop"}""", "2020-01-25 08:00:00",
        -5.0, -5.0, 30.0, 30.0, 1, 8L, "bob", 3L, 17L, "2019-12-01 10:30:00", "2020-01-25 08:00:00", 3),
      (3L, """{"comment":"#import big area"}""", "2020-02-01 12:00:00",
        0.0, 40.0, 0.0, 40.0, 900, 9L, "carol", 999L, 100000L, "2010-01-01 00:00:00", "2020-02-01 12:00:00", 2500)
    )
    parse(rows.toDF(enhancedSchema.fieldNames.toIndexedSeq: _*)
      .withColumn("num_changes", col("num_changes").cast("int"))
      .withColumn("days", col("days").cast("int")))
  }

  /** Deterministic in-memory fixture covering the reference's cases:
    * hashtags incl. #hotosm, degenerate point bbox, >2500 km² rejection,
    * quoted JSON with embedded commas. */
  def fixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      (1L, """{"comment":"#hotosm-task-123 mapping #Buildings","source":"esri"}""",
        "2020-01-24 20:34:15", 10.0, 10.2, 20.0, 20.2, 40, 7L, "alice"),
      (2L, """{"comment":"small fix"}""",
        "2020-01-25 08:00:00", -5.0, -5.0, 30.0, 30.0, 1, 8L, "bob"), // degenerate -> Point
      (3L, """{"comment":"#import big area"}""",
        "2020-02-01 12:00:00", 0.0, 40.0, 0.0, 40.0, 900, 9L, "carol"), // huge -> rejected
      (4L, """{"source":"gps"}""",
        "2020-02-02 09:30:00", 48.0, 48.2, 2.0, 2.2, 12, 10L, "dave") // no comment
    )
    parse(rows.toDF(schema.fieldNames.toIndexedSeq: _*)
      .withColumn("num_changes", col("num_changes").cast("int")))
  }
}
