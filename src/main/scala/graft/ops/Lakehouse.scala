package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SeedExprs

/** Table-format maintenance operators — the mutation/maintenance side of the
  * Iceberg-style epoch-checkpointed layout (pipeline/Checkpoint.scala is the
  * append path; these are merge-on-read resolution, SCD2 history, change
  * feeds, and compaction planning). Fixtures are splitmix-synthesized and
  * replayed analytically by the DuckDB oracles.
  */
object Lakehouse {

  private def m31(e: org.apache.spark.sql.Column) =
    SeedExprs.mix64(e).bitwiseAND(lit(0x7FFFFFFFL))

  /** Fixture sizes, which the q120-q123 and q147 oracles read. */
  val NBase = 800
  val NDelta = 400
  val Keyspace = 1000
  val NProbes = 600
  val NFiles = 500

  /** Base snapshot: keys [0, NBase) with a seed-derived value. */
  def synthBase(spark: SparkSession): DataFrame =
    spark.range(0, NBase.toLong).select(col("id").as("key"),
      SeedExprs.mix64(col("id").bitwiseXOR(lit(0xBA5EL)))
        .bitwiseAND(lit(0xFFFFL)).as("val"))

  /** Ordered CDC delta stream: seq, key (keyspace larger than base →
    * inserts), op (2 = delete, else upsert), value. */
  def synthDelta(spark: SparkSession): DataFrame =
    spark.range(0, NDelta.toLong).select(col("id").as("seq"),
      (m31(col("id") + 5000000L) % Keyspace).as("key"),
      (m31(col("id") + 6000000L) % 3).as("op"),
      SeedExprs.mix64(col("id") + 7000000L).bitwiseAND(lit(0xFFFFL)).as("val"))

  /** Latest delta op per key (merge-on-read resolution of the CDC stream —
    * ONE window keyed on key; seq is unique so the order is total). */
  private def latest(delta: DataFrame): DataFrame = {
    val w = Window.partitionBy("key").orderBy(col("seq").desc)
    delta.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("key"), col("op"), col("val"))
  }

  /** Gate query (q121): MERGE-style CDC apply — latest op per key wins;
    * deletes drop the row, upserts set the value, untouched base rows pass
    * through. The shape Iceberg calls merge-on-read compaction: a window on
    * the (small) delta + ONE full-outer join keyed on key; base never sorts
    * globally. */
  def mergeApply(spark: SparkSession): DataFrame = {
    val b = synthBase(spark)
    val l = latest(synthDelta(spark))
      .withColumnRenamed("key", "dkey").withColumnRenamed("val", "dval")
    b.join(l, col("key") === col("dkey"), "full_outer")
      .where(!(col("dkey").isNotNull && col("op") === 2))
      .select(coalesce(col("key"), col("dkey")).as("key"),
        when(col("dkey").isNull, col("val")).otherwise(col("dval")).as("val"),
        when(col("dkey").isNull, "base").otherwise("delta").as("src"))
  }

  /** Gate query (q122): SCD2 validity intervals from the CDC stream — each
    * upsert opens an interval at its seq; the key's NEXT op (any type)
    * closes it; open intervals are current. Deletes emit no row but still
    * close their predecessor. One window keyed on key. */
  def scd2(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy("key").orderBy("seq")
    synthDelta(spark)
      .withColumn("valid_to", lead(col("seq"), 1).over(w))
      .where(col("op") =!= 2)
      .select(col("key"), col("seq").as("valid_from"), col("val"),
        col("valid_to"),
        col("valid_to").isNull.cast("long").as("is_current"))
  }

  /** Gate query (q123): the change feed between the base snapshot and the
    * merged snapshot — insert/delete/value-update per key (no-op rewrites
    * excluded). Snapshot diff as a keyed full-outer join, never a sort. */
  def changeFeed(spark: SparkSession): DataFrame = {
    val b = synthBase(spark)
    val m = mergeApply(spark)
      .select(col("key").as("mkey"), col("val").as("mval"))
    b.join(m, col("key") === col("mkey"), "full_outer")
      .where(col("key").isNull || col("mkey").isNull || col("val") =!= col("mval"))
      .select(coalesce(col("key"), col("mkey")).as("key"),
        when(col("key").isNull, "insert").when(col("mkey").isNull, "delete")
          .otherwise("update").as("change"),
        col("val").as("old_val"), col("mval").as("new_val"))
  }

  /** Gate query (q147): temporal VALIDITY join — probe lookups (key, t)
    * joined to the SCD2 version valid at time t (vf ≤ t < vt, NULL vt =
    * open). The plan is a hash equi-join on key with the interval predicate
    * as a residual filter — correct because SCD2 intervals per key are
    * disjoint by construction (each probe matches ≤ 1 version), so no
    * range-partitioning machinery is needed; the q84 binned range join is
    * the fallback when the build side isn't keyed. This is the
    * dimension-at-time lookup every warehouse fact load runs. */
  def temporalJoin(spark: SparkSession): DataFrame = {
    val scd = scd2(spark)
      .select(col("key"), col("valid_from").as("vf"), col("val"),
        col("valid_to").as("vt"))
    val probes = spark.range(0, NProbes.toLong).select(col("id").as("pid"),
      (m31(col("id") + 8000000L) % Keyspace).as("key"),
      (m31(col("id") + 9000000L) % 450).as("t"))
    probes.join(scd, Seq("key"))
      .where(col("t") >= col("vf") && (col("vt").isNull || col("t") < col("vt")))
      .select(col("pid"), col("key"), col("t"), col("val"), col("vf"))
  }

  /** Gate query (q120): compaction planning over a file-manifest table —
    * small files (< 32 MB) bin into jobs by a per-bucket running-size
    * threshold (256 MB target). The cumulative window partitions BY BUCKET
    * (the same key the data files already cluster on), so planning 10^7
    * manifests is one exchange — never a global sort, never a driver loop.
    * Greedy-by-file-order is deterministic and keeps jobs contiguous in id,
    * which is what makes the plan replayable (bin-packing heuristics that
    * reorder by size are equally valid but no better bounded). */
  def compactionPlan(spark: SparkSession): DataFrame = {
    val files = spark.range(0, NFiles.toLong).select(col("id").as("f"),
      (col("id") % 8).as("bucket"),
      (lit(1000000L) + m31(col("id") + 3000000L) % 127000000L).as("size"))
    val w = Window.partitionBy("bucket").orderBy("f")
      .rowsBetween(Window.unboundedPreceding, -1)
    files.where(col("size") < 32000000L)
      .withColumn("cum_before", coalesce(sum(col("size")).over(w), lit(0L)))
      .groupBy(col("bucket"), expr("cum_before div 256000000").as("job"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"),
        min(col("f")).as("min_f"), max(col("f")).as("max_f"))
  }
}
