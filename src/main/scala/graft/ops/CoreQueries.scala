package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Session.table

/** The reference's relational/window/rollup operator inventory (SURVEY.md §2)
  * re-expressed over the driver's synthetic tables. Every query here is pure
  * `functions._` Column algebra — no UDFs — so Catalyst gets full pushdown,
  * pruning, and whole-stage codegen, and every double output is either an
  * exact integer-domain sum (cents) or a post-aggregation round, so the
  * DuckDB oracle hashes identically.
  */
object CoreQueries {

  /** Exact money math: sum doubles as integer cents (order-independent,
    * oracle-stable), return cents as BIGINT. */
  private def cents(c: org.apache.spark.sql.Column) =
    sum(floor(c * lit(100.0) + lit(0.5)).cast("long"))

  /** A2/A4-style pushdown aggregation (reference: map-contribution-extractor.js:88-97):
    * partial+final hash agg, filter + 2-column projection pushed to the scan. */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_quantity") > lit(5.0))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        cents(col("l_quantity")).as("qty_cents"),
        cents(col("l_extendedprice")).as("price_cents"))

  /** J1/J2-style broadcast dimension joins (reference: AdvTagTranslator.java:46-54;
    * map-contribution-extractor.js:105-120): two tiny dims broadcast, one
    * shuffle-free probe side. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), cents(col("c_acctbal")).as("acctbal_cents"))

  /** J8-style fact-to-fact equi join + dim (changesets↔objects by id,
    * changesets/README.md:20-21): lineitem⋈orders⋈customer revenue rollup. */
  def joinMulti(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0) + lit(0.5)).cast("long")).as("revenue_cents"))
  }

  /** U2/J3-style semi/anti membership (roster-matched vs unmatched,
    * map-contribution-extractor.js:105,123): per nation, customers with and
    * without orders, via one build of the orders key set. */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = graft.CacheOps.scope { s =>
    val c = table(spark, dir, "customer")
    // the distinct key build is consumed by BOTH the semi and the anti join;
    // materialize it once (same multi-consumer re-execution class as the q45
    // pre-rollup — without this Catalyst scans+distincts orders twice)
    val o = s.checkpoint(table(spark, dir, "orders").select(col("o_custkey")).distinct())
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders"))
    val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders"))
    val res = withO.join(without, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
    // the rollup is dimension-bounded (one row per nation key), so an eager
    // driver materialization is scale-safe — and it lets the scope free the
    // keyset checkpoint on return instead of stranding MEMORY_AND_DISK
    // blocks per invocation for the JVM lifetime (repeated bench reps)
    val rows = res.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  // ---- event-stream windows (the contribution-stream semantics) -----------

  private def eventsWithTs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_s", unix_timestamp(col("ts")))

  private val perUser = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))

  /** W1/J4: valid-interval assembly — `@vU` = next contribution's timestamp
    * (reference: InteractionsBuilder.java:244-248,433). One shuffle by entity. */
  def windowLead(spark: SparkSession, dir: String): DataFrame =
    eventsWithTs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_s").as("vs"),
        lead(col("ts_s"), 1).over(perUser).as("vu"))

  /** J5/J9: intersecting-edit pairs — each edit joined to its predecessor's
    * author via lag (reference: InteractionsBuilder.java:231-232; README.md:26-29).
    * Here: per order, consecutive line suppliers → who-follows-whom pairs. */
  def lagPairs(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data; adding
    // l_suppkey makes the lagged suppkey sequence order-invariant within ties.
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("l_suppkey"))
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        lag(col("l_suppkey"), 1).over(w).as("prev_supp"))
      .filter(col("prev_supp").isNotNull)
      .groupBy(col("l_suppkey"), col("prev_supp"))
      .agg(count(lit(1)).as("n_interactions"))
      .filter(col("n_interactions") > 1)
  }

  /** W4: the minor-version counter with reset — segmented running count
    * (reference: InteractionsBuilder.java:221,322,344). `mv_seg` = running
    * count of major edits; `mv` = position within the segment. */
  def minorVersionCounter(spark: SparkSession, dir: String): DataFrame = {
    val isMajor = col("event_type").isin("signup", "purchase")
    val seg = sum(when(isMajor, 1L).otherwise(0L))
      .over(perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val df = eventsWithTs(spark, dir).withColumn("mv_seg", seg)
    val inSeg = Window.partitionBy(col("user_id"), col("mv_seg"))
      .orderBy(col("ts_s"), col("event_id"))
    df.select(col("user_id"), col("event_id"), col("mv_seg"),
      (row_number().over(inSeg) - lit(1)).as("mv"))
  }

  /** The full interaction classifier shape over the event stream: CRE on first
    * version, DEL (valid exactly 1 s — reference :300-301), MAV on major,
    * MIV otherwise, with `@vS`/`@vU` lead semantics (SURVEY.md §1.1). */
  def interactionsClassify(spark: SparkSession, dir: String): DataFrame = {
    val isMajor = col("event_type").isin("signup", "purchase")
    val isDel = col("event_type") === "error"
    val e = eventsWithTs(spark, dir)
      .withColumn("rn", row_number().over(perUser))
      .withColumn("vu_next", lead(col("ts_s"), 1).over(perUser))
    e.select(
      col("user_id"), col("event_id"),
      when(col("rn") === 1, "CRE")
        .when(isDel, "DEL")
        .when(isMajor, "MAV")
        .otherwise("MIV").as("e"),
      col("ts_s").as("vs"),
      when(col("rn") =!= 1 && isDel, col("ts_s") + 1).otherwise(col("vu_next")).as("vu"),
      col("rn").as("v"))
  }

  /** A2/A10/A11: the Haiti-notebook daily rollup — count, distinct editors,
    * mean version proxy (examples/Haiti Example.ipynb cells 3,9). */
  def dailyRollup(spark: SparkSession, dir: String): DataFrame =
    eventsWithTs(spark, dir)
      .groupBy(floor(col("ts_s") / 86400L).cast("long").as("day"))
      .agg(
        count(lit(1)).as("n_edits"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(floor(col("value") * 100.0 + 0.5).cast("long")) / count(lit(1)) / lit(100.0)).as("mean_value_raw"))
      .withColumn("mean_value", round(col("mean_value_raw"), 4)).drop("mean_value_raw")

  /** W5: 30-day rolling mean of the daily series (Haiti ipynb cell 4). */
  def rolling30(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsWithTs(spark, dir)
      .groupBy(floor(col("ts_s") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(-29, 0)
    daily.select(col("day"), col("n"),
      round(avg(col("n")).over(w), 4).as("rolling30"))
  }

  /** W6: cumulative sum of daily edits (Haiti ipynb cells 6,10). */
  def cumsum(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsWithTs(spark, dir)
      .groupBy(floor(col("ts_s") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    daily.select(col("day"), col("n"), sum(col("n")).over(w).as("cum_n"))
  }

  /** A6/A7: conditional sums per day per class — the team/tile rollup shape
    * (reference: map-contribution-extractor.js:241-252, `<team>-km/-b/-p/-e`
    * pivot columns re-expressed as conditional aggregates). */
  def conditionalRollup(spark: SparkSession, dir: String): DataFrame =
    eventsWithTs(spark, dir)
      .groupBy(floor(col("ts_s") / 86400L).cast("long").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "purchase", floor(col("value") * 100.0 + 0.5).cast("long")).otherwise(0L)).as("purchase_cents"),
        count(lit(1)).as("edits"))

  /** U1: stacked layer union (reference: map-contribution-extractor.js:164-320 —
    * four layers through one writeData). */
  def layerUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsWithTs(spark, dir)
    val byDay = e.groupBy(floor(col("ts_s") / 86400L).cast("long").as("key"))
      .agg(count(lit(1)).as("n")).withColumn("layer", lit("daily"))
    val byUser = e.groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n")).withColumn("layer", lit("user"))
    byDay.unionByName(byUser)
  }

  /** U2: precedence dedup — keep one row per user by deterministic priority
    * (reference: uid-over-handle match, map-contribution-extractor.js:128-135). */
  def dedupPrecedence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    eventsWithTs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event"), col("ts_s").as("first_ts"))
  }

  /** A13/X13: hashtag-style tokenisation + counting
    * (reference: changesets/map-changeset-parser.js:38-46). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 5)
      .groupBy(lower(col("tok")).as("tok"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 10)

  /** X17: nested-JSON predicate/projection (reference:
    * examples/util/map-building-extraction.js:15-36 `JSON.parse(@aA)`). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))

  /** Exact-integer discounted revenue: cents × (10^4 − discount_bp) — the
    * TPC-H `l_extendedprice·(1−l_discount)` aggregate with ZERO FP in the
    * sum (FP revenue is the classic merge-order hash-divergence trap). */
  private def revE4c: Column =
    floor(col("l_extendedprice") * 100.0 + 0.5).cast("long") *
      (lit(10000L) - floor(col("l_discount") * 10000.0 + 0.5).cast("long"))

  /** Gate query (q135): the TPC-H Q3 shape (shipping priority) — segment-
    * filtered customers ⋈ date-filtered orders ⋈ date-filtered lineitems,
    * revenue per order. The customer side broadcasts (dimension-sized after
    * the segment filter); both date predicates push to the parquet scans;
    * the only real exchange is the lineitem⋈orders hash join on orderkey. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
      .where(col("l_shipdate") > lit("1998-06-15").cast("timestamp"))
      .select(col("l_orderkey"), revE4c.as("rev"))
    val o = table(spark, dir, "orders")
      .where(col("o_orderdate") < lit("1998-06-15").cast("timestamp"))
      .join(broadcast(table(spark, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    l.join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"))
      .agg(sum(col("rev")).as("rev_e4c"))
  }

  /** Gate query (q136): the TPC-H Q5 shape (local-supplier volume) —
    * revenue by nation counted only where the customer's and supplier's
    * nations coincide. Customer/supplier/nation dimensions broadcast; the
    * fact chain shuffles once per fact join key. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), revE4c.as("rev"))
    val o = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = table(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val s = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val n = table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
    l.join(o, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .join(broadcast(s), col("s_suppkey") === col("l_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("rev_e4c"))
  }
}
