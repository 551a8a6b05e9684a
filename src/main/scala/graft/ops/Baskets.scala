package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheOps
import graft.Session.table

/** Frequent-pattern mining: pairwise co-occurrence with support and lift —
  * the market-basket primitive (and, in a training-data pipeline, the
  * "which tags/sources co-occur suspiciously often" diagnostic).
  *
  * Scale shape: the pair generation is a self-join WITHIN the basket key
  * (one equi-join on orderkey), so candidate volume is Σ |basket|² — bounded
  * by the max basket size (13 here), never |items|². The support filter is
  * applied on the pair aggregate BEFORE lift's dimension join, and the
  * per-item counts + the order total are small relations crossed/broadcast
  * back in. Lift is an exact e6 rational: (sup·N·10⁶) div (cnt_a·cnt_b).
  */
object Baskets {

  /** Gate query (q161): item pairs with support ≥ minSup, plus exact lift. */
  def pairRules(spark: SparkSession, dir: String, minSup: Long = 3L): DataFrame =
    CacheOps.scope { s =>
    // the distinct basket relation has FOUR consumers (item counts, order
    // total, both sides of the pair self-join) — materialize its scan +
    // distinct exchange once (guide §2.4), not once per consumer. (A
    // session-width pre-partitioning on the basket key was tried and
    // reverted: it made every SMALL consumer pay a 32-task stage and cost
    // more in scheduling than the wider pair join saved.)
    val b = s.checkpoint(table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
    val item = b.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    val nOrders = b.select(countDistinct(col("o")).as("n_orders"))
    val right = b.select(col("o"), col("p").as("pb"))
    val pairs = b.join(right, Seq("o"))
      .where(col("p") < col("pb"))
      .groupBy(col("p").as("pa"), col("pb"))
      .agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSup)
    pairs
      .join(broadcast(item.select(col("p").as("pa"), col("cnt").as("cnt_a"))), Seq("pa"))
      .join(broadcast(item.select(col("p").as("pb"), col("cnt").as("cnt_b"))), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("sup"), col("cnt_a"), col("cnt_b"),
        expr("(sup * n_orders * 1000000) div (cnt_a * cnt_b)").as("lift_e6"))
  }
}
