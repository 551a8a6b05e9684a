package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table
import graft.functions.SeedExprs

/** Placement operators — how a 100 TB corpus maps onto machines.
  */
object Sharding {

  /** q171's shard count before the one-shard growth; its oracle reads it. */
  val Shards = 10

  /** Gate query (q171) — rendezvous (highest-random-weight) sharding:
    * doc → argmax_s mix(doc_key ⊕ mix(s)) over S shards, the assignment
    * that moves only ~1/(S+1) of keys when a shard is added. Emits the
    * per-shard population under S and S+1 plus the moved-key count — the
    * consistent-hashing contract, measured exactly. The argmax unrolls to
    * a greatest() over S codegen'd splitmix columns (no explode: the S×n
    * candidate relation never materializes), and unsigned comparison is
    * restored by flipping the sign bit (Long order ≠ UBIGINT order). */
  def rendezvous(spark: SparkSession, dir: String): DataFrame = {
    val key = col("doc_id")
    def h(s: Int) = SeedExprs.mix64(key.bitwiseXOR(lit(graft.synth.ImageSynth.mix(s.toLong))))
      .bitwiseXOR(lit(Long.MinValue)) // unsigned-order compare in signed Long
    def assign(nS: Int) = {
      val hs = (0 until nS).map(h)
      val best = hs.reduceLeft((a, b) => greatest(a, b))
      (0 until nS).foldLeft(lit(-1)) { (acc, s) =>
        when(h(s) === best, lit(s)).otherwise(acc)
      }
    }
    val d = table(spark, dir, "documents")
      .select(key, assign(Shards).as("shard_a"), assign(Shards + 1).as("shard_b"))
    val moved = d.agg(sum(when(col("shard_a") =!= col("shard_b"), 1L)
      .otherwise(0L)).as("n_moved"), count(lit(1)).as("n_docs"))
    d.groupBy("shard_a")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("shard_a") === col("shard_b"), 1L).otherwise(0L))
          .as("n_stayed"))
      .crossJoin(broadcast(moved))
      .select(col("shard_a").as("shard"), col("n_before"), col("n_stayed"),
        col("n_moved"), col("n_docs"))
  }

  /** Gate query (q172) — longest-prefix-match join (the routing-table /
    * hierarchical-dictionary lookup): a synthetic route table of binary
    * prefixes over the 15-bit part-key space, each lineitem key matched to
    * its LONGEST covering prefix. The probe explodes each key to its 8
    * candidate (prefix, len) rows map-side — candidates are O(rows·lens),
    * an equi-join on the prefix value, and max(len) per key picks the
    * winner; per-route hit counts come from one more agg. At 10^12 rows
    * the route table is the broadcast side by construction. */
  def lpmJoin(spark: SparkSession, dir: String): DataFrame = {
    // routes: parts divisible by 7; prefix = partkey >> shift at
    // shift = (partkey % 4) + 2, so routes live at 4 lengths; several
    // routes sharing a (shift, prefix) keep the smallest route_id
    val rts = table(spark, dir, "part")
      .where(col("p_partkey") % 7 === 0)
      .select(((col("p_partkey") % 4) + 2).cast("int").as("shift"),
        col("p_partkey").as("route_id"))
      .select(col("shift"), col("route_id"),
        expr("route_id div shiftleft(1, shift)").as("prefix"))
      .groupBy("shift", "prefix").agg(min(col("route_id")).as("route_id"))
    val probes = table(spark, dir, "lineitem")
      .select(col("l_partkey").as("k"))
      .withColumn("shift", explode(array((2 to 5).map(lit): _*)))
      .select(col("k"), col("shift"),
        expr("k div shiftleft(1, shift)").as("prefix"))
    val hits = probes.join(broadcast(rts), Seq("shift", "prefix"))
    // longest prefix = smallest shift; pick per probe ROW (k can repeat in
    // lineitem — aggregate per key first, weighting by multiplicity).
    // NOTE: a localCheckpoint of the twice-consumed distinct hit relation
    // was tried and REVERTED (+0.2 s consistently): the two consumers'
    // subtrees run as overlapping broadcast-build jobs on idle cores, and
    // the checkpoint barrier serialized them — same economics as q129.
    val keyCnt = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
    val bestPerKey = hits.select("k", "shift", "route_id").distinct()
      .groupBy("k").agg(min(col("shift")).as("shift"))
      .join(hits.select("k", "shift", "route_id").distinct(), Seq("k", "shift"))
    bestPerKey.join(keyCnt, Seq("k"))
      .groupBy(col("route_id"), col("shift"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
  }
}
