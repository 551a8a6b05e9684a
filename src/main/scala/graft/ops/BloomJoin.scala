package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Session.table
import graft.functions.SeedExprs
import graft.synth.ImageSynth

/** Bloom-filter semi-join pruning — the shuffle-volume defence for joins
  * whose build side is selective but too large to broadcast as rows. A
  * from-scratch Bloom filter (bit array + k salted probes of the engine's
  * one hash family, splitmix64) is aggregated over the build keys with
  * partial merge (the
  * shuffle carries `m/64` longs per partition, never keys), collapsed on
  * the driver to a few KB, and pushed into the probe side's scan as a pure
  * Column-algebra predicate (`element_at` + `getbit` — whole-stage codegen,
  * no UDF). The subsequent shuffle join then moves only probe rows that
  * MIGHT match: at 100 TB this is the difference between shuffling the
  * whole fact table and shuffling `|match| + ε·|fact|` rows, with ε the
  * false-positive rate chosen by sizing m (bits) against the build-key
  * cardinality. False positives are eliminated by the exact join itself;
  * false negatives are impossible (every inserted key sets its k bits) —
  * so pruning is invisible to the relation, which is exactly what the
  * DuckDB oracle checks by running the PLAIN join.
  *
  * m must be a power of two: 2^64 is then a multiple of m, so the wrapped
  * two's-complement sum (h1 + i·h2) masked with (m−1) equals the true
  * unsigned value mod m — the Scala insert path and the Column probe path
  * agree bit-for-bit with no unsigned division anywhere.
  */
object BloomJoin {

  /** Per-probe domain separators: probe i tests bit mix(key ^ salt(i)) mod m
    * — k INDEPENDENT splitmix64 hashes rather than Kirsch–Mitzenmacher
    * h1 + i·h2, because the combining add/multiply would run in ANSI Column
    * arithmetic (overflow-checked) while XOR cannot overflow and the
    * wrapping multiplies stay inside the codegen'd mix64 kernel. */
  private def salt(i: Int): Long = i.toLong * 0x9E3779B97F4A7C15L

  final case class BloomBuf(words: Array[Long])

  /** Typed aggregator: Long keys → OR-merged bit array of `m` bits. */
  private def bloomAgg(m: Int, k: Int): Aggregator[Long, BloomBuf, BloomBuf] =
    new Aggregator[Long, BloomBuf, BloomBuf] {
      override def zero: BloomBuf = BloomBuf(new Array[Long](m / 64))
      override def reduce(b: BloomBuf, key: Long): BloomBuf = {
        var i = 0
        while (i < k) {
          val pos = (ImageSynth.mix(key ^ salt(i)) & (m - 1)).toInt
          b.words(pos >>> 6) |= 1L << (pos & 63)
          i += 1
        }
        b
      }
      override def merge(a: BloomBuf, b: BloomBuf): BloomBuf = {
        var i = 0
        while (i < a.words.length) { a.words(i) |= b.words(i); i += 1 }
        a
      }
      override def finish(b: BloomBuf): BloomBuf = b
      override def bufferEncoder: Encoder[BloomBuf] = Encoders.product[BloomBuf]
      override def outputEncoder: Encoder[BloomBuf] = Encoders.product[BloomBuf]
    }

  /** Build the filter over the distinct values of `keyCol` (one pass,
    * partial-merged; driver receives m/64 longs — a scalar, not data). */
  def build(keys: DataFrame, keyCol: String, m: Int, k: Int): Array[Long] = {
    require(Integer.bitCount(m) == 1 && m >= 64, s"m must be a power of 2 >= 64, got $m")
    val ds = keys.select(col(keyCol).cast("long")).as[Long](Encoders.scalaLong)
    ds.select(bloomAgg(m, k).toColumn).head().words
  }

  /** Membership test as pure Column algebra against the broadcast-literal
    * bit array: k codegen'd getbit probes ANDed together. */
  def mightContain(key: Column, words: Array[Long], k: Int): Column = {
    val m = words.length * 64
    val arr = typedLit(words)
    (0 until k).map { i =>
      val pos = SeedExprs.mix64(key.cast("long").bitwiseXOR(lit(salt(i))))
        .bitwiseAND(lit((m - 1).toLong))
      val word = element_at(arr, shiftrightunsigned(pos, 6).cast("int") + lit(1))
      call_function("getbit", word, pos.bitwiseAND(lit(63L)).cast("int")) === lit(1)
    }.reduce(_ && _)
  }

  /** Gate query (q88): lineitem ⋈ urgent orders with the lineitem side
    * Bloom-pruned before the shuffle; merge hint keeps broadcast out so the
    * gate exercises the shuffle-join path the filter exists for. m = 2^17
    * bits (16 KB) over ~4.6k urgent orderkeys at sf0.01 (~9 bits/key,
    * k = 3 → ε ≈ 1%; still ≈ 2.8 bits/key, ε ≈ 33% at sf0.1 — pruning
    * degrades, correctness cannot). */
  def urgentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = build(urgent, "o_orderkey", 1 << 17, 3)
    val pruned = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .filter(mightContain(col("l_orderkey"), bloom, 3))
    pruned.hint("merge")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
          .as("revenue_cents"))
  }
}
