package graft.ann

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Distributed Gram matrix (Xᵀ·X) over the embedding corpus — the
  * linear-algebra primitive under PCA/whitening/covariance-based pruning of
  * a training set.
  *
  * Exactness: coordinates quantize to an integer lattice first
  * (floor(x·1000 + 0.5) — float→double is exact, one double multiply, both
  * engines identical), so every partial sum is integer and merge order is
  * free — the only way a 10^9-vector Gram hashes deterministically.
  *
  * Scale shape: the textbook outer-product trick — each partition folds its
  * vectors into ONE local d(d+1)/2 accumulator (mapPartitions), and only
  * those d² partials enter the exchange: shuffle volume is
  * O(partitions·d²), independent of the row count. No explode, no
  * per-element join (the oracle does the O(n·d²) join — different
  * evaluation family).
  */
object Gram {

  final case class GRow(i: Int, j: Int, g: Long)

  /** Gate query (q164): upper-triangle entries (i ≤ j) of the quantized
    * Gram matrix. */
  def gramUpper(spark: SparkSession, dir: String): DataFrame = {
    val vecs = table(spark, dir, "embeddings").select(col("embedding"))
    val d = 64
    vecs.mapPartitions { it =>
      val acc = Array.ofDim[Long](d * d)
      var any = false
      it.foreach { r =>
        any = true
        val xs = r.getSeq[Float](0)
        val q = Array.tabulate(d)(k => math.floor(xs(k).toDouble * 1000.0 + 0.5).toLong)
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) { acc(i * d + j) += q(i) * q(j); j += 1 }
          i += 1
        }
      }
      if (!any) Iterator.empty
      else (for (i <- 0 until d; j <- i until d)
        yield GRow(i, j, acc(i * d + j))).iterator
    }(Encoders.product[GRow])
      .groupBy("i", "j").agg(sum(col("g")).as("g"))
  }
}
