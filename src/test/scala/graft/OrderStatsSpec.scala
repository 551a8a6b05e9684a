package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.OrderStats

/** `OrderStats.distribution` and `OrderStats.atRank` against a plain-Scala
  * brute force over random integer (group, value, weight, weight) rows:
  * values from a small domain (ties), weights from 0..3 (zero weights), one
  * extra group of one row, two weights at once, and the same rows with no
  * group key. */
class OrderStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Rows = Seq[(Int, Int, Long, Long)]

  private def draw(rng: Prop.Rng): Rows = {
    val many = Seq.fill(rng.int(1, 40))(
      (rng.int(0, 3), rng.int(0, 6), rng.int(0, 3).toLong, rng.int(0, 3).toLong))
    many :+ ((9, rng.int(0, 6), rng.int(0, 3).toLong, rng.int(0, 3).toLong))
  }

  /** (group, value) → (a, cum_a, tot_a, b, cum_b, tot_b), by sorting. */
  private def bruteDistribution(rows: Rows): Map[(Int, Int), Seq[Long]] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val byValue = rs.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (v, vs) => (v, vs.map(_._3).sum, vs.map(_._4).sum) }
      val (totA, totB) = (byValue.map(_._2).sum, byValue.map(_._3).sum)
      var (cumA, cumB) = (0L, 0L)
      byValue.map { case (v, a, b) =>
        cumA += a; cumB += b
        (g, v) -> Seq(a, cumA, totA, b, cumB, totB)
      }
    }.toMap

  /** group → the least value whose running `a` reaches ranks 1,
    * (n+1) div 2 and n, n being the group's total `a`. */
  private def bruteAtRank(rows: Rows): Map[Int, Seq[Option[Int]]] =
    bruteDistribution(rows).toSeq.groupBy(_._1._1).map { case (g, cells) =>
      val n = cells.head._2(2)
      def at(rank: Long): Option[Int] =
        cells.collect { case ((_, v), d) if d(1) >= rank => v }.minOption
      g -> Seq(at(1L), at((n + 1) / 2), at(n))
    }

  private def frame(rows: Rows) = {
    import spark.implicits._
    rows.toDF("g", "v", "wa", "wb")
  }

  private def distributionOf(rows: Rows, groups: Seq[String]): Map[(Int, Int), Seq[Long]] =
    OrderStats.distribution(frame(rows), groups, "v", "a" -> col("wa"), "b" -> col("wb"))
      .select(groups.map(col) ++ Seq(col("v"), col("a"), col("cum_a"), col("tot_a"),
        col("b"), col("cum_b"), col("tot_b")): _*)
      .collect().map { r =>
        val k = groups.size
        (if (k == 0) 0 else r.getInt(0), r.getInt(k)) -> (k + 1 until k + 7).map(r.getLong)
      }.toMap

  private def atRankOf(rows: Rows): Map[Int, Seq[Option[Int]]] = {
    val v = col("v"); val cum = col("cum_a")
    OrderStats.distribution(frame(rows), Seq("g"), "v", "a" -> col("wa"))
      .groupBy("g")
      .agg(OrderStats.atRank(v, cum, lit(1L)),
        OrderStats.atRank(v, cum, expr("(tot_a + 1) div 2")),
        OrderStats.atRank(v, cum, col("tot_a")))
      .collect().map(r => r.getInt(0) -> (1 to 3).map(i =>
        if (r.isNullAt(i)) None else Some(r.getInt(i)))).toMap
  }

  test("grouped distribution equals the brute force (ties, zero weights, one-row group, two weights)") {
    Prop.forAllSeeded(trials = 12, seed = 18L) { rng =>
      val rows = draw(rng)
      assert(distributionOf(rows, Seq("g")) == bruteDistribution(rows), rows)
    }
  }

  test("ungrouped distribution equals the brute force over all rows") {
    Prop.forAllSeeded(trials = 12, seed = 19L) { rng =>
      val rows = draw(rng)
      assert(distributionOf(rows, Nil) == bruteDistribution(rows.map(_.copy(_1 = 0))), rows)
    }
  }

  test("atRank at ranks 1, (n+1) div 2 and n equals the least value reaching each rank") {
    Prop.forAllSeeded(trials = 12, seed = 20L) { rng =>
      val rows = draw(rng)
      assert(atRankOf(rows) == bruteAtRank(rows), rows)
    }
  }
}
