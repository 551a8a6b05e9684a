package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.Session.table
import graft.ops.{AsofJoin, RangeJoin, SaltedJoin, Sketches}

/** Specs for the round-5 join/sketch operators (q82-q85): each pins the
  * implementation against an independent in-Spark or in-Scala reference AND
  * asserts the PLAN property that is the operator's reason to exist. */
class AsofSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("events (user_id, ts) is unique — the as-of total-order precondition") {
    val ev = table(spark, dir, "events")
    assert(ev.groupBy("user_id", "ts").count().filter(col("count") > 1).isEmpty)
  }

  test("as-of matches a per-user scan reference; plan is join-free") {
    val out = AsofJoin.lastPurchase(spark, dir)
    val got = out.select("event_id", "p_event_id", "gap_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // Scala reference: per user, sorted scan carrying the latest purchase
    val rows = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = rows.groupBy(_._2).values.flatMap { evs =>
      val sorted = evs.sortBy(_._3)
      var lastP: Option[(Long, Long)] = None // (p_event_id, p_us)
      sorted.flatMap { case (id, _, us, typ) =>
        if (typ == "purchase") lastP = Some((id, us)) // inclusive: sees itself
        lastP.map { case (pid, pus) => (id, pid, us - pus) }
      }
    }.toSet
    assert(got == expect)

    // the point of the union-tag pattern: NO join operator anywhere
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should be join-free:\n${plan.take(800)}")
  }
}

class RangeJoinSpec extends AnyFunSuite {
  import RangeJoin.WindowUs
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** The naive theta-join formulation of `RangeJoin.priorActivity` (nested
    * loop): the reference the binned equi-join is compared against. */
  private def priorActivityNaive(ev: org.apache.spark.sql.DataFrame) = {
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("e_uid"),
        unix_micros(col("ts").cast("timestamp")).as("e_us"))
    val p = ev.select(col("user_id").as("p_uid"),
      unix_micros(col("ts").cast("timestamp")).as("p_us"), col("value").as("p_value"))
    e.join(p, col("p_uid") === col("e_uid") &&
        col("p_us") >= col("e_us") - WindowUs && col("p_us") < col("e_us"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_prior"),
        sum(floor(col("p_value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("prior_value_cents"))
  }

  test("binned range join equals the naive theta-join; plan is a real equi-join") {
    val binned = RangeJoin.priorActivity(spark, dir)
    val naive = priorActivityNaive(table(spark, dir, "events"))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(toSet(binned) == toSet(naive))
    assert(toSet(binned).nonEmpty)

    binned.count(); naive.count()
    // the differential that matters at scale: the naive join's equi-keys are
    // the USER ONLY (range rides as a residual filter, so the probe walks
    // every same-user row — L·R per key); the binned join's equi-keys
    // include the TIME BIN, so candidates are bounded to the 2-bin
    // neighborhood before any predicate runs.
    val pB = binned.queryExecution.executedPlan.toString
    val pN = naive.queryExecution.executedPlan.toString
    assert(!pB.contains("NestedLoop"), s"binned plan degenerated:\n${pB.take(800)}")
    val smjKeys = "SortMergeJoin \\[([^\\]]*)\\], \\[([^\\]]*)\\]".r
      .findFirstMatchIn(pB)
    assert(smjKeys.exists(m => m.group(1).contains("bin") && m.group(2).contains("bin")),
      s"binned join keys do not include the bin:\n${pB.take(1000)}")
    val joinLineN = pN.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(!joinLineN.contains("bin"),
      "naive plan already joins on a bin — the differential is vacuous:\n" + joinLineN)
  }
}

class SaltedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("salted join equals the plain join; exchange partitions on (key, salt)") {
    val salted = SaltedJoin.revenueByType(spark, dir)
    val plain = table(spark, dir, "lineitem")
      .join(table(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
          .as("revenue_cents"))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(toSet(salted) == toSet(plain) && toSet(salted).nonEmpty)

    salted.count()
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"merge hint lost — broadcast makes the salt a no-op:\n${p.take(600)}")
    val exchangesOnSalt = "hashpartitioning\\([^)]*salt".r.findAllIn(p).size
    assert(exchangesOnSalt >= 2,
      s"expected both join exchanges keyed on (key, salt):\n${p.take(1200)}")
  }
}

class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  val k = 64

  test("KMV merge(sketch(A), sketch(B)) == sketch(A ∪ B)") {
    val li = table(spark, dir, "lineitem")
    val a = li.filter(col("l_linenumber") % 2 === 0)
    val b = li.filter(col("l_linenumber") % 2 === 1)
    val merged = Sketches.merge(
      Sketches.kmvHashes(a, "l_partkey", k),
      Sketches.kmvHashes(b, "l_partkey", k), k)
    val whole = Sketches.kmvHashes(li, "l_partkey", k)
    assert(merged.toSeq == whole.toSeq)
  }

  test("KMV estimate lands near the true distinct count (filled sketch)") {
    val li = table(spark, dir, "lineitem")
    val truth = li.select("l_partkey").distinct().count()
    assert(truth > k, "fixture must overfill the sketch for this test")
    val est = Sketches.estimate(Sketches.kmvHashes(li, "l_partkey", k), k)
    assert(math.abs(est - truth).toDouble / truth < 0.4,
      s"estimate $est vs truth $truth outside the k=64 error envelope")
  }

  test("an unfilled sketch is exact") {
    val li = table(spark, dir, "lineitem")
    val truth = li.select("l_returnflag").distinct().count()
    assert(truth < k)
    // hash the flag's first char code to stay in the long domain
    val keyed = li.select(ascii(col("l_returnflag")).cast("long").as("fk"))
    val est = Sketches.estimate(Sketches.kmvHashes(keyed, "fk", k), k)
    assert(est == truth)
  }

  test("HLL registers merge by elementwise max; plain-Scala replica agrees") {
    val li = table(spark, dir, "lineitem")
    def regsOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
      Sketches.hllRegisters(df, "l_partkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val a = regsOf(li.filter(col("l_linenumber") % 2 === 0))
    val b = regsOf(li.filter(col("l_linenumber") % 2 === 1))
    val whole = regsOf(li)
    assert(a.zip(b).map { case (x, y) => math.max(x, y) }.toSeq == whole.toSeq)

    // independent replica: plain Scala loop over collected keys
    val keys = li.select("l_partkey").collect().map(_.getLong(0))
    val replica = Array.fill(64)(0L)
    keys.foreach { key =>
      val h = graft.functions.Statics.mix64(key)
      val bucket = (h >>> 58).toInt
      val rest = h << 6
      val rho = if (rest == 0L) 59L else java.lang.Long.numberOfLeadingZeros(rest) + 1L
      replica(bucket) = math.max(replica(bucket), rho)
    }
    assert(replica.toSeq == whole.toSeq)
  }

  test("HLL estimate (with Scala-side linear-counting correction) lands near truth") {
    val li = table(spark, dir, "lineitem")
    val truth = li.select("l_partkey").distinct().count().toDouble
    val regs = Sketches.hllRegisters(li, "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val raw = Sketches.hllEstimate(regs).toDouble
    val m = 64.0
    val zeros = regs.count(_ == 0L)
    val est = if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
    assert(math.abs(est - truth) / truth < 0.35,
      s"HLL est $est (raw $raw, zeros $zeros) vs truth $truth")
  }
}

class DistanceJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("tile-neighborhood pairs equal brute-force all-pairs; no pair duplicated; equi-join plan") {
    val out = graft.spatial.DistanceJoin.pairsWithin(spark, dir)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.map(p => (p._1, p._2)).distinct.length,
      "a pair met in more than one tile — the 3x3 cover double-counted")

    // brute force in Spark (crossJoin of the filtered points)
    val pts = graft.spatial.SpatialQueries.eventPoints(spark, dir)
      .filter(abs(col("lat")) <= 84.0).select(col("event_id"), col("lon"), col("lat"))
    val b = pts.select(col("event_id").as("b_id"), col("lon").as("b_lon"),
      col("lat").as("b_lat"))
    val brute = pts.crossJoin(b).filter(col("event_id") < col("b_id"))
      .withColumn("km", graft.spatial.SpatialQueries.haversineKmCol(
        col("lat"), col("lon"), col("b_lat"), col("b_lon")))
      .filter(col("km") < 15.0)
      .select(col("event_id"), col("b_id"),
        floor(col("km") * lit(1000000.0)).cast("long").as("dist_mm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == brute.toSet && got.nonEmpty)

    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"candidate generation degenerated to a product:\n${plan.take(600)}")
  }
}
