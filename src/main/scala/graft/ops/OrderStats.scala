package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session.table

/** Distributed order statistics: the value-distribution kernel under every
  * exact quantile, rank and tail, exact grouped quantiles and the 2-D skyline
  * (Pareto frontier). All are EXACT — integer cents, deterministic
  * tie-breaks — so they hash-gate against DuckDB; percentile_approx-style
  * sketches already exist separately (q95 mergeable histogram quantiles).
  */
object OrderStats {

  /** The value distribution under every exact order statistic: one row per
    * (`groups`, distinct `value`) carrying, for each named weight `w`, its
    * sum at that value (`w`), the running sum over the group's values up to
    * and including this one (`cum_w`) and the group's total (`tot_w`).
    * Nearest-rank quantiles ([[atRank]]), mid-ranks (`2·(cum − w) + w + 1`),
    * CDFs and tails (`tot − cum`) all read these three columns.
    *
    * With a group key the rows hash-partition ONCE on it (no width, so AQE
    * sizes the exchange): the (group, value) aggregate, both windows and any
    * rollup by group afterwards all cluster on the group, so the pipeline
    * pays one exchange where a map-side partial aggregate would add a second
    * keyed on (group, value) — and values that are near-unique per row give
    * that partial aggregate nothing to compress. With no group key the
    * values aggregate map-side and the windows run over the distinct-value
    * relation in one task: the data-sized exchange is the aggregate, never a
    * sort of the input. */
  def distribution(rows: DataFrame, groups: Seq[String], value: String,
                   weights: (String, Column)*): DataFrame = {
    val byGroup = Window.partitionBy(groups.map(col): _*)
    val upTo = byGroup.orderBy(value)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sums = weights.map { case (w, c) => sum(c).as(w) }
    val clustered = if (groups.isEmpty) rows else rows.repartition(groups.map(col): _*)
    clustered.groupBy((groups :+ value).map(col): _*).agg(sums.head, sums.tail: _*)
      .select((groups :+ value).map(col) ++ weights.flatMap { case (w, _) =>
        Seq(col(w), sum(col(w)).over(upTo).as(s"cum_$w"), sum(col(w)).over(byGroup).as(s"tot_$w"))
      }: _*)
  }

  /** The value at nearest rank `rank` of a [[distribution]] group — the
    * least value whose running weight `cum` reaches it — as an aggregate. */
  def atRank(value: Column, cum: Column, rank: Column): Column =
    min(when(cum >= rank, value))

  /** Gate query (q114): exact per-group lower-median and nearest-rank p90 of
    * order totals in integer cents, read off the per-priority
    * [[distribution]] at ranks (n+1) div 2 and (9n+9) div 10. */
  def groupedMedian(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    distribution(o, Seq("grp"), "cents", "n" -> lit(1L))
      .groupBy("grp")
      .agg(atRank(col("cents"), col("cum_n"), expr("(tot_n + 1) div 2")).as("median_cents"),
        atRank(col("cents"), col("cum_n"), expr("(9 * tot_n + 9) div 10")).as("p90_cents"),
        max(col("tot_n")).as("n"))
  }

  /** DISTRIBUTED global row numbering — the primitive behind exact deciles,
    * RFM scores, and any "rank over everything" need. A partition-less
    * `Window.orderBy` plans every row into ONE task; this instead
    * range-partitions on the sort key, sorts within partitions, and takes
    * the global index from `zipWithIndex` (which runs one lightweight
    * count-per-partition job and prefix-offsets the iterators — the
    * two-pass trick, built in). Deterministic iff `sortCols` is a total
    * order. Appends `rn` (1-based). */
  def distributedRowNumber(df: DataFrame, parts: Int,
                           sortCols: Column*): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("rn",
          org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Gate query (q138): equi-depth decile binning of order prices × order
    * status — the feature-binning/class-odds table a training pipeline
    * derives before encoding categorical features. The global rank comes
    * from [[distributedRowNumber]] (never a single-task window); the
    * DuckDB oracle computes the SAME rank via a window row_number — a
    * different mechanism, so agreement pins the distributed ranking. */
  def decileClassMix(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .select(floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
        col("o_orderstatus"), col("o_orderkey"))
    val n = o.count()
    distributedRowNumber(o, 8, col("cents"), col("o_orderkey"))
      .select(col("o_orderstatus"),
        least(expr(s"((rn - 1) * 10) div $n"), lit(9L)).as("decile"))
      .groupBy("decile", "o_orderstatus").agg(count(lit(1)).as("n"))
  }

  /** Gate query (q141): RFM segmentation — per purchasing user, recency /
    * frequency / monetary quintile scores (1–5), each from an exact global
    * rank via [[distributedRowNumber]] with (value, user_id) total orders.
    * Three small rankings over the USER-level rollup (users ≪ events), all
    * deterministic integers. */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("cents"))
    val n = p.count()
    def score(df: DataFrame, by: Column, out: String): DataFrame =
      distributedRowNumber(df, 4, by, col("user_id"))
        .withColumn(out, least(expr(s"((rn - 1) * 5) div $n"), lit(4L)) + 1L)
        .drop("rn")
    val r = score(p, col("last_us"), "r_score")
    val f = score(r, col("freq"), "f_score")
    score(f, col("cents"), "m_score")
      .select(col("user_id"), col("r_score"), col("f_score"), col("m_score"),
        col("freq"), col("cents"))
  }

  /** Gate query (q148): key-skew profiler — the diagnostics pass that tells
    * a pipeline WHERE to salt before a join melts an executor. Key counts
    * rank via [[distributedRowNumber]] (ordered heaviest-first); the report
    * is one row of exact integers: key count, total rows, top-1 / top-10 /
    * top-1% mass, and the top-key share in e6. At 10^9 keys the ranking is
    * the only non-trivial step and it's the same two-pass range machinery
    * as q138/q141 — never a single-task window. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val k = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("n"))
    val ranked = distributedRowNumber(k, 8, col("n").desc, col("key"))
    val nk = ranked.count()
    val onePct = nk / 100 + 1
    ranked.agg(
      count(lit(1)).as("n_keys"), sum(col("n")).as("total_rows"),
      max(when(col("rn") === 1, col("n"))).as("top1_n"),
      sum(when(col("rn") <= 10, col("n")).otherwise(0L)).as("top10_n"),
      sum(when(col("rn") <= onePct, col("n")).otherwise(0L)).as("top1pct_n"))
      .select(col("n_keys"), col("total_rows"), col("top1_n"), col("top10_n"),
        col("top1pct_n"),
        expr("(1000000 * top1_n) div total_rows").as("top1_share_e6"))
  }

  /** Gate query (q115): the 2-D skyline (minimize price, maximize size) of
    * the part table, with the member count per skyline point.
    *
    * DISTRIBUTED sort-based skyline — deliberately not a `Window.orderBy`
    * with no partition key (that plans every row into ONE task, the classic
    * local-mode trap that dies at scale):
    *   1. distinct (price, size) points, range-repartitioned on
    *      (price asc, size desc) and sorted within partitions;
    *   2. per-partition LOCAL skyline via a linear running-strict-max scan
    *      (mapPartitions — imperative per-partition logic is the documented
    *      last resort, and a positional scan is exactly that);
    *   3. per-partition max-size scalars (P values) collect to the driver;
    *      each partition then drops local-skyline points dominated by any
    *      EARLIER partition's prefix max — a broadcast of a P-length array,
    *      never a second shuffle.
    * Dominance is strict-in-one-coordinate (ties are mutually non-dominating
    * but collapse in the distinct step); the DuckDB oracle is the honest
    * NOT-EXISTS dominance predicate — a different algorithm family. */
  def skyline(spark: SparkSession, dir: String, parts: Int = 8): DataFrame =
    graft.CacheOps.scope { s =>
    import org.apache.spark.sql.Encoders
    val all = table(spark, dir, "part")
      .select(floor(col("p_retailprice") * 100.0 + 0.5).cast("long")
        .as("price_c"), col("p_size").cast("long").as("size"))
    val pts = all.distinct()
      .repartitionByRange(parts, col("price_c"), col("size").desc)
      .sortWithinPartitions(col("price_c"), col("size").desc)
    val tup = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    // one pass: each partition's local skyline, tagged with the partition
    // ordinal and that partition's running max so the driver can build the
    // prefix-max boundary vector without a second scan
    val local = pts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var runmax = Long.MinValue
      it.flatMap { r =>
        val p = r.getLong(0); val sz = r.getLong(1)
        if (sz > runmax) { runmax = sz; Iterator((pid, p, sz, runmax)) }
        else Iterator.empty
      }
    }
    // one scan feeds both the maxes collect and the filter
    val localDf = s.checkpoint(spark.createDataset(local)(tup)
      .toDF("pid", "price_c", "size", "runmax"))
    // P scalars to the driver: max size per partition, in partition order
    // (a partition's local-skyline max IS its max — the first point reaching
    // the partition max always survives the strict-running-max scan)
    val maxes = localDf.groupBy("pid").agg(max(col("size")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = Long.MinValue
    val prefix = maxes.map { case (pid, mx) =>
      val row = (pid, acc); acc = math.max(acc, mx); row
    }
    import spark.implicits._
    val prefixDf = broadcast(prefix.toSeq.toDF("pid", "prefix_max"))
    val sky = localDf.join(prefixDf, "pid")
      .where(col("size") > col("prefix_max"))
      .select(col("price_c"), col("size"))
    // eager, so the scope frees the P-sized intermediate on return
    s.checkpoint(sky.join(all, Seq("price_c", "size"))
      .groupBy("price_c", "size").agg(count(lit(1)).as("n_parts")))
  }
}
