package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Product-analytics operators over the events stream — cohort retention,
  * ordered funnels, and exponential smoothing. All three are single-shuffle
  * shapes keyed on user_id; per-user sequence logic runs as codegen'd
  * higher-order folds over sorted in-row arrays (no UDF, no driver state),
  * which at 10^12 events is the difference between one exchange and a
  * window-sort plus N self-joins.
  */
object Analytics {

  /** q150's purchase→error window (12 h), q145's per-stratum sample size. */
  val CorrelationWindowUs = 43200000000L
  val SampleK = 3

  /** Gate query (q106): classic cohort-retention matrix. Activity is a
    * deterministic sparse sample (event_id % 50 — the fixture's 150 users
    * are otherwise all first-active on day 1 and every cohort degenerates);
    * cohort = a user's first active day, one output row per (cohort,
    * day-offset) with the distinct-active count. The cohort derivation and
    * the activity join both key on user_id, so EnsureRequirements reuses one
    * exchange across the self-join. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "events")
      .where(col("event_id") % 50 === 0)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
    val cohorts = base.groupBy("user_id").agg(min(col("day")).as("cohort"))
    base.join(cohorts, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_d"))
      .agg(countDistinct(col("user_id")).as("active"))
  }

  /** Gate query (q107): strictly-ordered view→click→purchase funnel per
    * user over a sparse deterministic sample. ONE pass: each user's sampled
    * events fold left-to-right in timestamp order through a 3-slot state
    * (earliest view; earliest click after that view; earliest purchase
    * after that click) — the whole funnel is one groupBy(user) plus a
    * codegen'd `aggregate` over the sorted in-row array. The DuckDB oracle
    * computes the same chain as three correlated min-joins — a different
    * algorithm family, so the hash match is evidence, not an echo.
    * (user_id, ts) is unique (AsofSpec), so "after" is strict and the fold
    * order is total. Sentinel -1 = slot unfilled, surfaced as NULL. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "events")
      .where(col("event_id") % 11 === 0)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"))
    val folded = base
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("event_type"))))
        .as("evs"))
      .withColumn("st", aggregate(
        col("evs"),
        struct(lit(-1L).as("t1"), lit(-1L).as("t2"), lit(-1L).as("t3")),
        (acc, e) => {
          val t1 = when(acc("t1") === -1L && e("event_type") === "view",
            e("us")).otherwise(acc("t1"))
          // t1 (not acc.t1): a view and a later click in the same fold pass
          // chain; strict > holds because per-user timestamps are unique
          val t2 = when(acc("t2") === -1L && t1 =!= -1L &&
            e("event_type") === "click" && e("us") > t1, e("us"))
            .otherwise(acc("t2"))
          val t3 = when(acc("t3") === -1L && t2 =!= -1L &&
            e("event_type") === "purchase" && e("us") > t2, e("us"))
            .otherwise(acc("t3"))
          struct(t1.as("t1"), t2.as("t2"), t3.as("t3"))
        }))
      .select(col("user_id"),
        when(col("st.t3") =!= -1L, 3L).when(col("st.t2") =!= -1L, 2L)
          .when(col("st.t1") =!= -1L, 1L).otherwise(0L).as("stage"),
        when(col("st.t1") =!= -1L, col("st.t1")).as("t1"),
        when(col("st.t2") =!= -1L, col("st.t2")).as("t2"),
        when(col("st.t3") =!= -1L, col("st.t3")).as("t3"))
    folded
  }

  /** Gate query (q128): grouped linear trend — per event type, the
    * least-squares slope of daily counts over time, carried as EXACT integer
    * moments (n, Σx, Σy, Σxy, Σx²) and the slope as an exact rational
    * (num, den) — the q80 exact-rational discipline applied to regression:
    * FP division happens at presentation, never inside the aggregation, so
    * the fit is merge-order-free and hash-gateable. Two keyed aggregations,
    * the second over (groups × days) rows only. */
  def groupedTrend(spark: SparkSession, dir: String): DataFrame = {
    val dc = table(spark, dir, "events")
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
    dc.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("y")).as("sy"), sum(col("day") * col("y")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col("event_type"), col("n"), col("sx"), col("sy"), col("sxy"),
        col("sxx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
  }

  /** Gate query (q130): first-order Markov transition matrix over each
    * user's event-type sequence — transition counts via one lag window
    * (keyed on user_id) plus row-normalized probabilities in exact e6
    * integers (the row sums are a groups²-sized relation, broadcast back).
    * The behavioral-model estimation shape: one pass, one exchange over
    * events, model-sized everything after. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
    val c = table(spark, dir, "events")
      .select(col("user_id"), col("event_type").as("t_to"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("t_from", lag(col("t_to"), 1).over(w))
      .where(col("t_from").isNotNull)
      .groupBy("t_from", "t_to").agg(count(lit(1)).as("n"))
    val rows = c.groupBy("t_from").agg(sum(col("n")).as("row_n"))
    c.join(broadcast(rows), "t_from")
      .select(col("t_from"), col("t_to"), col("n"),
        expr("(1000000 * n) div row_n").as("p_e6"))
  }

  /** Gate query (q137): first-touch conversion attribution — every purchase
    * is credited to the FIRST event type of its 30-minute-gap session (the
    * q90 sessionization composed with a first-row window). All four stages
    * (lag, running session id, first-row election, purchase join) key on
    * user_id — one exchange end to end; the attribution join is per
    * (user, session), never global. */
  def firstTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us")
    // the session's first event type rides along as one more window over the
    // SAME sorted partition (first_value over (user, sid) ordered by us ≡
    // the row the rn=1 election picked — same sort, same tie resolution):
    // the round-5 shape re-executed the scan + both windows on each side of
    // a (user, sid) self-join that existed only to attach first_type
    val s = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("pus", lag(col("us"), 1).over(w))
      .withColumn("sid", sum(
        when(col("pus").isNull || col("us") - col("pus") > 1800000000L, 1L)
          .otherwise(0L)).over(w))
      .withColumn("first_type", first(col("event_type")).over(
        Window.partitionBy("user_id", "sid").orderBy("us")))
    s.where(col("event_type") === "purchase")
      .groupBy("first_type").agg(count(lit(1)).as("n_purchases"))
  }

  /** Gate query (q149): split statistics — Gini impurity of the class mix
    * (event types) per candidate bucket (day), the decision-tree split
    * primitive. Gini = 1 − Σp² is a RATIONAL in the counts, so it computes
    * exactly as (N² − Σc²)·10^6 div N² — integer end to end, no logs, no FP
    * (entropy's log₂ would not hash cross-engine). Two keyed aggregations,
    * the second over (buckets × classes) rows. */
  def giniSplits(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "events")
      .select(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("c"))
    c.groupBy("day")
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ssq"))
      .select(col("day"), col("n"),
        expr("((n * n - ssq) * 1000000) div (n * n)").as("gini_e6"))
  }

  /** Gate query (q150): cross-event correlation — for each purchase, the
    * errors by the same user within the next 12 hours (the
    * incident-after-action join). Keyed equi-join on user_id with the time
    * window as a residual predicate: per-user event counts bound the probe
    * fan-out, so the join never goes quadratic in the table — the q84
    * binned range join is the fallback when no shared key exists. */
  def eventCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"), col("event_id").as("pid"))
    val e = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("us").as("eus"))
    p.join(e, Seq("user_id"))
      .where(col("eus") > col("pus") && col("eus") <= col("pus") + CorrelationWindowUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("pid")).as("n_purchases_hit"))
  }

  /** Gate query (q145): deterministic stratified k-sample — the smallest k
    * splitmix hashes per stratum (a fixed-size, seed-reproducible sample
    * per group: the hash IS the sampling coin, so reruns/backfills pick the
    * SAME rows — the q53 reproducibility discipline in top-k form). One
    * group-partitioned rank window. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("h"), col("event_id"))
    // & MaxValue: the sampling key must order identically as a signed long
    // (engine) and an unsigned UBIGINT (oracle) — masking the sign bit
    // makes both orders agree
    table(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        graft.functions.SeedExprs.mix64(col("event_id"))
          .bitwiseAND(lit(Long.MaxValue)).as("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= SampleK)
      .select(col("event_type"), col("event_id"), col("rn").cast("long").as("rn"))
  }

  /** Gate query (q146): share-of-total and cumulative (Lorenz) share per
    * group — window ratios over the (group, day) ROLLUP relation (never the
    * raw events), in exact e6 integers. */
  def shareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = table(spark, dir, "events")
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
    val total = Window.partitionBy("event_type")
    val cum = Window.partitionBy("event_type").orderBy("day")
    g.select(col("event_type"), col("day"), col("c"),
      expr("(1000000 * c)").as("num"),
      sum(col("c")).over(total).as("den"),
      (sum(col("c")).over(cum) * 1000000L).as("cnum"))
      .select(col("event_type"), col("day"), col("c"),
        expr("num div den").as("share_e6"),
        expr("cnum div den").as("cum_share_e6"))
  }

  /** Gate query (q144): rolling 7-day DISTINCT active users — distinct
    * counts are not algebraic, so sliding windows can't reuse partial sums;
    * the scalable trick is presence-row replication: each (user, day)
    * presence row contributes to the 7 target days it covers BEFORE the
    * shuffle, then one countDistinct per day. Exchange volume is
    * presence × window, never events × window, and there is no per-day
    * rescan. Activity is a sparse deterministic sample (the full fixture
    * saturates at every-user-every-day). */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val pres = table(spark, dir, "events")
      .where(col("event_id") % 29 === 0)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
    val days = pres.select("day").distinct()
    pres.withColumn("target",
        explode(sequence(col("day"), col("day") + 6)))
      .join(days.withColumnRenamed("day", "target"), Seq("target"))
      .groupBy(col("target").as("day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
  }

  /** Gate query (q139): sequential-pattern counting (the MATCH_RECOGNIZE
    * shape): each user's event-type sequence folds into one in-row string
    * (timestamp-ordered initials), then contiguous `vcp` runs and lazy
    * `v[ce]*p` chains count via regexp — per-user sequence mining with ONE
    * exchange and no self-joins (a k-step pattern as k-way join explodes
    * combinatorially; the fold is linear). Patterns chosen to mean the same
    * thing in java.util.regex and RE2. */
  def sequencePatterns(spark: SparkSession, dir: String): DataFrame = {
    val ch = when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s").otherwise("e")
    table(spark, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), ch.as("ch"))
      .groupBy("user_id")
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(us, ch))), x -> x.ch)"), "")
        .as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        regexp_count(col("seq"), lit("vcp")).cast("long").as("n_vcp"),
        regexp_count(col("seq"), lit("v[ce]*p")).cast("long").as("n_lazy"))
  }

  /** Gate query (q134): robust anomaly detection via median absolute
    * deviation — per event type, the lower median of value cents, the MAD
    * (lower median of |x − med|), and the count of points beyond 3·MAD.
    * All integer nearest-rank order statistics (a rank picks a value, so
    * ties need no tie-break), so the thresholds replay exactly (σ-based z-scores would be
    * FP and outlier-skewed — MAD is the robust standard). Both medians read
    * a per-group [[OrderStats.distribution]] at rank (n+1) div 2; the
    * per-group medians broadcast back. */
  def madAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_type").as("grp"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val mid = expr("(tot_n + 1) div 2")
    val med = OrderStats.distribution(e, Seq("grp"), "cents", "n" -> lit(1L))
      .groupBy("grp").agg(OrderStats.atRank(col("cents"), col("cum_n"), mid).as("med_cents"))
    val dev = e.join(broadcast(med), "grp")
      .select(col("grp"), abs(col("cents") - col("med_cents")).as("dev"))
    val mad = OrderStats.distribution(dev, Seq("grp"), "dev", "n" -> lit(1L))
      .groupBy("grp").agg(OrderStats.atRank(col("dev"), col("cum_n"), mid).as("mad_cents"))
    e.join(broadcast(med), "grp").join(broadcast(mad), "grp")
      .groupBy(col("grp").as("event_type"))
      .agg(max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(abs(col("cents") - col("med_cents")) > col("mad_cents") * 3, 1L)
          .otherwise(0L)).as("n_anomalies"),
        count(lit(1)).as("n"))
  }

  /** Gate query (q110): per-user exponential moving average (α = 0.3) over
    * the full event stream, folded in exact INTEGER e6-cents — ema' =
    * (3·v + 7·ema) div 10 — so the inherently sequential recurrence is
    * still hash-reproducible (Spark `aggregate` ≡ DuckDB `list_reduce`,
    * both left-to-right over the same timestamp order; FP EMA would
    * accumulate rounding skew between engines). One shuffle; the sort is
    * per-user in-row, not a global window sort. */
  def emaFold(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        (floor(col("value") * 100.0 + 0.5).cast("long") * 1000000L).as("v"))
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("v")))).as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"), lit(-1L),
          // integer div via exact-double floor: 3v+7acc ≤ 10^11 « 2^53, so
          // the double is the exact integer and /10 is correctly rounded —
          // floor matches DuckDB's BIGINT `// 10` digit-for-digit (values
          // are nonnegative cents; pinned by AnalyticsSpec)
          (acc, e) => when(acc === -1L, e("v"))
            .otherwise(floor((lit(3L) * e("v") + lit(7L) * acc)
              .cast("double") / 10.0d).cast("long"))).as("ema_e6c"),
        size(col("evs")).cast("long").as("n"))
  }
}
