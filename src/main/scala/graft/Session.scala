package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory with the scale-oriented defaults this engine assumes:
  * AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized to
  * local cores (never the 200 default), UTC, no UI. On a real cluster the same
  * builder is fed by spark-submit confs; nothing here is local-only.
  *
  * The generated-code cache holds 4096 classes, not Spark's default 100.
  * The cache is LRU, so any repeated sequence of plans that needs more
  * classes than it holds evicts each class before its next use: every loop
  * round, repeated call and gate pass then recompiles with Janino, and the
  * JIT compiles each recompiled class afresh. The working set, measured on
  * 4 cores at local[4] by collecting every `SparkEntry.queries` entry at
  * sf0.001 twice: the cold pass fills 2,397 entries (a class compiled for
  * both the driver's and the executors' class loader counts twice) and the
  * second pass 62 more. With 100 entries each of those passes compiled
  * about 3,650 classes, and every pass of the gate's q109/q125/q173 (121
  * entries) recompiled 89; with 4096, 1.7x the working set, a pass of the
  * three compiles none. The cost is metaspace: 210 MB after the second
  * registry pass and a full GC, against 190 MB with 100 entries, whose
  * evicted classes get unloaded.
  */
object Session {
  def build(master: String = "local[32]", shufflePartitions: Int = 32,
            appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let the planner pick shuffled-hash join where its size conditions
      // hold (guide §9): no sort on either side; SMJ remains the fallback
      // whenever the build side estimate is too large to hash in memory
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // static: sizes the cache when the JVM compiles its first class
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Read one of the driver-generated parquet tables under an sf dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
