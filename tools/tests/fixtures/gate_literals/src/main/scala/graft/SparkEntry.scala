package graft

object SparkEntry {
  def entry(spark: SparkSession): DataFrame = Pipeline.run(spark, 5000L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pipeline.run(s, 7) in a comment is no hit
    "q1" -> ((s: SparkSession, _: String) => Pipeline.run(s, 2000L, Pipeline.Parts)),
    "q2" -> ((s: SparkSession, d: String) => Tier.pairs(Corpus.planted(s), minCos = 0.95)),
    "q3" -> ((s: SparkSession, d: String) => Events.load(s, d).filter(col("n") > lit(3))),
    "q4" -> ((s: SparkSession, d: String) => Scope.run(_ => helper(s, 9).limit(5))),
    "q5" -> ((s: SparkSession, _: String) => Pipeline.run(s, Pipeline.Rows, Pipeline.Parts))
  )

  private val shared = Oracle.q9(12)

  def oracleSql: Map[String, String] = Map(
    "q1" -> Oracle.q1(Pipeline.Rows),
    "q2" -> s"""SELECT * FROM (${Oracle.q2(0x10)}) t WHERE n > 40""",
    "q3" -> "SELECT count(*) FROM events WHERE Events.load(1) > 2",
    "q4" -> Oracle.q4(
      1e6),
    "q5" -> shared
  )
}
