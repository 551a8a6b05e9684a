package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated calls reuse the classes their first call generated: the
  * generated-code cache holds the engine's working set (see [[Session]]), so
  * a loop query run again compiles nothing, however many other classes were
  * compiled in between. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect().map(_.toString).sorted.toSeq

  test("the fixed-point gate queries compile nothing when run again") {
    val qs = Seq("q109_pagerank", "q125_kcore", "q173_sssp")
    val first = qs.map(rows)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = qs.map(rows)
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(recompiled == 0, s"second run compiled $recompiled classes")
    assert(second == first)
  }
}
