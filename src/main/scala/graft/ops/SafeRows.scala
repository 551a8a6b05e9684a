package graft.ops

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.util.LongAccumulator
import scala.util.{Try, Success, Failure}

/** Per-row error isolation (SURVEY.md §4 "Error isolation"): the reference
  * wraps every per-entity computation in try/catch, counts failures into
  * error-class counters, and keeps going (InteractionsBuilder.java:225,
  * 274-286, 458-464 — its SE-Asia run finished 218M rows with exactly 1
  * failed entity). Spark has no built-in per-row quarantine, so this module
  * provides one: a tagged-union map with race-free accumulators and a
  * quarantine view.
  */
object SafeRows {

  final case class RowError(key: String, errorClass: String, message: String)

  final class ErrorCounters(spark: SparkSession, classes: Seq[String]) extends Serializable {
    val counters: Map[String, LongAccumulator] =
      classes.map(c => c -> spark.sparkContext.longAccumulator(s"graft.errors.$c")).toMap
    def add(errorClass: String): Unit =
      counters.getOrElse(errorClass, counters("OTHER")).add(1L)
    def snapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.value }
  }

  /** Map each row through `fn`; failures become RowError rows instead of
    * killing the job. Returns a tagged dataset — split with [[ok]] /
    * [[quarantined]]. A throwable's error class is its simple class name
    * (the reference's CRE_ERRORS / TAG_ERRORS / GEOM-style counters). */
  def map[T, U](ds: Dataset[T], fn: T => U, keyOf: T => String, counters: ErrorCounters)(
      implicit tagEnc: Encoder[(Option[U], Option[RowError])]): Dataset[(Option[U], Option[RowError])] =
    ds.mapPartitions { it =>
      it.map { row =>
        Try(fn(row)) match {
          case Success(u) => (Some(u), None)
          case Failure(e) =>
            val cls = e.getClass.getSimpleName
            counters.add(cls)
            (None, Some(RowError(keyOf(row), cls, String.valueOf(e.getMessage).take(200))))
        }
      }
    }

  def ok[U: Encoder](tagged: Dataset[(Option[U], Option[RowError])]): Dataset[U] =
    tagged.flatMap(_._1)

  def quarantined[U](tagged: Dataset[(Option[U], Option[RowError])])(
      implicit enc: Encoder[RowError]): Dataset[RowError] =
    tagged.flatMap(_._2)
}
