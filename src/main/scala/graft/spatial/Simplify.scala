package graft.spatial

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Douglas-Peucker polyline simplification — the standard pre-publish step
  * for GPS traces / way geometries (reference family: the geometry layers
  * a tile pipeline thins before rendering).
  *
  * Exactness: the split test is cross² > ε²·len² on integer-lattice
  * coordinates — the perpendicular-distance comparison with the division
  * and sqrt cleared, so the whole recursion is integer sign arithmetic
  * (|cross|² < 2^52 — exact in Long). Deterministic argmax: max metric,
  * then smallest index. Degenerate chords (coincident endpoints) never
  * split — cross ≡ 0 — the documented semantics on BOTH sides, not a
  * fallback that could drift.
  *
  * Scale shape: one shuffle on the trajectory key, then the recursion runs
  * per group inside `mapGroups` over the (bounded) per-user point list —
  * the same per-entity pattern as the interaction classifier. The DuckDB
  * oracle is a RECURSIVE interval-splitting CTE — a genuinely different
  * evaluation strategy (breadth-first set closure vs depth-first stack), so
  * the hash match is algorithm-family evidence, not an echo.
  */
object Simplify {

  /** The squared tolerance ε² (grid units²) q162 runs at; its oracle reads it. */
  val GateEps2 = 250000L

  final case class KeptRow(user_id: Long, seq: Long)

  /** Gate query (q162): (user, seq) of the points Douglas-Peucker keeps at
    * ε² = eps2 over per-user trajectories (points ordered by event_id,
    * coords from modular arithmetic on event_id — oracle-replayable). */
  def douglasPeucker(spark: SparkSession, dir: String,
                     eps2: Long = GateEps2): DataFrame = {
    import spark.implicits._
    val pts = table(spark, dir, "events").select(
      col("user_id").as("u"), col("event_id").as("eid"),
      ((col("event_id") * 2654435761L) % 4096L).as("x"),
      ((col("event_id") * 2246822519L) % 4096L).as("y"))
      .as[(Long, Long, Long, Long)]
    pts.groupByKey(_._1)
      .mapGroups { (u, it) =>
        val p = it.toArray.sortBy(_._2)
        val n = p.length
        val keep = Array.ofDim[Boolean](n)
        keep(0) = true; keep(n - 1) = true
        var stack = List((0, n - 1))
        while (stack.nonEmpty) {
          val (s, e) = stack.head; stack = stack.tail
          if (e > s + 1) {
            val dx = p(e)._3 - p(s)._3; val dy = p(e)._4 - p(s)._4
            val len2 = dx * dx + dy * dy
            var best = -1; var bm = -1L
            var i = s + 1
            while (i < e) {
              val cr = dx * (p(i)._4 - p(s)._4) - dy * (p(i)._3 - p(s)._3)
              val m = cr * cr
              if (m > bm) { bm = m; best = i }
              i += 1
            }
            if (bm > eps2 * len2) {
              keep(best) = true
              stack = (s, best) :: (best, e) :: stack
            }
          }
        }
        (u, keep.zipWithIndex.collect { case (true, i) => i.toLong })
      }
      .flatMap { case (u, is) => is.map(KeptRow(u, _)) }(Encoders.product[KeptRow])
      .toDF()
  }
}
