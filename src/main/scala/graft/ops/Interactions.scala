package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.Squaring

/** The reference's interaction classifier (InteractionsBuilder.java:216-468),
  * re-expressed as pure window algebra over a versions table — one row per
  * (entity, version-event), timestamp-ascending per entity.
  *
  * Classification (SURVEY.md §1.1), matching the reference branch-for-branch:
  *  - CRE  first visible version; `@aA` = full tag map (:262-271)
  *  - DEL  visible=false; valid exactly 1 s (`@vU = @vS+1`, :300-301);
  *         `@duid` = previous owner (:540-541); `@aD` = full previous tags;
  *         the current-tags splice is OVERWRITTEN for deletions (:294 assigns,
  *         not appends)
  *  - version bump (not CRE/DEL): geometry-equal → MAV, else MAG (:399-405).
  *    Tag diffs `@aA/@aM/@aD` attach whenever tags changed — on BOTH MAV and
  *    MAG (:349-396 runs before the geometry test), and a bare version bump
  *    with nothing changed is still a MAV (:400).
  *  - MIV  same version, geometry changed (:319-324); suppressed entirely for
  *    relations carrying a `restriction` tag at their first version (the
  *    `checkMinorVersion` latch, :234-241 gate at :321). `@mV` counts minors
  *    and resets on version bump (:221,322,344).
  *  - geometry equality is NORMALIZED for nodes/ways (`equalsNorm`,
  *    :511-530): a ring rotated or reversed but geometrically identical is
  *    "unchanged". Relations compare raw coordinate sequences (:520-521).
  *  - `@sq` (squaring delta, 4 dp) only when the after-geometry is a polygon
  *    (closed ring), for MAG and MIV (:588-597)
  *  - unchanged rows are suppressed (EMPTY_CONTRIBS, :440-453) unless they
  *    are the entity's latest VISIBLE version (current-tags splice, :251-258)
  *
  * One shuffle (by entity id) — the Spark analog of OSHDB's colocated
  * per-entity history (SURVEY.md §2.3 note).
  */
object Interactions {

  final case class VersionRow(id: Long, etype: String, version: Int, ts: Long,
                              uid: Long, changeset: Long, tags: Map[String, String],
                              visible: Boolean,
                              lons: Array[Double], lats: Array[Double])

  // ---- normalized geometry equality (InteractionsBuilder.java:511-530) ----

  private def lexLess(a: IndexedSeq[Int], b: IndexedSeq[Int],
                      lons: Array[Double], lats: Array[Double]): Boolean = {
    var i = 0
    while (i < a.length) {
      val c1 = java.lang.Double.compare(lons(a(i)), lons(b(i)))
      if (c1 != 0) return c1 < 0
      val c2 = java.lang.Double.compare(lats(a(i)), lats(b(i)))
      if (c2 != 0) return c2 < 0
      i += 1
    }
    false
  }

  /** Canonical coordinate key: equal keys ⟺ normalized-equal geometries.
    * Closed rings (way/node polygons) canonicalize under rotation+reversal
    * (JTS `equalsNorm` behavior); open lines under reversal; relations keep
    * raw coordinates (the reference compares `getCoordinates().equals`).
    * Leading marker (0=line, 1=ring, 2=raw) keeps shapes with identical
    * vertex multisets distinct. */
  def canonicalKey(etype: String, lons: Array[Double], lats: Array[Double]): Array[Double] = {
    val n = lons.length
    def interleave(idx: IndexedSeq[Int], marker: Double): Array[Double] = {
      val out = new Array[Double](idx.length * 2 + 1)
      out(0) = marker
      var i = 0
      while (i < idx.length) {
        out(1 + 2 * i) = lons(idx(i)); out(2 + 2 * i) = lats(idx(i)); i += 1
      }
      out
    }
    if (etype == "relation") return interleave(0 until n, 2.0)
    val closed = n >= 4 && lons(0) == lons(n - 1) && lats(0) == lats(n - 1)
    if (closed) {
      val m = n - 1 // ring without the closing vertex
      var bestLon = lons(0); var bestLat = lats(0)
      var i = 1
      while (i < m) {
        if (lons(i) < bestLon || (lons(i) == bestLon && lats(i) < bestLat)) {
          bestLon = lons(i); bestLat = lats(i)
        }
        i += 1
      }
      // a ring can repeat its minimal vertex (degenerate/self-touching);
      // JTS equalsNorm effectively considers every candidate start, so ALL
      // tied starts compete — picking just the first tied index could
      // canonicalize rotations of the same ring to different keys
      var bestSeq: IndexedSeq[Int] = null
      i = 0
      while (i < m) {
        if (lons(i) == bestLon && lats(i) == bestLat) {
          val fwd = (0 until m).map(j => (i + j) % m)
          val bwd = (0 until m).map(j => (i - j + m) % m)
          if (bestSeq == null || lexLess(fwd, bestSeq, lons, lats)) bestSeq = fwd
          if (lexLess(bwd, bestSeq, lons, lats)) bestSeq = bwd
        }
        i += 1
      }
      interleave(bestSeq, 1.0)
    } else if (n >= 2) {
      val fwd = 0 until n
      val bwd = (n - 1) to 0 by -1
      interleave(if (lexLess(bwd, fwd, lons, lats)) bwd else fwd, 0.0)
    } else interleave(0 until n, 0.0)
  }

  // ---- the classifier ------------------------------------------------------

  /** versions → interactions. Input must carry the VersionRow columns. */
  def classify(versions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("ts"))
    val sqUdf = udf { (aLons: Seq[Double], aLats: Seq[Double],
                       bLons: Seq[Double], bLats: Seq[Double]) =>
      if (aLons == null || bLons == null || aLons.size < 4 || bLons.size < 4) null
      else java.lang.Double.valueOf(Squaring.squaringDelta(
        aLons.toArray, aLats.toArray, bLons.toArray, bLats.toArray))
    }
    val canonUdf = udf { (etype: String, lons: Seq[Double], lats: Seq[Double]) =>
      if (lons == null || lats == null) null
      else canonicalKey(etype, lons.toArray, lats.toArray)
    }

    val staged = versions
      .withColumn("geom_key", canonUdf(col("etype"), col("lons"), col("lats")))
      .withColumn("rn", row_number().over(w))
      .withColumn("vu_next", lead(col("ts"), 1).over(w))
      .withColumn("p_uid", lag(col("uid"), 1).over(w))
      .withColumn("p_tags", lag(col("tags"), 1).over(w))
      .withColumn("p_version", lag(col("version"), 1).over(w))
      .withColumn("p_lons", lag(col("lons"), 1).over(w))
      .withColumn("p_lats", lag(col("lats"), 1).over(w))
      .withColumn("p_geom_key", lag(col("geom_key"), 1).over(w))
      .withColumn("is_last", lead(col("ts"), 1).over(w).isNull)
      // checkMinorVersion latch (:234-241): decided once per entity from the
      // FIRST version's tags; relations with a `restriction` key never emit MIV
      .withColumn("no_miv", first(
        col("etype") === "relation" &&
          array_contains(map_keys(col("tags")), "restriction")).over(w))

    // normalized comparison via canonical keys (rotation/reversal-invariant
    // for nodes/ways; raw for relations — see canonicalKey)
    val geomChanged = !(col("geom_key") <=> col("p_geom_key"))
    val versionBump = col("p_version").isNull || (col("version") > col("p_version"))

    val classified = staged.withColumn("e",
      when(col("rn") === 1 && col("visible"), "CRE")
        .when(!col("visible"), "DEL")
        .when(versionBump && geomChanged, "MAG")
        .when(versionBump, "MAV") // bare bump (nothing changed) is still a MAV (:400)
        .when(!col("no_miv") && geomChanged, "MIV")
        .otherwise(lit(null).cast("string")))

    // @mV: running count of MIVs within the (id, version) segment — version
    // bumps start a fresh segment, replicating the reset (:322,344)
    val mvW = Window.partitionBy(col("id"), col("version")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withMv = classified.withColumn("mv",
      when(col("e") === "MIV",
        sum(when(col("e") === "MIV", 1).otherwise(0)).over(mvW)).otherwise(lit(null)))

    // tag diffs as deterministic maps (Maps.difference analog, :356-378) —
    // attached to MAV *and* MAG rows (:349 runs before the geometry test)
    val added = map_filter(col("tags"), (k, _) => not(array_contains(map_keys(col("p_tags")), k)))
    val deleted = map_filter(col("p_tags"), (k, _) => not(array_contains(map_keys(col("tags")), k)))
    val modified = map_filter(
      map_zip_with(col("tags"), col("p_tags"), (_, a, b) =>
        when(a.isNotNull && b.isNotNull && a =!= b, array(b, a)).otherwise(lit(null))),
      (_, v) => v.isNotNull)
    val isUpd = col("e").isin("MAV", "MAG")

    // @sq: polygons only (closed after-ring; :592) — MAG and MIV
    val isPolygon = size(col("lons")) >= 4 &&
      element_at(col("lons"), 1) === element_at(col("lons"), -1) &&
      element_at(col("lats"), 1) === element_at(col("lats"), -1)

    withMv.select(
      col("id"), col("etype"), col("version").as("v"), col("uid"), col("changeset").as("c"),
      col("e"),
      col("ts").as("vs"),
      when(col("e") === "DEL", col("ts") + 1).otherwise(col("vu_next")).as("vu"),
      when(col("e") === "DEL", col("p_uid")).as("duid"),
      col("mv"),
      when(col("e") === "CRE", col("tags"))
        .when(isUpd, added).as("a_a"),
      when(isUpd, modified).as("a_m"),
      when(col("e") === "DEL", col("p_tags"))
        .when(isUpd, deleted).as("a_d"),
      when(col("e").isin("MAG", "MIV") && isPolygon,
        sqUdf(col("lons"), col("lats"), col("p_lons"), col("p_lats"))).as("sq"),
      // deletions OVERWRITE the splice (:294) → only visible latest rows carry it
      when(col("is_last") && col("visible"), col("tags")).as("current_tags"),
      col("is_last"))
      // suppression: a row must carry an edit class OR be the spliced latest
      .filter(col("e").isNotNull || col("is_last"))
      .drop("is_last")
  }

  /** Sorted `k=v` canonical string of a tag map (null when empty/absent) —
    * the gate-hashable projection of a map column. */
  def mapToStr(m: Column): Column =
    when(m.isNotNull && size(m) > 0,
      array_join(array_sort(transform(map_entries(m),
        e => concat(e.getField("key"), lit("="), e.getField("value")))), ","))

  /** Sorted `k=old->new` canonical string of a modified-tags map. */
  def modToStr(m: Column): Column =
    when(m.isNotNull && size(m) > 0,
      array_join(array_sort(transform(map_entries(m),
        e => concat(e.getField("key"), lit("="),
          element_at(e.getField("value"), 1), lit("->"),
          element_at(e.getField("value"), 2)))), ","))

  // ---- deterministic synthetic versions table ------------------------------

  /** Per-event mutation kind — closed-form in (id, k) so a DuckDB oracle can
    * derive the identical table (graft.OracleSql.q34): kinds 0-2 tag-modify
    * (version bump), 3 tag-add, 4 tag-delete, 5-6 geometry move (bump),
    * 7 same-version geometry move (MIV), 8 ring rotation (normalized-equal:
    * invisible to ways, a raw change for relations), 9 deletion. */
  def kindOf(id: Long, k: Int): Int = ((id * 13 + k * 37) % 10).toInt

  /** Deterministic synthetic versions table exercising every branch:
    * creations, tag add/mod/delete, geometry moves, same-version minor edits,
    * ring rotations (normalized-equality proof), restriction-relation latch,
    * deletions, unchanged latest rows. ALL state is closed-form in (id, k) —
    * no sequential accumulation — so the gate oracle recomputes it in SQL. */
  def synthVersions(spark: SparkSession, nEntities: Int): Dataset[VersionRow] = {
    import spark.implicits._
    spark.range(0, nEntities, 1, 4).flatMap { id =>
      val etype = (id % 5) match {
        case 0 => "relation"
        case 1 | 2 => "way"
        case _ => "node"
      }
      val restr = etype == "relation" && id % 10 == 0
      val nv = (2 + (id * 7 + 3) % 5).toInt // 2..6 events
      (0 until nv).map { k =>
        val kinds = (1 to k).map(j => kindOf(id, j))
        val visible = !(kindOf(id, k) == 9 && k > 0)
        val version = 1 + kinds.count(_ <= 6)
        val bldBumps = (1 to k).filter(j => kindOf(id, j) <= 2)
        val building =
          if (bldBumps.isEmpty) "yes"
          else "v" + (1 + (1 to bldBumps.max).count(j => kindOf(id, j) <= 6))
        val kAdds = (1 to k).filter(j => kindOf(id, j) == 3).map(j => s"k$j" -> "new")
        // ids divisible by 3 keep their name on kind 4: the bump then changes
        // NOTHING — exercising the reference's bare-MAV branch (:400)
        val nameGone = kinds.contains(4) && id % 3 != 0
        val shiftE5 = kinds.map { x => if (x == 5 || x == 6) 10L else if (x == 7) 5L else 0L }.sum
        val rot = kinds.count(_ == 8) % 4
        val tags = Map("building" -> building) ++ kAdds ++
          (if (!nameGone) Map("name" -> s"obj$id") else Map.empty) ++
          (if (restr) Map("restriction" -> "no_left_turn") else Map.empty)
        val base = 10.0 + (id % 100) * 0.01 + shiftE5 * 1.0e-5
        val (lons, lats) =
          if (etype == "node") (Array(base), Array(0.001 * (id % 7)))
          else {
            // square corners, ring start rotated by `rot` (same polygon)
            val cl = Array(base, base + 0.0009, base + 0.0009, base)
            val ca = Array(0.0, 0.0, 0.0009, 0.0009)
            val lo = Array.tabulate(5)(i => cl((rot + i) % 4))
            val la = Array.tabulate(5)(i => ca((rot + i) % 4))
            (lo, la)
          }
        VersionRow(id, etype, version, 1500000000L + id * 1000 + k * 10,
          (id * 31 + k * 17) % 50, id * 100 + k, tags, visible, lons, lats)
      }
    }
  }
}
