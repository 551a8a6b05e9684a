package graft

import graft.ann.Ann
import graft.multimodal.Pyramid
import graft.ops.{Analytics, Baskets, Blocking, CountMin, Graph, Interactions, Lakehouse, Lateness,
  Sessionize, Sharding, Sketches, Sssp}
import graft.pipeline.{Checkpoint, ImagePipeline}
import graft.spatial.{BoxJoin, Simplify}
import graft.text.{Dedup, TextOps}

/** Builders for DuckDB oracle SQL that reproduces the engine's from-scratch
  * 64-bit hash arithmetic bit-exactly (splitmix64, FNV-1a, rotations).
  *
  * DuckDB has no wrapping 64-bit multiply (BIGINT/HUGEINT arithmetic is
  * overflow-checked), so `a*b mod 2^64` is built from 32-bit halves in the
  * UBIGINT/HUGEINT domain:
  *   a*b ≡ alo·blo + ((alo·bhi + ahi·blo) mod 2^32)·2^32   (mod 2^64)
  * — every term fits INT128. These fragments make the sketch queries
  * (simhash, fingerprint, seed-derived tables) verifiable by a REAL
  * independent oracle instead of rows-only checks.
  *
  * Every gate input a builder needs (sizes, thresholds, windows, round
  * counts) is read from the engine constant its query runs on, so the
  * registry in [[SparkEntry]] passes none; only [[q32]] keeps its row count,
  * which the flagship benchmark sets.
  */
object OracleSql {

  val M64 = "18446744073709551616" // 2^64 as a HUGEINT literal
  val FnvOffset = 1469598103934665603L // graft.text.Dedup.hash64 offset (from-scratch)
  val FnvPrime = 1099511628211L

  /** The event points (lon from value, lat from user_id) shared by the
    * spatial oracles in [[SparkEntry.oracleSql]] and [[q91]]/[[q94]]. */
  val pts =
    "SELECT event_id, event_type, user_id, value, value % 360.0 - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events"
  /** The embeddings table's vector length: the engine reads it off each
    * vector, the LSH oracles need it to rebuild the hyperplanes. */
  private val EmbeddingDim = 64
  /** q125's unrolled peeling rounds: the engine's kCore converges in fewer
    * at the gate graph, and the extra rounds are idempotent past the fixpoint. */
  private val KCoreRounds = 10

  /** `(a * bconst) mod 2^64` — `a` must be a HUGEINT-typed SQL expression in
    * [0, 2^64); bconst an unsigned 64-bit constant (given as Scala Long bits). */
  def mulmod(a: String, bconst: Long): String = {
    val b = BigInt(bconst) & BigInt("FFFFFFFFFFFFFFFF", 16)
    val blo = b % (BigInt(1) << 32)
    val bhi = b >> 32
    s"(((($a) % 4294967296) * $blo + (((($a) % 4294967296) * $bhi + (($a) // 4294967296) * $blo) % 4294967296) * 4294967296) % $M64)"
  }

  /** splitmix64 finalizer (graft.synth.ImageSynth.mix) over a UBIGINT column
    * expression, as a chain of CTE-friendly steps. Returns one inline
    * expression (deeply nested but mechanical). */
  def mix(x: String): String = {
    val z1 = s"((($x)::HUGEINT + 11400714819323198485) % $M64)::UBIGINT"
    val z2 = mulmod(s"xor($z1, $z1 >> 30)::HUGEINT", 0xBF58476D1CE4E5B9L) + "::UBIGINT"
    val z3 = mulmod(s"xor($z2, $z2 >> 27)::HUGEINT", 0x94D049BB133111EBL) + "::UBIGINT"
    s"xor($z3, $z3 >> 31)"
  }

  /** FNV-1a 64 (graft.text.Dedup.hash64) of a VARCHAR expression `tok`,
    * via list_reduce over its UTF-16 code units (corpus is ASCII — code
    * points == code units, parity asserted in TextSpec). */
  def fnvHash(tok: String): String = {
    val step = mulmod("xor(h, c)::HUGEINT", FnvPrime) + "::UBIGINT"
    s"""list_reduce(list_prepend($FnvOffset::UBIGINT,
       |  list_transform(string_split_regex($tok, ''), ch -> unicode(ch)::UBIGINT)),
       |  (h, c) -> ($step))""".stripMargin
  }

  /** graft.text.TextOps.fingerprint of a VARCHAR `text`: FNV over each
    * token's chars, rotl13 between tokens — encoded as one reduce over a
    * char-code stream with a sentinel (2^32, no real code unit) marking
    * token ends. */
  def fingerprint(text: String): String = {
    val sent = "4294967296::UBIGINT"
    val fnvStep = mulmod("xor(h, c)::HUGEINT", FnvPrime) + "::UBIGINT"
    val rotl13 = "(" + mulmod("h::HUGEINT", 8192L) + " + (h >> 51))::UBIGINT"
    s"""list_reduce(list_prepend($FnvOffset::UBIGINT, flatten(list_transform(string_split($text, ' '),
       |  tok -> list_append(list_transform(string_split_regex(tok, ''), ch -> unicode(ch)::UBIGINT), $sent)))),
       |  (h, c) -> (CASE WHEN c = $sent THEN $rotl13 ELSE $fnvStep END))""".stripMargin
  }

  // ---- q34: full interaction-classifier oracle ----------------------------

  /** SQL fragments computing the synthetic entity state at row-index
    * expression `kx` (inclusive) — the closed-form mirror of
    * graft.ops.Interactions.synthVersions: (version, building value,
    * sorted-k=v tags string). */
  private def q34State(kx: String): (String, String, String) = {
    val kinds = s"list_transform(range(1, $kx+1), j -> (id*13 + j*37)%10)"
    val version = s"(1 + len(list_filter($kinds, x -> x <= 6)))"
    val jb = s"list_max(list_filter(range(1, $kx+1), j -> (id*13 + j*37)%10 <= 2))"
    val bld =
      s"""(CASE WHEN $jb IS NULL THEN 'yes'
         |  ELSE 'v' || (1 + len(list_filter(list_transform(range(1, $jb+1), j -> (id*13 + j*37)%10), x -> x <= 6)))::VARCHAR END)""".stripMargin
    val kadds = s"list_filter(range(1, $kx+1), j -> (id*13 + j*37)%10 = 3)"
    val nameGone = s"(len(list_filter($kinds, x -> x = 4)) > 0 AND id % 3 <> 0)"
    val tags =
      s"""concat_ws(',', 'building=' || $bld,
         |  CASE WHEN len($kadds) > 0 THEN array_to_string(list_transform($kadds, j -> 'k' || j || '=new'), ',') END,
         |  CASE WHEN NOT $nameGone THEN 'name=obj' || id END,
         |  CASE WHEN restr THEN 'restriction=no_left_turn' END)""".stripMargin
    (version, bld, tags)
  }

  /** Shared generator CTE for q34/q39: the synthetic versions table's
    * (id, k, kind, etype, restr) grid, closed-form. */
  private def q34Ev: String =
    s"""ev AS (
       |  SELECT t.id, r.k,
       |    2 + (t.id*7+3)%5 AS nv,
       |    (t.id*13 + r.k*37)%10 AS kind,
       |    CASE WHEN t.id%5=0 THEN 'relation' WHEN t.id%5 IN (1,2) THEN 'way' ELSE 'node' END AS etype,
       |    (t.id%5=0 AND t.id%10=0) AS restr
       |  FROM range(0, ${Interactions.GateEntities}) t(id), range(0, 6) r(k)
       |  WHERE r.k < 2 + (t.id*7+3)%5
       |)""".stripMargin

  /** Full analytic oracle for q34: re-derives every classifier column
    * (edit class incl. normalized-geometry/latch effects, tag-diff strings,
    * validity intervals, mv counter, sq presence) from the (id, k) formulas —
    * completely independent of the Spark window-algebra implementation. */
  def q34: String = {
    val (verK, bldK, tagsK) = q34State("k")
    val (_, bldP, tagsP) = q34State("(k-1)")
    s"""WITH $q34Ev,
       |st AS (
       |  SELECT *,
       |    1500000000 + id*1000 + k*10 AS vs,
       |    (id*31 + k*17)%50 AS uid,
       |    id*100 + k AS c,
       |    $verK AS version,
       |    CASE WHEN k=0 THEN 'CRE'
       |         WHEN kind=9 THEN 'DEL'
       |         WHEN kind IN (5,6) THEN 'MAG'
       |         WHEN kind <= 4 THEN 'MAV'
       |         WHEN (NOT restr) AND (kind=7 OR (kind=8 AND etype='relation')) THEN 'MIV'
       |         ELSE NULL END AS e
       |  FROM ev
       |),
       |o AS (
       |  SELECT id, etype, version::INT AS v, uid, c, e, vs,
       |    CASE WHEN e='DEL' THEN vs+1 WHEN k = nv-1 THEN NULL ELSE vs+10 END AS vu,
       |    CASE WHEN e='DEL' THEN (id*31 + (k-1)*17)%50 END AS duid,
       |    CASE WHEN e='MIV' THEN len(list_filter(range(1, k+1), j ->
       |        (NOT restr) AND (((id*13 + j*37)%10 = 7) OR ((id*13 + j*37)%10 = 8 AND etype='relation'))
       |        AND len(list_filter(range(j+1, k+1), i -> (id*13 + i*37)%10 <= 6)) = 0))::BIGINT END AS mv,
       |    CASE WHEN e='CRE' THEN $tagsK
       |         WHEN e IN ('MAV','MAG') AND kind=3 THEN 'k' || k || '=new' END AS a_a_s,
       |    CASE WHEN e IN ('MAV','MAG') AND kind<=2 THEN 'building=' || $bldP || '->' || $bldK END AS a_m_s,
       |    CASE WHEN e='DEL' THEN $tagsP
       |         WHEN e IN ('MAV','MAG') AND kind=4 AND id%3<>0 THEN 'name=obj' || id END AS a_d_s,
       |    COALESCE(e IN ('MAG','MIV') AND etype <> 'node', false) AS has_sq,
       |    CASE WHEN k = nv-1 AND kind <> 9 THEN $tagsK END AS current_tags_s,
       |    k, nv
       |  FROM st
       |)
       |SELECT id, etype, v, uid, c, e, vs, vu, duid, mv, a_a_s, a_m_s, a_d_s, has_sq, current_tags_s
       |FROM o WHERE e IS NOT NULL OR k = nv-1""".stripMargin
  }

  /** Analytic oracle for q43 (old-schema MV_BEFORE/MV_AFTER/DELETION interval
    * filters, docs/js/map.js:244-271) over the same generator. */
  def q43: String = {
    val (start, end) = (Interactions.IntervalStart, Interactions.IntervalEnd)
    s"""WITH $q34Ev,
       |st AS (
       |  SELECT *, 1500000000 + id*1000 + k*10 AS vs,
       |    CASE WHEN k=0 THEN 'CRE'
       |         WHEN kind=9 THEN 'DEL'
       |         WHEN kind IN (5,6) THEN 'MAG'
       |         WHEN kind <= 4 THEN 'MAV'
       |         WHEN (NOT restr) AND (kind=7 OR (kind=8 AND etype='relation')) THEN 'MIV'
       |         ELSE NULL END AS e
       |  FROM ev),
       |o AS (SELECT e, vs,
       |        CASE WHEN e='DEL' THEN vs+1 WHEN k = nv-1 THEN NULL ELSE vs+10 END AS vu
       |      FROM st WHERE e IN ('MIV','DEL')),
       |f AS (
       |  SELECT 'MV_BEFORE' AS edit, NULL::BIGINT AS valid_since, vs AS valid_until FROM o WHERE e='MIV'
       |  UNION ALL SELECT 'MV_AFTER', vs, vu FROM o WHERE e='MIV'
       |  UNION ALL SELECT 'DELETION', vs, vu FROM o WHERE e='DEL')
       |SELECT edit, count(*)::BIGINT AS n,
       |  min(valid_until)::BIGINT AS min_until, max(valid_until)::BIGINT AS max_until
       |FROM f WHERE (edit='MV_BEFORE' AND valid_until > $start)
       |   OR (edit='MV_AFTER' AND valid_since >= $start AND valid_since < $end)
       |   OR (edit='DELETION' AND valid_until > $start AND valid_until < $end)
       |GROUP BY 1""".stripMargin
  }

  /** Analytic oracle for q39 (map-column tag-KEY filter rollup). */
  def q39: String = {
    val (verK, _, _) = q34State("k")
    s"""WITH $q34Ev,
       |st AS (
       |  SELECT *, $verK AS version,
       |    (restr OR (k >= 2 AND (id*13 + 2*37)%10 = 3)) AS m
       |  FROM ev
       |)
       |SELECT etype, count(*)::BIGINT AS n_rows, count(DISTINCT id)::BIGINT AS n_entities, max(version)::INT AS max_v
       |FROM st WHERE m GROUP BY 1""".stripMargin
  }

  // ---- q32/q38: image-pipeline replica oracle ------------------------------

  /** Staged splitmix64: returns (colName, expr) pairs defining `out` from the
    * UBIGINT-domain expression `src`. Staging through MATERIALIZED CTE
    * columns is mandatory — DuckDB inlines single-use CTEs, and the nested
    * mix tree re-explodes exponentially otherwise. */
  private def mixStageDefs(src: String, out: String): Seq[(String, String)] = Seq(
    (s"${out}_z1", s"((($src)::HUGEINT + 11400714819323198485) % $M64)::UBIGINT"),
    (s"${out}_z2", mulmod(s"xor(${out}_z1, ${out}_z1 >> 30)::HUGEINT", 0xBF58476D1CE4E5B9L) + "::UBIGINT"),
    (s"${out}_z3", mulmod(s"xor(${out}_z2, ${out}_z2 >> 27)::HUGEINT", 0x94D049BB133111EBL) + "::UBIGINT"),
    (out, s"xor(${out}_z3, ${out}_z3 >> 31)"))

  /** The ONE SQL encoding of ImageSynth.seedOf (idx → seed) as staged CTE
    * column defs — shared by geotagCtes and q33 so the seed recipe cannot
    * silently diverge between oracles. */
  private def seedStageDefs: Seq[(String, String)] =
    mixStageDefs(s"(${mulmod("idx::HUGEINT", 0x100000001B3L)} + 7) % $M64", "seed")

  /** CTE chain deriving the synthetic image table's geotag/meta hash values
    * (seed + the mix(seed^c) draws) for idx ∈ [0, n) — the DuckDB mirror of
    * graft.synth.{ImageSynth, Geotag}. Ends in a relation named `st3` with
    * columns idx, seed, sel, hdx, hdy, hlon, hlat, huid, hteam (+ any
    * `extra` draws a specific oracle needs, so queries that don't use them
    * don't pay for them). */
  private def geotagCtes(n: Long, extra: Seq[(String, Long)]): String = {
    val hashes = Seq(("sel", 41L), ("hdx", 43L), ("hdy", 47L), ("hlon", 53L),
      ("hlat", 59L), ("huid", 17L), ("hteam", 19L),
      ("hnoun", 13L), ("hsdx", 61L), ("hsdy", 67L), ("hday", 23L)) ++ extra
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"i AS (SELECT unnest(range(0, $n)) AS idx)")
    var prev = "i"
    var cols = Seq("idx")
    seedStageDefs.foreach {
      case (name, expr) =>
        ctes += s"s_$name AS MATERIALIZED (SELECT ${cols.mkString(", ")}, $expr AS $name FROM $prev)"
        prev = s"s_$name"; cols = cols :+ name
    }
    (0 until 4).foreach { stage =>
      val defs = hashes.map { case (h, c) => mixStageDefs(s"xor(seed, $c::UBIGINT)", h)(stage) }
      ctes += s"st$stage AS MATERIALIZED (SELECT ${cols.mkString(", ")}, ${defs.map { case (n2, e) => s"$e AS $n2" }.mkString(", ")} FROM $prev)"
      prev = s"st$stage"; cols = cols ++ defs.map(_._1)
    }
    ctes.mkString(",\n")
  }

  /** Geotag/meta/tile/PIP derivation CTEs shared by q32/q38/q45/q46/q49/q56
    * and the round-4 layers — mirrors Geotag.lonOf/latOf + ImageSynth.uidOf/
    * teamOf/dayOf + Quadkey z12 + the metro-box PIP with the identical
    * double-arithmetic operation order. Ends in `pj` with columns (idx, uid,
    * team, lon, lat, tile, boundary_id). Oracles needing additional seed draws pass them via
    * `extraHashes` (name → xor constant) with the derived columns in
    * `extraG` (expressions over the hash columns) — carried through pt by
    * name. */
  private def pipelineCtes(n: Long, extraHashes: Seq[(String, Long)] = Nil,
                           extraG: Seq[(String, String)] = Nil): String = {
    val gX = extraG.map { case (name, e) => s"  $e AS $name," }.mkString("\n")
    val ptX = extraG.map { case (name, _) => s"$name, " }.mkString
    s"""${geotagCtes(n, extraHashes)},
       |g AS (SELECT idx,
       |  ((sel & 2147483647) % 10 < 7) AS is_metro,
       |  ((sel >> 33) % 3)::INT AS midx,
       |  CAST(hdx & 1048575 AS DOUBLE) AS dxv, CAST(hdy & 1048575 AS DOUBLE) AS dyv,
       |  CAST(hlon & 16777215 AS DOUBLE) AS lonv, CAST(hlat & 16777215 AS DOUBLE) AS latv,
       |  ((huid & 2147483647) % 500)::BIGINT AS uid,
       |  ['kll','msf','dcx','hot'][((hteam & 2147483647) % 4)::INT + 1] AS team,
       |  ((hnoun & 2147483647) % 6)::INT AS noun_id,
       |  CAST(hsdx & 1048575 AS DOUBLE) AS sdxv, CAST(hsdy & 1048575 AS DOUBLE) AS sdyv,
       |$gX
       |  (18000 + (hday & 2147483647) % 365)::BIGINT AS day
       |FROM st3),
       |m AS (SELECT *,
       |  CASE midx WHEN 0 THEN -122.42 WHEN 1 THEN 2.35 ELSE 106.85 END AS mlon,
       |  CASE midx WHEN 0 THEN 37.77 WHEN 1 THEN 48.86 ELSE -6.21 END AS mlat,
       |  CASE midx WHEN 0 THEN 0.35 WHEN 1 THEN 0.25 ELSE 0.45 END AS spread
       |FROM g),
       |pt AS (SELECT idx, uid, team, noun_id, day, $ptX
       |  (sdxv / 1048575.0 - 0.5) * 0.02 AS sdlon,
       |  (sdyv / 1048575.0 - 0.5) * 0.02 AS sdlat,
       |  CASE WHEN is_metro THEN mlon + ((dxv / 1048575.0 - 0.5) * 2) * spread
       |       ELSE (lonv / 16777215.0) * 360.0 - 180.0 END AS lon,
       |  CASE WHEN is_metro THEN mlat + ((dyv / 1048575.0 - 0.5) * 2) * spread
       |       ELSE (latv / 16777215.0) * 170.0 - 85.0 END AS lat
       |FROM m),
       |tl AS (SELECT *,
       |  least(4095, greatest(0, CAST(trunc((lon + 180.0) / 360.0 * 4096.0) AS BIGINT)))::BIGINT AS tx,
       |  least(4095, greatest(0, CAST(floor((1.0 - 0.5 * ln((1.0 + sin(greatest(-85.05112878, least(85.05112878, lat)) / 180.0 * pi()))
       |     / (1.0 - sin(greatest(-85.05112878, least(85.05112878, lat)) / 180.0 * pi()))) / pi()) / 2.0 * 4096.0) AS BIGINT)))::BIGINT AS ty
       |FROM pt),
       |pj AS (SELECT *,
       |  12::BIGINT * 288230376151711744 + tx * 536870912 + ty AS tile,
       |  CASE WHEN lon > -122.42 - 0.35*1.2 AND lon < -122.42 + 0.35*1.2 AND lat > 37.77 - 0.35*1.2 AND lat < 37.77 + 0.35*1.2 THEN 'metro_0'
       |       WHEN lon > 2.35 - 0.25*1.2 AND lon < 2.35 + 0.25*1.2 AND lat > 48.86 - 0.25*1.2 AND lat < 48.86 + 0.25*1.2 THEN 'metro_1'
       |       WHEN lon > 106.85 - 0.45*1.2 AND lon < 106.85 + 0.45*1.2 AND lat > -6.21 - 0.45*1.2 AND lat < -6.21 + 0.45*1.2 THEN 'metro_2'
       |       WHEN lon > -10.0 AND lon < -9.0 AND lat > -89.9 AND lat < -89.0 THEN 'nowhere'
       |       ELSE NULL END AS boundary_id
       |FROM tl)""".stripMargin
  }

  /** Full replica oracle for q32 (codegen pipeline: geotag → z12 tile → PIP →
    * per-tile per-team pivot) — splitmix64 + web-mercator + PIP recomputed
    * bit-exactly in SQL. */
  def q32(n: Long): String =
    s"""WITH ${pipelineCtes(n)}
       |SELECT tile, boundary_id,
       |  sum(CASE WHEN team='kll' THEN 1 ELSE 0 END)::BIGINT AS kll_e,
       |  sum(CASE WHEN team='msf' THEN 1 ELSE 0 END)::BIGINT AS msf_e,
       |  sum(CASE WHEN team='dcx' THEN 1 ELSE 0 END)::BIGINT AS dcx_e,
       |  sum(CASE WHEN team='hot' THEN 1 ELSE 0 END)::BIGINT AS hot_e,
       |  count(*)::BIGINT AS team_sum_e,
       |  count(DISTINCT uid)::BIGINT AS n_users
       |FROM pj WHERE boundary_id IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Full replica oracle for q45 (tilePointSummaries measure matrix):
    * seed-derived noun class + synthetic segment + haversine km (identical FP
    * operation order to SpatialQueries.haversineKmCol — radians spelled as
    * (x/180)*pi, left-assoc products, least(1,sqrt), e6 fixed-point per
    * segment before summing), tile totals over all features, per-team +
    * team_sum measures over rostered (uid%5≠0) rows. */
  /** haversineKmCol(lat, lon, lat+sdlat, lon+sdlon) term-for-term — shared by
    * every oracle that reproduces the synthetic track-segment km measure. */
  private val segKm: String = {
    val sLat = "sin(((((lat + sdlat) - lat)/180.0)*pi())/2)"
    val sLon = "sin(((((lon + sdlon) - lon)/180.0)*pi())/2)"
    s"2*6371.0088*asin(least(1.0, sqrt($sLat*$sLat + cos((lat/180.0)*pi())*cos(((lat + sdlat)/180.0)*pi())*$sLon*$sLon)))"
  }

  def q45: String = {
    val teams = Seq("kll", "msf", "dcx", "hot")
    val teamCols = teams.map { t =>
      s"""  sum(CASE WHEN rostered AND team='$t' THEN 1 ELSE 0 END)::BIGINT AS ${t}_e,
         |  sum(CASE WHEN rostered AND team='$t' THEN km_e6 ELSE 0 END)::BIGINT AS ${t}_km_e6,
         |  sum(CASE WHEN rostered AND team='$t' THEN is_b ELSE 0 END)::BIGINT AS ${t}_b,
         |  sum(CASE WHEN rostered AND team='$t' THEN is_p ELSE 0 END)::BIGINT AS ${t}_p,""".stripMargin
    }.mkString("\n")
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows)},
       |feat AS (SELECT tile, team, (uid % 5 <> 0) AS rostered,
       |  CASE WHEN noun_id = 1 THEN floor($segKm * 1000000.0 + 0.5)::BIGINT ELSE 0 END AS km_e6,
       |  CASE WHEN noun_id = 0 THEN 1 ELSE 0 END AS is_b,
       |  CASE WHEN noun_id IN (3, 4) THEN 1 ELSE 0 END AS is_p
       |FROM pj WHERE boundary_id IS NOT NULL)
       |SELECT tile,
       |  count(*)::BIGINT AS total_features, sum(km_e6)::BIGINT AS total_km_e6,
       |  sum(is_b)::BIGINT AS total_b, sum(is_p)::BIGINT AS total_p,
       |$teamCols
       |  sum(CASE WHEN rostered THEN 1 ELSE 0 END)::BIGINT AS team_sum_e,
       |  sum(CASE WHEN rostered THEN km_e6 ELSE 0 END)::BIGINT AS team_sum_km_e6,
       |  sum(CASE WHEN rostered THEN is_b ELSE 0 END)::BIGINT AS team_sum_b,
       |  sum(CASE WHEN rostered THEN is_p ELSE 0 END)::BIGINT AS team_sum_p
       |FROM feat GROUP BY 1""".stripMargin
  }

  /** Replica oracle for q46 (userDailyPointSummaries Aggregator layer):
    * per-(uid, day) centroid over the PIP-joined features. Coordinates are
    * pre-rounded to integer-valued e6 doubles on BOTH sides, so the sums are
    * exact in any accumulation order and the Aggregator's distributed merge
    * cannot perturb the hash; the final mean is one correctly-rounded
    * division each side. */
  def q46: String =
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows)},
       |c AS (SELECT uid, day,
       |        floor(lon * 1000000.0 + 0.5)::BIGINT AS lon_e6, floor(lat * 1000000.0 + 0.5)::BIGINT AS lat_e6
       |      FROM pj WHERE boundary_id IS NOT NULL)
       |SELECT uid, day,
       |  floor(sum(lon_e6) / count(*) + 0.5)::BIGINT AS c_lon_e6,
       |  floor(sum(lat_e6) / count(*) + 0.5)::BIGINT AS c_lat_e6,
       |  count(*)::BIGINT AS n_pts
       |FROM c GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q49 (multi-zoom rollup): parent tiles derived by
    * integer division of the z12 tx/ty — arithmetically identical to the
    * engine's bit-shift parent chain (floor(floor(v·2^12)/2^(12-z)) ==
    * floor(v·2^z), clamps included). */
  def q49: String = {
    val legs = ImagePipeline.RollupZooms.map { z =>
      val d = 1L << (12 - z)
      s"""SELECT $z AS zoom, (${z}::BIGINT * 288230376151711744 + (tx // $d) * 536870912 + (ty // $d)) AS cell_id, team, uid
         |FROM f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows)},
       |f AS (SELECT tx, ty, team, uid FROM pj WHERE boundary_id IS NOT NULL),
       |mz AS (
       |$legs)
       |SELECT zoom::INT AS zoom, cell_id, team,
       |  count(*)::BIGINT AS n_edits, count(DISTINCT uid)::BIGINT AS n_users
       |FROM mz GROUP BY 1, 2, 3""".stripMargin
  }

  /** Replica oracle for q56 (tile centers): inverse web-mercator with the
    * same operation order as Quadkey.tileBounds/tileCenter (w and e computed
    * separately then averaged; lat via degrees(atan(sinh(π(1−2y/n))))),
    * e6-rounded to absorb Java-vs-libm ulp differences in atan/sinh. */
  def q56: String = {
    // DuckDB has no sinh: (exp(t)-exp(-t))/2 differs from Java's Math.sinh
    // only in final ulps, absorbed by the e6 rounding
    def latOf(yy: String) = {
      val t = s"(pi() * (1.0 - 2.0 * ($yy) / 4096.0))"
      s"degrees(atan((exp($t) - exp(-$t)) / 2.0))"
    }
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows)},
       |g2 AS (SELECT tile, tx, ty, count(*)::BIGINT AS n_feats
       |       FROM pj WHERE boundary_id IS NOT NULL GROUP BY 1, 2, 3)
       |SELECT tile, n_feats,
       |  floor(((tx / 4096.0 * 360.0 - 180.0) + ((tx + 1) / 4096.0 * 360.0 - 180.0)) / 2.0 * 1000000.0 + 0.5)::BIGINT AS c_lon_e6,
       |  floor((${latOf("ty + 1.0")} + ${latOf("ty::DOUBLE")}) / 2.0 * 1000000.0 + 0.5)::BIGINT AS c_lat_e6
       |FROM g2""".stripMargin
  }

  /** Replica oracle for q60 (teamDailyPointSummaries — the reference's
    * per-team per-day centroid+measures layer, map-contribution-extractor.js:
    * 241-275: turf.centerOfMass over each team's daily features with the
    * e/b/km/p measures per day): per (team, day), the e6-prerounded centroid
    * (exact integer sums, one correctly-rounded division — the q46 FP
    * discipline) plus edit/building/POI counts and the per-segment-rounded km
    * sum (the q45 measure discipline). */
  def q60: String =
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows)},
       |f AS (SELECT team, day,
       |  floor(lon * 1000000.0 + 0.5)::BIGINT AS lon_e6, floor(lat * 1000000.0 + 0.5)::BIGINT AS lat_e6,
       |  CASE WHEN noun_id = 1 THEN floor($segKm * 1000000.0 + 0.5)::BIGINT ELSE 0 END AS km_e6,
       |  CASE WHEN noun_id = 0 THEN 1 ELSE 0 END AS is_b,
       |  CASE WHEN noun_id IN (3, 4) THEN 1 ELSE 0 END AS is_p
       |FROM pj WHERE boundary_id IS NOT NULL)
       |SELECT team, day, count(*)::BIGINT AS e,
       |  sum(km_e6)::BIGINT AS km_e6, sum(is_b)::BIGINT AS b, sum(is_p)::BIGINT AS p,
       |  floor(sum(lon_e6) / count(*) + 0.5)::BIGINT AS c_lon_e6,
       |  floor(sum(lat_e6) / count(*) + 0.5)::BIGINT AS c_lat_e6
       |FROM f GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q61 (the `objects` layer as per-feature emission,
    * map-contribution-extractor.js:164-192): ONE ROW PER FEATURE with the
    * short-key property projection (u,h,c,t,v,m,n,r — uid, handle,
    * changeset, timestamp-day, version, team, noun class, region) and the
    * e6 geometry. The changeset/version draws mirror Statics.metaCs/metaVer
    * (mix(seed^29) % 100000, 1 + mix(seed^31) % 9). The engine side must
    * round-trip every row through the REAL geojsonseq sink (emit → from_json
    * parse-back), so a hash match proves the emission, the short-key
    * projection, and the shortest-roundtrip numeric formatting row for row. */
  def q61: String =
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows,
         Seq(("hcs", 29L), ("hver", 31L)),
         Seq(("cs", "((hcs & 2147483647) % 100000)::BIGINT"),
             ("ver", "(1 + (hver & 2147483647) % 9)::BIGINT")))}
       |SELECT idx::BIGINT AS idx, uid AS u, 'user' || uid AS h, cs AS c,
       |  day AS t, ver AS v, team AS m, noun_id::BIGINT AS n, boundary_id AS r,
       |  floor(lon * 1000000.0 + 0.5)::BIGINT AS lon_e6,
       |  floor(lat * 1000000.0 + 0.5)::BIGINT AS lat_e6
       |FROM pj WHERE boundary_id IS NOT NULL""".stripMargin

  /** Analytic oracle for q33 (pixel/caption/phash validation summary): the
    * row total comes from the generator domain (range(0, GateRows)) and the per-
    * format split is re-derived from the seed arithmetic (fmt = png iff
    * mix(seed^5) bit 0 is 0 — ImageSynth.rowOf), so the oracle now
    * cross-checks the engine's observed decode verdicts per format against
    * an independent derivation instead of pinning constants. The "all rows
    * validate" expectation (n_pixels_ok = n etc.) is the gate's substance on
    * the Spark side: DuckDB cannot decode images, so those columns assert
    * the engine-side decode/re-render/compare found zero failures. */
  def q33: String = {
    val stages = mixStageDefs("xor(seed, 5::UBIGINT)", "hfmt")
    var prev = "i"
    var cols = Seq("idx")
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"i AS (SELECT unnest(range(0, ${ImagePipeline.GateRows})) AS idx)")
    (seedStageDefs ++ stages).foreach { case (name, expr) =>
      ctes += s"f_$name AS MATERIALIZED (SELECT ${cols.mkString(", ")}, $expr AS $name FROM $prev)"
      prev = s"f_$name"; cols = cols :+ name
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT count(*)::BIGINT AS n_rows, count(*)::BIGINT AS n_pixels_ok,
       |  count(*)::BIGINT AS n_captions_ok, count(*)::BIGINT AS n_phash_ok,
       |  sum(CASE WHEN (hfmt & 1) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_png_ok,
       |  sum(CASE WHEN (hfmt & 1) = 1 THEN 1 ELSE 0 END)::BIGINT AS n_jpg_ok,
       |  true AS jpg_psnr_above_40
       |FROM $prev""".stripMargin
  }

  /** Replica oracle for q62 (checkpoint lineage manifests): re-derives the
    * per-row hex cell (graft.index.Hex.latLngToCell — axial projection + cube
    * rounding, with the projection constants and edge length inlined from the
    * Scala side via shortest-roundtrip formatting so both engines evaluate
    * the same IEEE operation sequence on the same constants), the bucket
    * assignment (mix(cell) % buckets — Checkpoint.bucketOf), and the
    * per-bucket (cellMin, cellMax, rowCount) lineage; empty buckets emit the
    * engine's sentinel (Long.MaxValue/MinValue, 0). Validation counters
    * equal rowCount — the all-rows-validate expectation, DuckDB being unable
    * to decode pixels (q33 semantics). */
  /** CTE block shared by q62/q64: per-idx hex cell (axial projection + cube
    * rounding) and bucket assignment, ending in `bk(idx, cell, bucket)`.
    * Constants are inlined from the Scala side via shortest-roundtrip
    * formatting so pow/sqrt library differences cannot bite — the SQL parses
    * the decimal back to the identical double. */
  private def hexBucketCtes(n: Long): String = {
    val sz = graft.index.Hex.edgeDeg(Checkpoint.HexRes).toString
    val c1 = (math.sqrt(3.0) / 3.0).toString
    val c2 = (1.0 / 3.0).toString
    val c4 = (2.0 / 3.0).toString
    val bias = 1L << 29
    s"""${pipelineCtes(n)},
       |hx0 AS (SELECT idx, ($c1 * lon - $c2 * lat) / $sz AS qf, ($c4 * lat) / $sz AS rf FROM pj),
       |hx1 AS (SELECT idx, qf, rf, -qf - rf AS sf,
       |        floor(qf + 0.5)::BIGINT AS q0, floor(rf + 0.5)::BIGINT AS r0 FROM hx0),
       |hx2 AS (SELECT idx, q0, r0, floor(sf + 0.5)::BIGINT AS s0,
       |        abs(q0 - qf) AS dq, abs(r0 - rf) AS dr, abs(floor(sf + 0.5) - sf) AS ds FROM hx1),
       |hx AS (SELECT idx,
       |       CASE WHEN dq > dr AND dq > ds THEN -r0 - s0 ELSE q0 END AS q,
       |       CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -q0 - s0 ELSE r0 END AS r
       |       FROM hx2),
       |cell AS (SELECT idx, (${Checkpoint.HexRes}::BIGINT << 60) + ((q + $bias) << 30) + (r + $bias) AS cell FROM hx),
       |bk AS (SELECT idx, cell, ((${mix("cell")} & 2147483647) % ${Checkpoint.GateBuckets})::INT AS bucket FROM cell)""".stripMargin
  }

  def q62: String =
    s"""WITH ${hexBucketCtes(Checkpoint.LineageRows)},
       |agg AS (SELECT bucket, min(cell) AS cell_min, max(cell) AS cell_max,
       |        count(*)::BIGINT AS row_count FROM bk GROUP BY 1)
       |SELECT b.b::INT AS bucket,
       |  coalesce(a.cell_min, 9223372036854775807)::BIGINT AS cell_min,
       |  coalesce(a.cell_max, -9223372036854775808)::BIGINT AS cell_max,
       |  coalesce(a.row_count, 0)::BIGINT AS row_count,
       |  coalesce(a.row_count, 0)::BIGINT AS n_pixels_ok,
       |  coalesce(a.row_count, 0)::BIGINT AS n_captions_ok
       |FROM range(0, ${Checkpoint.GateBuckets}) b(b) LEFT JOIN agg a ON b.b = a.bucket""".stripMargin

  /** Replica oracle for q64 (append-only incremental ingestion): the same
    * analytic hex-cell/bucket lineage derivation as q62, over the FULL grown
    * domain [0, AppendRows) with the epoch inferred from the id
    * (idx < AppendSplit → epoch 0, else epoch 1) — exactly the split the engine saw as two successive
    * incremental runs. Grouping by (epoch, bucket) and emitting the sentinel
    * for empty partitions, a hash match proves the incremental manifests
    * jointly describe every row of the union: nothing appended was dropped
    * into an already-committed partition, nothing was double-counted. */
  def q64: String =
    s"""WITH ${hexBucketCtes(Checkpoint.AppendRows)},
       |bke AS (SELECT idx, cell, bucket,
       |        CASE WHEN idx < ${Checkpoint.AppendSplit} THEN 0 ELSE 1 END AS epoch FROM bk),
       |agg AS (SELECT epoch, bucket, min(cell) AS cell_min, max(cell) AS cell_max,
       |        count(*)::BIGINT AS row_count FROM bke GROUP BY 1, 2)
       |SELECT e.e::INT AS epoch, b.b::INT AS bucket,
       |  coalesce(a.cell_min, 9223372036854775807)::BIGINT AS cell_min,
       |  coalesce(a.cell_max, -9223372036854775808)::BIGINT AS cell_max,
       |  coalesce(a.row_count, 0)::BIGINT AS row_count,
       |  coalesce(a.row_count, 0)::BIGINT AS n_pixels_ok,
       |  coalesce(a.row_count, 0)::BIGINT AS n_captions_ok
       |FROM range(0, 2) e(e) CROSS JOIN range(0, ${Checkpoint.GateBuckets}) b(b)
       |LEFT JOIN agg a ON e.e = a.epoch AND b.b = a.bucket""".stripMargin

  // ---- q31: full ANN-LSH replica oracle ------------------------------------

  /** Left-to-right dot product of two 64-dim embedding expressions, the
    * Scala dot loop's summation order. */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"

  /** Complete DuckDB replica of graft.ann.Ann.lshTopK: the deterministic
    * hyperplanes are inlined as literal constants (they're part of the
    * algorithm spec, like projection constants); signatures, banding,
    * candidate dedup and the exact cosine rerank are all recomputed in SQL.
    * Dot products reduce left-to-right exactly like the Scala loop, so signs
    * and ranks are bit-parity. On this corpus (uniform random vectors, no
    * planted clusters) recall-vs-brute is inherently partial — what this
    * oracle verifies is the LSH pipeline itself, end to end. */
  def q31: String = {
    val planes = Ann.hyperplanes(Ann.LshBits, EmbeddingDim)
    val bitsPerBand = planes.length / Ann.LshBands
    val mask = (1L << bitsPerBand) - 1
    val planeRows = planes.zipWithIndex.map { case (w, p) =>
      s"($p, [${w.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH planes(p, w) AS (VALUES
       |  $planeRows),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |sig AS (
       |  SELECT vec_id, sum(CASE WHEN ${dot("e", "w")} >= 0 THEN (1::UBIGINT << p) ELSE 0 END)::UBIGINT AS s
       |  FROM v, planes GROUP BY 1),
       |vb AS (SELECT vec_id, b, (s >> (b * $bitsPerBand)) & $mask AS band FROM sig, range(${Ann.LshBands}) r(b)),
       |qb AS (SELECT vec_id AS qid, b, band AS qband FROM vb WHERE vec_id < ${Ann.Q}),
       |cand AS (SELECT DISTINCT qb.qid, vb.vec_id
       |         FROM vb JOIN qb ON vb.b = qb.b AND vb.band = qb.qband),
       |qv AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
       |rer AS (
       |  SELECT c.qid, c.vec_id,
       |    ${dot("qv.qe", "v.e")} / (sqrt(${dot("qv.qe", "qv.qe")}) * sqrt(${dot("v.e", "v.e")})) AS cos
       |  FROM cand c JOIN v ON c.vec_id = v.vec_id JOIN qv ON c.qid = qv.qid),
       |rk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM rer)
       |SELECT qid, vec_id, rank::INT AS rank FROM rk WHERE rank <= ${Ann.K}""".stripMargin
  }

  /** Oracle for q48 (ANN-LSH recall certification): brute-force top-k via
    * DuckDB's own cosine (independent of the engine) left-joined with the
    * q31 LSH replica; per-query hit counts and recall in basis points. */
  def q48: String =
    s"""WITH brute AS (
       |  WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |  q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
       |  d AS (SELECT q.qid, v.vec_id, list_cosine_similarity(q.qe, v.e) AS c FROM v CROSS JOIN q),
       |  r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk FROM d)
       |  SELECT qid, vec_id FROM r WHERE rk <= ${Ann.K}),
       |lsh AS ($q31)
       |SELECT b.qid, count(*)::BIGINT AS k_total,
       |  sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |  floor(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000.0 / count(*))::BIGINT AS recall_bp
       |FROM brute b LEFT JOIN lsh l ON b.qid = l.qid AND b.vec_id = l.vec_id
       |GROUP BY 1""".stripMargin

  /** Oracle for q44 (embedding-cosine near-dup): all pairs with cosine ≥
    * threshold, cosine computed with the same left-to-right dot reduction as
    * the Scala kernel for FP bit-parity. */
  def q44: String = {
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (SELECT l.vec_id AS a, r.vec_id AS b,
       |        ${dot("l.e", "r.e")} / (sqrt(${dot("l.e", "l.e")}) * sqrt(${dot("r.e", "r.e")})) AS c
       |      FROM v l JOIN v r ON l.vec_id < r.vec_id)
       |SELECT a, b, floor(c * 10000.0 + 0.5)::BIGINT AS cos_e4 FROM p WHERE c >= ${Ann.DedupCos}""".stripMargin
  }

  /** Replica oracle for q65 (ANN LSH near-dup tier on the planted corpus):
    * rebuilds graft.ann.Ann.plantedNearDupVecs component-for-component —
    * splitmix64 of the same inputs, top-53-bit uniform `(h >> 11)/2^52 − 1`,
    * `base + eps·noise` in the same operation order — then computes ALL
    * pairs with exact cosine ≥ threshold (the q44 left-to-right dot). The
    * engine runs the LSH TIER under production defaults against this exact
    * relation, so a hash match proves tier recall is exactly 1.0 AND that
    * the bucketed path's verify kernel is FP-bit-identical to exact. */
  def q65: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, ${Ann.PlantedDim + 1}), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"
    def unit(h: String) = s"((($h) >> 11)::DOUBLE / 4503599627370496.0 - 1.0)"
    s"""WITH ids AS (SELECT unnest(range(0, ${Ann.PlantedRows})) AS idx),
       |dims AS (SELECT unnest(range(0, ${Ann.PlantedDim})) AS i),
       |hashed AS (SELECT idx, i,
       |    ${mix(s"((idx // ${Ann.PlantedGroup}) * ${Ann.PlantedDim} + i + 10000000)::UBIGINT")} AS hb,
       |    ${mix(s"(idx * ${Ann.PlantedDim} + i + 20000000)::UBIGINT")} AS hn
       |  FROM ids CROSS JOIN dims),
       |comp AS (SELECT idx, i, ${unit("hb")} + ${Ann.PlantedEps} * ${unit("hn")} AS c FROM hashed),
       |v AS (SELECT idx AS vec_id, list(c ORDER BY i) AS e FROM comp GROUP BY 1),
       |p AS (SELECT l.vec_id AS a, r.vec_id AS b,
       |        ${dot("l.e", "r.e")} / (sqrt(${dot("l.e", "l.e")}) * sqrt(${dot("r.e", "r.e")})) AS c
       |      FROM v l JOIN v r ON l.vec_id < r.vec_id)
       |SELECT a, b, floor(c * 10000.0 + 0.5)::BIGINT AS cos_e4 FROM p WHERE c >= ${Ann.PlantedCos}""".stripMargin
  }

  /** Replica oracle for q66 (int8 scalar-quantized ANN): replays the SQ8
    * tier mechanically — per-vector lo/hi, `floor((x−lo)·255/(hi−lo)+0.5)`
    * codes, `lo + code·step` reconstruction, and cosine of the full-
    * precision query against the reconstruction with the q44 left-to-right
    * reductions — so rank-for-rank agreement proves quantization,
    * reconstruction and scoring end to end. (Recall vs the un-quantized
    * answer is pinned separately in AnnSpec: information loss is a quality
    * metric, not an oracle question.) */
  def q66: String = {
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, list_min(e) AS lo, list_max(e) AS hi FROM v),
       |c AS (SELECT vec_id, lo, (hi - lo) / 255.0 AS step,
       |        CASE WHEN hi > lo
       |          THEN list_transform(range(1, 65), i -> floor((e[i] - lo) * 255.0 / (hi - lo) + 0.5))
       |          ELSE list_transform(range(1, 65), i -> 0.0) END AS code
       |      FROM b),
       |r AS (SELECT vec_id, list_transform(range(1, 65), i -> lo + code[i] * step) AS rl FROM c),
       |qs AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
       |sc AS (SELECT qs.qid, r.vec_id,
       |        ${dot("qs.qe", "r.rl")} / (sqrt(${dot("qs.qe", "qs.qe")}) * sqrt(${dot("r.rl", "r.rl")})) AS cos
       |      FROM r CROSS JOIN qs),
       |rk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM sc)
       |SELECT qid, vec_id, rank::INT AS rank FROM rk WHERE rank <= ${Ann.K}""".stripMargin
  }

  /** Replica oracle for q73 (SemDeDup at nlist = 1): with a single cluster
    * the clustering cannot change the answer, so the relation must equal
    * exact all-pairs semantic dedup — all-pairs cosine ≥ θ (the q44
    * left-to-right dot), recursive-CTE transitive closure (the q63 oracle
    * family — a different algorithm than the engine's label propagation),
    * keep = (vec_id == component minimum), singletons keep trivially. */
  def q73: String = {
    s"""WITH RECURSIVE vv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (SELECT l.vec_id AS a, r.vec_id AS b,
       |        ${dot("l.e", "r.e")} / (sqrt(${dot("l.e", "l.e")}) * sqrt(${dot("r.e", "r.e")})) AS c
       |      FROM vv l JOIN vv r ON l.vec_id < r.vec_id),
       |pr AS (SELECT a, b FROM p WHERE c >= ${Ann.DedupCos}),
       |ed AS (SELECT a AS u, b AS w FROM pr UNION ALL SELECT b, a FROM pr),
       |verts AS (SELECT DISTINCT u AS vec_id FROM ed),
       |reach(vec_id, r) AS (
       |  SELECT vec_id, vec_id FROM verts
       |  UNION
       |  SELECT ed.u, reach.r FROM ed JOIN reach ON reach.vec_id = ed.w
       |),
       |lab AS (SELECT vec_id, min(r) AS label FROM reach GROUP BY 1),
       |m AS (SELECT vv.vec_id, coalesce(lab.label, vv.vec_id) AS component
       |      FROM vv LEFT JOIN lab ON vv.vec_id = lab.vec_id)
       |SELECT vec_id, component,
       |  (CASE WHEN vec_id = component THEN 1 ELSE 0 END)::BIGINT AS keep FROM m""".stripMargin
  }

  /** Replica oracle for q75 (integer-lattice product quantization): replays
    * the ENTIRE PQ pipeline in SQL — e6 lattice quantization, the ksub
    * lowest-id seed codebooks, `iters` Lloyd rounds as a recursive CTE
    * (assignment = exact integer argmin with the `D·ksub + j` tie encoding,
    * update = floor-div integer means with empty clusters keeping their
    * centroid), final code assignment, reconstruction (`c / 1e6` per
    * component in dim order) and the q66 left-to-right cosine kernel. This
    * is only possible because the engine trains on the integer lattice:
    * every sum is exact 64-bit arithmetic, so the replay cannot drift with
    * aggregation order the way FP k-means would. Validated cross-engine
    * (tools-side prototype) at both gate scales before wiring. */
  def q75: String = {
    val dsub = 64 / Ann.PqM
    s"""WITH RECURSIVE
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |lat AS (SELECT vec_id, i-1 AS dim, floor(e[i]*1000000.0 + 0.5)::BIGINT AS q
       |        FROM v, range(1, 65) r(i)),
       |lsub AS (SELECT vec_id, dim // $dsub AS sub, dim % $dsub AS sd, q FROM lat),
       |init AS (SELECT sub, row_number() OVER (PARTITION BY sub, sd ORDER BY vec_id) - 1 AS cid, sd, q AS c
       |         FROM lsub WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT ${Ann.PqKsub})),
       |km(it, sub, cid, sd, c) AS (
       |  SELECT 0, sub, cid, sd, c FROM init
       |  UNION ALL
       |  (WITH cur AS (SELECT * FROM km WHERE it < ${Ann.LloydIters}),
       |   d AS (SELECT l.vec_id, l.sub, cur.cid, cur.it, sum((l.q - cur.c)*(l.q - cur.c)) AS dist
       |         FROM lsub l JOIN cur ON l.sub = cur.sub AND l.sd = cur.sd
       |         GROUP BY 1, 2, 3, 4),
       |   a AS (SELECT vec_id, sub, it, (min(dist::BIGINT * ${Ann.PqKsub} + cid) % ${Ann.PqKsub})::BIGINT AS cid
       |         FROM d GROUP BY 1, 2, 3),
       |   upd AS (SELECT a.it + 1 AS it, a.sub, a.cid, l.sd,
       |             (sum(l.q) // count(*))::BIGINT AS c
       |           FROM a JOIN lsub l ON a.vec_id = l.vec_id AND a.sub = l.sub
       |           GROUP BY 1, 2, 3, 4)
       |   SELECT cur.it + 1, cur.sub, cur.cid, cur.sd, coalesce(upd.c, cur.c)
       |   FROM cur LEFT JOIN upd ON upd.it = cur.it + 1 AND upd.sub = cur.sub
       |        AND upd.cid = cur.cid AND upd.sd = cur.sd)
       |),
       |fin AS (SELECT sub, cid, sd, c FROM km WHERE it = ${Ann.LloydIters}),
       |dd AS (SELECT l.vec_id, l.sub, f.cid, sum((l.q - f.c)*(l.q - f.c)) AS dist
       |       FROM lsub l JOIN fin f ON l.sub = f.sub AND l.sd = f.sd
       |       GROUP BY 1, 2, 3),
       |code AS (SELECT vec_id, sub, (min(dist::BIGINT * ${Ann.PqKsub} + cid) % ${Ann.PqKsub})::BIGINT AS cid
       |         FROM dd GROUP BY 1, 2),
       |rv AS (SELECT c2.vec_id, list(f.c ORDER BY c2.sub * $dsub + f.sd) AS rl
       |       FROM code c2 JOIN fin f ON c2.sub = f.sub AND c2.cid = f.cid
       |       GROUP BY 1),
       |rd AS (SELECT vec_id, list_transform(rl, x -> x::DOUBLE / 1000000.0) AS r FROM rv),
       |qs AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < ${Ann.Q}),
       |sc AS (SELECT qs.qid, rd.vec_id,
       |         ${dot("qs.qe", "rd.r")} / (sqrt(${dot("qs.qe", "qs.qe")}) * sqrt(${dot("rd.r", "rd.r")})) AS cos
       |       FROM rd CROSS JOIN qs),
       |rk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM sc)
       |SELECT qid, vec_id, rank::INT AS rank FROM rk WHERE rank <= ${Ann.K}""".stripMargin
  }

  /** graft.multimodal.PhashDedup.plantedPhashCorpus replayed analytically →
    * CTE text defining `corp(id, g, ph, caption)` with ph as UBIGINT
    * (bit-identical to the Scala signed long: xor/shift/& are
    * representation-agnostic; only ids and hamming counts leave the CTE).
    * n is scale-coupled to the gate input: (SELECT count(*) FROM documents),
    * matching the engine's `documents.count()`. Validated cross-engine in a
    * python+duckdb prototype (pairs AND per-row corpus values) before
    * wiring, per the q75 discipline. */
  def phashCorpusCte: String = {
    val n = "(SELECT count(*) FROM documents)"
    s"""ids AS (SELECT unnest(range(0, $n)) AS id),
       |hp AS (SELECT id, id // 3 AS g, id % 3 AS r,
       |         ${mix("(id // 3 + 30000000)::UBIGINT")} AS base,
       |         (${mix("(id * 8 + 1 + 40000000)::UBIGINT")} & 63)::INT AS p1,
       |         (${mix("(id * 8 + 2 + 40000000)::UBIGINT")} & 63)::INT AS p2,
       |         ((${mix("(id + 50000000)::UBIGINT")} & 7) = 0) AS alt
       |       FROM ids),
       |corp AS (SELECT id, g,
       |         xor(xor(base, CASE WHEN r >= 1 THEN (1::UBIGINT << p1) ELSE 0::UBIGINT END),
       |                       CASE WHEN r =  2 THEN (1::UBIGINT << p2) ELSE 0::UBIGINT END) AS ph,
       |         'cap-' || g::VARCHAR || (CASE WHEN alt THEN '-alt' ELSE '' END) AS caption
       |       FROM hp)""".stripMargin
  }

  /** Replica oracle for q78 (phash hamming near-dup): exact ALL-PAIRS
    * bit_count(xor) ≤ maxHam over the replayed corpus — candidate-free, so
    * a hash match proves the engine's pigeonhole+bounded-bucket path finds
    * exactly the full relation (the 4-segment guarantee radius is 3). */
  def q78: String =
    s"""WITH ${phashCorpusCte}
       |SELECT l.id AS a, r.id AS b, bit_count(xor(l.ph, r.ph))::INT AS ham
       |FROM corp l JOIN corp r ON l.id < r.id
       |WHERE bit_count(xor(l.ph, r.ph)) <= ${graft.text.Dedup.MaxHam}""".stripMargin

  /** Replica oracle for q79 (per-image dup decision + caption conflict):
    * recursive-CTE transitive closure over the all-pairs ham≤3 edges (the
    * q63/q73 oracle family — a different algorithm than the engine's label
    * propagation), min-id representative, conflict = component carries >1
    * distinct caption; singletons keep trivially with conflict 0. */
  def q79: String =
    s"""WITH RECURSIVE ${phashCorpusCte},
       |p AS (SELECT l.id AS a, r.id AS b FROM corp l JOIN corp r ON l.id < r.id
       |      WHERE bit_count(xor(l.ph, r.ph)) <= ${graft.text.Dedup.MaxHam}),
       |ed AS (SELECT a AS u, b AS w FROM p UNION ALL SELECT b, a FROM p),
       |verts AS (SELECT DISTINCT u AS id FROM ed),
       |reach(id, rr) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT ed.u, reach.rr FROM ed JOIN reach ON reach.id = ed.w
       |),
       |lab AS (SELECT id, min(rr) AS label FROM reach GROUP BY 1),
       |m AS (SELECT corp.id, coalesce(lab.label, corp.id) AS component, corp.caption
       |      FROM corp LEFT JOIN lab ON corp.id = lab.id),
       |cf AS (SELECT component, (count(DISTINCT caption) > 1) AS conflict FROM m GROUP BY 1)
       |SELECT m.id AS image_id, m.component,
       |  (CASE WHEN m.id = m.component THEN 1 ELSE 0 END)::BIGINT AS keep,
       |  (CASE WHEN cf.conflict THEN 1 ELSE 0 END)::BIGINT AS conflict
       |FROM m JOIN cf ON m.component = cf.component""".stripMargin

  /** Replica oracle for q80 (exact-rational BM25 top terms): replays the
    * whole scoring pipeline in HUGEINT — tf/dl/df/corpus aggregates over
    * the same space-split tokens, the cleared-denominator num/den products,
    * and the 128-bit `(2·10⁶·num + den) // (2·den)` floor that both engines
    * define score_e6 by. No FP anywhere (the engine omits BM25's ln for
    * exactly this reason — see TextOps.bm25TopTerms). */
  def q80: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::HUGEINT AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::HUGEINT AS dl FROM tok GROUP BY 1),
       |gs AS (SELECT count(*)::HUGEINT AS d, sum(dl)::HUGEINT AS s FROM dl),
       |df AS (SELECT term, count(*)::HUGEINT AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.term,
       |         (22 * tf.tf * gs.s * (2 * gs.d - 2 * df.df + 1)) AS num,
       |         ((10 * tf.tf * gs.s + 3 * gs.s + 9 * dl.dl * gs.d) * (2 * df.df + 1)) AS den
       |       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN gs),
       |fin AS (SELECT doc_id, term, ((2000000 * num + den) // (2 * den))::BIGINT AS score_e6 FROM sc),
       |rk AS (SELECT doc_id, term, score_e6,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, term) AS rank
       |       FROM fin)
       |SELECT doc_id, term, score_e6, rank::INT AS rank FROM rk WHERE rank <= ${graft.text.TextOps.Bm25TopK}""".stripMargin

  /** q83: the whole KMV sketch replayed in SQL — distinct splitmix64 of
    * l_partkey, k smallest in unsigned order (the UBIGINT domain IS unsigned
    * order), ranks, and the (k−1)·2⁶⁴ // h₍ₖ₎ estimate as one HUGEINT floor
    * division. `h` is re-signed to match the engine's Long column. */
  def q83: String = {
    val k = Sketches.DistinctK
    s"""WITH hs AS (SELECT DISTINCT ${mix("l_partkey")} AS m FROM lineitem),
       |top AS (SELECT m FROM hs ORDER BY m LIMIT $k),
       |r AS (SELECT m, row_number() OVER (ORDER BY m) AS rank FROM top),
       |kth AS (SELECT max(m)::HUGEINT AS mk, count(*)::HUGEINT AS cnt FROM top)
       |SELECT r.rank::INT AS rank,
       |  (CASE WHEN r.m >= 9223372036854775808::UBIGINT
       |        THEN r.m::HUGEINT - $M64::HUGEINT ELSE r.m::HUGEINT END)::BIGINT AS h,
       |  (CASE WHEN kth.cnt < $k THEN kth.cnt
       |        ELSE (${k - 1}::HUGEINT * $M64::HUGEINT) // kth.mk END)::BIGINT AS est_distinct
       |FROM r, kth""".stripMargin
  }

  /** Register count and the ρ of an all-zero remainder at [[Sketches.HllP]]. */
  private val HllM = 1 << Sketches.HllP
  private val HllRmax = 64 - Sketches.HllP + 1

  /** The HLL register CTEs over `h(hm)`: `b` (bucket and remainder), `rh`
    * (ρ), `regs` (the register file) and `s` (its harmonic sum `sv`), one
    * register file per value of `group` (grid via CROSS JOIN range(m)), or
    * one for the whole relation. ρ uses the bin()-length identity
    * (clz(x) = 64 − length(bin(x)) for x ≠ 0 — integer-string arithmetic, no
    * FP log). */
  private def hllCtes(group: Option[String]): String = {
    val sum = s"sum((1::HUGEINT << ($HllRmax - r)))::HUGEINT AS sv"
    val regs = group match {
      case None =>
        s"""regs AS (SELECT r.b AS bucket, coalesce(max(rho), 0)::BIGINT AS r
           |         FROM range($HllM) r(b) LEFT JOIN rh ON rh.bucket = r.b GROUP BY 1),
           |s AS (SELECT $sum FROM regs)"""
      case Some(g) =>
        s"""grp AS (SELECT DISTINCT $g FROM h),
           |regs AS (SELECT g.$g, r.b AS bucket, coalesce(max(rho), 0)::BIGINT AS r
           |         FROM grp g CROSS JOIN range($HllM) r(b)
           |         LEFT JOIN rh ON rh.$g = g.$g AND rh.bucket = r.b
           |         GROUP BY 1, 2),
           |s AS (SELECT $g, $sum
           |      FROM regs GROUP BY 1)"""
    }
    val g = group.fold("")(_ + ", ")
    s"""b AS (SELECT $g(hm >> ${64 - Sketches.HllP}) AS bucket,
       |        ((hm::HUGEINT * $HllM) % $M64)::UBIGINT AS rest FROM h),
       |rh AS (SELECT ${g}bucket,
       |        CASE WHEN rest = 0 THEN $HllRmax ELSE 65 - length(bin(rest)) END AS rho FROM b),
       |$regs""".stripMargin
  }

  /** The raw HLL estimate α·m²·2^59/S from the harmonic sum `sv`, HUGEINT-exact,
    * mirroring the engine's BigInt. */
  private def hllEstimate(sv: String): String =
    s"((709::HUGEINT * $HllM * $HllM * (1::HUGEINT << $HllRmax)) // (1000::HUGEINT * $sv))::BIGINT"

  /** q87: the HLL register file + raw estimate replayed in SQL. */
  def q87: String =
    s"""WITH h AS (SELECT ${mix("l_partkey")} AS hm FROM lineitem),
       |${hllCtes(None)}
       |SELECT regs.bucket::BIGINT AS bucket, regs.r,
       |  ${hllEstimate("s.sv")} AS est_distinct
       |FROM regs, s""".stripMargin

  /** q99: per-group HLL raw estimates replayed (grouped q87). */
  def q99: String =
    s"""WITH h AS (SELECT event_type, ${mix("user_id")} AS hm FROM events),
       |${hllCtes(Some("event_type"))}
       |SELECT event_type,
       |  ${hllEstimate("sv")} AS est_users
       |FROM s""".stripMargin

  /** q103: the incremental rollup's target relation computed DIRECTLY (no
    * partial/merge step — that asymmetry is the point): per-day counts,
    * cent sums, and the q99-style per-day HLL raw estimate. */
  def q103: String =
    s"""WITH e AS (SELECT floor(floor(epoch(ts)) / 86400)::BIGINT AS day, user_id,
       |        floor(value * 100.0 + 0.5)::BIGINT AS vc FROM events),
       |h AS (SELECT day, ${mix("user_id")} AS hm FROM e),
       |${hllCtes(Some("day"))},
       |est AS (SELECT day,
       |        ${hllEstimate("sv")} AS est_users
       |        FROM s),
       |base AS (SELECT day, count(*)::BIGINT AS n_events, sum(vc)::BIGINT AS value_cents
       |         FROM e GROUP BY 1)
       |SELECT base.day, base.n_events, base.value_cents, est.est_users
       |FROM base JOIN est ON base.day = est.day""".stripMargin

  /** q98: the tile-mosaic brightness layer replayed analytically — fmt coin
    * (q33's split) + the four sampled pixels from the synth formula
    * pixel(x,y) = (mix(seed ^ ((y div 8)<<32) ^ (x div 8)) & 0xBF)
    * + (x mod 8)·3 + (y mod 8)·4 at (0,0)/(9,0)/(0,9)/(9,9), per z12 tile.
    * A hash match proves the engine's REAL PNG decode returned exactly the
    * bytes the synthesizer wrote — per tile, against independent SQL. */
  def q98: String =
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows,
         Seq(("hfmt", 5L), ("hp00", 0L), ("hp90", 1L),
           ("hp09", 4294967296L), ("hp99", 4294967297L)),
         Seq(("is_png", "(hfmt & 1) = 0"),
           ("brightness",
             "((hp00 & 191) + (hp90 & 191) + 3 + (hp09 & 191) + 4 + (hp99 & 191) + 7)::BIGINT")))}
       |SELECT tile, count(*)::BIGINT AS n_png, sum(brightness)::BIGINT AS sum_brightness
       |FROM pj WHERE is_png GROUP BY 1""".stripMargin

  /** Replica oracle for q151 (MetroBrightness.layer): the full raster→
    * vector→rollup chain analytically — q98's four sampled pixels, the
    * geotag, the metro-box PIP, and the team draw, grouped per (boundary,
    * team) over PNG rows. */
  def q151: String =
    s"""WITH ${pipelineCtes(ImagePipeline.GateRows,
         Seq(("hfmt", 5L), ("hp00", 0L), ("hp90", 1L),
           ("hp09", 4294967296L), ("hp99", 4294967297L)),
         Seq(("is_png", "(hfmt & 1) = 0"),
           ("brightness",
             "((hp00 & 191) + (hp90 & 191) + 3 + (hp09 & 191) + 4 + (hp99 & 191) + 7)::BIGINT")))}
       |SELECT boundary_id, team, count(*)::BIGINT AS n_png,
       |  sum(brightness)::BIGINT AS sum_brightness
       |FROM pj WHERE is_png AND boundary_id IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** q96: KMV union/intersection estimates replayed — per-side top-k
    * sketches, merged union sketch, ρ membership count, and both HUGEINT
    * floor-division estimates (mirrors Sketches.kmvIntersect). */
  def q96: String = {
    val (k, cut) = (Sketches.IntersectK, Sketches.IntersectCut)
    s"""WITH a AS (SELECT DISTINCT ${mix("l_orderkey")} AS m FROM lineitem
       |           WHERE l_shipdate < TIMESTAMP '$cut'),
       |b AS (SELECT DISTINCT ${mix("l_orderkey")} AS m FROM lineitem
       |      WHERE l_shipdate >= TIMESTAMP '$cut'),
       |ta AS (SELECT m FROM a ORDER BY m LIMIT $k),
       |tb AS (SELECT m FROM b ORDER BY m LIMIT $k),
       |u AS (SELECT m FROM (SELECT m FROM ta UNION SELECT m FROM tb) ORDER BY m LIMIT $k),
       |kth AS (SELECT max(m)::HUGEINT AS mk, count(*)::HUGEINT AS cnt FROM u),
       |rho AS (SELECT count(*)::HUGEINT AS r FROM u
       |        WHERE m IN (SELECT m FROM ta) AND m IN (SELECT m FROM tb)),
       |est AS (SELECT CASE WHEN kth.cnt < $k THEN kth.cnt
       |               ELSE (${k - 1}::HUGEINT * $M64::HUGEINT) // kth.mk END AS eu
       |        FROM kth)
       |SELECT rho.r::BIGINT AS rho, est.eu::BIGINT AS est_union,
       |  (CASE WHEN kth.cnt < $k THEN rho.r ELSE (rho.r * est.eu) // $k END)::BIGINT AS est_inter
       |FROM rho, est, kth""".stripMargin
  }

  /** q97: the Count-Min estimate for every distinct partkey, replayed —
    * salted-mix column hashing, d×w counter sums, min over rows (mirrors
    * CountMin.partkeyFreq; salt j = (j+1)·golden). */
  def q97: String = {
    val (d, w) = (CountMin.Depth, CountMin.Width)
    val hashes = (0 until d).map { j =>
      val salted = s"xor(l_partkey::UBIGINT, ${java.lang.Long.toUnsignedString((j + 1).toLong * 0x9E3779B97F4A7C15L)}::UBIGINT)"
      s"SELECT $j AS j, (${mix(salted)} & ${w - 1}) AS col, l_partkey FROM lineitem"
    }.mkString(" UNION ALL ")
    s"""WITH rows_ AS ($hashes),
       |cm AS (SELECT j, col, count(*)::BIGINT AS c FROM rows_ GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT j, col, l_partkey FROM rows_)
       |SELECT p.l_partkey, min(cm.c)::BIGINT AS est_n
       |FROM probes p JOIN cm ON p.j = cm.j AND p.col = cm.col
       |GROUP BY 1""".stripMargin
  }

  /** Morton interleave of BIGINT columns `ix`/`iy` (low `bits` each) as a
    * sum of literal-shift terms — mirrors graft.spatial.ZOrder.mortonCol
    * term for term (integer arithmetic, merge-order-free). */
  def mortonExpr(ix: String, iy: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(($ix >> $i) & 1) * ${1L << (2 * i)} + (($iy >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** q91: z-range-bucket rollup of the morton codes of the event points. */
  def q91: String = {
    val n = 1L << graft.spatial.ZOrder.RollupBits
    s"""WITH p AS ($pts),
       |g AS (SELECT least(floor((lon + 180.0) / 360.0 * $n.0), ${n - 1}.0)::BIGINT AS ix,
       |             least(floor((lat + 90.0) / 180.0 * $n.0), ${n - 1}.0)::BIGINT AS iy FROM p),
       |m AS (SELECT (${mortonExpr("ix", "iy", graft.spatial.ZOrder.RollupBits)})::BIGINT AS morton FROM g)
       |SELECT (morton >> 6)::BIGINT AS zbucket, count(*)::BIGINT AS n,
       |  min(morton)::BIGINT AS min_code, max(morton)::BIGINT AS max_code
       |FROM m GROUP BY 1""".stripMargin
  }

  /** q94: geohash (graft.index.Geohash — lon-first MSB interleave, base32)
    * prefix rollup over the event points. */
  def q94: String = {
    val precision = graft.index.Geohash.RollupPrecision
    val totalBits = 5 * precision
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    val lonShift = if (totalBits % 2 == 0) 1 else 0
    val lonN = 1L << lonBits; val latN = 1L << latBits
    val code =
      (0 until lonBits).map(i => s"((ix >> $i) & 1) * ${1L << (2 * i + lonShift)}") ++
        (0 until latBits).map(i => s"((iy >> $i) & 1) * ${1L << (2 * i + 1 - lonShift)}")
    val chars = (0 until precision).map { j =>
      s"substr('${graft.index.Geohash.Alphabet}', ((code >> ${5 * (precision - 1 - j)}) & 31)::INT + 1, 1)"
    }
    s"""WITH p AS ($pts),
       |g AS (SELECT user_id,
       |  least(floor((lon + 180.0) / 360.0 * $lonN.0), ${lonN - 1}.0)::BIGINT AS ix,
       |  least(floor((lat + 90.0) / 180.0 * $latN.0), ${latN - 1}.0)::BIGINT AS iy FROM p),
       |c AS (SELECT user_id, (${code.mkString(" + ")})::BIGINT AS code FROM g),
       |h AS (SELECT user_id, ${chars.mkString(" || ")} AS gh FROM c)
       |SELECT substr(gh, 1, 4) AS gh4, count(*)::BIGINT AS n,
       |  count(DISTINCT user_id)::BIGINT AS n_users
       |FROM h GROUP BY 1""".stripMargin
  }

  /** The graft.ops.Graph synthetic edge fixture: draw i connects
    * mix(2i) % n — mix(2i+1) % n, self-loops dropped. Defines CTEs
    * `uedges(a,b)` (undirected, a<b, distinct) and `dedges(u,v)`
    * (directed, distinct). */
  private def graphCtes: String =
    s"""draws AS (SELECT i, (${mix("(2*i)::UBIGINT")} & 2147483647) % ${Graph.GateNodes} AS u,
       |                    (${mix("(2*i+1)::UBIGINT")} & 2147483647) % ${Graph.GateNodes} AS v
       |          FROM range(0, ${Graph.GateEdges}) t(i)),
       |uedges AS (SELECT DISTINCT least(u, v)::BIGINT AS a, greatest(u, v)::BIGINT AS b
       |           FROM draws WHERE u <> v),
       |dedges AS (SELECT DISTINCT u::BIGINT AS u, v::BIGINT AS v FROM draws WHERE u <> v)"""
      .stripMargin

  /** Replica oracle for q108 (Graph.triangleCounts): the same degree-
    * oriented compact-forward enumeration in SQL — orient edges toward
    * higher (degree, id), wedge-join at the low apex, close against the
    * undirected edge set, explode each triangle to its three corners. */
  def q108: String =
    s"""WITH $graphCtes,
       |deg AS (SELECT node, count(*)::BIGINT AS d FROM
       |        (SELECT a AS node FROM uedges UNION ALL SELECT b FROM uedges) GROUP BY 1),
       |o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS lo,
       |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS hi
       |      FROM uedges e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
       |w AS (SELECT o1.lo AS p, o1.hi AS x, o2.hi AS y
       |      FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi),
       |tri AS (SELECT w.p, w.x, w.y FROM w
       |        JOIN uedges e ON e.a = least(w.x, w.y) AND e.b = greatest(w.x, w.y))
       |SELECT node, count(*)::BIGINT AS tri_count FROM
       |  (SELECT p AS node FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
       |GROUP BY 1""".stripMargin

  /** Replica oracle for q187 (Graph.clusteringCoeff): q108's triangle
    * replay + the exact e6 wedge ratio, zero-triangle d≥2 nodes kept. */
  def q187: String =
    s"""WITH $graphCtes,
       |deg AS (SELECT node, count(*)::BIGINT AS d FROM
       |        (SELECT a AS node FROM uedges UNION ALL SELECT b FROM uedges) GROUP BY 1),
       |o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS lo,
       |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS hi
       |      FROM uedges e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
       |w AS (SELECT o1.lo AS p, o1.hi AS x, o2.hi AS y
       |      FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi),
       |tri AS (SELECT w.p, w.x, w.y FROM w
       |        JOIN uedges e ON e.a = least(w.x, w.y) AND e.b = greatest(w.x, w.y)),
       |tc AS (SELECT node, count(*)::BIGINT AS tri_count FROM
       |  (SELECT p AS node FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
       |GROUP BY 1)
       |SELECT deg.node, deg.d, coalesce(tc.tri_count, 0)::BIGINT AS tri_count,
       |  ((2 * coalesce(tc.tri_count, 0) * 1000000) // (deg.d * (deg.d - 1)))::BIGINT AS coeff_e6
       |FROM deg LEFT JOIN tc ON tc.node = deg.node WHERE deg.d >= 2""".stripMargin

  /** Replica oracle for q109 (Graph.pageRank): the exact-integer recurrence
    * unrolled as one CTE per iteration (DuckDB recursive CTEs disallow the
    * aggregate in the recursive term) — every rank replays digit-for-digit
    * because all arithmetic is BIGINT floor division. */
  def q109: String = {
    val (n, iters) = (Graph.GateNodes, Graph.PageRankIters)
    val r0 = BigInt(10).pow(12) / n
    val base = BigInt(15) * BigInt(10).pow(12) / (BigInt(100) * n)
    val rounds = (1 to iters).map { t =>
      s"""pr$t AS (SELECT n.node, ($base::BIGINT + coalesce(s.contrib, 0))::BIGINT AS r
         |  FROM range(0,$n) n(node) LEFT JOIN (
         |    SELECT e.v AS node, sum((85 * p.r) // (100 * o.od))::BIGINT AS contrib
         |    FROM dedges e JOIN pr${t - 1} p ON p.node = e.u
         |    JOIN outdeg o ON o.u = e.u GROUP BY 1) s ON s.node = n.node)"""
        .stripMargin
    }
    s"""WITH $graphCtes,
       |pr0 AS (SELECT node::BIGINT AS node, $r0::BIGINT AS r FROM range(0,$n) t(node)),
       |outdeg AS (SELECT u, count(*)::BIGINT AS od FROM dedges GROUP BY 1),
       |${rounds.mkString(",\n")}
       |SELECT node, r FROM pr$iters""".stripMargin
  }

  /** Replica oracle for q106 (Analytics.cohortRetention). */
  val q106: String =
    """WITH base AS (SELECT user_id, date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
      |              FROM events WHERE event_id % 50 = 0),
      |c AS (SELECT user_id, min(day) AS cohort FROM base GROUP BY 1)
      |SELECT c.cohort, b.day - c.cohort AS offset_d, count(DISTINCT b.user_id)::BIGINT AS active
      |FROM base b JOIN c ON c.user_id = b.user_id GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q107 (Analytics.funnel) — deliberately a DIFFERENT
    * algorithm family from the engine's per-user fold: three correlated
    * min-join stages (earliest view; earliest later click; earliest later
    * purchase), so agreement is evidence, not an echo. */
  val q107: String =
    """WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |              FROM events WHERE event_id % 11 = 0),
      |t1 AS (SELECT user_id, min(us) AS t1 FROM base WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT b.user_id, min(b.us) AS t2 FROM base b JOIN t1 ON t1.user_id = b.user_id
      |       WHERE b.event_type = 'click' AND b.us > t1.t1 GROUP BY 1),
      |t3 AS (SELECT b.user_id, min(b.us) AS t3 FROM base b JOIN t2 ON t2.user_id = b.user_id
      |       WHERE b.event_type = 'purchase' AND b.us > t2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM base)
      |SELECT u.user_id,
      |  CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
      |       WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS stage,
      |  t1.t1, t2.t2, t3.t3
      |FROM u LEFT JOIN t1 ON t1.user_id = u.user_id
      |LEFT JOIN t2 ON t2.user_id = u.user_id
      |LEFT JOIN t3 ON t3.user_id = u.user_id""".stripMargin

  /** Replica oracle for q110 (Analytics.emaFold) — list_reduce over the
    * timestamp-ordered per-user value list, the same left-to-right integer
    * recurrence (ema' = (3v + 7·ema) // 10 in e6-cents). */
  val q110: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |                   floor(value * 100.0 + 0.5)::BIGINT * 1000000 AS v
      |            FROM events),
      |folded AS (SELECT user_id,
      |    list_reduce(list_prepend(-1::BIGINT, list(v ORDER BY us)),
      |      (acc, x) -> CASE WHEN acc = -1 THEN x ELSE (3 * x + 7 * acc) // 10 END) AS ema_e6c,
      |    count(*)::BIGINT AS n
      |  FROM ev GROUP BY 1)
      |SELECT user_id, ema_e6c, n FROM folded""".stripMargin

  /** Replica oracle for q111 (TextOps.piiScrub) — same planted corpus,
    * same patterns; md5 of the redacted text pins replacement semantics. */
  val q111: String =
    """WITH aug AS (SELECT doc_id,
      |    text || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id || '@mail.example.org' ELSE '' END
      |         || CASE WHEN doc_id % 5 = 0 THEN ' or 555-' || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') ELSE '' END AS t
      |  FROM documents),
      |red AS (SELECT doc_id,
      |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
      |    len(regexp_extract_all(t, '555-[0-9]{4}'))::BIGINT AS n_phones,
      |    regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |                   '555-[0-9]{4}', '<PHONE>', 'g') AS r
      |  FROM aug)
      |SELECT doc_id, n_emails, n_phones, length(r)::BIGINT AS red_len, md5(r) AS red_md5 FROM red"""
      .stripMargin

  /** The q112 synthetic rectangle sets (graft.spatial.BoxJoin.synthBoxes),
    * replayed via the shared splitmix arithmetic. */
  private def boxCte(n: Int, base: Long, wBase: Long, hBase: Long,
                     p: String): String =
    s"""(SELECT i AS ${p}id,
       |   (${mix(s"($base+2*i)::UBIGINT")} & 1048575) / 1048575.0 * 350.0 - 180.0 AS ${p}x0,
       |   (${mix(s"($base+2*i+1)::UBIGINT")} & 1048575) / 1048575.0 * 170.0 - 90.0 AS ${p}y0,
       |   1.0 + (${mix(s"($wBase+i)::UBIGINT")} & 255) / 256.0 * 3.0 AS ${p}w,
       |   0.5 + (${mix(s"($hBase+i)::UBIGINT")} & 255) / 256.0 * 2.0 AS ${p}h
       |   FROM range(0,$n) t(i))""".stripMargin

  /** Replica oracle for q112 (BoxJoin.overlapJoin) — the HONEST all-pairs
    * overlap predicate (no candidate pruning), so the hash match proves the
    * cell-cover candidate set has recall 1. */
  def q112: String =
    s"""WITH ba AS ${boxCte(BoxJoin.OverlapA, 1000L, 5000L, 7000L, "a")},
       |bb AS ${boxCte(BoxJoin.OverlapB, 9000L, 13000L, 17000L, "b")}
       |SELECT aid, bid FROM ba JOIN bb ON
       |  ax0 <= bx0 + bw AND bx0 <= ax0 + aw AND ay0 <= by0 + bh AND by0 <= ay0 + ah"""
      .stripMargin

  /** Replica oracle for q113 (BoxJoin.tileDensity). */
  val q113: String =
    """WITH p AS (SELECT fmod(value, 360.0) - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events),
      |t AS (SELECT least(floor((lon+180)/360.0*64), 63)::BIGINT AS tx,
      |             least(floor((lat+90)/180.0*64), 63)::BIGINT AS ty FROM p),
      |k AS (SELECT tx + dx AS x, ty + dy AS y,
      |             CASE WHEN dx = 0 AND dy = 0 THEN 4 WHEN dx = 0 OR dy = 0 THEN 2 ELSE 1 END AS w
      |      FROM t, range(-1,2) a(dx), range(-1,2) b(dy))
      |SELECT x, y, sum(w)::BIGINT AS density FROM k
      |WHERE x >= 0 AND x < 64 AND y >= 0 AND y < 64 GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q114 (OrderStats.groupedMedian) — lower median and
    * nearest-rank p90 via the same deterministic (cents, orderkey) rank. */
  val q114: String =
    """WITH o AS (SELECT o_orderpriority AS grp, floor(o_totalprice * 100.0 + 0.5)::BIGINT AS cents,
      |                  o_orderkey FROM orders),
      |r AS (SELECT grp, cents, row_number() OVER (PARTITION BY grp ORDER BY cents, o_orderkey) AS rn,
      |             count(*) OVER (PARTITION BY grp) AS n FROM o)
      |SELECT grp,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END)::BIGINT AS median_cents,
      |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)::BIGINT AS p90_cents,
      |  max(n)::BIGINT AS n
      |FROM r GROUP BY grp""".stripMargin

  /** Replica oracle for q115 (OrderStats.skyline) — the honest NOT-EXISTS
    * dominance predicate over distinct points (a different algorithm family
    * from the engine's range-partitioned prefix-max scan). */
  val q115: String =
    """WITH p AS (SELECT floor(p_retailprice * 100.0 + 0.5)::BIGINT AS price_c, p_size FROM part),
      |d AS (SELECT DISTINCT price_c, p_size FROM p),
      |sky AS (SELECT d.price_c, d.p_size FROM d
      |        WHERE NOT EXISTS (SELECT 1 FROM d q
      |          WHERE q.price_c <= d.price_c AND q.p_size >= d.p_size
      |            AND (q.price_c < d.price_c OR q.p_size > d.p_size)))
      |SELECT s.price_c, s.p_size::BIGINT AS size, count(*)::BIGINT AS n_parts
      |FROM sky s JOIN p ON p.price_c = s.price_c AND p.p_size = s.p_size GROUP BY 1, 2"""
      .stripMargin

  /** Image CTEs for the full-frame kernels: idx, seed-derived (w, h, png
    * coin), and the per-8×8-block base draws (mix(seed ^ (by<<32) ^ bx)
    * & 0xBF — ImageSynth.render's block hash with VARIABLE xor, so it can't
    * ride geotagCtes' constant-xor extraHashes). Ends in `blk(idx, w, h,
    * base)` over PNG rows only. */
  private def imageBlockCtes: String =
    s"""${geotagCtes(Pyramid.GateN, Seq(("hw", 2L), ("hh", 3L), ("hfmt", 5L)))},
       |img AS (SELECT idx, seed,
       |  [16,32,64][((hw & 2147483647) % 3)::INT + 1] AS w,
       |  [16,32,64][((hh & 2147483647) % 3)::INT + 1] AS h
       |FROM st3 WHERE (hfmt & 1) = 0),
       |blk AS (SELECT idx, w, h, bx::BIGINT AS bx, by::BIGINT AS by,
       |  (${mix("xor(xor(seed, (by::UBIGINT << 32)), bx::UBIGINT)")} & 191)::BIGINT AS base
       |FROM img, range(0,8) tb(bx), range(0,8) tc(by)
       |WHERE bx < w // 8 AND by < h // 8)""".stripMargin

  /** Replica oracle for q116 (Pyramid.imageIntegral): full-frame brightness
    * integral in closed form — per 8×8 block, Σ pixels = 64·base + 1568
    * (Σ 3·(x%8) + 4·(y%8) over the block = 1568; verified against a direct
    * per-pixel render in Wave13Spec). */
  def q116: String =
    s"""WITH $imageBlockCtes
       |SELECT idx::BIGINT AS idx, max(w)::INT AS w, max(h)::INT AS h,
       |  (sum(64 * base) + count(*) * 1568)::BIGINT AS sum_brightness
       |FROM blk GROUP BY idx""".stripMargin

  /** Replica oracle for q117 (Pyramid.pyramidSums): the 2×2 floor-mean
    * downsample in closed form — level-1 block sum = 16·base + 384,
    * level-2 = 4·base + 96 (floor-exact because the in-block ramp terms
    * are even; verified against a direct downsample in Wave13Spec). */
  def q117: String =
    s"""WITH $imageBlockCtes
       |SELECT idx::BIGINT AS idx,
       |  (sum(16 * base) + count(*) * 384)::BIGINT AS lvl1_sum,
       |  (sum(4 * base) + count(*) * 96)::BIGINT AS lvl2_sum
       |FROM blk GROUP BY idx""".stripMargin

  /** Replica oracle for q152 (Pyramid.totalVariation): anisotropic TV in
    * closed form — in-block gradients are the ramp constants (3 per
    * horizontal pair, 4 per vertical pair), block-boundary contributions
    * are 8·|Δbase−21| (horizontal neighbors) and 8·|Δbase−28| (vertical),
    * since the 8-step ramp resets across the boundary. Derived once,
    * verified against a direct per-pixel render in Wave23Spec. */
  def q152: String =
    s"""WITH $imageBlockCtes,
       |pairs AS (
       |  SELECT a.idx, 8 * abs(b.base - a.base - 21) AS t
       |  FROM blk a JOIN blk b ON a.idx = b.idx AND b.bx = a.bx + 1 AND b.by = a.by
       |  UNION ALL
       |  SELECT a.idx, 8 * abs(b.base - a.base - 28) AS t
       |  FROM blk a JOIN blk b ON a.idx = b.idx AND b.bx = a.bx AND b.by = a.by + 1),
       |dims AS (SELECT idx, max(w) AS w, max(h) AS h FROM blk GROUP BY idx),
       |bnd AS (SELECT idx, sum(t) AS s FROM pairs GROUP BY idx)
       |SELECT d.idx::BIGINT AS idx,
       |  (d.h * (d.w - d.w // 8) * 3 + d.w * (d.h - d.h // 8) * 4 + b.s)::BIGINT AS tv
       |FROM dims d JOIN bnd b ON d.idx = b.idx""".stripMargin

  /** Replica oracle for q158 (Pyramid.pixelHistogram): the in-block ramp
    * offset t = 3·(x%8) + 4·(y%8) has a FIXED multiplicity table over the
    * 64 block positions, so the per-image histogram is
    * count(idx, base + t) = Σ_blocks mult(t) — pure integer closed form. */
  def q158: String =
    s"""WITH $imageBlockCtes,
       |offm AS (SELECT 3 * (i % 8) + 4 * (i // 8) AS t, count(*)::BIGINT AS m
       |         FROM range(0, 64) r(i) GROUP BY 1)
       |SELECT idx::BIGINT AS idx, (base + t)::INT AS value, sum(m)::BIGINT AS cnt
       |FROM blk, offm GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q170 (Pyramid.blobCount): the block-graph closure —
    * within a block the hot region is an upper set (always 4-connected), so
    * image components = components of the block adjacency graph, whose
    * edges are pure base-threshold tests (see Pyramid.blobCount doc).
    * Closure by recursive reach (the q131 pattern), per image. */
  def q170: String = {
    val thr = Pyramid.BlobThr
    s"""WITH RECURSIVE $imageBlockCtes,
       |offm AS (SELECT 3 * (i % 8) + 4 * (i // 8) AS t, count(*)::BIGINT AS m
       |         FROM range(0, 64) r(i) GROUP BY 1),
       |hotb AS (SELECT idx, bx, by, by * 8 + bx AS nid, base FROM blk
       |         WHERE base + 49 > $thr),
       |e0 AS (
       |  SELECT a.idx, a.nid AS u, b.nid AS v FROM hotb a JOIN hotb b
       |    ON a.idx = b.idx AND b.bx = a.bx + 1 AND b.by = a.by
       |   AND b.base + 28 > $thr
       |  UNION ALL
       |  SELECT a.idx, a.nid, b.nid FROM hotb a JOIN hotb b
       |    ON a.idx = b.idx AND b.bx = a.bx AND b.by = a.by + 1
       |   AND b.base + 21 > $thr),
       |e AS (SELECT idx, u, v FROM e0 UNION ALL SELECT idx, v AS u, u AS v FROM e0),
       |verts AS (SELECT DISTINCT idx, u AS nid FROM e),
       |reach(idx, nid, r) AS (
       |  SELECT idx, nid, nid FROM verts
       |  UNION
       |  SELECT e.idx, e.u, reach.r FROM e
       |  JOIN reach ON reach.idx = e.idx AND reach.nid = e.v),
       |lab0 AS (SELECT idx, nid, min(r) AS label FROM reach GROUP BY 1, 2),
       |lab AS (SELECT idx, nid, label FROM lab0
       |        UNION ALL
       |        SELECT h.idx, h.nid, h.nid AS label FROM hotb h
       |        LEFT JOIN verts vv ON vv.idx = h.idx AND vv.nid = h.nid
       |        WHERE vv.nid IS NULL),
       |blobs AS (SELECT idx, count(DISTINCT label)::BIGINT AS n_blobs FROM lab GROUP BY 1),
       |hotpx AS (SELECT b.idx, sum(o.m)::BIGINT AS n_hot
       |          FROM blk b JOIN offm o ON b.base + o.t > $thr GROUP BY 1)
       |SELECT i.idx::BIGINT AS idx, coalesce(bl.n_blobs, 0)::BIGINT AS n_blobs,
       |  coalesce(hp.n_hot, 0)::BIGINT AS n_hot
       |FROM img i LEFT JOIN blobs bl ON bl.idx = i.idx
       |LEFT JOIN hotpx hp ON hp.idx = i.idx""".stripMargin
  }

  /** Replica oracle for q118 (Sessionize.staySegments) — identical lag/
    * running-sum segmentation with the haversine spelled term-for-term as
    * SpatialQueries.haversineKmCol (the q86 FP discipline) and per-step
    * e6-floored km so segment sums are exact integers. */
  def q118: String = {
    val radiusKm = Sessionize.StayRadiusKm
    val hav =
      """2*6371.0088*asin(least(1.0, sqrt(
        | sin((((lat - plat)/180.0)*pi())/2)*sin((((lat - plat)/180.0)*pi())/2)
        | + cos((plat/180.0)*pi())*cos((lat/180.0)*pi())
        | * sin((((lon - plon)/180.0)*pi())/2)*sin((((lon - plon)/180.0)*pi())/2))))"""
        .stripMargin
    s"""WITH p AS (SELECT user_id, epoch_us(ts) AS us,
       |    fmod(value, 360.0) - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events),
       |l AS (SELECT *, lag(lon) OVER w AS plon, lag(lat) OVER w AS plat FROM p
       |      WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |f AS (SELECT user_id, us,
       |      CASE WHEN plon IS NULL OR $hav > $radiusKm THEN 1 ELSE 0 END AS brk,
       |      CASE WHEN plon IS NULL OR $hav > $radiusKm THEN 0
       |           ELSE floor($hav * 1000000.0 + 0.5)::BIGINT END AS step_e6 FROM l),
       |s AS (SELECT user_id, us, step_e6,
       |      sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid FROM f)
       |SELECT user_id, sid::BIGINT AS sid, count(*)::BIGINT AS n_points,
       |  min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us,
       |  sum(step_e6)::BIGINT AS km_e6
       |FROM s GROUP BY 1, 2""".stripMargin
  }

  /** Replica oracle for q119 (Checkpoint.timeTravelGate): the as-of-epoch-0
    * read must return exactly ids [0, TravelSplit) routed by the same hex-cell/bucket
    * arithmetic — a DATA-content rollup (id sums), independent of the
    * manifest lineage q62/q64 gate. */
  def q119: String =
    s"""WITH ${hexBucketCtes(Checkpoint.TravelSplit)}
       |SELECT bucket::INT AS bucket, count(*)::BIGINT AS row_count,
       |  sum(idx)::BIGINT AS sum_idx, min(idx)::BIGINT AS min_idx,
       |  max(idx)::BIGINT AS max_idx
       |FROM bk GROUP BY 1""".stripMargin

  /** The CDC fixture shared by q121/q122/q123 (Lakehouse.synthBase/
    * synthDelta), replayed via the shared splitmix arithmetic. */
  private def cdcCtes: String =
    s"""base AS (SELECT k AS key, (${mix("xor(k::UBIGINT, 47710::UBIGINT)")} & 65535)::BIGINT AS val
       |         FROM range(0, ${Lakehouse.NBase}) t(k)),
       |delta AS (SELECT seq,
       |    ((${mix("(5000000+seq)::UBIGINT")} & 2147483647) % ${Lakehouse.Keyspace})::BIGINT AS key,
       |    ((${mix("(6000000+seq)::UBIGINT")} & 2147483647) % 3)::BIGINT AS op,
       |    (${mix("(7000000+seq)::UBIGINT")} & 65535)::BIGINT AS val
       |  FROM range(0, ${Lakehouse.NDelta}) t(seq)),
       |latest AS (SELECT key, op, val FROM (
       |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn FROM delta) WHERE rn = 1),
       |merged AS (SELECT coalesce(b.key, l.key) AS key,
       |    CASE WHEN l.key IS NULL THEN b.val ELSE l.val END AS val,
       |    CASE WHEN l.key IS NULL THEN 'base' ELSE 'delta' END AS src
       |  FROM base b FULL OUTER JOIN latest l ON b.key = l.key
       |  WHERE NOT (l.key IS NOT NULL AND l.op = 2))""".stripMargin

  /** Replica oracle for q121 (Lakehouse.mergeApply). */
  def q121: String =
    s"""WITH $cdcCtes
       |SELECT key, val, src FROM merged""".stripMargin

  /** Replica oracle for q122 (Lakehouse.scd2) — upserts open intervals, the
    * key's next op (any type) closes them. */
  def q122: String =
    s"""WITH $cdcCtes,
       |v AS (SELECT key, seq, op, val, lead(seq) OVER (PARTITION BY key ORDER BY seq) AS nxt FROM delta)
       |SELECT key, seq AS valid_from, val, nxt AS valid_to,
       |  (nxt IS NULL)::BIGINT AS is_current
       |FROM v WHERE op <> 2""".stripMargin

  /** Replica oracle for q123 (Lakehouse.changeFeed). */
  def q123: String =
    s"""WITH $cdcCtes
       |SELECT coalesce(b.key, m.key) AS key,
       |  CASE WHEN b.key IS NULL THEN 'insert' WHEN m.key IS NULL THEN 'delete' ELSE 'update' END AS change,
       |  b.val AS old_val, m.val AS new_val
       |FROM base b FULL OUTER JOIN merged m ON b.key = m.key
       |WHERE b.key IS NULL OR m.key IS NULL OR b.val <> m.val""".stripMargin

  /** Replica oracle for q120 (Lakehouse.compactionPlan). */
  def q120: String =
    s"""WITH files AS (SELECT f, (f % 8)::BIGINT AS bucket,
       |    (1000000 + (${mix("(3000000+f)::UBIGINT")} & 2147483647) % 127000000)::BIGINT AS size
       |  FROM range(0, ${Lakehouse.NFiles}) t(f)),
       |cand AS (SELECT * FROM files WHERE size < 32000000),
       |j AS (SELECT bucket, f, size,
       |    (sum(size) OVER (PARTITION BY bucket ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS cum_before
       |  FROM cand)
       |SELECT bucket, (coalesce(cum_before, 0) // 256000000)::BIGINT AS job,
       |  count(*)::BIGINT AS n_files, sum(size)::BIGINT AS total_bytes,
       |  min(f)::BIGINT AS min_f, max(f)::BIGINT AS max_f
       |FROM j GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q124 (TextOps.bigramLm) — the same word-bigram MLE
    * integer scoring, bigrams formed by list_zip over the split tokens. */
  val q124: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p FROM tok WHERE len(ts) >= 2),
      |bgf AS (SELECT doc_id, struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2 FROM bg),
      |cb AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bgf GROUP BY 1, 2),
      |cp AS (SELECT w1, count(*)::BIGINT AS c FROM bgf GROUP BY 1)
      |SELECT f.doc_id, count(*)::BIGINT AS n_bigrams,
      |  sum((1000000 * cb.c) // cp.c)::BIGINT AS score_e6
      |FROM bgf f JOIN cb ON f.w1 = cb.w1 AND f.w2 = cb.w2 JOIN cp ON f.w1 = cp.w1
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q125 (Graph.kCore) — the peeling recurrence unrolled
    * as [[KCoreRounds]] MATERIALIZED CTE rounds (plain CTEs re-inline per
    * reference and blow up exponentially). */
  def q125: String = {
    val (n, m, k, rounds) = (Graph.GateNodes, Graph.GateEdges, Graph.CoreK, KCoreRounds)
    val steps = (1 to rounds).map { t =>
      val prev = if (t == 1) "e0" else s"e${t - 1}"
      s"""s$t AS MATERIALIZED (SELECT node FROM
         |  (SELECT node, count(*) AS d FROM
         |    (SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev) GROUP BY 1)
         |  WHERE d >= $k),
         |e$t AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
         |  JOIN s$t x ON x.node = e.a JOIN s$t y ON y.node = e.b)""".stripMargin
    }
    s"""WITH draws AS (SELECT i, (${mix("(2*i)::UBIGINT")} & 2147483647) % $n AS u,
       |                    (${mix("(2*i+1)::UBIGINT")} & 2147483647) % $n AS v
       |          FROM range(0, $m) t(i)),
       |e0 AS MATERIALIZED (SELECT DISTINCT least(u, v)::BIGINT AS a, greatest(u, v)::BIGINT AS b
       |       FROM draws WHERE u <> v),
       |${steps.mkString(",\n")}
       |SELECT node, count(*)::BIGINT AS core_deg FROM
       |  (SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY 1"""
      .stripMargin
  }

  /** Replica oracle for q126 (TextOps.invertedQuery). */
  def q126: String = {
    val terms = TextOps.QueryTerms
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w IN ($in) GROUP BY 1, 2)
       |SELECT doc_id, count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS total_tf,
       |  max(CASE WHEN w = '${terms(0)}' THEN tf END)::BIGINT AS tf_0,
       |  max(CASE WHEN w = '${terms(1)}' THEN tf END)::BIGINT AS tf_1,
       |  max(CASE WHEN w = '${terms(2)}' THEN tf END)::BIGINT AS tf_2
       |FROM tf GROUP BY 1 HAVING count(*) = ${terms.length}""".stripMargin
  }

  /** Replica oracle for q127 (BoxJoin.adaptiveTiles) — same one-pass fine
    * counts + coarse rollup + hot-tile classification. */
  def q127: String =
    s"""WITH p AS (SELECT fmod(value, 360.0) - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events),
       |g AS (SELECT least(floor((lon+180)/360.0*256), 255)::BIGINT AS x8,
       |             least(floor((lat+90)/180.0*256), 255)::BIGINT AS y8 FROM p),
       |c8 AS (SELECT x8, y8, x8 // 4 AS x6, y8 // 4 AS y6, count(*)::BIGINT AS n FROM g GROUP BY 1, 2, 3, 4),
       |c6 AS (SELECT x6, y6, sum(n)::BIGINT AS n FROM c8 GROUP BY 1, 2),
       |hot AS (SELECT x6, y6 FROM c6 WHERE n > ${BoxJoin.TileCap}),
       |fine AS (SELECT c8.x8 AS x, c8.y8 AS y, 8::BIGINT AS z, c8.n
       |         FROM c8 JOIN hot ON c8.x6 = hot.x6 AND c8.y6 = hot.y6),
       |coarse AS (SELECT c6.x6 AS x, c6.y6 AS y, 6::BIGINT AS z, c6.n FROM c6 ANTI JOIN hot USING (x6, y6))
       |SELECT x, y, z, n FROM coarse UNION ALL SELECT x, y, z, n FROM fine""".stripMargin

  /** Replica oracle for q128 (Analytics.groupedTrend). */
  val q128: String =
    """WITH d AS (SELECT event_type, date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
      |           FROM events),
      |dc AS (SELECT event_type, day, count(*)::BIGINT AS y FROM d GROUP BY 1, 2)
      |SELECT event_type, count(*)::BIGINT AS n, sum(day)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |  sum(day * y)::BIGINT AS sxy, sum(day * day)::BIGINT AS sxx,
      |  (count(*) * sum(day * y) - sum(day) * sum(y))::BIGINT AS slope_num,
      |  (count(*) * sum(day * day) - sum(day) * sum(day))::BIGINT AS slope_den
      |FROM dc GROUP BY 1""".stripMargin

  /** Replica oracle for q129 (Dedup.prefixFilterJoin) — the HONEST all-pairs
    * Jaccard join over the same word-3-gram sets (no prefix pruning), so the
    * hash match proves the prefix-filter candidate set has recall 1. */
  def q129: String =
    s"""WITH sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
       |       FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |            range(1, 2000) t(i) WHERE i + 2 <= len(ts)),
       |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT da, db, c AS n_inter, (za.n + zb.n - c)::BIGINT AS n_union
       |FROM inter JOIN sz za ON za.doc_id = da JOIN sz zb ON zb.doc_id = db
       |WHERE ${Dedup.TauDen} * c >= ${Dedup.TauNum} * (za.n + zb.n - c)""".stripMargin

  /** Replica oracle for q130 (Analytics.markovTransitions). */
  val q130: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |l AS (SELECT user_id, event_type AS t_to, lag(event_type) OVER (PARTITION BY user_id ORDER BY us) AS t_from FROM e),
      |c AS (SELECT t_from, t_to, count(*)::BIGINT AS n FROM l WHERE t_from IS NOT NULL GROUP BY 1, 2),
      |row_ AS (SELECT t_from, sum(n)::BIGINT AS row_n FROM c GROUP BY 1)
      |SELECT c.t_from, c.t_to, c.n, (1000000 * c.n) // row_.row_n AS p_e6
      |FROM c JOIN row_ ON row_.t_from = c.t_from""".stripMargin

  /** Replica oracle for q131 (BoxJoin.gridClusters) — same hot tiles and
    * adjacency, components via recursive-CTE closure (a different algorithm
    * family from the engine's label propagation — the q63 discipline). */
  def q131: String =
    s"""WITH RECURSIVE p AS (SELECT fmod(value, 360.0) - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events),
       |mp AS (SELECT greatest(1, (count(*) * ${BoxJoin.ClusterMinPtsBp}) // 10000) AS v FROM events),
       |g AS (SELECT least(floor((lon+180)/360.0*64), 63)::BIGINT AS x,
       |             least(floor((lat+90)/180.0*64), 63)::BIGINT AS y FROM p),
       |c AS (SELECT x, y, count(*)::BIGINT AS n FROM g GROUP BY 1, 2),
       |hot AS (SELECT x, y, x * 64 + y AS tid, n FROM c WHERE n >= (SELECT v FROM mp)),
       |e0 AS (SELECT h1.tid AS a, h2.tid AS b FROM hot h1 JOIN hot h2
       |       ON (h2.x = h1.x + 1 AND h2.y = h1.y) OR (h2.x = h1.x AND h2.y = h1.y + 1)),
       |e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
       |verts AS (SELECT DISTINCT u AS tid FROM e),
       |reach(tid, r) AS (
       |  SELECT tid, tid FROM verts
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON reach.tid = e.v),
       |lab0 AS (SELECT tid, min(r) AS label FROM reach GROUP BY 1),
       |lab AS (SELECT tid, label FROM lab0
       |        UNION ALL
       |        SELECT tid, tid FROM hot WHERE tid NOT IN (SELECT tid FROM verts))
       |SELECT l.label AS cluster, count(*)::BIGINT AS n_tiles, sum(h.n)::BIGINT AS n_points
       |FROM lab l JOIN hot h ON h.tid = l.tid GROUP BY 1""".stripMargin

  /** Replica oracle for q132 (TextOps.termLift). */
  def q132: String =
    s"""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |cw AS (SELECT w, count(*)::BIGINT AS c FROM t GROUP BY 1),
       |pair AS (SELECT a.w AS wa, b.w AS wb, count(*)::BIGINT AS cab
       |         FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w GROUP BY 1, 2),
       |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS nd FROM t)
       |SELECT wa, wb, cab, (1000000 * n.nd * cab) // (ca.c * cb.c) AS lift_e6
       |FROM pair, n JOIN cw ca ON ca.w = wa JOIN cw cb ON cb.w = wb
       |WHERE cab >= ${TextOps.LiftMinCab}""".stripMargin

  /** Replica oracle for q133 (ArrayFns.minMaxScale). */
  val q133: String =
    """WITH v AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
      |                  generate_subscripts(embedding, 1) AS d FROM embeddings),
      |s AS (SELECT d, min(val) AS mn, max(val) AS mx FROM v GROUP BY 1),
      |sc AS (SELECT vec_id,
      |    CASE WHEN s.mx = s.mn THEN 0
      |         ELSE floor((v.val - s.mn) / (s.mx - s.mn) * 1000000.0 + 0.5)::BIGINT END AS e
      |  FROM v JOIN s ON s.d = v.d)
      |SELECT vec_id, count(*)::BIGINT AS n_dims, sum(e)::BIGINT AS sum_scaled_e6
      |FROM sc GROUP BY 1""".stripMargin

  /** Replica oracle for q134 (Analytics.madAnomalies) — same lower-median
    * rank rule for both the median and the MAD. */
  val q134: String =
    """WITH e AS (SELECT event_type AS grp, floor(value * 100.0 + 0.5)::BIGINT AS cents, event_id FROM events),
      |r1 AS (SELECT grp, cents, row_number() OVER (PARTITION BY grp ORDER BY cents, event_id) AS rn,
      |              count(*) OVER (PARTITION BY grp) AS n FROM e),
      |med AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN cents END)::BIGINT AS med FROM r1 GROUP BY grp),
      |ad AS (SELECT e.grp, abs(e.cents - med.med) AS dev, e.event_id FROM e JOIN med ON med.grp = e.grp),
      |r2 AS (SELECT grp, dev, row_number() OVER (PARTITION BY grp ORDER BY dev, event_id) AS rn,
      |              count(*) OVER (PARTITION BY grp) AS n FROM ad),
      |mad AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN dev END)::BIGINT AS mad FROM r2 GROUP BY grp)
      |SELECT e.grp AS event_type, max(med.med)::BIGINT AS med_cents, max(mad.mad)::BIGINT AS mad_cents,
      |  sum(CASE WHEN abs(e.cents - med.med) > 3 * mad.mad THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
      |  count(*)::BIGINT AS n
      |FROM e JOIN med ON med.grp = e.grp JOIN mad ON mad.grp = e.grp GROUP BY 1""".stripMargin

  /** Replica oracle for q135 (CoreQueries.shippingPriority) — exact-integer
    * discounted revenue: cents × (10^4 − discount_bp). */
  val q135: String =
    """WITH l AS (SELECT l_orderkey,
      |    floor(l_extendedprice * 100.0 + 0.5)::BIGINT * (10000 - floor(l_discount * 10000.0 + 0.5)::BIGINT) AS rev
      |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-15'),
      |o AS (SELECT o_orderkey, o_orderdate FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |      WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-06-15')
      |SELECT l.l_orderkey, epoch_us(o.o_orderdate)::BIGINT AS odate_us, sum(l.rev)::BIGINT AS rev_e4c
      |FROM l JOIN o ON o.o_orderkey = l.l_orderkey GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q136 (CoreQueries.localSupplierVolume). */
  val q136: String =
    """WITH l AS (SELECT l_orderkey, l_suppkey,
      |    floor(l_extendedprice * 100.0 + 0.5)::BIGINT * (10000 - floor(l_discount * 10000.0 + 0.5)::BIGINT) AS rev
      |  FROM lineitem)
      |SELECT n.n_name, count(*)::BIGINT AS n_items, sum(l.rev)::BIGINT AS rev_e4c
      |FROM l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey AND s.s_nationkey = c.c_nationkey
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q137 (Analytics.firstTouchAttribution). */
  val q137: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |l AS (SELECT *, lag(us) OVER w AS pus FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |s AS (SELECT *, sum(CASE WHEN pus IS NULL OR us - pus > 1800000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY us) AS sid FROM l),
      |f AS (SELECT user_id, sid, event_type AS first_type,
      |        row_number() OVER (PARTITION BY user_id, sid ORDER BY us) AS rn FROM s)
      |SELECT ft.first_type, count(*)::BIGINT AS n_purchases
      |FROM s JOIN (SELECT user_id, sid, first_type FROM f WHERE rn = 1) ft
      |  ON ft.user_id = s.user_id AND ft.sid = s.sid
      |WHERE s.event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q138 (OrderStats.decileClassMix) — the same decile
    * rank via a window row_number (a different ranking mechanism from the
    * engine's range-partition + zipWithIndex, so agreement pins the
    * distributed global ranking). */
  val q138: String =
    """WITH o AS (SELECT floor(o_totalprice * 100.0 + 0.5)::BIGINT AS cents, o_orderstatus, o_orderkey FROM orders),
      |r AS (SELECT *, row_number() OVER (ORDER BY cents, o_orderkey) AS rn, count(*) OVER () AS n FROM o),
      |b AS (SELECT o_orderstatus, least(((rn - 1) * 10) // n, 9)::BIGINT AS decile FROM r)
      |SELECT decile, o_orderstatus, count(*)::BIGINT AS n FROM b GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q139 (Analytics.sequencePatterns). */
  val q139: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
      |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
      |         WHEN 'signup' THEN 's' ELSE 'e' END AS ch FROM events),
      |s AS (SELECT user_id, string_agg(ch, '' ORDER BY us) AS seq FROM e GROUP BY 1)
      |SELECT user_id, length(seq)::BIGINT AS n_events,
      |  len(regexp_extract_all(seq, 'vcp'))::BIGINT AS n_vcp,
      |  len(regexp_extract_all(seq, 'v[ce]*p'))::BIGINT AS n_lazy
      |FROM s""".stripMargin

  /** Replica oracle for q140 (Sketches.bitmapIntersect) — same packed-word
    * bitmaps in the UBIGINT domain (bit-identical to the engine's longs). */
  val q140: String =
    """WITH e AS (SELECT * FROM events WHERE event_id % 13 = 0),
      |b AS (SELECT event_type, user_id // 64 AS wi, bit_or(1::UBIGINT << (user_id % 64)::INT) AS w
      |      FROM e GROUP BY 1, 2),
      |pairs AS (SELECT a.event_type AS ta, b2.event_type AS tb, a.wi, bit_count(a.w & b2.w)::BIGINT AS c
      |          FROM b a JOIN b b2 ON a.wi = b2.wi AND a.event_type < b2.event_type)
      |SELECT ta, tb, sum(c)::BIGINT AS n_both FROM pairs GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q141 (OrderStats.rfmScores) — quintile scores via
    * window row_numbers (vs the engine's distributed ranking). */
  val q141: String =
    """WITH p AS (SELECT user_id, max(epoch_us(ts)) AS last_us, count(*)::BIGINT AS freq,
      |                  sum(floor(value * 100.0 + 0.5)::BIGINT) AS cents
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (ORDER BY last_us, user_id) AS rr,
      |              row_number() OVER (ORDER BY freq, user_id) AS rf,
      |              row_number() OVER (ORDER BY cents, user_id) AS rm,
      |              count(*) OVER () AS n FROM p)
      |SELECT user_id, (least(((rr - 1) * 5) // n, 4) + 1)::BIGINT AS r_score,
      |       (least(((rf - 1) * 5) // n, 4) + 1)::BIGINT AS f_score,
      |       (least(((rm - 1) * 5) // n, 4) + 1)::BIGINT AS m_score,
      |       freq, cents
      |FROM r""".stripMargin

  /** Replica oracle for q142 (Graph.treeDepths) — the synthetic parent
    * function replayed, depths via a SEQUENTIAL recursive-CTE chase (the
    * engine uses O(log D) pointer jumping — different algorithm family). */
  def q142: String =
    s"""WITH RECURSIVE t AS (SELECT i AS node,
       |  CASE WHEN i = 0 THEN 0 ELSE ((${mix("(61453 + i)::UBIGINT")} & 9223372036854775807::UBIGINT) % i)::BIGINT END AS parent
       |  FROM range(0, ${Graph.TreeNodes}) r(i)),
       |walk(node, anc, d) AS (
       |  SELECT node, parent, CASE WHEN node = 0 THEN 0 ELSE 1 END FROM t
       |  UNION ALL
       |  SELECT w.node, t.parent, w.d + 1 FROM walk w JOIN t ON t.node = w.anc WHERE w.anc <> 0
       |)
       |SELECT node, max(d)::BIGINT AS depth FROM walk GROUP BY 1""".stripMargin

  /** Replica oracle for q143 (Sessionize.intervalCoalesce). */
  val q143: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e FROM events),
      |w AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
      |f AS (SELECT user_id, s, e, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk FROM w),
      |g AS (SELECT user_id, s, e, sum(brk) OVER (PARTITION BY user_id ORDER BY s, e) AS isl FROM f)
      |SELECT user_id, count(*)::BIGINT AS n_islands, sum(cov)::BIGINT AS covered_us
      |FROM (SELECT user_id, isl, max(e) - min(s) AS cov FROM g GROUP BY 1, 2)
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q144 (Analytics.rollingDistinct) — the direct
    * range-join formulation (vs the engine's presence replication). */
  val q144: String =
    """WITH pres AS (SELECT DISTINCT user_id, date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
      |              FROM events WHERE event_id % 29 = 0),
      |days AS (SELECT DISTINCT day FROM pres)
      |SELECT d.day, count(DISTINCT p.user_id)::BIGINT AS n_users_7d
      |FROM days d JOIN pres p ON p.day BETWEEN d.day - 6 AND d.day
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q145 (Analytics.stratifiedSample). */
  def q145: String =
    s"""WITH e AS (SELECT event_id, event_type, (${mix("event_id::UBIGINT")} & 9223372036854775807::UBIGINT) AS h FROM events),
       |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn FROM e)
       |SELECT event_type, event_id, rn::BIGINT AS rn FROM r WHERE rn <= ${Analytics.SampleK}""".stripMargin

  /** Replica oracle for q146 (Analytics.shareOfTotal). */
  val q146: String =
    """WITH d AS (SELECT event_type, date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
      |                  floor(value * 100.0 + 0.5)::BIGINT AS cents FROM events),
      |g AS (SELECT event_type, day, sum(cents)::BIGINT AS c FROM d GROUP BY 1, 2)
      |SELECT event_type, day, c,
      |  (1000000 * c) // sum(c) OVER (PARTITION BY event_type) AS share_e6,
      |  (1000000 * sum(c) OVER (PARTITION BY event_type ORDER BY day)) // sum(c) OVER (PARTITION BY event_type) AS cum_share_e6
      |FROM g""".stripMargin

  /** Replica oracle for q147 (Lakehouse.temporalJoin) — the same CDC/SCD2
    * fixture plus splitmix probes, matched by the validity predicate. */
  def q147: String =
    s"""WITH delta AS (SELECT seq,
       |    ((${mix("(5000000+seq)::UBIGINT")} & 2147483647) % ${Lakehouse.Keyspace})::BIGINT AS key,
       |    ((${mix("(6000000+seq)::UBIGINT")} & 2147483647) % 3)::BIGINT AS op,
       |    (${mix("(7000000+seq)::UBIGINT")} & 65535)::BIGINT AS val
       |  FROM range(0, ${Lakehouse.NDelta}) t(seq)),
       |scd AS (SELECT key, seq AS vf, val, lead(seq) OVER (PARTITION BY key ORDER BY seq) AS vt
       |        FROM delta QUALIFY op <> 2),
       |probes AS (SELECT i AS pid,
       |    ((${mix("(8000000+i)::UBIGINT")} & 2147483647) % ${Lakehouse.Keyspace})::BIGINT AS key,
       |    ((${mix("(9000000+i)::UBIGINT")} & 2147483647) % 450)::BIGINT AS t
       |  FROM range(0, ${Lakehouse.NProbes}) r(i))
       |SELECT p.pid, p.key, p.t, s.val, s.vf
       |FROM probes p JOIN scd s ON s.key = p.key AND p.t >= s.vf AND (s.vt IS NULL OR p.t < s.vt)"""
      .stripMargin

  /** Replica oracle for q148 (OrderStats.skewProfile) — ranks via a window
    * (vs the engine's distributed ranking). */
  val q148: String =
    """WITH k AS (SELECT l_partkey AS key, count(*)::BIGINT AS n FROM lineitem GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (ORDER BY n DESC, key) AS rk,
      |             count(*) OVER () AS nk, sum(n) OVER () AS total FROM k),
      |r2 AS (SELECT *, CASE WHEN rk <= nk // 100 + 1 THEN n ELSE 0 END AS np1 FROM r)
      |SELECT max(nk)::BIGINT AS n_keys, max(total)::BIGINT AS total_rows,
      |  max(CASE WHEN rk = 1 THEN n END)::BIGINT AS top1_n,
      |  sum(CASE WHEN rk <= 10 THEN n ELSE 0 END)::BIGINT AS top10_n,
      |  sum(np1)::BIGINT AS top1pct_n,
      |  ((1000000 * max(CASE WHEN rk = 1 THEN n END)) // max(total))::BIGINT AS top1_share_e6
      |FROM r2""".stripMargin

  /** Replica oracle for q149 (Analytics.giniSplits). */
  val q149: String =
    """WITH d AS (SELECT date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day, event_type FROM events),
      |c AS (SELECT day, event_type, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
      |g AS (SELECT day, sum(c)::BIGINT AS n, sum(c * c)::BIGINT AS ssq FROM c GROUP BY 1)
      |SELECT day, n, (((n * n - ssq) * 1000000) // (n * n))::BIGINT AS gini_e6 FROM g""".stripMargin

  /** Replica oracle for q150 (Analytics.eventCorrelation). */
  def q150: String =
    s"""WITH p AS (SELECT user_id, epoch_us(ts) AS pus, event_id AS pid FROM events WHERE event_type = 'purchase'),
       |e AS (SELECT user_id AS eu, epoch_us(ts) AS eus FROM events WHERE event_type = 'error')
       |SELECT p.user_id, count(*)::BIGINT AS n_pairs, count(DISTINCT p.pid)::BIGINT AS n_purchases_hit
       |FROM p JOIN e ON e.eu = p.user_id AND e.eus > p.pus AND e.eus <= p.pus + ${Analytics.CorrelationWindowUs}
       |GROUP BY 1""".stripMargin

  /** Replica oracle for q153 (SegmentJoin.intersectionCounts): the same
    * grid-cover + min-corner-dedupe + integer-orientation pipeline in SQL
    * (prototype-verified against an O(n²) numpy brute force at sf0.01:
    * 1647 pairs / 1476 cells, exact per-cell match). */
  def q153: String =
    """WITH seg AS (
      |  SELECT event_id AS id,
      |    1024 + (event_id * 2654435761) % 63488 AS x1,
      |    1024 + (event_id * 2246822519) % 63488 AS y1,
      |    1024 + (event_id * 2654435761) % 63488 + ((event_id * 3266489917) % 1024 - 512) AS x2,
      |    1024 + (event_id * 2246822519) % 63488 + ((event_id * 668265263) % 1024 - 512) AS y2
      |  FROM events),
      |sb AS (SELECT id, x1, y1, x2, y2,
      |  least(x1,x2) AS x0, greatest(x1,x2) AS xm,
      |  least(y1,y2) AS y0, greatest(y1,y2) AS ym FROM seg),
      |cells AS (
      |  SELECT sb.*, x0//1024 + ox AS cx, y0//1024 + oy AS cy
      |  FROM sb, range(0,2) rx(ox), range(0,2) ry(oy)
      |  WHERE x0//1024 + ox <= xm//1024 AND y0//1024 + oy <= ym//1024),
      |p AS (SELECT a.id AS ia, b.id AS ib, a.cx AS gx, a.cy AS gy
      |      FROM cells a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy,
      |      LATERAL (SELECT
      |        (b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1) AS d1,
      |        (b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1) AS d2,
      |        (a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1) AS d3,
      |        (a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1) AS d4) d
      |      WHERE a.id < b.id
      |        AND ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
      |        AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
      |        AND a.cx = greatest(a.x0, b.x0) // 1024
      |        AND a.cy = greatest(a.y0, b.y0) // 1024)
      |SELECT gx::BIGINT AS gx, gy::BIGINT AS gy, count(*)::BIGINT AS n
      |FROM p GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q154 (Polygons.polygonMeasures): the identical
    * unrolled 8-term shoelace — exact BIGINT area/centroid arithmetic
    * (DuckDB `//` truncates toward zero exactly like Spark `div`), and the
    * perimeter as the same left-associative sum of correctly-rounded
    * sqrts of exactly-representable integers (prototype-verified: 10,000/
    * 10,000 rows identical at sf0.01 incl. the FP column). */
  def q154: String = {
    val dirs = Array((1L, 0L), (1L, 1L), (0L, 1L), (-1L, 1L),
      (-1L, 0L), (-1L, -1L), (0L, -1L), (1L, -1L))
    def r(k: Int) = s"(100 + (event_id*2654435761 + ${(k % 8) * 40503}) % 900)"
    def x(k: Int) = s"(${dirs(k % 8)._1}*${r(k)})"
    def y(k: Int) = s"(${dirs(k % 8)._2}*${r(k)})"
    def cr(k: Int) = s"(${x(k)}*${y(k + 1)} - ${x(k + 1)}*${y(k)})"
    val a2 = (0 until 8).map(cr).mkString(" + ")
    val cxn = (0 until 8).map(k => s"((${x(k)}+${x(k + 1)})*${cr(k)})").mkString(" + ")
    val cyn = (0 until 8).map(k => s"((${y(k)}+${y(k + 1)})*${cr(k)})").mkString(" + ")
    val per = (0 until 8).map { k =>
      val dx = s"(${x(k + 1)}-${x(k)})"; val dy = s"(${y(k + 1)}-${y(k)})"
      s"sqrt(($dx*$dx + $dy*$dy)::DOUBLE)"
    }.mkString(" + ")
    s"""SELECT event_id AS id, ($a2)::BIGINT AS area2,
       |  (($cxn) * 1000000 // (3*($a2)))::BIGINT AS cx_e6,
       |  (($cyn) * 1000000 // (3*($a2)))::BIGINT AS cy_e6,
       |  floor(($per)*1000000 + 0.5)::BIGINT AS perim_e6
       |FROM events""".stripMargin
  }

  /** Replica oracle for q155 (Storage.encodingAdvisor): same unpivot, same
    * group-local run definition, same thresholds. */
  def q155: String =
    """WITH long AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey AS pk, l_suppkey AS sk, 'l_returnflag' AS col_name, l_returnflag AS val FROM lineitem
      |  UNION ALL SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, 'l_linestatus', l_linestatus FROM lineitem
      |  UNION ALL SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem),
      |r AS (SELECT col_name, val, lag(val) OVER (PARTITION BY col_name, l_orderkey ORDER BY l_linenumber, pk, sk, val) AS prev FROM long),
      |g AS (SELECT col_name, count(*) AS n_rows, count(DISTINCT val) AS n_distinct,
      |  sum(CASE WHEN prev IS NULL OR prev <> val THEN 1 ELSE 0 END) AS n_runs
      |FROM r GROUP BY 1)
      |SELECT col_name, n_rows::BIGINT AS n_rows, n_distinct::BIGINT AS n_distinct,
      |  n_runs::BIGINT AS n_runs, ((n_rows * 1000000) // n_runs)::BIGINT AS avg_run_e6,
      |  CASE WHEN n_runs * 4 <= n_rows THEN 'RLE'
      |       WHEN n_distinct * 20 <= n_rows THEN 'DICT' ELSE 'PLAIN' END AS rec
      |FROM g""".stripMargin

  /** Replica oracle for q156 (Storage.zoneMapSim) — predicate ranges come
    * from the SAME constant table (Storage.predsSql). */
  def q156: String =
    s"""WITH z AS (SELECT l_orderkey // 256 AS fid,
       |  min(l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS dmin,
       |  max(l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS dmax,
       |  count(*)::BIGINT AS n
       |FROM lineitem GROUP BY 1),
       |p AS (SELECT pid, (lo_d - DATE '1970-01-01')::BIGINT AS lo,
       |  (hi_d - DATE '1970-01-01')::BIGINT AS hi
       |FROM ${graft.ops.Storage.predsSql})
       |SELECT pid::BIGINT AS pid, count(*)::BIGINT AS n_files,
       |  sum(CASE WHEN dmax < lo OR dmin > hi THEN 1 ELSE 0 END)::BIGINT AS n_skipped,
       |  sum(CASE WHEN dmax < lo OR dmin > hi THEN 0 ELSE n END)::BIGINT AS rows_scanned
       |FROM z, p GROUP BY 1""".stripMargin

  /** Replica oracle for q157 (Storage.merkleDiff): identical double-splitmix
    * row hash (h1 depends only on k, so both sides reuse the h1 stage), the
    * same bit_xor bucket digests, digests re-signed to the engine's Long. */
  def q157: String = {
    def sign(x: String): String =
      s"(CASE WHEN $x >= 9223372036854775808::UBIGINT THEN $x::HUGEINT - $M64::HUGEINT ELSE $x::HUGEINT END)::BIGINT"
    s"""WITH o AS (SELECT o_orderkey AS k, floor(o_totalprice*100 + 0.5)::BIGINT AS cents FROM orders),
       |h1t AS MATERIALIZED (SELECT k, cents, ${mix("k")} AS h1 FROM o),
       |hs AS MATERIALIZED (SELECT k, ${mix("xor(h1, cents::UBIGINT)")} AS h2 FROM h1t),
       |hd AS MATERIALIZED (SELECT k,
       |  ${mix("xor(h1, (cents + CASE WHEN k % 97 = 0 THEN 1 ELSE 0 END)::UBIGINT)")} AS h2 FROM h1t),
       |ds AS (SELECT k // 64 AS bucket, bit_xor(h2) AS dg, count(*) AS n FROM hs GROUP BY 1),
       |dd AS (SELECT k // 64 AS bucket, bit_xor(h2) AS dg, count(*) AS n FROM hd GROUP BY 1)
       |SELECT ds.bucket::BIGINT AS bucket, ds.n::BIGINT AS n,
       |  ${sign("ds.dg")} AS src_digest, ${sign("dd.dg")} AS dst_digest
       |FROM ds JOIN dd ON ds.bucket = dd.bucket
       |WHERE ds.dg <> dd.dg OR ds.n <> dd.n""".stripMargin
  }

  /** Replica oracle for q159 (MlEval.thresholdSweep). */
  def q159: String =
    """WITH s AS (SELECT floor(value*100 + 0.5)::BIGINT AS score,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
      |tot AS (SELECT sum(pos)::BIGINT AS npos, count(*)::BIGINT AS n FROM s),
      |t AS (SELECT (i * 5000)::BIGINT AS thr FROM range(1, 10) r(i)),
      |pt0 AS (SELECT thr, count(*)::BIGINT AS pred_pos, sum(pos)::BIGINT AS tp
      |       FROM s, t WHERE score >= thr GROUP BY 1),
      |pt AS (SELECT t.thr, coalesce(pt0.pred_pos, 0) AS pred_pos,
      |       coalesce(pt0.tp, 0) AS tp FROM t LEFT JOIN pt0 ON t.thr = pt0.thr)
      |SELECT thr, tp, (pred_pos - tp)::BIGINT AS fp, (npos - tp)::BIGINT AS fn,
      |  (n - pred_pos - npos + tp)::BIGINT AS tn,
      |  (CASE WHEN pred_pos = 0 THEN NULL
      |        ELSE (tp * 1000000) // pred_pos END)::BIGINT AS precision_e6,
      |  ((tp * 1000000) // npos)::BIGINT AS recall_e6,
      |  ((2 * tp * 1000000) // (pred_pos + npos))::BIGINT AS f1_e6
      |FROM pt, tot""".stripMargin

  /** Replica oracle for q160 (MlEval.aucExact): the identical doubled
    * Mann-Whitney rank sum, integer end to end. */
  def q160: String =
    """WITH s AS (SELECT floor(value*100 + 0.5)::BIGINT AS score,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
      |g AS (SELECT score, count(*)::BIGINT AS c, sum(pos)::BIGINT AS p FROM s GROUP BY 1),
      |r AS (SELECT *, sum(c) OVER (ORDER BY score) - c AS below FROM g),
      |f AS (SELECT sum(p * (2*below + c + 1))::BIGINT AS rsum2,
      |  sum(p)::BIGINT AS npos, sum(c - p)::BIGINT AS nneg FROM r)
      |SELECT npos, nneg, (rsum2 - npos*(npos+1))::BIGINT AS u2,
      |  (((rsum2 - npos*(npos+1)) * 1000000) // (2*npos*nneg))::BIGINT AS auc_e6
      |FROM f""".stripMargin

  /** Replica oracle for q161 (Baskets.pairRules). */
  def q161: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |item AS (SELECT p, count(*)::BIGINT AS cnt FROM b GROUP BY 1),
       |tot AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM b),
       |pr AS (SELECT a.p AS pa, c.p AS pb, count(*)::BIGINT AS sup
       |       FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
       |       GROUP BY 1, 2 HAVING count(*) >= ${Baskets.MinSup})
       |SELECT pa, pb, sup, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
       |  ((sup * n_orders * 1000000) // (ia.cnt * ib.cnt))::BIGINT AS lift_e6
       |FROM pr JOIN item ia ON pr.pa = ia.p JOIN item ib ON pr.pb = ib.p, tot""".stripMargin

  /** Replica oracle for q162 (Simplify.douglasPeucker): Douglas-Peucker as
    * a RECURSIVE interval-splitting CTE — breadth-first set closure where
    * the engine runs a depth-first stack (different evaluation family,
    * prototype-verified against a third, python implementation: 8,676
    * kept of 10,000 at sf0.01, exact). Same integer metric: split iff
    * max cross² > ε²·len², argmax ties to the smallest index; degenerate
    * chords never split (cross ≡ 0 on both sides by construction). */
  def q162: String =
    s"""WITH RECURSIVE pts AS (
       |  SELECT user_id AS u,
       |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i,
       |    (event_id * 2654435761) % 4096 AS x,
       |    (event_id * 2246822519) % 4096 AS y
       |  FROM events),
       |bounds AS (SELECT u, max(i) AS n1 FROM pts GROUP BY 1),
       |iv AS (
       |  SELECT u, 0::BIGINT AS s, n1::BIGINT AS e FROM bounds WHERE n1 >= 1
       |  UNION ALL
       |  SELECT sp.u, CASE WHEN c.half = 0 THEN sp.s ELSE sp.bi END AS s,
       |               CASE WHEN c.half = 0 THEN sp.bi ELSE sp.e END AS e
       |  FROM (
       |    SELECT r.u, r.s, r.e, b.bi
       |    FROM iv r
       |    JOIN pts ps ON ps.u = r.u AND ps.i = r.s
       |    JOIN pts pe ON pe.u = r.u AND pe.i = r.e,
       |    LATERAL (
       |      SELECT p.i AS bi,
       |        ((pe.x-ps.x)*(p.y-ps.y) - (pe.y-ps.y)*(p.x-ps.x))
       |        * ((pe.x-ps.x)*(p.y-ps.y) - (pe.y-ps.y)*(p.x-ps.x)) AS m
       |      FROM pts p WHERE p.u = r.u AND p.i > r.s AND p.i < r.e
       |      ORDER BY m DESC, p.i ASC LIMIT 1
       |    ) b
       |    WHERE r.e > r.s + 1
       |      AND b.m > ${Simplify.GateEps2} * ((pe.x-ps.x)*(pe.x-ps.x) + (pe.y-ps.y)*(pe.y-ps.y))
       |  ) sp, (VALUES (0), (1)) c(half)
       |),
       |kept AS (
       |  SELECT u, 0::BIGINT AS i FROM bounds
       |  UNION SELECT u, n1::BIGINT FROM bounds
       |  UNION SELECT u, s FROM iv
       |  UNION SELECT u, e FROM iv)
       |SELECT DISTINCT u::BIGINT AS user_id, i::BIGINT AS seq FROM kept""".stripMargin

  /** Replica oracle for q163 (Drift.tvDrift). */
  def q163: String =
    """WITH s AS (SELECT event_type,
      |  floor(value * 100 + 0.5)::BIGINT // 5000 AS bucket,
      |  CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS in_a
      |FROM events),
      |bc AS (SELECT event_type, bucket, sum(in_a)::BIGINT AS ca,
      |  sum(1 - in_a)::BIGINT AS cb FROM s GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
      |  FROM bc GROUP BY 1)
      |SELECT bc.event_type, max(na)::BIGINT AS na, max(nb)::BIGINT AS nb,
      |  count(*)::BIGINT AS n_buckets,
      |  ((sum(abs(ca * nb - cb * na)) * 1000000) // (2 * max(na) * max(nb)))::BIGINT AS tv_e6
      |FROM bc JOIN tot ON bc.event_type = tot.event_type
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q164 (Gram.gramUpper): the O(n·d²) element join —
    * a different evaluation family from the engine's per-partition
    * outer-product fold. Quantization is the identical double expression. */
  def q164: String =
    """WITH q AS (SELECT vec_id, i,
      |  floor(embedding[i + 1]::DOUBLE * 1000 + 0.5)::BIGINT AS qv
      |FROM embeddings, range(0, 64) r(i))
      |SELECT a.i::INT AS i, b.i::INT AS j, sum(a.qv * b.qv)::BIGINT AS g
      |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q165 (Blocking.sortedNeighborhood): the single-
    * window row_number rank vs the engine's distributed two-pass ranking
    * (the q138 discipline — different mechanism, same total order). */
  def q165: String =
    s"""WITH r AS (SELECT doc_id, n_chars,
       |  row_number() OVER (ORDER BY n_chars, doc_id) AS rn FROM documents)
       |SELECT a.doc_id AS da, b.doc_id AS db, (b.rn - a.rn)::INT AS rank_dist,
       |  abs(a.n_chars - b.n_chars)::BIGINT AS len_gap
       |FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + ${Blocking.GateW}""".stripMargin

  /** Replica oracle for q166 (Corr.corrMatrix): identical quantization,
    * exact integer moments, and the identical floor(cov·10⁶/(√·√)+0.5)
    * double expression (q154 FP discipline). */
  def q166: String = {
    val cols = Seq(
      ("price_h", "floor(l_extendedprice / 100.0 + 0.5)::BIGINT"),
      ("qty", "floor(l_quantity + 0.5)::BIGINT"),
      ("disc_bp", "floor(l_discount * 10000.0 + 0.5)::BIGINT"),
      ("tax_bp", "floor(l_tax * 10000.0 + 0.5)::BIGINT"))
    val proj = cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val names = cols.map(_._1)
    val moments =
      (Seq("count(*)::BIGINT AS n") ++
        names.map(n => s"sum($n)::BIGINT AS s_$n") ++
        names.map(n => s"sum($n * $n)::BIGINT AS ss_$n") ++
        (for (i <- names.indices; j <- i + 1 until names.length)
          yield s"sum(${names(i)} * ${names(j)})::BIGINT AS sp_${names(i)}_${names(j)}"))
        .mkString(", ")
    val pairSelects = (for (i <- names.indices; j <- i + 1 until names.length) yield {
      val (a, b) = (names(i), names(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  (n * sp_${a}_${b} - s_$a * s_$b)::BIGINT AS cov_n,
         |  (n * ss_$a - s_$a * s_$a)::BIGINT AS var_a_n,
         |  (n * ss_$b - s_$b * s_$b)::BIGINT AS var_b_n FROM m""".stripMargin
    }).mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT $proj FROM lineitem),
       |m AS (SELECT $moments FROM b),
       |p AS ($pairSelects)
       |SELECT col_a, col_b, cov_n, var_a_n, var_b_n,
       |  floor(cov_n::DOUBLE * 1000000.0 /
       |    (sqrt(var_a_n::DOUBLE) * sqrt(var_b_n::DOUBLE)) + 0.5)::BIGINT AS corr_e6
       |FROM p""".stripMargin
  }

  /** Replica oracle for q167 (BoxJoin.idwSurface). */
  val q167: String =
    """WITH p AS (SELECT fmod(value, 360.0) - 180.0 AS lon,
      |  (user_id % 181 - 90)::DOUBLE AS lat,
      |  floor(value * 100.0 + 0.5)::BIGINT AS cents FROM events),
      |t AS (SELECT least(floor((lon+180)/360.0*64), 63)::BIGINT AS tx,
      |             least(floor((lat+90)/180.0*64), 63)::BIGINT AS ty, cents FROM p),
      |k AS (SELECT tx + dx AS x, ty + dy AS y,
      |             (1000000 // (1 + dx*dx + dy*dy))::BIGINT AS w, cents
      |      FROM t, range(-1,2) a(dx), range(-1,2) b(dy))
      |SELECT x, y, sum(w)::BIGINT AS sw, (sum(w * cents) // sum(w))::BIGINT AS idw_cents
      |FROM k WHERE x >= 0 AND x < 64 AND y >= 0 AND y < 64 GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q168 (Changepoint.cusum): identical prefix-identity
    * CUSUM (s = P − min(0, runmin P)). */
  def q168: String =
    """WITH daily AS (SELECT event_type,
      |  (ts::DATE - DATE '2024-01-01')::BIGINT AS day, count(*)::BIGINT AS x
      |FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(x)::BIGINT AS total, count(*)::BIGINT AS nd
      |FROM daily GROUP BY 1),
      |pp AS (SELECT d.event_type, d.day, t.nd,
      |  sum(t.nd * d.x - t.total) OVER (PARTITION BY d.event_type ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |FROM daily d JOIN tot t ON d.event_type = t.event_type),
      |s AS (SELECT event_type, day, nd,
      |  p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      |FROM pp),
      |cm AS (SELECT event_type, max(s) AS cusum_max FROM s GROUP BY 1)
      |SELECT s.event_type, max(cm.cusum_max)::BIGINT AS cusum_max,
      |  min(s.day)::BIGINT AS peak_day, max(s.nd)::BIGINT AS nd
      |FROM s JOIN cm ON s.event_type = cm.event_type AND s.s = cm.cusum_max
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q169 (Changepoint.spearman): identical centered
    * doubled mid-ranks and the identical FP tail. */
  def q169: String =
    """WITH b AS (SELECT floor(l_extendedprice / 100.0 + 0.5)::BIGINT AS vx,
      |  floor(l_quantity + 0.5)::BIGINT AS vy FROM lineitem),
      |n AS (SELECT count(*)::BIGINT AS n FROM b),
      |gx AS (SELECT vx, count(*)::BIGINT AS c FROM b GROUP BY 1),
      |rx AS (SELECT vx, 2 * (sum(c) OVER (ORDER BY vx) - c) + c + 1 AS r2x FROM gx),
      |gy AS (SELECT vy, count(*)::BIGINT AS c FROM b GROUP BY 1),
      |ry AS (SELECT vy, 2 * (sum(c) OVER (ORDER BY vy) - c) + c + 1 AS r2y FROM gy),
      |j AS (SELECT (r2x - n - 1) AS cx, (r2y - n - 1) AS cy
      |FROM b JOIN rx USING (vx) JOIN ry USING (vy), n),
      |m AS (SELECT sum(cx*cy)::BIGINT AS sxy, sum(cx*cx)::BIGINT AS sxx,
      |  sum(cy*cy)::BIGINT AS syy FROM j)
      |SELECT n.n, m.sxy, m.sxx, m.syy,
      |  floor(m.sxy::DOUBLE * 1000000.0 /
      |    (sqrt(m.sxx::DOUBLE) * sqrt(m.syy::DOUBLE)) + 0.5)::BIGINT AS spearman_e6
      |FROM m, n""".stripMargin

  /** Replica oracle for q171 (Sharding.rendezvous): the same per-shard
    * splitmix scores (shard salt constants embedded as UBIGINT literals),
    * argmax in NATIVE unsigned order (the engine flips the sign bit to get
    * the same order in signed Long), first-wins tie chain. */
  def q171: String = {
    val s1 = Sharding.Shards
    def salt(s: Int) = java.lang.Long.toUnsignedString(graft.synth.ImageSynth.mix(s.toLong))
    def hcol(s: Int) = s"${mix(s"xor(doc_id::UBIGINT, ${salt(s)}::UBIGINT)")} AS h$s"
    def pick(nS: Int, best: String) =
      (0 until nS).map(s => s"WHEN h$s = $best THEN $s").mkString("CASE ", " ", " END")
    s"""WITH h AS (SELECT doc_id, ${(0 to s1).map(hcol).mkString(",\n  ")} FROM documents),
       |g AS (SELECT *, greatest(${(0 until s1).map("h" + _).mkString(", ")}) AS ba,
       |  greatest(${(0 to s1).map("h" + _).mkString(", ")}) AS bb FROM h),
       |a AS (SELECT doc_id, ${pick(s1, "ba")}::INT AS shard_a,
       |  ${pick(s1 + 1, "bb")}::INT AS shard_b FROM g),
       |m AS (SELECT sum(CASE WHEN shard_a <> shard_b THEN 1 ELSE 0 END)::BIGINT AS n_moved,
       |  count(*)::BIGINT AS n_docs FROM a)
       |SELECT shard_a AS shard, count(*)::BIGINT AS n_before,
       |  sum(CASE WHEN shard_a = shard_b THEN 1 ELSE 0 END)::BIGINT AS n_stayed,
       |  max(n_moved)::BIGINT AS n_moved, max(n_docs)::BIGINT AS n_docs
       |FROM a, m GROUP BY 1""".stripMargin
  }

  /** Replica oracle for q172 (Sharding.lpmJoin). */
  def q172: String =
    """WITH rts AS (SELECT shift, prefix, min(route_id) AS route_id FROM (
      |  SELECT ((p_partkey % 4) + 2)::INT AS shift, p_partkey AS route_id,
      |         p_partkey // (1 << ((p_partkey % 4) + 2)::INT) AS prefix
      |  FROM part WHERE p_partkey % 7 = 0) GROUP BY 1, 2),
      |pr AS (SELECT l_partkey AS k, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1),
      |cand AS (SELECT pr.k, pr.cnt, r.shift, r.route_id
      |  FROM pr, range(2, 6) s(sh)
      |  JOIN rts r ON r.shift = sh AND r.prefix = pr.k // (1 << sh::INT)),
      |best AS (SELECT k, cnt, min(shift) AS shift FROM cand GROUP BY 1, 2),
      |sel AS (SELECT b.k, b.cnt, b.shift, c.route_id FROM best b
      |  JOIN cand c ON c.k = b.k AND c.shift = b.shift)
      |SELECT route_id, shift::INT AS shift, count(*)::BIGINT AS n_keys,
      |  sum(cnt)::BIGINT AS n_rows
      |FROM sel GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q173 (Sssp.boundedSssp): the same min-plus rounds,
    * unrolled as MATERIALIZED CTEs (DuckDB inlines single-use CTEs and the
    * round tree would re-explode exponentially otherwise — the q63
    * lesson). */
  def q173: String = {
    val hops = Sssp.GateHops
    val rounds = (1 to hops).map { k =>
      s"""d$k AS MATERIALIZED (SELECT node, min(d) AS d FROM (
         |  SELECT node, d FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d${k - 1}.d + e.w AS d
         |  FROM d${k - 1} JOIN e ON e.src = d${k - 1}.node) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT user_id AS src,
       |  (event_id * 1103515245) % 1000 AS dst,
       |  min(event_id % 97 + 1)::BIGINT AS w FROM events GROUP BY 1, 2),
       |d0 AS (SELECT 0::BIGINT AS node, 0::BIGINT AS d),
       |$rounds
       |SELECT node::BIGINT AS node, d::BIGINT AS d FROM d$hops""".stripMargin
  }

  /** Replica oracle for q174 (Sssp.twap). */
  def q174: String =
    """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |  floor(value*100 + 0.5)::BIGINT AS cents FROM events),
      |l AS (SELECT *, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us FROM s)
      |SELECT user_id, sum(cents * (next_us - us))::BIGINT AS num,
      |  sum(next_us - us)::BIGINT AS dur, count(*)::BIGINT AS n_intervals,
      |  (sum(cents * (next_us - us)) // sum(next_us - us))::BIGINT AS twap_cents
      |FROM l WHERE next_us IS NOT NULL GROUP BY 1""".stripMargin

  /** Replica oracle for q175 (Sssp.tileOccupancy). */
  def q175: String =
    """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |  fmod(value, 360.0) - 180.0 AS lon, (user_id % 181 - 90)::DOUBLE AS lat FROM events),
      |t AS (SELECT user_id, event_id, us,
      |  least(floor((lon+180)/360.0*64), 63)::BIGINT AS tx,
      |  least(floor((lat+90)/180.0*64), 63)::BIGINT AS ty FROM s),
      |l AS (SELECT *, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us FROM t)
      |SELECT tx, ty, sum(next_us - us)::BIGINT AS dwell_us, count(*)::BIGINT AS n_intervals
      |FROM l WHERE next_us IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Replica oracle for q176 (Lateness.watermarkAudit). */
  def q176: String =
    s"""WITH s AS (SELECT user_id, event_id,
       |  (event_id * 2654435761) % 1099511627776 AS ak,
       |  epoch_us(ts) AS us FROM events),
       |h AS (SELECT *, max(us) OVER (PARTITION BY user_id ORDER BY ak, event_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM s)
       |SELECT user_id, count(*)::BIGINT AS n_total,
       |  sum(CASE WHEN hwm IS NOT NULL AND us < hwm - ${Lateness.LagUs} THEN 1 ELSE 0 END)::BIGINT AS n_late,
       |  max(CASE WHEN hwm IS NOT NULL THEN greatest(hwm - us, 0) ELSE 0 END)::BIGINT AS max_disorder_us
       |FROM h GROUP BY 1""".stripMargin

  /** Replica oracle for q177 (Lateness.topNOthers). */
  def q177: String = {
    val n = Lateness.TopN
    s"""WITH c AS (SELECT floor(fmod(value, 360.0) / 360.0 * 8.0)::BIGINT AS tile,
       |  event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY tile ORDER BY n DESC, event_type) AS rk FROM c)
       |SELECT tile, rk::INT AS rk, event_type AS bucket, n FROM r WHERE rk <= $n
       |UNION ALL
       |SELECT tile, ${n + 1} AS rk, 'OTHERS' AS bucket, sum(n)::BIGINT AS n
       |FROM r WHERE rk > $n GROUP BY 1""".stripMargin
  }

  /** Replica oracle for q178 (Lateness.weightedMedian). */
  def q178: String =
    """WITH g AS (SELECT l_returnflag AS flag,
      |  floor(l_extendedprice * 100.0 + 0.5)::BIGINT AS cents,
      |  sum(floor(l_quantity + 0.5)::BIGINT) AS w
      |FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT *, sum(w) OVER (PARTITION BY flag ORDER BY cents
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |  sum(w) OVER (PARTITION BY flag) AS tw FROM g)
      |SELECT flag, min(cents)::BIGINT AS wmedian_cents, max(tw)::BIGINT AS total_w
      |FROM c WHERE 2 * cw >= tw GROUP BY 1""".stripMargin

  /** Replica oracle for q179 (Pyramid.equalizationLut): q158's closed-form
    * histogram + the same per-image cumsum LUT. */
  def q179: String =
    s"""WITH $imageBlockCtes,
       |offm AS (SELECT 3 * (i % 8) + 4 * (i // 8) AS t, count(*)::BIGINT AS m
       |         FROM range(0, 64) r(i) GROUP BY 1),
       |hist AS (SELECT idx, (base + t)::INT AS value, sum(m)::BIGINT AS cnt
       |         FROM blk, offm GROUP BY 1, 2),
       |c AS (SELECT *, sum(cnt) OVER (PARTITION BY idx ORDER BY value
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf,
       |      sum(cnt) OVER (PARTITION BY idx) AS npx FROM hist)
       |SELECT idx::BIGINT AS idx, value, ((255 * cdf) // npx)::BIGINT AS lut
       |FROM c""".stripMargin

  /** Replica oracle for q180 (Outliers.zOutliers). */
  def q180: String =
    """WITH x AS (SELECT event_type, user_id, count(*)::BIGINT AS x
      |FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
      |  sum(x * x)::BIGINT AS ss FROM x GROUP BY 1)
      |SELECT x.event_type, x.user_id, x.x,
      |  (CASE WHEN st.n * x.x - st.s > 0 THEN 1 ELSE -1 END)::INT AS side
      |FROM x JOIN st ON x.event_type = st.event_type
      |WHERE 4 * (st.n * x.x - st.s) * (st.n * x.x - st.s) >
      |      25 * (st.n * st.ss - st.s * st.s)""".stripMargin

  /** Replica oracle for q181 (StarPip.containJoin): the identical wedge +
    * edge-orientation integer arithmetic (prototype-verified against an
    * independent integer ray-cast — 40,000/40,000 agree). */
  def q181: String = {
    val dirs = Array((1L, 0L), (1L, 1L), (0L, 1L), (-1L, 1L),
      (-1L, 0L), (-1L, -1L), (0L, -1L), (1L, -1L))
    def r(k: Int) = s"(100 + (pid*2654435761 + ${(k % 8) * 40503}) % 900)"
    def x(k: Int) = s"(${dirs(k % 8)._1}*${r(k)})"
    def y(k: Int) = s"(${dirs(k % 8)._2}*${r(k)})"
    val inside = (0 until 8).map { k =>
      val (d1x, d1y) = dirs(k); val (d2x, d2y) = dirs((k + 1) % 8)
      s"""(($d1x*py - $d1y*px >= 0) AND (px*$d2y - py*$d2x > 0)
         | AND ((${x(k + 1)}-${x(k)})*(py-${y(k)}) - (${y(k + 1)}-${y(k)})*(px-${x(k)}) > 0))""".stripMargin
    }.mkString("(", "\n OR ", ")")
    s"""WITH polys AS (SELECT o_orderkey AS pid FROM orders WHERE o_orderkey % 331 = 0),
       |pts AS (SELECT event_id AS eid,
       |  (event_id * 2654435761) % 2001 - 1000 AS px,
       |  (event_id * 2246822519) % 2001 - 1000 AS py FROM events)
       |SELECT pid, count(*)::BIGINT AS n_inside
       |FROM polys, pts WHERE $inside GROUP BY 1""".stripMargin
  }

  /** Replica oracle for q182 (Drift.ksDrift). */
  def q182: String =
    """WITH vc AS (SELECT event_type, floor(value*100 + 0.5)::BIGINT AS cents,
      |  sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT AS ca,
      |  sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)::BIGINT AS cb
      |FROM events GROUP BY 1, 2),
      |c AS (SELECT *, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
      |  sum(ca) OVER t AS na, sum(cb) OVER t AS nb
      |FROM vc
      |WINDOW w AS (PARTITION BY event_type ORDER BY cents
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       t AS (PARTITION BY event_type)),
      |d AS (SELECT *, abs(cuma * nb - cumb * na) AS dev FROM c),
      |m AS (SELECT event_type, max(dev) AS mdev FROM d GROUP BY 1)
      |SELECT d.event_type, max(d.na)::BIGINT AS na, max(d.nb)::BIGINT AS nb,
      |  min(d.cents)::BIGINT AS ks_at_cents,
      |  ((max(m.mdev) * 1000000) // (max(d.na) * max(d.nb)))::BIGINT AS ks_e6
      |FROM d JOIN m ON d.event_type = m.event_type AND d.dev = m.mdev
      |GROUP BY 1""".stripMargin

  /** Replica oracle for q183 (Robust.groupedMode). */
  def q183: String =
    """WITH c AS (SELECT o_orderpriority AS grp,
      |  floor(o_totalprice*100 + 0.5)::BIGINT AS cents, count(*)::BIGINT AS c
      |FROM orders GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY c DESC, cents ASC) AS rk,
      |  sum(c) OVER (PARTITION BY grp) AS n FROM c)
      |SELECT grp, cents AS mode_cents, c AS mode_n, n::BIGINT AS n FROM r WHERE rk = 1""".stripMargin

  /** Replica oracle for q184 (Robust.tailShortfall). */
  def q184: String =
    """WITH g AS (SELECT o_orderpriority AS grp,
      |  floor(o_totalprice*100 + 0.5)::BIGINT AS cents, count(*)::BIGINT AS c
      |FROM orders GROUP BY 1, 2),
      |d AS (SELECT *, sum(c) OVER (PARTITION BY grp ORDER BY cents DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  sum(c) OVER (PARTITION BY grp) AS n FROM g),
      |t AS (SELECT *, (n + 19) // 20 AS k,
      |  least(c, (n + 19) // 20 - (cum - c)) AS take
      |FROM d WHERE cum - c < (n + 19) // 20)
      |SELECT grp, max(k)::BIGINT AS tail_n, sum(take * cents)::BIGINT AS tail_sum,
      |  (sum(take * cents) // max(k))::BIGINT AS es_cents
      |FROM t GROUP BY 1""".stripMargin

  /** Replica oracle for q185 (Robust.winsorized). */
  def q185: String =
    """WITH g AS (SELECT o_orderpriority AS grp,
      |  floor(o_totalprice*100 + 0.5)::BIGINT AS cents, count(*)::BIGINT AS c
      |FROM orders GROUP BY 1, 2),
      |d AS (SELECT *, sum(c) OVER (PARTITION BY grp ORDER BY cents
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  sum(c) OVER (PARTITION BY grp) AS n FROM g),
      |b AS (SELECT grp,
      |  min(CASE WHEN cum >= (n + 19) // 20 THEN cents END) AS p5,
      |  min(CASE WHEN cum >= (19 * n + 19) // 20 THEN cents END) AS p95
      |FROM d GROUP BY 1)
      |SELECT g.grp, max(b.p5)::BIGINT AS p5, max(b.p95)::BIGINT AS p95,
      |  sum(g.c * greatest(b.p5, least(b.p95, g.cents)))::BIGINT AS winsor_sum,
      |  sum(CASE WHEN g.cents < b.p5 THEN g.c ELSE 0 END)::BIGINT AS n_lo,
      |  sum(CASE WHEN g.cents > b.p95 THEN g.c ELSE 0 END)::BIGINT AS n_hi
      |FROM g JOIN b ON g.grp = b.grp GROUP BY 1""".stripMargin

  /** Replica oracle for q186 (NearestAsof.nearestJoin): the identical
    * merged-stream double-window (ascending running max of view time,
    * descending running min), same tie rule (earlier side wins). */
  def q186: String =
    """WITH m AS (SELECT user_id, event_id AS eid, epoch_us(ts) AS us,
      |  (event_type = 'view') AS is_view
      |FROM events WHERE event_type IN ('purchase', 'view')),
      |c AS (SELECT *,
      |  max(CASE WHEN is_view THEN us END) OVER (PARTITION BY user_id
      |    ORDER BY us, eid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
      |  min(CASE WHEN is_view THEN us END) OVER (PARTITION BY user_id
      |    ORDER BY us DESC, eid DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_v
      |FROM m),
      |p AS (SELECT user_id, eid AS purchase_eid, us,
      |  CASE WHEN prev_v IS NULL THEN next_v
      |       WHEN next_v IS NULL THEN prev_v
      |       WHEN us - prev_v <= next_v - us THEN prev_v
      |       ELSE next_v END AS nearest_us
      |FROM c WHERE NOT is_view AND (prev_v IS NOT NULL OR next_v IS NOT NULL))
      |SELECT user_id, purchase_eid, nearest_us,
      |  abs(us - nearest_us)::BIGINT AS delta_us,
      |  (CASE WHEN nearest_us <= us THEN -1 ELSE 1 END)::INT AS dir
      |FROM p""".stripMargin

  /** Replica oracle for q188 (Changepoint.autocorr). */
  def q188: String =
    """WITH daily AS (SELECT event_type,
      |  (ts::DATE - DATE '2024-01-01')::BIGINT AS day, count(*)::BIGINT AS x
      |FROM events GROUP BY 1, 2),
      |p AS (SELECT a.event_type, l.lag, a.x, b.x AS y
      |FROM daily a, (VALUES (1), (7)) l(lag)
      |JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag),
      |m AS (SELECT event_type, lag, count(*)::BIGINT AS n,
      |  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |  sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy, sum(x*y)::BIGINT AS sxy
      |FROM p GROUP BY 1, 2)
      |SELECT event_type, lag::BIGINT AS lag, n,
      |  (n * sxy - sx * sy)::BIGINT AS cov_n,
      |  floor((n * sxy - sx * sy)::DOUBLE * 1000000.0 /
      |    (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE))
      |    + 0.5)::BIGINT AS ac_e6
      |FROM m""".stripMargin

  /** graft.text.Dedup.simhash64 over the `documents` table → CTE text
    * defining `sim(doc_id, sh)` (sh as UBIGINT; bit-identical to the Scala
    * signed long). */
  def simhashCte: String =
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${fnvHash("tok")} AS th FROM t),
       |v AS (SELECT doc_id, b, sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |      FROM th, range(64) r(b) GROUP BY 1, 2),
       |sim AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::UBIGINT << b) ELSE 0 END)::UBIGINT AS sh
       |        FROM v GROUP BY 1)""".stripMargin
}
