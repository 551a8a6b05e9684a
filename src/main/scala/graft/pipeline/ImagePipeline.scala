package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheOps
import graft.functions.SeedExprs
import graft.synth.{ImageSynth, Geotag}
import graft.index.Quadkey
import graft.spatial.{Boundary, PipJoin}

/** The flagship spatial-join + tiling pipeline over the image+caption table
  * (north_rule): geotagged image rows → point-in-polygon join against
  * broadcast metro boundaries → H3/S2/quadkey cell encoding (codegen
  * expressions, [[fastFeatures]]) → raster↔vector tile assignment → per-tile
  * contributor rollups — re-expressing the reference's interaction-tile
  * outputs (util/map-contribution-extractor.js:164-320).
  *
  * Scale discipline:
  *  - `bytes` never enters this path: features derive from (image_id, phash)
  *    only, so the 100 TB of pixels stays at the scan and is column-pruned
  *    away (SURVEY.md §7.4 #6). Pixel validation is a separate scan-side pass
  *    ([[Validate]]) with no shuffle at all.
  *  - One shuffle total: the rollup groupBy on (tile, team/uid/day); partial
  *    aggregation absorbs metro skew map-side, AQE splits what remains.
  */
object ImagePipeline {

  /** Metro boundary fixture: boxes around the three synthetic metros + one
    * spanning none (negative control). */
  val metroBoundaries: Seq[Boundary] = Geotag.Metros.zipWithIndex.map { case ((clon, clat, r), i) =>
    val pad = r * 1.2
    Boundary(s"metro_$i",
      Array(clon - pad, clon + pad, clon + pad, clon - pad, clon - pad),
      Array(clat - pad, clat - pad, clat + pad, clat + pad, clat - pad))
  }.toSeq :+ Boundary("nowhere", Array(-10.0, -9.0, -9.0, -10.0, -10.0), Array(-89.9, -89.9, -89.0, -89.0, -89.9))

  /** Hex resolution, tile zoom and S2 level of every feature path. */
  private val HexRes = 7
  private val TileZ = 12
  private val S2Level = 12
  /** Row count and range partitions of the image gate queries (q32, q33,
    * q38, q45, q46, q49, q56, q60, q61, and q98/q151's decoded tables),
    * which their oracles read. */
  val GateRows = 2000L
  val GateParts = 16

  /** Distributed synthesis of the full input table (Iceberg-shaped rows). */
  def synthTable(spark: SparkSession, n: Long, parts: Int): Dataset[ImageSynth.ImageRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).mapPartitions(_.map(i => ImageSynth.rowOf(i)))
  }

  /** Feature extraction from a *stored* image table (the path a real Iceberg
    * table takes): [[derived]] over the row index parsed from `image_id` and
    * its geotag, with `image_id`, `phash` and the `team` name. Never reads
    * `bytes`. */
  def featuresFromTable(rows: DataFrame): DataFrame =
    named(derived(geotagged(rows.select(idxOf(col("image_id")).as("idx"),
      col("image_id"), col("phash")))))

  /** The row index of an [[ImageSynth.idOf]] image id: its digits after `img`. */
  private[graft] def idxOf(imageId: Column): Column =
    imageId.substr(4, Int.MaxValue).cast("long")

  /** Dynamic per-team pivot — the reference emits `<team>-*` columns for
    * whatever teams EXIST in the data (map-contribution-extractor.js:293-313
    * `team+"-e"` + `teamSum*`), so the team list must be discovered, not
    * hardcoded: `pivot("team")` runs a values-discovery pass then pivots.
    * (At 100 TB pass the known team list to `pivot(col, values)` to skip the
    * discovery job — the output contract is identical.) Absent team cells
    * coalesce to 0 like the reference's zero-initialized accumulators. */
  def tileTeamPivotDynamic(spark: SparkSession): DataFrame = CacheOps.scope { s =>
    // pre-rollup once on (tile, boundary, team, uid) — fine enough for BOTH
    // the pivot and the distinct-user totals — and materialize it: the two
    // branches would otherwise re-execute the feature scan (same
    // multi-consumer re-execution q45's plan audit caught)
    val joined = named(pipFiltered(spark, GateRows, GateParts))
    val pre = s.checkpoint(joined.groupBy(col("tile"), col("boundary_id"), col("team"), col("uid"))
      .agg(count(lit(1)).as("e")))
    val p = pre.groupBy(col("tile"), col("boundary_id")).pivot("team").agg(sum("e"))
    val teams = p.columns.filterNot(Set("tile", "boundary_id"))
    val totals = pre.groupBy(col("tile"), col("boundary_id"))
      .agg(sum("e").as("team_sum_e"), countDistinct(col("uid")).as("n_users"))
    val filled = teams.foldLeft(p) { (df, tm) =>
      df.withColumn(tm, coalesce(col(tm), lit(0L))).withColumnRenamed(tm, s"${tm}_e")
    }
    filled.join(totals, Seq("tile", "boundary_id"))
  }

  /** Gate shape for the Aggregator centroid layer (userDailyPointSummaries,
    * map-contribution-extractor.js:201-228): per-(uid, day) centroid of the
    * PIP-joined features, computed through the typed [[graft.geo.WeightedCentroid]]
    * Aggregator. Coordinates are PRE-ROUNDED to integer-valued e6 doubles:
    * sums of integer-valued doubles below 2^53 are exact in ANY accumulation
    * order, so the distributed partial-merge order cannot perturb the oracle
    * hash, and the final mean is a single correctly-rounded division on both
    * sides. The shuffle carries the 3-double CentroidBuf per group — geometry
    * never moves. */
  def userDailyCentroidGate(spark: SparkSession, n: Long = GateRows,
                            parts: Int = GateParts): DataFrame = {
    import spark.implicits._
    pipFiltered(spark, n, parts).select(col("uid"), col("day"),
        floor(col("lon") * lit(1e6) + lit(0.5)).cast("double").as("lon_e6"),
        floor(col("lat") * lit(1e6) + lit(0.5)).cast("double").as("lat_e6"))
      .as[(Long, Long, Double, Double)]
      .groupByKey { case (uid, day, _, _) => (uid, day) }
      .mapValues { case (_, _, x, y) => (x, y, 1.0) }
      .agg(graft.geo.WeightedCentroid.column, count(lit(1)).as[Long])
      .map { case ((uid, day), c, n_pts) =>
        (uid, day, math.floor(c.lon + 0.5).toLong, math.floor(c.lat + 0.5).toLong, n_pts)
      }
      .toDF("uid", "day", "c_lon_e6", "c_lat_e6", "n_pts")
  }

  /** AOI-filtered codegen feature stream: the [[fastFeatures]] columns plus
    * `b_ord`, through [[PipJoin.withOrdinal]], the one broadcast PIP
    * prologue, which also backs [[PipJoin.join]] (q17). The probe runs on
    * (idx, lon, lat) before the rest of the feature is derived, so a row
    * outside every metro pays for no meta or cell encode. Every image gate
    * query over features (pivots, centroids, measure matrix, daily
    * summaries, objects, multi-zoom, centers, flagship run) reads the metro
    * ordinal from its `b_ord` column. */
  private def pipFiltered(spark: SparkSession, n: Long, parts: Int): DataFrame =
    derived(PipJoin.withOrdinal(geotagged(spark.range(0L, n, 1L, parts).toDF("idx")),
      metroBoundaries, "lon", "lat"))

  /** The tile summaries' (q45, q60) prologue: [[pipFiltered]] features with
    * team name, e6 highway km (rounded per segment), building and POI flags. */
  private def measured(spark: SparkSession): DataFrame = {
    val f = named(pipFiltered(spark, GateRows, GateParts))
      .withColumn("noun_id", SeedExprs.metaNounId(col("idx")))
      .withColumn("dlon", SeedExprs.segDLon(col("idx")))
      .withColumn("dlat", SeedExprs.segDLat(col("idx")))
    val kmE6 = when(col("noun_id") === 1,
      floor(graft.spatial.SpatialQueries.haversineKmCol(
        col("lat"), col("lon"), col("lat") + col("dlat"), col("lon") + col("dlon"))
        * lit(1e6) + lit(0.5)).cast("long")).otherwise(0L)
    f.withColumn("km_e6", kmE6)
      .withColumn("is_b", when(col("noun_id") === 0, 1L).otherwise(0L))
      .withColumn("is_p", when(col("noun_id").isin(3, 4), 1L).otherwise(0L))
  }

  /** The reference's FULL tilePointSummaries measure matrix
    * (util/map-contribution-extractor.js:279-313; counters :21-62): per tile,
    * the four measures — highway-km (haversine over the feature's synthetic
    * track segment), buildings, POIs, edits — as tile totals over ALL
    * features, per-team `<team>_km/_b/_p/_e` columns for teams DISCOVERED in
    * the data (the reference iterates whatever teams exist), and
    * `team_sum_*` totals over rostered contributions. "Rostered" (uid%5≠0)
    * mirrors the reference's roster asymmetry: tile totals count every
    * feature, team columns only roster members' edits (js:96-144 vs :282).
    * km reports in e6 fixed-point, rounded per segment THEN summed as longs,
    * so sums are addition-order-free and the DuckDB oracle hash is FP-stable.
    *
    * Shuffle discipline: ONE full-width shuffle — the partial-agg'd
    * pre-rollup on (tile, team, rostered) — after which the pivot/totals
    * operate on ~|tiles|·|teams|·2 rows. The pivot's team-discovery pass runs
    * on the pre-rollup, not the feature table; at 100 TB pass the known team
    * list to `pivot(col, values)` and the discovery job disappears. */
  def tileMeasureMatrix(spark: SparkSession): DataFrame = CacheOps.scope { s =>
    // the totals / pivot / team_sum branches below each consume this
    // pre-rollup; without materialization Catalyst re-executes the full
    // scan+shuffle per branch (verified: 3 scans, no ReusedExchange).
    // The pre-rollup is ~|tiles|·|teams|·2 rows, so pinning it locally is
    // the scale-correct trade: ONE pass over the feature table, period.
    val pre = s.checkpoint(measured(spark)
      .withColumn("rostered", col("uid") % 5 =!= 0)
      .groupBy(col("tile"), col("team"), col("rostered"))
      .agg(count(lit(1)).as("e"), sum("km_e6").as("km_e6"),
        sum("is_b").as("b"), sum("is_p").as("p")))
    val totals = pre.groupBy(col("tile")).agg(
      sum("e").as("total_features"), sum("km_e6").as("total_km_e6"),
      sum("b").as("total_b"), sum("p").as("total_p"))
    val rost = pre.filter(col("rostered"))
    // pivot with the EXPLICIT team list: the output schema is data-independent
    // (a corpus where some team has zero rostered rows still emits that team's
    // columns, zero-filled below, matching the oracle's fixed four-team shape)
    // and the values-discovery job disappears — the scale form the scaladoc
    // prescribes. The discovery-pivot variant stays gated via q38.
    val teamCols = rost.groupBy(col("tile")).pivot("team", teamNames)
      .agg(sum("e").as("e"), sum("km_e6").as("km_e6"),
        sum("b").as("b"), sum("p").as("p"))
    val teamSums = rost.groupBy(col("tile")).agg(
      sum("e").as("team_sum_e"), sum("km_e6").as("team_sum_km_e6"),
      sum("b").as("team_sum_b"), sum("p").as("team_sum_p"))
    val joined = totals
      .join(teamCols, Seq("tile"), "left")
      .join(teamSums, Seq("tile"), "left")
    // absent team/roster cells are 0, like the reference's zero-initialized
    // teamTileTotals accumulators
    joined.columns.filterNot(c => c == "tile" || c.startsWith("total_"))
      .foldLeft(joined)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
  }

  /** teamDailyPointSummaries — the reference's per-(team, day) centroid +
    * measures layer (util/map-contribution-extractor.js:241-275:
    * `turf.centerOfMass` over each team's daily feature collection, with the
    * e/b/km/p measure properties per day) — the last of the four reference
    * rollup layers. FP discipline matches the sibling gates: coordinates
    * pre-rounded to e6 longs (sums exact in any order, one correctly-rounded
    * division — q46), km rounded per segment then summed as longs (q45).
    * ONE shuffle on (team, day); partial aggregation absorbs the metro skew
    * map-side exactly like the tile rollups. */
  def dailyPointSummaries(spark: SparkSession): DataFrame =
    measured(spark)
      .withColumn("lon_e6", floor(col("lon") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("lat_e6", floor(col("lat") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("team"), col("day"))
      .agg(count(lit(1)).as("e"), sum("km_e6").as("km_e6"),
        sum("is_b").as("b"), sum("is_p").as("p"),
        floor(sum(col("lon_e6")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("c_lon_e6"),
        floor(sum(col("lat_e6")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("c_lat_e6"))

  /** The `objects` layer as PER-FEATURE emission (map-contribution-extractor
    * .js:164-192): one output feature per input feature carrying the
    * reference's short-key property projection (u,h,c,t,v + team/noun/region
    * — SURVEY F13), emitted through the REAL geojsonseq sink and parsed back
    * with from_json, so the gate hashes the sink's actual output row for row
    * (the q47 pattern, but per-feature instead of aggregated). Scale shape:
    * pure map — no shuffle at all; the sink writes partition-local files. */
  def objectFeatures(spark: SparkSession): DataFrame = {
    val f = named(pipFiltered(spark, GateRows, GateParts))
      .withColumn("noun_id", SeedExprs.metaNounId(col("idx")))
    val props = f.select(col("lon"), col("lat"), col("idx"),
      col("uid").as("u"), concat(lit("user"), col("uid")).as("h"),
      SeedExprs.metaCs(col("idx")).as("c"), col("day").as("t"),
      SeedExprs.metaVer(col("idx")).as("v"), col("team").as("m"),
      col("noun_id").cast("long").as("n"), col("boundary_id").as("r"))
    val lines = graft.geo.GeoJson.pointFeatures(props)
    val ddl = "type STRING, properties STRUCT<idx: BIGINT, u: BIGINT, h: STRING, " +
      "c: BIGINT, t: BIGINT, v: BIGINT, m: STRING, n: BIGINT, r: STRING>, " +
      "geometry STRUCT<type: STRING, coordinates: ARRAY<DOUBLE>>"
    lines.toDF("line")
      .select(from_json(col("line"), ddl, java.util.Collections.emptyMap[String, String]()).as("f"))
      .select(col("f.properties.idx").as("idx"), col("f.properties.u").as("u"),
        col("f.properties.h").as("h"), col("f.properties.c").as("c"),
        col("f.properties.t").as("t"), col("f.properties.v").as("v"),
        col("f.properties.m").as("m"), col("f.properties.n").as("n"),
        col("f.properties.r").as("r"),
        floor(element_at(col("f.geometry.coordinates"), 1) * lit(1e6) + lit(0.5))
          .cast("long").as("lon_e6"),
        floor(element_at(col("f.geometry.coordinates"), 2) * lit(1e6) + lit(0.5))
          .cast("long").as("lat_e6"))
  }

  /** Multi-zoom rollup gate: the reference's summary layers span zoom bands
    * (objects z12-16, summaries z1-12, util/README.md:13-18 + the tippecanoe
    * minzoom/maxzoom envelopes in map-contribution-extractor.js:188-316);
    * [[graft.spatial.TileAssign.withTileMultiZoom]] emits every feature's cell at
    * every requested zoom via bit-shift parent derivation (one encode at
    * z-max, no re-encoding), then one rollup per (zoom, cell, team). */
  def multiZoomRollup(spark: SparkSession): DataFrame = {
    val f = named(pipFiltered(spark, GateRows, GateParts))
    graft.spatial.TileAssign.withTileMultiZoom(f, "lon", "lat", RollupZooms)
      .groupBy(col("zoom"), col("cell_id"), col("team"))
      .agg(count(lit(1)).as("n_edits"), countDistinct(col("uid")).as("n_users"))
  }

  /** The zoom bands of [[multiZoomRollup]], which its q49 oracle reads. */
  val RollupZooms = Seq(8, 10, 12)

  /** Per-tile center coordinates (X9 — the reference's
    * `turf.center(tilebelt.tileToGeoJSON(tile))` for its tilePointSummaries
    * point geometry, util/map-contribution-extractor.js:279): distinct AOI
    * tiles with their feature counts and inverse-web-mercator centers in e6
    * fixed-point. */
  def tileCenters(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pipFiltered(spark, GateRows, GateParts)
      .groupBy(col("tile")).agg(count(lit(1)).as("n_feats"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (t, nf) =>
        val (clon, clat) =
          Quadkey.tileCenter(Quadkey.cellX(t), Quadkey.cellY(t), Quadkey.cellZ(t))
        (t, nf, math.floor(clon * 1e6 + 0.5).toLong, math.floor(clat * 1e6 + 0.5).toLong)
      })
      .toDF("tile", "n_feats", "c_lon_e6", "c_lat_e6")
  }

  // ---- codegen fast path -----------------------------------------------

  /** The engine's one feature derivation, as pure codegen expressions
    * (graft.functions): the whole scan→derive→encode→PIP→partial-agg
    * pipeline is ONE WholeStageCodegen span with zero per-row JVM
    * allocation. */
  def fastFeatures(spark: SparkSession, n: Long, parts: Int): DataFrame =
    derived(geotagged(spark.range(0L, n, 1L, parts).toDF("idx")))

  /** `rows` with the geotag of their row index `idx` in `lon` and `lat`. */
  private[graft] def geotagged(rows: DataFrame): DataFrame =
    rows.withColumn("lon", SeedExprs.geotagLon(col("idx")))
      .withColumn("lat", SeedExprs.geotagLat(col("idx")))

  /** [[geotagged]] rows with the rest of the feature: meta and cells. */
  private def derived(points: DataFrame): DataFrame =
    points
      .withColumn("uid", SeedExprs.metaUid(col("idx")))
      .withColumn("day", SeedExprs.metaDay(col("idx")))
      .withColumn("team_id", SeedExprs.metaTeamId(col("idx")))
      .withColumn("tile", SeedExprs.quadCell(col("lat"), col("lon"), TileZ))
      .withColumn("hex", SeedExprs.hexCell(col("lat"), col("lon"), HexRes))
      .withColumn("s2", SeedExprs.s2Cell(col("lat"), col("lon"), S2Level))

  private val teamNames = ImageSynth.Teams.toSeq

  /** `df` with the names of the ordinals it carries: `team` from `team_id`
    * and `boundary_id`, the metro's id, from `b_ord`. */
  private[graft] def named(df: DataFrame): DataFrame =
    Seq(("team_id", "team", teamNames), ("b_ord", "boundary_id", metroBoundaries.map(_.id)))
      .filter { case (ord, _, _) => df.columns.contains(ord) }
      .foldLeft(df) { case (d, (ord, name, names)) =>
        d.withColumn(name, element_at(lit(names.toArray), col(ord) + 1))
      }

  /** Codegen PIP join + per-tile per-team pivot: the per-team sums over the
    * metro-joined features (FastPathSpec replays it on the driver). */
  def run(spark: SparkSession, n: Long, parts: Int = 32): DataFrame = {
    val joined = pipFiltered(spark, n, parts)
    val agged = joined.groupBy(col("tile"), col("b_ord"))
      .agg(
        sum(when(col("team_id") === 0, 1L).otherwise(0L)).as("kll_e"),
        sum(when(col("team_id") === 1, 1L).otherwise(0L)).as("msf_e"),
        sum(when(col("team_id") === 2, 1L).otherwise(0L)).as("dcx_e"),
        sum(when(col("team_id") === 3, 1L).otherwise(0L)).as("hot_e"),
        count(lit(1)).as("team_sum_e"),
        countDistinct(col("uid")).as("n_users"))
    named(agged)
      .select(col("tile"), col("boundary_id"), col("kll_e"), col("msf_e"),
        col("dcx_e"), col("hot_e"), col("team_sum_e"), col("n_users"))
  }
}
