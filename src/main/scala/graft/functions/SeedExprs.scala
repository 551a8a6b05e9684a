package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._
import graft.spatial.BoundaryIndex

/** Custom codegen Catalyst expressions (SURVEY.md §7.3 phase 2) for the
  * pipeline's hot scalar functions. A Scala UDF boxes its inputs, allocates a
  * result object, and breaks whole-stage codegen; these expressions instead
  * inline a static Java call into the generated code — zero per-row JVM
  * objects, so the 32-thread local run stops being allocator-bound (measured:
  * pure-CPU scales 3.96x from 8→32 threads, the UDF pipeline only ~1.3x).
  */

/** Long → scalar via a named [[Statics]] method (seed-derived features). */
case class SeedScalar(child: Expression, fn: String, resultType: DataType)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = resultType
  override def prettyName: String = fn

  override protected def nullSafeEval(input: Any): Any = {
    val i = input.asInstanceOf[Long]
    fn match {
      case "geotagLon" => Statics.geotagLon(i)
      case "geotagLat" => Statics.geotagLat(i)
      case "metaUid" => Statics.metaUid(i)
      case "metaDay" => Statics.metaDay(i)
      case "metaTeamId" => Statics.metaTeamId(i)
      case "metaNounId" => Statics.metaNounId(i)
      case "segDLon" => Statics.segDLon(i)
      case "segDLat" => Statics.segDLat(i)
      case "mixBp" => Statics.mixBp(i)
      case "mix64" => Statics.mix64(i)
      case "clz64" => Statics.clz64(i)
      case "metaCs" => Statics.metaCs(i)
      case "metaVer" => Statics.metaVer(i)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Statics.$fn($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (lat, lon) → cell id at a fixed resolution/level via [[Statics]]. */
case class CellScalar(left: Expression, right: Expression, res: Int, fn: String)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def prettyName: String = s"$fn($res)"

  override protected def nullSafeEval(lat: Any, lon: Any): Any = fn match {
    case "hexCell" => Statics.hexCell(lat.asInstanceOf[Double], lon.asInstanceOf[Double], res)
    case "s2Cell" => Statics.s2Cell(lat.asInstanceOf[Double], lon.asInstanceOf[Double], res)
    case "quadCell" => Statics.quadCell(lat.asInstanceOf[Double], lon.asInstanceOf[Double], res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) => s"graft.functions.Statics.$fn($la, $lo, $res)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** (lon, lat) → ordinal of the lowest-id containing boundary (−1 = outside
  * all) through [[BoundaryIndex.queryFirstOrdinal]], the kernel of every
  * broadcast PIP. The boundary index ships with the serialized plan and is
  * referenced from generated code via addReferenceObj — the
  * broadcast-R-tree-per-partition pattern without leaving codegen. The
  * engine's joins probe through [[PipHits]]; this scalar form serves
  * perfbench's traced `pip` prefix. */
case class PipOrdinal(left: Expression, right: Expression, index: BoundaryIndex)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pip_ordinal"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    index.queryFirstOrdinal(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("pipIndex", index, classOf[BoundaryIndex].getName)
    defineCodeGen(ctx, ev, (lo, la) => s"$idxRef.queryFirstOrdinal($lo, $la)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** (lon, lat) → the same ordinal as [[PipOrdinal]], as an array of zero or
  * one element for `explode`: the broadcast PIP probe of [[graft.spatial.PipJoin]].
  * Under a generator the probe cannot be copied into a pushed-down filter,
  * so it runs once per row. The arrays are shared, one empty and one per
  * ordinal, so a row allocates nothing. */
case class PipHits(left: Expression, right: Expression, index: BoundaryIndex)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pip_hits"

  // hits(o + 1) is the result for ordinal o; hits(0), for -1, is empty
  @transient private lazy val hits: Array[ArrayData] =
    (-1 until index.boundaries.length).map(o =>
      UnsafeArrayData.fromPrimitiveArray(if (o < 0) Array.emptyIntArray else Array(o)): ArrayData).toArray

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    hits(index.queryFirstOrdinal(lon.asInstanceOf[Double], lat.asInstanceOf[Double]) + 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("pipIndex", index, classOf[BoundaryIndex].getName)
    val hitsRef = ctx.addReferenceObj("pipHits", hits, s"${classOf[ArrayData].getName}[]")
    defineCodeGen(ctx, ev, (lo, la) => s"$hitsRef[$idxRef.queryFirstOrdinal($lo, $la) + 1]")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SeedExprs {
  private def ex(c: Column) = GraftShim.expression(c)
  private def co(e: Expression) = GraftShim.column(e)
  def geotagLon(idx: Column): Column = co(SeedScalar(ex(idx), "geotagLon", DoubleType))
  def geotagLat(idx: Column): Column = co(SeedScalar(ex(idx), "geotagLat", DoubleType))
  def metaUid(idx: Column): Column = co(SeedScalar(ex(idx), "metaUid", LongType))
  def metaDay(idx: Column): Column = co(SeedScalar(ex(idx), "metaDay", LongType))
  def metaTeamId(idx: Column): Column = co(SeedScalar(ex(idx), "metaTeamId", IntegerType))
  def metaNounId(idx: Column): Column = co(SeedScalar(ex(idx), "metaNounId", IntegerType))
  def segDLon(idx: Column): Column = co(SeedScalar(ex(idx), "segDLon", DoubleType))
  def segDLat(idx: Column): Column = co(SeedScalar(ex(idx), "segDLat", DoubleType))
  def mixBp(idx: Column): Column = co(SeedScalar(ex(idx), "mixBp", LongType))
  def mix64(x: Column): Column = co(SeedScalar(ex(x), "mix64", LongType))
  def clz64(x: Column): Column = co(SeedScalar(ex(x), "clz64", LongType))
  def metaCs(idx: Column): Column = co(SeedScalar(ex(idx), "metaCs", LongType))
  def metaVer(idx: Column): Column = co(SeedScalar(ex(idx), "metaVer", LongType))
  def hexCell(lat: Column, lon: Column, res: Int): Column =
    co(CellScalar(ex(lat), ex(lon), res, "hexCell"))
  def s2Cell(lat: Column, lon: Column, level: Int): Column =
    co(CellScalar(ex(lat), ex(lon), level, "s2Cell"))
  /** The packed quadkey cell ([[graft.index.Quadkey.cellIdOf]]) at `zoom`:
    * the engine's one tile encoder. */
  def quadCell(lat: Column, lon: Column, zoom: Int): Column =
    co(CellScalar(ex(lat), ex(lon), zoom, "quadCell"))
  def pipOrdinal(lon: Column, lat: Column, index: BoundaryIndex): Column =
    co(PipOrdinal(ex(lon), ex(lat), index))
  def pipHits(lon: Column, lat: Column, index: BoundaryIndex): Column =
    co(PipHits(ex(lon), ex(lat), index))
}
