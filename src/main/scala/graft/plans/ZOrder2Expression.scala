package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Bit-interleave helpers for Morton (Z-order) curve values. Shared by
  * the interpreted and codegen paths so both are bit-identical. */
object ZOrder {

  /** Spread the low 32 bits of x so bit i lands at position 2i
    * (standard magic-mask Morton spreading). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 64-bit Morton code of two 32-bit coordinates (a even bits, b odd). */
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** Bucket index of v in sorted boundaries = count of boundaries <= v.
    * Shared by [[RankBucketsExpression]]'s eval and codegen paths. */
  def bucketOf(bounds: Array[Double], v: Double): Long = {
    val i = java.util.Arrays.binarySearch(bounds, v)
    if (i >= 0) {
      // land AFTER any run of equal boundaries (stable for heavy values)
      var j = i
      while (j + 1 < bounds.length && bounds(j + 1) == v) j += 1
      j + 1L
    } else -(i + 1).toLong
  }
}

/** Native Catalyst expression computing the 64-bit Morton (Z-order)
  * code of two long coordinates — the locality-preserving sort key for
  * multi-dimensional data layout (`Maintenance.zorderParquet`).
  *
  * Sorting by the Z-value clusters rows that are close in BOTH
  * dimensions into the same files, so parquet min/max stats prune point
  * and range queries on EITHER column — the layout trick Delta/Iceberg
  * OPTIMIZE ZORDER applies, here as a plain expression usable with any
  * `repartitionByRange`/`sortWithinPartitions` write. Callers pre-scale
  * coordinates into [0, 2^32) (see `Maintenance.zorderParquet`'s rank
  * scaling); bits above 32 are ignored by the spread masks.
  *
  * Tier (b) native expression: pure long arithmetic, ideal for
  * whole-stage codegen; a UDF would box two longs per row in the sort's
  * hot path. Parity of eval vs codegen is asserted in PlanExprSpec.
  *
  * Reference: the amadeus reference has no layout machinery at all
  * (its `Destination` is unimplemented, SURVEY §2.1) — north-star
  * surface, following the published Morton-spreading bit trick.
  */
case class ZOrder2Expression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"zorder2 requires (bigint, bigint), got " +
          s"${left.dataType.simpleString(10)}, ${right.dataType.simpleString(10)}")

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zo = ZOrder.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, b) => s"$zo.interleave($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zorder2"
}

object ZOrder2Expression {

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def zorder2(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("zorder2", a, b)
}
