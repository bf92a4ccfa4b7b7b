package graft.plans

import graft.functions.Hashing
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing a 64-bit SimHash (Charikar 2002)
  * over an `array<string>` of tokens.
  *
  * This is the "(b) custom Expression" tier of the operator preference
  * order: the bit-vote loop isn't expressible with built-in functions
  * without exploding the token array (a shuffle-sized blowup at 100 TB),
  * and a Scala UDF would box every row. `doGenCode` emits the loop
  * straight into whole-stage codegen, hashing UTF8String bytes without
  * materializing java.lang.String.
  *
  * Parity: must equal `graft.dedup.Dedup.simhash64` (asserted in
  * PlanExprSpec).
  */
case class SimHash64Expression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.simpleString(10)}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = Hashing.hashBytes(s.getBytes, 0x51AA17L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashing = Hashing.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, arr => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $acc = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = $hashing.hashBytes($arr.getUTF8String($i).getBytes(), 0x51AA17L);
         |    for (int $j = 0; $j < 64; $j++) {
         |      if ((($h >>> $j) & 1L) == 1L) $acc[$j]++; else $acc[$j]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($acc[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

object SimHash64Expression {

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", tokens)
}
