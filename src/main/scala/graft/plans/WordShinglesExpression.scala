package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression producing the DISTINCT n-word shingles of a
  * token array: `array<string>` tokens → `array<string>` of
  * space-joined n-grams, first-occurrence order.
  *
  * Replaces the shingling Scala UDF in the dedup paths: a UDF converts
  * every row's tokens into `java.lang.String`s inside a `Seq`, then
  * builds shingles with `sliding().mkString` (an iterator + builder
  * allocation per shingle). Here shingles are `UTF8String.concatWs`
  * over the raw Catalyst values — no JVM-String round trip — and the
  * expression stays inside whole-stage codegen via a per-row static
  * call (the StaticInvoke pattern; the loop body is data-dependent, so
  * inlining it buys nothing over one monomorphic call).
  *
  * Parity with `Dedup.wordShinglesUdf` (same split, same ordering, same
  * distinct semantics) is asserted in PlanExprSpec.
  */
case class WordShinglesExpression(child: Expression, n: Int)
    extends UnaryExpression {

  /** Declared NON-deterministic although the kernel is pure — the guide
    * §4.4 discipline for expensive expressions (see
    * HtmlExtractExpression for the measured mechanism). Without it the
    * optimizer duplicates this kernel wholesale: InferFiltersFromGenerate
    * plants a `size(kernel(...)) > 0` filter under every explode (a full
    * second corpus pass), predicate pushdown inlines it into compiled
    * Filter conditions (no codegen CSE), and CollapseProject inlines it
    * into every consumer. Measured (r17, sf10 subset, stable anchor):
    * d02 −22%, d07 −19%, d21 −39% from the flag alone. Results are
    * unchanged — the kernel is a pure function of its input. */
  override lazy val deterministic: Boolean = false

  require(n > 0, s"word_shingles: n must be positive, got $n")


  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires array<string>, got ${other.simpleString(10)}")
    }

  override def nullSafeEval(input: Any): Any =
    WordShinglesExpression.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = WordShinglesExpression.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = $obj.compute($arr, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpression =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

object WordShinglesExpression {

  private val Space = UTF8String.fromString(" ")

  /** Distinct n-gram shingles over a token ArrayData, insertion-ordered.
    * Null tokens are treated as empty strings (the UDF it replaces never
    * sees nulls — `split` emits none — but stay total). */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray())
  }

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def wordShingles(tokens: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("word_shingles", tokens,
      org.apache.spark.sql.functions.lit(n))
}
