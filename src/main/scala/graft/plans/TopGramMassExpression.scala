package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the Gopher repetition signal: the
  * character MASS (occurrences × gram char length) of the most-repeated
  * n-gram of a token array, 0 when no n-gram repeats.
  *
  * This is a PER-DOCUMENT statistic, so it must not cost a shuffle: the
  * original relational form exploded every document's n-gram stream into
  * a corpus×|ns| exchange keyed by (doc, n, gram) — the worst sf1 scaler
  * in the benchmark (3.95× at 10× data) purely from shuffle volume. Here
  * the whole count-and-argmax runs in one per-row static call inside
  * whole-stage codegen (the [[WordShinglesExpression]] pattern): one
  * narrow projection, zero exchanges, shuffle volume independent of the
  * corpus. Grams are compared as exact UTF8 strings — no xxhash64
  * collision caveat, which the oracle-replay path had to tolerate.
  *
  * Parity with the relational form is asserted in PlanExprSpec.
  */
case class TopGramMassExpression(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, s"top_gram_mass: n must be positive, got $n")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_gram_mass requires array<string>, got ${other.simpleString(10)}")
    }

  override def nullSafeEval(input: Any): Any =
    TopGramMassExpression.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = TopGramMassExpression.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = $obj.compute($arr, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopGramMassExpression =
    copy(child = newChild)
  override def prettyName: String = "top_gram_mass"
}

object TopGramMassExpression {

  private val Space = UTF8String.fromString(" ")

  /** Max over n-grams with count ≥ 2 of count × numChars(gram); 0 if no
    * gram repeats or the doc has fewer than n tokens. Null tokens read
    * as empty strings (split never emits them — stay total). */
  def compute(arr: ArrayData, n: Int): Long = {
    val len = arr.numElements()
    if (len < n) return 0L
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    val window = new Array[UTF8String](n)
    i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      val g = UTF8String.concatWs(Space, window: _*)
      val slot = counts.get(g)
      if (slot == null) counts.put(g, Array(1L, g.numChars().toLong))
      else slot(0) += 1
      i += 1
    }
    var best = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s(0) >= 2) { val m = s(0) * s(1); if (m > best) best = m }
    }
    best
  }

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def topGramMass(tokens: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("top_gram_mass", tokens,
      org.apache.spark.sql.functions.lit(n))
}
