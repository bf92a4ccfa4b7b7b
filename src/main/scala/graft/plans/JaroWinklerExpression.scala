package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string similarity (Winkler 1990) — the scoring kernel of
  * blocked entity resolution ([[graft.operators.EntityResolution]]).
  *
  * Native Expression tier (not a UDF): the per-row double lands directly
  * in whole-stage codegen and the kernel is a static call on UTF8String
  * operands — no Row boxing, no closure serialization per batch.
  *
  * Semantics pinned to the classic definition as implemented by DuckDB /
  * RapidFuzz (verified empirically to 1e-12 over random pairs, see
  * PlanExprSpec goldens):
  *  - either side empty → 0.0 (including both empty);
  *  - match window = max(len)/2 − 1 (floor, min 0), greedy left-to-right
  *    one-to-one matching;
  *  - transpositions = ⌊mismatched matched positions / 2⌋ (INTEGER floor
  *    — an odd mismatch count floors, matching DuckDB);
  *  - Winkler prefix boost (ℓ≤4, p=0.1) applied only when jaro > 0.7.
  *
  * Comparison unit is the UTF-16 code unit (Java chars) — identical to
  * codepoint comparison for all BMP text; supplementary-plane pairs
  * compare surrogate-by-surrogate.
  */
object JaroWinkler {

  /** Per-thread reusable buffers: the kernel runs millions of times per
    * task in a blocked similarity join — per-call allocation (2 Strings
    * + 2 flag arrays) was the dominant constant. Tasks are
    * thread-confined, so ThreadLocal scratch is safe. */
  private final class Scratch {
    var ca = new Array[Char](64); var cb = new Array[Char](64)
    var ma = new Array[Boolean](64); var mb = new Array[Boolean](64)
    def ensure(la: Int, lb: Int): Unit = {
      if (ca.length < la) { ca = new Array[Char](la * 2); ma = new Array[Boolean](la * 2) }
      if (cb.length < lb) { cb = new Array[Char](lb * 2); mb = new Array[Boolean](lb * 2) }
    }
  }
  private val tl = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Copy chars into a scratch array: byte-direct for ASCII (str ==
    * null ⇔ numBytes == numChars ⇒ every char is one 0–127 byte),
    * through the decoded String for multi-byte text. `n` is the UTF-16
    * length — NOT numChars (code points): for supplementary-plane text
    * numChars < String.length, and using it would silently truncate the
    * trailing UTF-16 units (two strings differing only past a shared
    * high surrogate would score 1.0). */
  private def fill(str: String, u: UTF8String, n: Int, dst: Array[Char]): Unit =
    if (str == null) {
      var i = 0
      while (i < n) { dst(i) = (u.getByte(i) & 0xFF).toChar; i += 1 }
    } else str.getChars(0, n, dst, 0)

  /** Static kernel — called from both interpreted eval and codegen. */
  def similarity(ua: UTF8String, ub: UTF8String): Double = {
    val sa = if (ua.numBytes == ua.numChars) null else ua.toString
    val sb = if (ub.numBytes == ub.numChars) null else ub.toString
    val la = if (sa == null) ua.numBytes else sa.length
    val lb = if (sb == null) ub.numBytes else sb.length
    if (la == 0 || lb == 0) return 0.0
    val s = tl.get()
    s.ensure(la, lb)
    val a = s.ca; val b = s.cb
    fill(sa, ua, la, a); fill(sb, ub, lb, b)
    val aMatch = s.ma; val bMatch = s.mb
    java.util.Arrays.fill(aMatch, 0, la, false)
    java.util.Arrays.fill(bMatch, 0, lb, false)
    val window = math.max((if (la > lb) la else lb) / 2 - 1, 0)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var matched = false
      while (j <= hi && !matched) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - t / 2).toDouble / m) / 3.0
    var p = 0
    val pMax = math.min(math.min(la, lb), 4)
    var stop = false
    i = 0
    while (i < pMax && !stop) {
      if (a(i) == b(i)) p += 1 else stop = true
      i += 1
    }
    if (jaro > 0.7) jaro + p * 0.1 * (1.0 - jaro) else jaro
  }
}

case class JaroWinklerExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  // Deliberately DETERMINISTIC (r17, measured): the d22/d23 threshold
  // filters are pushed into the blocked self-join's condition, inlining
  // the kernel ~3× per candidate pair — but the in-join evaluation also
  // prunes pairs before they are emitted as rows. The §4.4
  // nondeterministic treatment (word_shingles/minhash_bands/
  // html_extract) was tried here and measured a WASH at sf0.1 and sf10
  // (1-eval-late vs 3-eval-early cancel out; the ThreadLocal-scratch
  // kernel is cheap next to the join's row machinery). Kept pushable.

  override def dataType: DataType = DoubleType
  // NullType is accepted (a NULL literal argument short-circuits to a
  // null result in BinaryExpression.eval before the kernel runs)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) =
      t == StringType || t == org.apache.spark.sql.types.NullType
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = JaroWinkler.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel.similarity($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "jaro_winkler"
}

object JaroWinklerExpression {

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("jaro_winkler", a, b)
}
