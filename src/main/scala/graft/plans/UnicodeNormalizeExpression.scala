package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native Catalyst
  * expression — the canonical-form pass every multilingual ingest needs
  * before dedup/fingerprinting: visually-identical strings with
  * different codepoint sequences (composed "é" vs "e"+U+0301) would
  * otherwise hash, join, and dedup as different documents.
  *
  * Native Expression tier (not a UDF): the per-row call lands in
  * whole-stage codegen as a static kernel invocation; no Row boxing, no
  * closure serialization.
  *
  * ASCII fast path: a UTF8String whose byte count equals its char count
  * is pure ASCII, which every normalization form maps to itself — the
  * kernel returns the INPUT buffer untouched (no decode, no allocation).
  * Real web corpora are overwhelmingly ASCII-dominant, so the common row
  * costs one comparison. Non-ASCII rows additionally short-circuit
  * through `Normalizer.isNormalized` (no allocation when already
  * normal, the second-most-common case).
  *
  * Semantics are the Unicode standard's (java.text.Normalizer —
  * ICU-equivalent for these forms); the t30 gate hash-verifies NFC
  * char-for-char against DuckDB's independent `nfc_normalize`.
  */
object UnicodeNormalize {

  /** Static kernel — called from both interpreted eval and codegen.
    * `form` is the java.text.Normalizer.Form ordinal (NFC=1 per
    * [[formId]]; passing the ordinal keeps codegen to primitives). */
  def normalize(u: UTF8String, formId: Int): UTF8String = {
    if (u.numBytes == u.numChars) return u // pure ASCII: fixed point of every form
    val form = forms(formId)
    val s = u.toString
    if (Normalizer.isNormalized(s, form)) u
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  private val forms: Array[Normalizer.Form] = Array(
    Normalizer.Form.NFD, Normalizer.Form.NFC,
    Normalizer.Form.NFKD, Normalizer.Form.NFKC)

  def formId(name: String): Int = name.toUpperCase match {
    case "NFD"  => 0
    case "NFC"  => 1
    case "NFKD" => 2
    case "NFKC" => 3
    case other  => throw new IllegalArgumentException(
      s"unknown normalization form '$other' (want NFC/NFD/NFKC/NFKD)")
  }
}

case class UnicodeNormalizeExpression(child: Expression, form: String)
    extends UnaryExpression {

  private val id = UnicodeNormalize.formId(form) // validates eagerly

  override def dataType: DataType = StringType
  // NullType stays ACCEPTED: an argument can resolve to NullType only
  // AFTER build() ran (multi-iteration analysis through nested
  // subqueries), when the Literal rewrite had no type to look at —
  // rejecting it here would fail analysis where the result is plainly
  // null. doGenCode handles the NullType child with a constant-null
  // emission instead of the (un-compilable) kernel call.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType ||
        child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"unicode_normalize requires a string, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    UnicodeNormalize.normalize(v.asInstanceOf[UTF8String], id)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (child.dataType == org.apache.spark.sql.types.NullType) {
      // constant null: a NullType child's javaType would not compile
      // inside the (dead) non-null kernel call — emit the answer directly
      // and keep the plan in whole-stage codegen
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      ev.copy(code =
        code"""
          boolean ${ev.isNull} = true;
          ${CodeGenerator.javaType(dataType)} ${ev.value} =
            ${CodeGenerator.defaultValue(dataType)};""")
    } else {
      val kernel = UnicodeNormalize.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $kernel.normalize($c, $id);")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalizeExpression =
    copy(child = newChild)
  override def prettyName: String = "unicode_normalize"
}

object UnicodeNormalizeExpression {

  /** The [[graft.GraftExtensions]] builder: checks arity and extracts
    * the literal form — the form selects the kernel at plan time, so it
    * cannot be a column. */
  def build(exprs: Seq[Expression]): UnicodeNormalizeExpression = {
    require(exprs.length == 2, "unicode_normalize(str, form) takes 2 arguments")
    val form = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType) =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"unicode_normalize form must be a string literal, got $other")
    }
    // a bare NULL argument arrives as NullType; normalize it to a typed
    // string null so the expression stays inside whole-stage codegen
    val child = exprs.head match {
      case c if c.resolved && c.dataType == org.apache.spark.sql.types.NullType =>
        org.apache.spark.sql.catalyst.expressions.Literal(null, StringType)
      case c => c
    }
    UnicodeNormalizeExpression(child, form)
  }

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def unicodeNormalize(c: Column, form: String): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("unicode_normalize", c, lit(form))
  }
}
