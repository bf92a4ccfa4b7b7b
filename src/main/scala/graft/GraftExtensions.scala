package graft

import graft.plans._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's `SparkSessionExtensions` installer — tier (c) of the
  * custom-operator preference order, registered the way a deployed
  * library would be:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (GraftSession sets this; any vanilla SparkSession builder or
  * spark-submit conf can too.) It injects:
  *
  *  - every native codegen'd function in [[GraftExtensions.functions]]
  *    (`simhash64`, `cosine_sim`, `dot_product`, `minhash_bands`,
  *    `word_shingles`, `count_in_set`, `hyperplane_sig`, `zorder2`,
  *    `top_gram_mass`, `jaro_winkler`, `unicode_normalize`,
  *    `html_extract`) into the session's function registry, so plain
  *    SQL — `spark.sql("SELECT cosine_sim(a, b)")` — and the Column APIs
  *    on the expression companions resolve them;
  *  - [[graft.plans.RangeJoinRule]] into the operator-optimization batch,
  *    lowering point-in-interval joins written in SQL to bucketed
  *    equi-joins (opt-in via `spark.graft.rangeJoin.bucketWidth`);
  *  - [[graft.plans.AsofJoinStrategy]] into the planner, which plans
  *    as-of joins as `AsofJoinExec`.
  *
  * A session built without the extension gets the same functions from
  * [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registryEntries.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {

  /** Extract a constant-int function argument, with a clear
    * AnalysisException instead of an opaque ClassCastException when the
    * argument is non-foldable (`minhash_bands(sh, some_col, 16)`) or a
    * non-int literal (`word_shingles(toks, '3')`, BIGINT literals). */
  def literalInt(exprs: Seq[Expression], i: Int, fn: String): Int = {
    def fail(got: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "INVALID_PARAMETER_VALUE.INTEGER",
        Map("parameter" -> s"arg${i + 1}", "functionName" -> fn,
          "invalidValue" -> got))
    val e = exprs(i)
    if (!e.foldable) fail(s"non-constant expression ${e.sql}")
    e.eval() match {
      case n: Int => n
      case other => fail(s"${e.dataType.simpleString} value $other")
    }
  }

  /** Registers every function of [[functions]] that `spark`'s registry
    * lacks — for sessions built without `spark.sql.extensions`.
    * Idempotent: names already present are left alone. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registryEntries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** [[functions]] in the registry's (identifier, info, builder) form. */
  private def registryEntries
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    functions.map { case (name, usage, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, usage), builder)
    }

  /** (name, usage, builder) for every native graft function. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      "simhash64(tokens) - 64-bit SimHash of an array<string> of tokens",
      (exprs: Seq[Expression]) => SimHash64Expression(exprs.head)),
    ("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two array<float|double> vectors",
      (exprs: Seq[Expression]) => CosineSimilarityExpression(exprs(0), exprs(1))),
    ("dot_product",
      "dot_product(a, b) - dot product of two array<float|double> vectors",
      (exprs: Seq[Expression]) => DotProductExpression(exprs(0), exprs(1))),
    ("minhash_bands",
      "minhash_bands(shingles, k, bands) - LSH band hashes of a MinHash-k signature",
      (exprs: Seq[Expression]) => MinHashBandsExpression(
        exprs(0), literalInt(exprs, 1, "minhash_bands"),
        literalInt(exprs, 2, "minhash_bands"))),
    ("word_shingles",
      "word_shingles(tokens, n) - distinct space-joined n-grams of a token array",
      (exprs: Seq[Expression]) => WordShinglesExpression(
        exprs(0), literalInt(exprs, 1, "word_shingles"))),
    ("count_in_set",
      "count_in_set(tokens, array(...)) - occurrences of set members in a token array",
      (exprs: Seq[Expression]) => CountInSetExpression.builder(exprs)),
    ("hyperplane_sig",
      "hyperplane_sig(vec, nBits) - random-hyperplane LSH signature of an embedding",
      (exprs: Seq[Expression]) => HyperplaneSignatureExpression(
        exprs(0), literalInt(exprs, 1, "hyperplane_sig"))),
    ("zorder2",
      "zorder2(a, b) - 64-bit Morton (Z-order) code of two bigint coordinates",
      (exprs: Seq[Expression]) => ZOrder2Expression(exprs(0), exprs(1))),
    ("top_gram_mass",
      "top_gram_mass(tokens, n) - char mass of the most repeated n-gram (0 if none repeats)",
      (exprs: Seq[Expression]) => TopGramMassExpression(
        exprs(0), literalInt(exprs, 1, "top_gram_mass"))),
    ("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings in [0,1]",
      (exprs: Seq[Expression]) => JaroWinklerExpression(exprs(0), exprs(1))),
    ("unicode_normalize",
      "unicode_normalize(s, 'NFC') - Unicode normalization (NFC/NFD/NFKC/NFKD)",
      (exprs: Seq[Expression]) => UnicodeNormalizeExpression.build(exprs)),
    ("html_extract",
      "html_extract(html, minChars) - jusText-style main-content extraction",
      (exprs: Seq[Expression]) => HtmlExtractExpression.build(exprs)))
}
