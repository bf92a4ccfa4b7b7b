package graft

import graft.dedup.Dedup
import graft.plans.SimHash64Expression
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom Catalyst Expression checks: interpreted vs codegen parity, SQL
  * registration, null handling. */
class PlanExprSpec extends AnyFunSuite with CacheHygiene {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  test("simhash64 expression equals the Scala reference implementation") {
    val texts = Seq(
      "the quick brown fox", "the quick brown fox", "a b c d e f g",
      "identical tokens identical tokens", "")
    val got = texts.toDF("t").select(Dedup.simhash(col("t"))).collect().map(_.getLong(0))
    val want = texts.map(t => Dedup.simhash64(t.split(" ").toSeq))
    assert(got.toSeq == want)
  }

  test("simhash64 runs inside whole-stage codegen (doGenCode path)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(0, 1000)
        .selectExpr("simhash64(split(concat('tok', id % 50, ' tok', id % 7), ' ')) AS h")
      val cg = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      val n = "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(cg).map(_.group(1).toInt)
      assert(n.exists(_ >= 1), s"expression fell back to interpreted:\n${cg.take(300)}")
      // and the codegen'd result equals the interpreted eval
      val fromCodegen = df.collect().map(_.getLong(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = df.collect().map(_.getLong(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      assert(fromCodegen.sameElements(interpreted))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("simhash64 via SQL after registration; null array -> null") {
    val r = spark.sql(
      "SELECT simhash64(split('a b c', ' ')), simhash64(CAST(NULL AS ARRAY<STRING>))").head()
    assert(!r.isNullAt(0))
    assert(r.isNullAt(1))
  }

  test("cosine_sim equals the declarative zip_with/aggregate form bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f))) :+
      (200L, Seq.fill(64)(0f)) // zero vector -> 0.0 branch
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(graft.ann.Ann.cosine(col("a.v"), col("b.v")).as("native"),
        graft.ann.Ann.cosineHof(col("a.v"), col("b.v")).as("hof"))
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("dot_product equals the declarative zip_with/aggregate form bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(32)(rnd.nextFloat() * 2f - 1f))) :+
      (100L, Seq.fill(32)(0f))
    val df = vecs.toDF("id", "v")
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val rows = df.as("a").crossJoin(df.as("b"))
      .select(graft.plans.DotProductExpression.dot(col("a.v"), col("b.v")).as("native"),
        hof(col("a.v"), col("b.v")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null semantics mirror cosine_sim
    val n = spark.sql(
      """SELECT dot_product(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)),
        | dot_product(array(1.0F, 2.0F), array(1.0F)),
        | dot_product(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)),
        | dot_product(array(2.0D, 3.0D), array(4.0D, 5.0D))""".stripMargin).head()
    assert(n.isNullAt(0) && n.isNullAt(1) && n.isNullAt(2))
    assert(n.getDouble(3) == 23.0)
  }

  test("cosine_sim null semantics: null array, length mismatch, null element") {
    val r = spark.sql(
      """SELECT
        | cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)),
        | cosine_sim(array(1.0F, 2.0F), array(1.0F)),
        | cosine_sim(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)),
        | cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) == 1.0)
  }

  test("word_shingles equals the shingling UDF (incl. null/short/empty texts)") {
    val texts = Seq("the quick brown fox jumps", "a b", "", "x y z",
      "dup dup dup dup dup", null)
    val df = texts.toDF("t")
    val native = df.select(Dedup.wordShingles(col("t"), 3)).collect()
      .map(_.getSeq[String](0))
    val viaUdf = df.select(Dedup.wordShinglesUdf(col("t"), lit(3))).collect()
      .map(_.getSeq[String](0))
    assert(native.toSeq == viaUdf.toSeq)
  }

  test("count_in_set equals the HOF filter form, counts occurrences") {
    val words = graft.functions.TextFunctions.StopwordsEn
    val df = Seq("the cat and the dog", "no stopwords here at all x", "", "the the the")
      .toDF("t").select(split(col("t"), " ").as("toks"))
    val native = df.select(
      graft.plans.CountInSetExpression.countInSet(col("toks"), words)).as[Int].collect()
    val hof = df.select(
      size(filter(col("toks"), t => t.isInCollection(words)))).as[Int].collect()
    assert(native.toSeq == hof.toSeq)
    assert(native(3) == 3) // multiplicity, unlike array_intersect
  }

  test("minhash_bands equals minhashSignature + bandHashes (interpreted and codegen)") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m", "", "one")
    val shingled = texts.map(t =>
      t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq.distinct)
    val want = shingled.map(sh =>
      Dedup.bandHashes(Dedup.minhashSignature(sh, 64), 16, 4).toSeq)
    val got = shingled.toDF("sh")
      .select(graft.plans.MinHashBandsExpression.minhashBands(col("sh"), 64, 16))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == want)
    // interpreted eval path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = shingled.toDF("sh")
        .select(graft.plans.MinHashBandsExpression.minhashBands(col("sh"), 64, 16))
        .collect().map(_.getSeq[Long](0))
      assert(interp.toSeq == want)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("hyperplane_sig native expression is bit-identical to the witness UDF") {
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(32)(rnd.nextFloat() * 2f - 1f))) :+
      (300L, Seq.fill(32)(0f)) // zero vector: every dot==0 -> sig 0
    val df = vecs.toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    for (nBits <- Seq(1, 16, 63)) {
      val native = df.select(graft.ann.Ann.signature(col("v"), nBits))
        .collect().map(_.getLong(0))
      val udfv = df.select(graft.ann.Ann.signatureUdf(nBits)(col("v")))
        .collect().map(_.getLong(0))
      assert(native.sameElements(udfv), s"nBits=$nBits mismatch")
    }
    // interpreted eval agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(graft.ann.Ann.signature(col("v"), 16))
        .collect().map(_.getLong(0))
      val cgOff = df.select(graft.ann.Ann.signatureUdf(16)(col("v")))
        .collect().map(_.getLong(0))
      assert(interp.sameElements(cgOff))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // null array -> null; non-literal nBits -> clear AnalysisException
    val r = spark.sql("SELECT hyperplane_sig(CAST(NULL AS ARRAY<FLOAT>), 16)").head()
    assert(r.isNullAt(0))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hyperplane_sig(array(1.0f), CAST(id AS INT)) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("hyperplane_sig"))
  }

  test("native langId is bit-identical to the witness UDF; t03 plan has no UDF") {
    // full corpus parity: every labeled language + edge rows
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("text"))
      .unionByName(Seq("", " ", "der der der", "的 是 了", "zzz qqq xyzzy",
        "the el le der 的").toDF("text")) // cross-language tie row
    val both = docs.select(
      graft.functions.TextFunctions.langId(col("text")).as("native"),
      graft.functions.TextFunctions.langIdUdf(col("text")).as("witness"))
    assert(both.filter(col("native") =!= col("witness")).count() == 0,
      "native langId diverged from the UDF witness")
    // null text -> 'und' like the UDF
    val nullRow = Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.TextFunctions.langId(col("text"))).head().getString(0)
    assert(nullRow == "und")
    val q = SparkEntry.queries("t03_lang_id")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF found in t03 plan:\n${plan.take(500)}")
  }

  test("a02 LSH plan contains no Scala UDF (native signature in hot path)") {
    val sfDir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("a02_ann_lsh")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF found in a02 plan:\n${plan.take(500)}")
  }

  test("top_gram_mass: codegen == interpreted, hand goldens, null/short input") {
    // "ab ab ab cd": 'ab ab' x2, 5 chars -> 10; no trigram repeats -> 0
    val r = spark.sql(
      """SELECT top_gram_mass(split('ab ab ab cd', ' '), 2),
        |       top_gram_mass(split('ab ab ab cd', ' '), 3),
        |       top_gram_mass(split('ab', ' '), 2),
        |       top_gram_mass(CAST(NULL AS ARRAY<STRING>), 2)""".stripMargin).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.isNullAt(3))
    // codegen vs interpreted parity on generated rows
    val df = spark.range(0, 2000).selectExpr(
      "top_gram_mass(split(concat('a', id % 7, ' b', id % 3, ' a', id % 7, ' b', id % 3), ' '), 2) AS m")
    val fromCodegen = df.collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = df.collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(fromCodegen.sameElements(interpreted))
  }

  test("jaro_winkler: DuckDB-pinned goldens, null semantics, symmetry") {
    // goldens produced by DuckDB jaro_winkler_similarity (1.0.0) — the
    // d22 oracle's engine; pins greedy matching, integer-floor
    // transpositions, and the 0.7 Winkler boost threshold
    val goldens = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("PREFIX123", "PREFIX987", 0.8666666666666666), // prefix capped at 4
      ("ABQQQQQ", "ABZZZZZ", 0.5238095238095238), // jaro<=0.7: no boost
      ("AACC", "CCAA", 0.5), // pure transpositions
      ("AB", "AB", 1.0),
      ("", "ABC", 0.0), ("", "", 0.0), ("ab", "ba", 0.0),
      ("ABCDEF", "XYZUVW", 0.0))
    goldens.foreach { case (a, b, want) =>
      val r = spark.sql(s"SELECT jaro_winkler('$a', '$b')").head().getDouble(0)
      assert(r == want, s"jaro_winkler($a,$b)=$r want $want")
      val rev = spark.sql(s"SELECT jaro_winkler('$b', '$a')").head().getDouble(0)
      assert(rev == want, s"not symmetric: ($b,$a)=$rev")
    }
    val n = spark.sql("SELECT jaro_winkler(NULL, 'x'), jaro_winkler('x', NULL)").head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("jaro_winkler: supplementary-plane text compares full UTF-16 sequences") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.plans.JaroWinkler.similarity(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // Two 4-char code-point strings differing ONLY in the non-BMP tail:
    // with the old numChars-based length the trailing UTF-16 units were
    // truncated and these scored 1.0
    val a = "ab😀😁" // ab😀😁
    val b = "ab😀😂" // ab😀😂
    assert(jw(a, a) == 1.0 && jw(b, b) == 1.0)
    assert(jw(a, b) < 1.0, s"non-BMP tail ignored: jw=${jw(a, b)}")
    // cross-check against the UTF-16 view computed by the same kernel
    // semantics on an ASCII stand-in of the exact same code-unit pattern
    // (surrogates are just 16-bit units to the kernel)
    val a16 = "ab" + "\u0001\u0002\u0001\u0003"
    val b16 = "ab" + "\u0001\u0002\u0001\u0004"
    assert(math.abs(jw(a, b) - jw(a16, b16)) < 1e-15)
    // mixed BMP multibyte text still exact (UTF-16 len == numChars here)
    assert(jw("héllo", "héllo") == 1.0 && jw("héllo", "héllp") < 1.0)
  }

  test("jaro_winkler: codegen == interpreted on generated pairs") {
    val df = spark.range(0, 2000).selectExpr(
      "jaro_winkler(concat('name', id % 97, 'x', id % 13), " +
        "concat('name', id % 89, 'y', id % 7)) AS s")
    val fromCodegen = df.collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = df.collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(fromCodegen.sameElements(interpreted))
  }

  test("jaro_winkler length-ratio bound is sound (never prunes a passing pair)") {
    // EntityResolution prunes pairs with min/max < 5t-4 BEFORE scoring,
    // justified by jw <= 0.8 + 0.2*(min/max). Verify the bound holds on
    // random pairs (if it ever failed, the prune could drop a true match)
    val rnd = new scala.util.Random(99)
    val alpha = "abcde"
    (0 until 5000).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(5))).mkString
      val b = Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(5))).mkString
      if (a.nonEmpty && b.nonEmpty) {
        val jw = graft.plans.JaroWinkler.similarity(
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b))
        val r = math.min(a.length, b.length).toDouble / math.max(a.length, b.length)
        assert(jw <= 0.8 + 0.2 * r + 1e-12,
          s"bound violated: jw($a,$b)=$jw ratio=$r")
      }
    }
  }

  test("entity resolution: salt and probe-slicing change the plan, never the pairs") {
    import graft.operators.EntityResolution
    val df = spark.range(0, 600)
      .selectExpr("id", "concat('name', id % 37, 'v', id % 11) AS nm",
        "concat('b', id % 3) AS blk")
    def run(salt: Int, probe: Int) =
      EntityResolution.fuzzyPairs(df.toDF(), "id", "nm", "blk",
          threshold = 0.85, saltFactor = salt, probeParallelism = probe)
        .select("a", "b", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val plain = run(1, 0)
    assert(plain.nonEmpty, "test corpus must produce fuzzy pairs")
    assert(run(4, 0) == plain, "salted != plain")
    assert(run(1, 16) == plain, "probe-sliced != plain")
    assert(run(3, 8) == plain, "salted+sliced != plain")
  }

  test("unicode_normalize: goldens, forms, ASCII fast path, codegen parity") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.UnicodeNormalize
    def nfc(s: String): String =
      UnicodeNormalize.normalize(UTF8String.fromString(s), 1).toString
    // composition goldens: combining sequences fold to composed forms
    assert(nfc("café") == "café")
    assert(nfc("Å") == "Å")
    // NFC preserves compatibility chars; NFKC folds them
    assert(nfc("ﬁ") == "ﬁ")
    assert(UnicodeNormalize.normalize(
      UTF8String.fromString("ﬁ"), 3).toString == "fi")
    // idempotence
    assert(nfc(nfc("café Å")) == nfc("café Å"))
    // ASCII fast path returns the INPUT buffer untouched (no allocation)
    val ascii = UTF8String.fromString("plain ascii text")
    assert(UnicodeNormalize.normalize(ascii, 1) eq ascii)
    // already-normalized non-ASCII also returns the input buffer
    val composed = UTF8String.fromString("café")
    assert(UnicodeNormalize.normalize(composed, 1) eq composed)
    // SQL surface + null semantics + codegen == interpreted
    val row = spark.sql(
      "SELECT unicode_normalize('cafe' || chr(101), 'NFC'), " +
        "unicode_normalize(CAST(NULL AS STRING), 'NFC')").head()
    assert(row.getString(0) == "cafee" && row.isNullAt(1))
    val df = spark.range(0, 500).selectExpr(
      "unicode_normalize(concat('w', id % 13, 'é', id % 7), 'NFC') AS s")
    val fromCodegen = df.collect().map(_.getString(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = df.collect().map(_.getString(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(fromCodegen.sameElements(interpreted))
    // unknown form fails loudly at plan time
    intercept[Exception](spark.sql("SELECT unicode_normalize('x', 'NFX')").head())
    // NullType children in every arrival order: a bare NULL literal
    // (build() rewrites to a typed null) AND one that resolves to
    // NullType only after build() ran (nested subquery) — both must
    // yield null, not an analysis error or a codegen fallback
    val bare = spark.sql("SELECT unicode_normalize(NULL, 'NFC')").head()
    assert(bare.isNullAt(0))
    val late = spark.sql(
      "SELECT unicode_normalize(c, 'NFC') FROM " +
        "(SELECT v AS c FROM (SELECT null AS v))").head()
    assert(late.isNullAt(0))
  }

  test("d23 runs the sort-merge regime: SMJ in the plan, no broadcast, pairs identical") {
    val sfDir = "/root/testdata/sf0.001"
    val smj = SparkEntry.queries("d23_entity_resolution_smj")(spark, sfDir)
    val plan = smj.queryExecution.executedPlan.toString()
    assert(plan.contains("SortMergeJoin"),
      s"d23 must exercise the SMJ regime:\n${plan.take(600)}")
    assert(!plan.contains("BroadcastHashJoin"),
      "d23 must not fall back to the broadcast regime")
    val bhj = SparkEntry.queries("d22_entity_resolution")(spark, sfDir)
    assert(bhj.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"),
      "d22 is the broadcast-regime twin; it must still broadcast")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(4))
    assert(smj.collect().map(key).toSeq == bhj.collect().map(key).toSeq,
      "regime change altered the pairs")
  }

  test("d22 entity-resolution plan: no UDF, census cap bounds pair fan-out") {
    val sfDir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d22_entity_resolution")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF found in d22 plan:\n${plan.take(500)}")
    // degenerate corpus: one giant block — the maxBlock census prune must
    // keep pair generation empty instead of n²
    val dup = spark.range(0, 5000)
      .selectExpr("id", "concat('same name ', id % 3) AS nm", "'B' AS blk")
    val (pairs, dropped) = graft.operators.EntityResolution
      .fuzzyPairsWithStats(dup.toDF(), "id", "nm", "blk",
        threshold = 0.5, maxBlock = 1000)
    assert(pairs.count() == 0L, "capped degenerate block must emit no pairs")
    assert(dropped.count() == 1L && dropped.head().getLong(1) == 5000L,
      "dropped-block census must surface the capped block")
  }
}
