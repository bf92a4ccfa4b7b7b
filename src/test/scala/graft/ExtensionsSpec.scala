package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions wiring: SQL-visible native functions, the
  * `GraftExtensions.register` fallback for sessions built without the
  * extension, and the RangeJoinRule rewrite of non-equi interval joins. */
class ExtensionsSpec extends AnyFunSuite with CacheHygiene {

  // OWN session (see BucketingSpec): this suite sets the RangeJoinRule
  // width conf, which would otherwise rewrite OTHER parallel suites'
  // non-equi joins mid-flight
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.newSession()
  }
  import spark.implicits._

  test("extensions inject all native functions into plain SQL") {
    val calls = Map(
      "simhash64" -> "simhash64(split('a b c', ' '))",
      "cosine_sim" -> "cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))",
      "dot_product" -> "dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F))",
      "minhash_bands" -> "minhash_bands(array('x', 'y'), 64, 16)",
      "word_shingles" -> "word_shingles(split('a b c d', ' '), 3)",
      "count_in_set" -> "count_in_set(split('the cat the', ' '), array('the'))",
      "hyperplane_sig" -> "hyperplane_sig(array(1.0F, 0.5F), 16)",
      "zorder2" -> "zorder2(CAST(3 AS BIGINT), CAST(5 AS BIGINT))",
      "top_gram_mass" -> "top_gram_mass(split('ab ab ab cd', ' '), 2)",
      "jaro_winkler" -> "jaro_winkler('abc', 'abc')",
      "unicode_normalize" -> "unicode_normalize('e\u0301', 'NFC')",
      "html_extract" -> "html_extract('<p>plain main content text here</p>', 5)")
    // a function added to the table without a call here fails this test
    assert(calls.keySet == GraftExtensions.functions.map(_._1).toSet)
    val names = calls.keys.toSeq.sorted
    val r = spark.sql(
      names.map(n => s"${calls(n)} AS $n").mkString("SELECT ", ", ", "")).head()
    names.zipWithIndex.foreach { case (n, i) => assert(!r.isNullAt(i), s"$n is null") }
    assert(r.getAs[Double]("cosine_sim") == 1.0)
    assert(r.getAs[Double]("dot_product") == 11.0)
    assert(r.getSeq[Long](r.fieldIndex("minhash_bands")).size == 16)
    assert(r.getSeq[String](r.fieldIndex("word_shingles")) == Seq("a b c", "b c d"))
    assert(r.getAs[Int]("count_in_set") == 2)
    assert(r.getAs[Long]("zorder2") == graft.plans.ZOrder.interleave(3L, 5L))
    assert(r.getAs[Long]("top_gram_mass") == 10L)
    assert(r.getAs[Double]("jaro_winkler") == 1.0)
    assert(r.getAs[String]("unicode_normalize") == "\u00e9")
  }

  test("GraftExtensions.register restores missing functions, then is a no-op") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val dropped = Seq("simhash64", "jaro_winkler").map(FunctionIdentifier(_))
    dropped.foreach(id => assert(registry.dropFunction(id)))
    intercept[AnalysisException](s.sql("SELECT jaro_winkler('a', 'b')"))

    GraftExtensions.register(s)
    val r = s.sql("SELECT simhash64(split('a b c', ' ')), jaro_winkler('abc', 'abc')").head()
    assert(!r.isNullAt(0))
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(0) ==
      spark.sql("SELECT simhash64(split('a b c', ' '))").head().getLong(0))

    // a second call registers nothing: every entry keeps its ExpressionInfo
    def infos = GraftExtensions.functions.map(f =>
      registry.lookupFunction(FunctionIdentifier(f._1)).get)
    val before = infos
    GraftExtensions.register(s)
    assert(before.zip(infos).forall { case (a, b) => a eq b })
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("RangeJoinRule: non-equi interval join becomes a bucketed equi-join") {
    val events = (0L until 2000L).map(i => (i, i * 37 % 100000)).toDF("eid", "t")
    val windows = (0L until 50L).map(i =>
      (i, i * 2000L, i * 2000L + 1500L)).toDF("wid", "lo", "hi")
    events.createOrReplaceTempView("ext_events")
    windows.createOrReplaceTempView("ext_windows")
    val sql = """SELECT eid, wid FROM ext_events e JOIN ext_windows w
                 ON e.t BETWEEN w.lo AND w.hi"""

    val plain = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(physical(spark.sql(sql)).contains("BroadcastNestedLoopJoin"),
      "precondition: without the rule this is a nested-loop join")

    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "2000")
    try {
      val rewritten = spark.sql(sql)
      val p = physical(rewritten)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"rule did not fire:\n$p")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(plain), "bucketed rewrite changed the result")
      assert(got.nonEmpty)
    } finally spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
  }

  test("RangeJoinRule: fan-out cap raises an actionable error, not an OOM") {
    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "10")
    spark.conf.set(graft.plans.RangeJoinRule.MaxBucketsKey, "5")
    try {
      val pts = Seq((1L, 42L)).toDF("eid", "t")
      val wide = Seq((1L, 0L, 10000L)).toDF("wid", "lo", "hi") // 1000 buckets of 10
      val q = pts.join(wide, col("t") >= col("lo") && col("t") <= col("hi"))
      val e = intercept[Exception] { q.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(graft.plans.RangeJoinRule.WidthKey)),
        s"error does not name the width conf: ${msgs(e).mkString(" | ")}")
      // within the cap: same join shape still works
      val narrow = Seq((1L, 40L, 60L)).toDF("wid", "lo", "hi")
      val ok = pts.join(narrow, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(ok.count() == 1)
    } finally {
      spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
      spark.conf.unset(graft.plans.RangeJoinRule.MaxBucketsKey)
    }
  }

  test("RangeJoinRule: leaves equi-key joins and outer joins alone") {
    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "1000")
    try {
      val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
      val b = Seq((1L, 5L, 15L), (2L, 0L, 3L)).toDF("k2", "lo", "hi")
      // equi conjunct present -> regular hash join, rule must not touch it
      val equi = a.join(b, col("k") === col("k2") &&
        col("t") >= col("lo") && col("t") <= col("hi"))
      assert(equi.collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(!physical(equi).contains("Generate"), "rule rewrote an equi join")
      // outer interval join -> not eligible (inner-only rewrite)
      val outer = a.join(b, col("t") >= col("lo") && col("t") <= col("hi"), "left")
      assert(outer.count() == 2)
      assert(!physical(outer).contains("Generate"), "rule rewrote an outer join")
    } finally spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
  }

  test("RangeJoinRule: timestamp point-in-interval joins rewrite and agree") {
    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "3600") // 1h buckets
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
      val events = (0 until 300).map(i => (i.toLong, ts(i % 24, (i * 7) % 60))).toDF("eid", "t")
      val windows = Seq((1L, ts(1, 30), ts(3, 0)), (2L, ts(10, 0), ts(10, 59)),
        (3L, ts(22, 15), ts(23, 45))).toDF("wid", "lo", "hi")
      val q = events.join(windows, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(physical(q).contains("Generate"), "rule did not fire on timestamps")
      val got = q.select("eid", "wid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val evs = events.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      val wins = windows.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      val want = (for {
        (e, t) <- evs; (w, lo, hi) <- wins
        if !t.before(lo) && !t.after(hi)
      } yield (e, w)).sorted
      assert(got.sameElements(want))
      assert(want.nonEmpty)
    } finally spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
  }

  test("RangeJoinRule: integral path is exact for negatives and beyond 2^53") {
    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "3600")
    try {
      val base = 1L << 60 // doubles can't resolve +-3600 here
      val pts = (-50 until 50).map(i => Tuple1(base + i * 137L - 3000L)).toDF("p")
      val ivs = Seq((1L, base - 3600L, base - 1L), (2L, base, base + 3599L),
        (3L, base - 7200L, base - 3601L)).toDF("wid", "lo", "hi")
      val q = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(physical(q).contains("Generate"), "rule did not fire")
      val want = (for {
        Tuple1(p) <- pts.as[Tuple1[Long]].collect()
        (w, lo, hi) <- ivs.as[(Long, Long, Long)].collect()
        if p >= lo && p <= hi
      } yield (p, w)).sorted
      val got = q.select("p", "wid").as[(Long, Long)].collect().sorted
      assert(got.sameElements(want), s"exact-path mismatch: got ${got.length}, want ${want.length}")
      assert(want.nonEmpty)
      // negatives: floor (not truncate-toward-zero) bucketing
      val negPts = (-20 until 20).map(i => Tuple1(i * 500L)).toDF("p")
      val negIvs = Seq((9L, -3601L, -1L)).toDF("wid", "lo", "hi")
      val nq = negPts.join(negIvs, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(nq.select("p").as[Long].collect().sorted.toSeq ==
        Seq(-3500L, -3000L, -2500L, -2000L, -1500L, -1000L, -500L))
    } finally spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
  }

  test("RangeJoinRule: strict bounds and reversed operand order still rewrite") {
    spark.conf.set(graft.plans.RangeJoinRule.WidthKey, "100")
    try {
      val pts = (0L until 500L).map(i => Tuple1(i * 7 % 1000)).toDF("p")
      val ivs = Seq((0L, 100L), (250L, 400L), (900L, 999L)).toDF("lo", "hi")
      val q = pts.join(ivs, col("lo") < col("p") && col("p") < col("hi"))
      assert(physical(q).contains("Generate"), "rule did not fire on strict bounds")
      val want = pts.collect().map(_.getLong(0)).flatMap { p =>
        Seq((0L, 100L), (250L, 400L), (900L, 999L))
          .filter { case (lo, hi) => lo < p && p < hi }.map(iv => (p, iv._1))
      }.sorted.toSeq
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want)
    } finally spark.conf.unset(graft.plans.RangeJoinRule.WidthKey)
  }
}
