package perfbench

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.plans.MinHashBandsExpression
import graft.sketch.{GkQuantile, HyperLogLog, KeyCodec, Theta, TopDistinct, TopFreq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Direct probes of single layers, run in the traced run after its
  * passes: each calls one module's public functions on seeded input and
  * reports cost per call or per row. Every timing is the median of
  * `Reps` repetitions. */
object Probes {
  val Reps = 3
  // the kernel probes replicate the corpus to this many rows, so a
  // projection runs long enough that job start-up does not dominate it
  val KernelRows = 40000L
  val SketchItems = 400000

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def timeNs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `Tables.load` of each table in a fresh session (cold file-status
    * cache, schema inferred again): total ms, and the jobs it ran. */
  def tables(spark: SparkSession, trace: Trace, dir: String, names: Seq[String])
      : Map[String, Double] = {
    trace.drain(); trace.take()
    trace.phase("probe.tables")
    val ms = names.map { t =>
      median((1 to Reps).map { _ =>
        val fresh = spark.newSession()
        timeNs(Tables.load(fresh, dir, t)) / 1e6
      })
    }.sum
    trace.phase(null)
    trace.drain()
    val jobs = trace.take().get("probe.tables").map(_.jobs).getOrElse(0L)
    Map("tables.load_ms" -> ms, "tables.load_jobs" -> jobs.toDouble / Reps)
  }

  /** The text kernels as narrow projections over a cached, replicated
    * corpus through the noop sink: ns per input row. MinHash bands run
    * over cached shingle sets, so each figure is one kernel's own cost. */
  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val n = docs.count()
    val copies = math.max(1L, (KernelRows + n - 1) / n)
    val corpus = docs.crossJoin(spark.range(copies).select(col("id").as("copy")))
      .select(col("text"),
        concat(lit("<html><head><title>t</title><script>var x = 1;</script></head>" +
          "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav><div><p>"),
          substring(col("text"), 1, 120), lit("</p><p>"), substring(col("text"), 121, 200),
          lit(" <a href=\"/more\">more</a></p></div><footer>(c) <a href=\"/t\">Terms</a>" +
            "</footer></body></html>")).as("html"),
        Dedup.wordShingles(col("text"), 3).as("sh"))
      .persist()
    val rows = corpus.count().toDouble
    def perRow(c: org.apache.spark.sql.Column): Double =
      median((1 to Reps).map(_ => timeNs(noop(corpus.select(c.as("out")))) / rows))
    try Map(
      "kernel.word_shingles.ns_per_row" -> perRow(Dedup.wordShingles(col("text"), 3)),
      "kernel.minhash_bands.ns_per_row" ->
        perRow(MinHashBandsExpression.minhashBands(col("sh"), 64, 16)),
      "kernel.html_extract.ns_per_row" -> perRow(TextFunctions.htmlExtract(col("html"))))
    finally corpus.unpersist(true)
  }

  /** LSH dedup over the corpus with d02's parameters: candidate pairs out
    * of the band self-join, pairs verified by exact Jaccard, and the
    * useful-to-attempted ratio. */
  def dedup(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = Tables.documents(spark, dir)
    val banded = docs.select(col("doc_id").as("id"),
        posexplode(MinHashBandsExpression.minhashBands(
          Dedup.wordShingles(col("text"), 3), 64, 16)).as(Seq("band", "h")))
    val l = banded.as("l"); val r = banded.as("r")
    val candidates = l.join(r, col("l.band") === col("r.band") &&
        col("l.h") === col("r.h") && col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id")).distinct().count()
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.8).count()
    spark.catalog.clearCache()
    Map("dedup.lsh_candidates" -> candidates.toDouble,
      "dedup.lsh_pairs" -> pairs.toDouble,
      "dedup.lsh_yield" -> (if (candidates == 0) 0.0 else pairs.toDouble / candidates))
  }

  /** Update, merge and serialize loops on the sketch classes, fed a
    * seeded Zipf-skewed key stream (keys) and distinct values. */
  def sketches(seed: Long): Map[String, Double] = {
    val rnd = new java.util.Random(seed)
    val domain = 20000
    // Zipf(1.1) by inverse CDF over a precomputed table
    val cdf = {
      val w = Array.tabulate(domain)(i => math.pow(i + 1.0, -1.1))
      val s = w.sum; var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    val keys = Array.fill(SketchItems) {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).toLong
    }
    val values = Array.fill(SketchItems)(rnd.nextLong())
    val doubles = Array.fill(SketchItems)(rnd.nextDouble() * 1e5)
    val n = SketchItems.toDouble
    implicit val kc: KeyCodec[Long] = KeyCodec.LongKey

    def perItem(f: => Unit): Double = median((1 to Reps).map(_ => timeNs(f) / n))
    def perCallUs(calls: Int)(f: => Unit): Double =
      median((1 to Reps).map(_ => timeNs((1 to calls).foreach(_ => f)) / calls / 1e3))

    def hll() = { val h = new HyperLogLog(12); values.foreach(h.add); h }
    def topFreq(from: Int) = {
      val t = TopFreq[Long](20, 0.99, 0.002)
      var i = from; while (i < SketchItems) { t.push(keys(i)); i += 2 }; t
    }
    // TopDistinct keeps an HLL per tracked key and per count-min cell,
    // so it is fed a tenth of the stream
    val distinctItems = SketchItems / 10
    def topDistinct() = {
      val t = TopDistinct[Long](10, 0.99, 0.002, 0.0808)
      var i = 0; while (i < distinctItems) { t.push(keys(i), values(i)); i += 1 }; t
    }
    def theta() = { val t = new Theta(256, 48); values.foreach(t.add); t }
    def gk() = { val g = new GkQuantile(0.01); doubles.foreach(g.add); g }

    val (h1, h2) = (hll(), { val h = new HyperLogLog(12); keys.foreach(h.add); h })
    val (f1, f2) = (topFreq(0), topFreq(1))
    Map(
      "sketch.hll.add_ns" -> perItem(hll()),
      "sketch.hll.merge_us" -> perCallUs(1000)(h1.merge(h2)),
      "sketch.hll.bytes" -> h1.toBytes.length.toDouble,
      "sketch.topfreq.push_ns" -> median((1 to Reps).map(_ => timeNs(topFreq(0)) / (n / 2))),
      "sketch.topfreq.merge_us" -> perCallUs(100)(f1.merge(f2)),
      "sketch.topfreq.bytes" -> f1.toBytes.length.toDouble,
      "sketch.topdistinct.push_ns" ->
        median((1 to Reps).map(_ => timeNs(topDistinct()) / distinctItems)),
      "sketch.topdistinct.bytes" -> topDistinct().toBytes.length.toDouble,
      "sketch.theta.add_ns" -> perItem(theta()),
      "sketch.theta.bytes" -> theta().toBytes.length.toDouble,
      "sketch.gk.add_ns" -> perItem(gk()),
      "sketch.gk.tuples" -> gk().size.toDouble)
  }
}
