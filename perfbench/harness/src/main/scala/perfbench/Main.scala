package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One benchmark process: a fresh JVM that builds a GraftSession, runs
  * the workload's `SparkEntry.queries` rows pass after pass through the
  * noop sink, one query in flight, and writes what it measured to
  * `<run-dir>/result.json`. perfbench/run.py launches it and turns the
  * result into the benchmark's metrics.
  *
  *   --data DIR --queries q1,q2 --tables t1,t2 --seconds S --trace 0|1
  *   --cores N --seed N --run-dir DIR [--setup-only]
  *
  * Untraced (--trace 0): a cold pass, then warm passes until S seconds
  * have passed and at least three ran. Traced (--trace 1): a cold pass,
  * then untraced and traced warm passes in turn (at least two of each),
  * then the layer probes.
  * A traced pass records build and exec spans per query execution plus
  * the listener counters of each phase. */
object Main {
  final case class Args(data: String, queries: Seq[String], tables: Seq[String],
      seconds: Double, trace: Boolean, cores: Int, seed: Long, runDir: Path,
      setupOnly: Boolean)

  /** One query execution: wall seconds and its result digest, or the error. */
  final case class Exec(q: String, seconds: Double, digest: String, error: String,
      buildNs: Long, execNs: Long, observation: String)

  val ReadyMarker = "PERFBENCH READY"
  // warm passes run until --seconds have passed and at least this many
  // are done, so every run's median pass is taken over the same count
  // (a traced run does at least two untraced and two traced passes)
  val MinWarmPasses = 3

  def parse(argv: Array[String]): Args = {
    val kv = mutable.HashMap.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "setup-only") { flags += k; i += 1 }
      else { require(i + 1 < argv.length, s"missing value for --$k"); kv(k) = argv(i + 1); i += 2 }
    }
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Args(kv.getOrElse("data", ""), list("queries"), list("tables"),
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("cores").toInt, kv.getOrElse("seed", "0").toLong, Paths.get(kv("run-dir")),
      flags("setup-only"))
  }

  /** The session every run measures: the program's own builder at
    * local[cores], with Spark's local directories inside the run directory. */
  def session(a: Args): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toUri.toString)
      .config("spark.hadoop.fs.file.impl", classOf[ReadOnlyLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // building the session state installs GraftExtensions' functions
    require(spark.catalog.functionExists("word_shingles"), "GraftExtensions not installed")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    println(ReadyMarker)
    System.out.flush()
    try if (!a.setupOnly) run(spark, a)
    finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Starts the resident high-water mark afresh (Linux `clear_refs` 5),
    * so the reported peak covers the warm passes, not the cold pass's
    * one-off JIT compilations. */
  def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))
    catch { case _: java.io.IOException => () }

  /** The resident high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8).split("\n").find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Adds an order-insensitive digest of the result rows, computed while
    * the rows flow to the sink, so inside the timed pass: row count and
    * the wrapping sum of a 64-bit hash per row, with doubles cut to 10
    * significant digits. */
  def withDigest(df: DataFrame, name: String): (DataFrame, Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case _ => col(f.name)
      }
    }
    val obs = Observation(name)
    (named.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols: _*)).as("h")), obs)
  }

  def run(spark: SparkSession, a: Args): Unit = {
    val known = graft.SparkEntry.queries
    val missing = a.queries.filterNot(known.contains)
    require(missing.isEmpty,
      s"queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val sc = spark.sparkContext
    val trace = new Trace(sc)
    var seq = 0

    def runQuery(q: String, traced: Boolean): Exec = {
      seq += 1
      val name = s"perfbench_$seq"
      val qid = s"$q#$seq"
      if (traced) trace.phase("build")
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = known(q)(spark, a.data)
        t1 = System.nanoTime()
        if (traced) trace.phase("exec")
        val (out, obs) = withDigest(df, name)
        out.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        if (traced) {
          trace.spans += Span(qid, "build", "pass", t0, t1)
          trace.spans += Span(qid, "exec", "pass", t1, t2)
        }
        val m = obs.get
        Exec(q, (t2 - t0) / 1e9, s"${m("n")}:${m("h")}", "", t1 - t0, t2 - t1, name)
      } catch {
        case e: Throwable =>
          Exec(q, (System.nanoTime() - t0) / 1e9, "", e.toString.take(300), t1 - t0, 0L, name)
      } finally {
        if (traced) trace.phase(null)
        // dedup rows persist plan-internal frames; drop them between
        // queries, outside the timed region
        spark.catalog.clearCache()
      }
    }

    def pass(traced: Boolean): Seq[Exec] = a.queries.map(runQuery(_, traced))
    def seconds(p: Seq[Exec]): Double = p.map(_.seconds).sum

    /** Layer metrics of one traced pass, read after the listener drained. */
    def layers(p: Seq[Exec]): Map[String, Double] = {
      trace.drain()
      val c = trace.take()
      // the sink's own execution of each query carries its observation
      val byName = trace.takeExecutions().flatMap { qe =>
        qe.observedMetrics.keys.map(_ -> qe)
      }.toMap
      val qes = p.flatMap(e => byName.get(e.observation))
      val planMs = qes.map(Trace.planMs).sum
      val buildMs = p.map(_.buildNs).sum / 1e6
      val execMs = p.map(_.execNs).sum / 1e6 - planMs
      val none = new Counters
      val b = c.getOrElse("build", none)
      val x = c.getOrElse("exec", none)
      val all = new Counters; c.values.foreach(all.add)
      Map(
        "build_ms" -> buildMs, "build_jobs" -> b.jobs.toDouble,
        "plan_ms" -> planMs, "exec_ms" -> execMs,
        "scan.records_read" -> all.recordsRead.toDouble,
        "scan.bytes_read" -> all.bytesRead.toDouble,
        "exec.jobs" -> x.jobs.toDouble, "exec.stages" -> x.stages.toDouble,
        "exec.tasks" -> x.tasks.toDouble, "exec.task_run_ms" -> x.runMs.toDouble,
        "exec.task_cpu_ms" -> x.cpuNs / 1e6,
        "exec.cpu_busy_frac" -> x.cpuNs / 1e6 / math.max(1e-9, execMs * a.cores),
        "exec.sched_delay_ms" -> x.schedDelayMs.toDouble, "exec.gc_ms" -> x.gcMs.toDouble,
        "exec.shuffle_write_bytes" -> x.shuffleWriteBytes.toDouble,
        "exec.shuffle_read_bytes" -> x.shuffleReadBytes.toDouble,
        "exec.spill_bytes" -> x.spillBytes.toDouble,
        "exec.peak_exec_mem_bytes" -> x.peakExecMemBytes.toDouble,
        "exec.broadcast_bytes" -> qes.map(qe => Trace.broadcastBytes(qe.executedPlan)).sum.toDouble,
        "exec.task_failures" -> x.taskFailures.toDouble,
        "pass_s" -> seconds(p))
    }

    val cold = pass(traced = false)
    resetPeakRss()
    val warm = mutable.ArrayBuffer.empty[Seq[Exec]]
    val traced = mutable.ArrayBuffer.empty[Seq[Exec]]
    val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def tracedPass(): Unit = {
      // the listener is attached for traced passes only, so the untraced
      // passes between them show what tracing costs
      trace.install(spark)
      traced += pass(traced = true)
      tracedPasses += layers(traced.last)
      trace.uninstall(spark)
    }
    do {
      // traced runs alternate which kind goes first (U T T U ...), so the
      // passes' JIT warm-up trend does not bias the tracing overhead
      val tracedFirst = a.trace && warm.size % 2 == 1
      if (tracedFirst) tracedPass()
      warm += pass(traced = false)
      if (a.trace && !tracedFirst) tracedPass()
    } while (System.nanoTime() < deadline || warm.size < (if (a.trace) 2 else MinWarmPasses))
    val rssMb = peakRssMb()
    val tPasses = System.nanoTime()

    val probes: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        trace.install(spark)
        val m = Probes.tables(spark, trace, a.data, a.tables) ++
          Probes.kernels(spark, a.data) ++ Probes.dedup(spark, a.data) ++
          Probes.sketches(a.seed)
        trace.uninstall(spark)
        writeSpans(a.runDir.resolve("spans.json"), trace.spans.toSeq)
        m
      }

    // sketch rows against their exact answers, after the measured work
    val checks = a.queries.distinct.flatMap { q =>
      Checks.checks.get(q).map { check =>
        val verdict =
          try check(spark, a.data, known(q)(spark, a.data)).getOrElse("")
          catch { case e: Throwable => s"check failed to run: ${e.toString.take(300)}" }
        spark.catalog.clearCache()
        q -> verdict
      }
    }.toMap

    System.err.println(f"perfbench: probes and checks took ${(System.nanoTime() - tPasses) / 1e9}%.1f s")
    val layerMetrics: Map[String, Double] =
      if (tracedPasses.isEmpty) Map.empty
      else {
        val keys = tracedPasses.head.keys
        val med = keys.map(k => k -> median(tracedPasses.map(_(k)).toSeq)).toMap
        (med - "pass_s") ++ probes ++ Map(
          "trace.traced_pass_s" -> med("pass_s"),
          "trace.untraced_pass_s" -> median(warm.map(seconds).toSeq),
          "trace.overhead_s" -> (med("pass_s") - median(warm.map(seconds).toSeq)))
      }

    // seconds: cold then warm passes; digests and errors: every pass,
    // traced ones last
    val timed = cold +: warm.toSeq
    val all = timed ++ traced
    val perQuery = a.queries.distinct.map { q =>
      def of[T](ps: Seq[Seq[Exec]], f: Exec => T) = ps.map(_.filter(_.q == q).map(f))
      q -> ListMap(
        "seconds" -> of(timed, _.seconds),
        "digests" -> of(all, _.digest),
        "errors" -> of(all, _.error),
        "check" -> checks.getOrElse(q, ""))
    }
    val result = ListMap(
      "cold_pass_s" -> seconds(cold),
      "warm_passes_s" -> warm.map(seconds).toSeq,
      "peak_rss_mb" -> rssMb,
      "queries" -> ListMap(perQuery: _*),
      "layers" -> ListMap(layerMetrics.toSeq.sortBy(_._1): _*))
    json.writeValue(a.runDir.resolve("result.json").toFile, result)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val t0 = spans.map(_.startNs).reduceOption(_ min _).getOrElse(0L)
    val rows = spans.map(s => ListMap("qid" -> s.qid, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
    json.writeValue(path.toFile, rows)
  }
}
