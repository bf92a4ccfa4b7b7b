package graft.examples

import java.nio.file.{Files, Paths}

/** The plan-dump tool: writes `.explain("formatted")` of named gate
  * queries to `<outDir>/<query>_<tag>.txt`, the before/after evidence for
  * a plan-changing claim. Every argument is required, so a dump never
  * lands on a committed file by default.
  * Usage: runMain graft.examples.PlanDump <q1,q2,...> <tag> <sfDir> <outDir>
  *
  * Without `SPARK_GRAFT_CPUS` the session is `local[n]` with n shuffle
  * partitions, n = available processors — the sizing perfbench runs its
  * queries under, so a dump shows the plan the benchmark executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <q1,q2,...> <tag> <sfDir> <outDir>")
    val Array(qList, tag, d, out) = args
    val qs = qList.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(out))
    qs.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$out/${q}_$tag.txt"), txt)
      val nEx = "Exchange".r.findAllIn(txt).size
      println(s"[plandump] $q -> $out/${q}_$tag.txt (Exchange nodes: $nEx)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
