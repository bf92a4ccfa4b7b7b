package perfbench

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks for the sketch rows: each sketch answer is compared
  * with the exact answer, computed here by plain Spark aggregates, within
  * the sketch's stated error bound (3 standard errors for HLL, the
  * count-min tolerance for top-k counts). Rows whose query already
  * asserts its own bound against the exact answer (the `*_ok` columns)
  * are checked for all-true. Runs after the measured passes, untimed.
  *
  * Each check returns None when the output holds, else the reason. */
object Checks {
  type Check = (SparkSession, String, DataFrame) => Option[String]

  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  private def relErr(est: Double, exact: Double): Double =
    math.abs(est - exact) / math.max(exact, 1.0)

  /** The 48-bit md5-derived value hash the sk20 row sketches. */
  private def md5Hash(c: String, salt: String) =
    conv(substring(md5(concat(col(c).cast("string"), lit(salt))), 1, 12), 16, 10)
      .cast("long")

  private def allTrue(rows: Array[Row], field: String, n: Int): Option[String] = {
    val bad = rows.count(r => !r.getAs[Boolean](field))
    fail(rows.length >= n && bad == 0,
      s"${rows.length} rows (want >= $n), $bad with $field = false")
  }

  val checks: Map[String, Check] = Map(
    // count-min tolerance 0.002·N on every reported count, and the five
    // exact heaviest keys all reported (keys are Zipf-skewed here)
    "sk03_most_frequent_sketch" -> { (s, d, out) =>
      val li = Tables.lineitem(s, d)
      val n = li.count()
      val est = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      val top5 = exact.orderBy(col("c").desc, col("l_partkey")).limit(5)
        .collect().map(_.getLong(0))
      val exactOf = exact.filter(col("l_partkey").isin(est.keys.toSeq: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val worst = est.map { case (k, c) => math.abs(c - exactOf.getOrElse(k, 0L)) }.max
      fail(est.size == 20 && worst <= 0.002 * n && top5.forall(est.contains),
        s"${est.size} keys, worst count error $worst (bound ${0.002 * n}), " +
          s"exact top-5 ${top5.mkString(",")} missing ${top5.filterNot(est.contains).mkString(",")}")
    },
    "sk04b_most_distinct_skewed" -> ((_, _, out) => allTrue(out.collect(), "est_ok", 10)),
    // the 8-bit HLL's re-imported estimate within 3σ of the exact count
    "sk20_hll_export" -> { (s, d, out) =>
      val r = out.collect().head
      val exact = Tables.lineitem(s, d).select(countDistinct(md5Hash("l_partkey", ":sk20")))
        .head().getLong(0)
      val bound = 3 * new graft.sketch.HyperLogLog(8).errorRate
      val e = relErr(r.getAs[Double]("est"), exact)
      fail(r.getAs[Long]("n_bytes") > 0 && e <= bound,
        s"estimate ${r.getAs[Double]("est")} vs exact $exact: relative error $e (bound $bound)")
    },
    "sk29_gk_quantiles_by_key" -> ((_, _, out) => allTrue(out.collect(), "rank_ok", 4))
  )
}
