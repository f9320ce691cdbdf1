package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness (guide §1: measure first; §1.4 noop sink).
  *
  * NOT part of the driver contract — `Bench.scala` stays the frozen
  * measurement harness. This main exists so the optimization round can
  *   (a) time each headline query in isolation (noop sink, best/median of N
  *       reps, same session config as Bench's headline section), and
  *   (b) dump `.explain("formatted")` for every query it times into
  *       `plans/r06/<query>_<tag>.txt` (tag = SPARK_GRAFT_PLAN_TAG, default
  *       "before"), the evidence files OPTIMIZATION_r06.md cites.
  *
  * Each query is warmed on the sf it measures before its reps (see
  * `warmUp`), and its warm-up run count is reported with its times.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_PLAN_TAG,
  * SPARK_GRAFT_ONLY (comma-separated query subset), SPARK_GRAFT_PLANS=0 to
  * skip plan files.
  */
object BenchExtra {

  private val headline = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders_per_customer",
    "q04_running_supplier_revenue", "q08_sessionize_events", "q11_tokens",
    "q12_token_stats", "q16_dedup_exact", "q18_jaccard_pairs", "q20_dedup_minhash",
    "q21_dedup_simhash", "q22_knn_brute", "q23_knn_lsh", "q24_embed_pairs",
    "q25_windowed_events", "q31_mentions", "q32_triples")

  /** Median of a non-empty sample: the mean of the two middle values for an
    * even count. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Untimed warm-up: calls `run` (one execution's seconds, NaN if it
    * failed) until two consecutive runs agree within 10% of the slower, or
    * five runs were made; returns the number of runs. A JIT-cold query
    * at a large sf is still falling after one run (q18 read 4.99 s then
    * 1.79 s), and the runs of a small-sf warm-up settle different code paths.
    */
  private[graft] def warmUp(run: () => Double): Int = {
    var prev = run()
    var n = 1
    var settled = false
    while (!settled && n < 5) {
      val cur = run()
      n += 1
      settled = math.abs(cur - prev) <= 0.1 * math.max(cur, prev)
      prev = cur
    }
    n
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val writePlans = sys.env.getOrElse("SPARK_GRAFT_PLANS", "1") == "1"
    val names = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(s) if s.nonEmpty => s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      case _ => headline
    }
    // identical session shape to Bench's headline section
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val planDir = java.nio.file.Paths.get("plans/r06")
    java.nio.file.Files.createDirectories(planDir)

    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // one noop-sink execution's seconds, NaN if it failed
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => System.err.println(s"[benchextra] $name failed: $e"); Double.NaN }
      }
      val warm = warmUp(() => once())
      if (writePlans) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(planDir.resolve(s"${name}_$tag.txt"), plan)
        } catch { case e: Throwable => System.err.println(s"[benchextra] plan $name failed: $e") }
      }
      val all = (0 until reps).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep=$r")
        val sec = once()
        spark.sparkContext.setJobDescription(null)
        sec
      }
      val times = all.filterNot(_.isNaN)
      val failed = all.size - times.size
      val mn = if (times.nonEmpty) times.min else -1.0
      val md = if (times.nonEmpty) median(times) else -1.0
      System.err.println(f"[benchextra] $name warmup=$warm min=$mn%.3f median=$md%.3f failed=$failed reps=${times.map(t => f"$t%.3f").mkString(",")}")
      name -> (warm, mn, md, failed, times)
    }
    val json = results.map { case (n, (warm, mn, md, failed, ts)) =>
      s""""$n":{"warmup":$warm,"min":${f"$mn%.3f"},"median":${f"$md%.3f"},"failed":$failed,"reps":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"benchextra":$json,"sf":"$sfDir","cpus":$cpus,"tag":"$tag"}""")
    spark.stop()
  }
}
