package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in-process and prints the result as the last line of
  * stdout:
  *
  *   perfbench.Main --workload tax_batch|catalog_heavy --seed N --seconds S
  *     --trace 0|1 --repo DIR --data DIR --work DIR [--spans FILE]
  *
  * `--repo` is the checkout root, `--data` the catalog fixture directory,
  * `--work` an empty working directory for inputs and exports. With trace 0
  * it reports the end-to-end metrics; with trace 1 it alternates untraced
  * and traced passes and reports the per-layer metrics and the tracing
  * overhead, writing every span to `--spans`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val repo = Paths.get(opt("repo"))
    val work = Paths.get(opt("work"))
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log(f"session started in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val out = try {
      val w: Workload = workload match {
        case "tax_batch" => new TaxBatch(spark, seed, work, repo, Main.taxRows)
        case "catalog_heavy" =>
          val data = Paths.get(opt("data"))
          new CatalogHeavy(spark, seed, data, CatalogHeavy.readCounts(data.resolve("expected_rows.tsv")))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val runner = new Runner(spark, w, cores)
      runner.prepare()
      val setupS = (System.nanoTime() - t0) / 1e9
      Log(f"setup: $setupS%.3f s")
      if (!trace) {
        val passes = runner.measure(seconds)
        val ops = passes.flatMap(_.ops)
        // the tail is reported only where it exists: it needs more than ten
        // ops in the measured window
        println(Stats.tail(ops) match {
          case Some((pct, v, n)) => f"op_tail: p$pct%.1f of $n ops = $v%.4f s; ${passes.length} passes"
          case None => s"op_tail: none, ${ops.length} ops are not more than 10; ${passes.length} passes"
        })
        w.finalCheck()
        result(passes, Seq(
          "setup_s" -> (setupS, "s"),
          "pass_s" -> (Stats.median(passes.map(_.wall)), "s"),
          "op_p50_s" -> (Stats.median(ops), "s")))
      } else {
        val t = runner.traced(seconds)
        val plainPass = Stats.median(t.plain.map(_.wall))
        val tracedPass = Stats.median(t.traced.map(_.wall))
        w.finalCheck()
        val all = t.plain ++ t.traced
        val attempted = all.map(_.ops.length).sum
        val failed = all.map(_.failures.length).sum
        val layerSum = t.spans.filter(s => s.op >= 0 && s.parent == -1).map(_.dur).sum / 1e9 / t.traced.length
        opts.get("spans").foreach { f =>
          Files.write(Paths.get(f), Trace.toJsonLines(t.spans).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        }
        val reported = t.layers ++ Seq(
          "failed_ratio" -> failed.toDouble / attempted,
          "trace.untraced_pass_s" -> plainPass,
          "trace.traced_pass_s" -> tracedPass,
          "trace.overhead_s" -> (tracedPass - plainPass),
          "trace.layer_sum_s" -> layerSum)
        val absent = TaxBatch.metricNames.filterNot(reported.map(_._1).toSet).map(_ -> 0.0)
        result(all, (reported ++ absent).map { case (k, v) => k -> (v, Main.unit(k)) })
      }
    } finally spark.stop()
    println(out)
  }

  /** Rows of the tax_batch CSV: at this size a command cycle takes a few
    * seconds, mostly fixed per-command cost plus the scans. */
  val taxRows = 10000

  def unit(metric: String): String =
    if (metric.endsWith("_per_s")) "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_ratio")) "ratio"
    else "count"

  private def result(passes: Seq[PassLog], metrics: Seq[(String, (Double, String))]): String = {
    val attempted = passes.map(_.ops.length).sum
    val failed = passes.map(_.failures.length).sum
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
  }
}
