package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** CLI surface pins: the fixed-date single-transaction path (no hidden
  * now() — `--as-of` threads the date through), the `rates --category`
  * exemption listing (reference rates.py:856-862), and the stdout and
  * exports of the file commands on the sample CSV, byte for byte against
  * goldens under `src/test/resources/cli/`. */
class CliSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def runCapture(args: String*): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Cli.run(spark, args.toArray)
    }
    bos.toString("UTF-8")
  }

  private def golden(name: String): String =
    new String(getClass.getResourceAsStream(s"/cli/$name").readAllBytes(), UTF_8)

  /** The one part file a `coalesce(1)` export writes. */
  private def part(dir: Path): String = {
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"$dir holds ${parts.size} part files")
    new String(Files.readAllBytes(parts.head), UTF_8)
  }

  test("file commands print and export the golden bytes and leave nothing cached") {
    // quiesce: drop any cache left by other suites (shared session)
    spark.sharedState.cacheManager.clearCache()
    val out = Files.createTempDirectory("graft_cli_golden")
    Seq(
      "calculate" -> Seq("calculate", "--file", sampleCsv),
      "compliance" -> Seq("compliance", "--file", sampleCsv, "--registered", "CA,TX"),
      "refund" -> Seq("refund", "--file", sampleCsv),
      "refund_quick" -> Seq("refund", "--file", sampleCsv, "--quick"),
      "report" -> Seq("report", "--file", sampleCsv, "--period", "2024-Q1",
        "--export-json", "report.json", "--export-csv", "report.csv",
        "--output-dir", out.toString)
    ).foreach { case (name, args) =>
      assert(runCapture(args ++ Seq("--as-of", "2026-08-12"): _*) == golden(s"$name.txt"), name)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached frame")
    }
    Seq("tax_report.json", "refund_report.json", "tax_report.csv", "details_report.csv")
      .foreach(f => assert(part(out.resolve(f)) == golden(f), f))
  }

  test("calculate --file --export-json stamps the --as-of date") {
    val out = Files.createTempDirectory("graft_cli_calc_json")
    runCapture("calculate", "--file", sampleCsv, "--as-of", "2026-08-12",
      "--period", "2024-Q1", "--export-json", "calc.json", "--output-dir", out.toString)
    val json = part(out.resolve("calc.json"))
    assert(json.startsWith("{\"report_type\":\"tax_liability_summary\"," +
      "\"period\":\"2024-Q1\",\"generated_date\":\"2026-08-12\","), json)
  }

  test("each file command reads its CSV from disk once") {
    // Hadoop's `file`-scheme statistics count bytes read from disk, not
    // from Spark's cache: every action after the first reads the
    // persisted input
    def bytesRead = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val out = Files.createTempDirectory("graft_cli_reads")
    Seq(
      Seq("calculate", "--file", sampleCsv, "--export-json", "calc.json"),
      Seq("compliance", "--file", sampleCsv, "--registered", "CA,TX",
        "--export-json", "nexus.json"),
      Seq("refund", "--file", sampleCsv),
      Seq("refund", "--file", sampleCsv, "--quick"),
      Seq("report", "--file", sampleCsv, "--export-json", "report.json",
        "--export-csv", "report.csv")
    ).foreach { args =>
      val before = bytesRead
      runCapture(args ++ Seq("--as-of", "2026-08-12", "--output-dir", out.toString): _*)
      val reads = (bytesRead - before).toDouble / Files.size(Path.of(sampleCsv))
      assert(math.round(reads) == 1, s"${args.mkString(" ")} read the CSV $reads times")
    }
  }

  test("calculate, refund and report tax each transaction once; compliance and refund --quick cache nothing") {
    spark.sharedState.cacheManager.clearCache()
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    /** The executed plans of one command that read the transactions, from
      * the file or from the cache; plans over collected rows are left out. */
    def readers(args: String*): Seq[SparkPlan] = {
      ListenerBus.drain(spark.sparkContext)
      plans.synchronized(plans.clear())
      runCapture(args ++ Seq("--as-of", "2026-08-12"): _*)
      ListenerBus.drain(spark.sparkContext)
      plans.synchronized(plans.toList).filter(p => find(p) {
        case _: FileSourceScanExec | _: InMemoryTableScanExec => true
        case _ => false
      }.isDefined)
    }
    val out = Files.createTempDirectory("graft_cli_taxed").toString
    spark.listenerManager.register(listener)
    try {
      Seq(
        Seq("calculate", "--file", sampleCsv, "--export-json", "calc.json",
          "--output-dir", out),
        Seq("refund", "--file", sampleCsv),
        Seq("report", "--file", sampleCsv, "--export-json", "report.json",
          "--export-csv", "report.csv", "--output-dir", out)
      ).foreach { args =>
        val read = readers(args: _*)
        assert(read.size >= 3, s"${args.head}: ${read.size} actions read the input")
        // the first action fills the cache; every later one reads the
        // taxed frame from it, and none reads the file
        read.tail.foreach { p =>
          val taxedScans = collect(p) {
            case s: InMemoryTableScanExec
                if s.output.exists(_.name == "tax_amount") => s
          }
          assert(taxedScans.nonEmpty, s"${args.head} re-taxes:\n$p")
          assert(collect(p) { case s: FileSourceScanExec => s }.isEmpty,
            s"${args.head} reads the file again:\n$p")
        }
      }
      Seq(
        Seq("compliance", "--file", sampleCsv, "--registered", "CA,TX"),
        Seq("refund", "--file", sampleCsv, "--quick")
      ).foreach { args =>
        val read = readers(args: _*)
        assert(read.size == 1, s"${args.mkString(" ")}: ${read.size} actions read the input")
        assert(collect(read.head) { case s: InMemoryTableScanExec => s }.isEmpty,
          s"${args.mkString(" ")} read a cached frame:\n${read.head}")
        assert(spark.sharedState.cacheManager.isEmpty)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("an unknown or missing command throws with the usage line") {
    Seq(Seq("frobnicate") -> "frobnicate", Seq.empty[String] -> "<none>").foreach {
      case (args, shown) =>
        val e = intercept[IllegalArgumentException](Cli.run(spark, args.toArray))
        assert(e.getMessage.contains(s"unknown command: $shown"))
        assert(e.getMessage.contains("usage: calculate|rates|compliance|refund|report"))
    }
  }

  test("single-transaction calculate with --as-of is fully pinned") {
    val out = runCapture("calculate", "--amount", "100", "--state", "TX",
      "--city", "Houston", "--as-of", "2024-06-01")
    // TX base 6.25% + Houston city 2.00%
    assert(out.contains("Taxable:  $100.00"))
    assert(out.contains("State tax: $6.25"))
    assert(out.contains("Local tax: $2.00"))
    assert(out.contains("Total tax: $8.25"))
    assert(out.contains("Rate: 8.25%"))
  }

  test("rates --category resolves synonyms and lists exempting states") {
    val out = runCapture("rates", "--category", " Groceries ")
    assert(out.startsWith("States exempting 'grocery':"))
    // grocery exemptions exist in the dims and arrive sorted by code
    val states = out.trim.stripPrefix("States exempting 'grocery':").trim
      .split(", ").toSeq
    assert(states.nonEmpty && states == states.sorted)
    assert(states.forall(_.matches("[A-Z]{2}")))
  }

  test("rates --state with an unknown code throws naming the code") {
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Array("rates", "--state", "ZZ")))
    assert(e.getMessage == "unknown state code: ZZ")
  }

  test("rates --category with an unknown category reports none") {
    val out = runCapture("rates", "--category", "antigravity")
    assert(out.trim == "States exempting 'antigravity': (none)")
  }
}
