package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Dev probe over the query catalog — one session per run, the
  * [[GraftSession]] config [[Bench]] uses:
  *
  *   runMain graft.Probe time <query> [query ...]
  *   runMain graft.Probe plan <query> [query ...]
  *   runMain graft.Probe explain [query ...]
  *   runMain graft.Probe count-audit [query ...]
  *   runMain graft.Probe cache-audit [query ...]
  *   runMain graft.Probe cli <csv> [command ...]
  *
  * The scale factor comes from `SPARK_GRAFT_SF_DIR` and the cores from
  * `SPARK_GRAFT_CPUS`, as in Bench.
  *
  *  - `time`: three passes per query, each running the query's own
  *    physical plan (`queryExecution.toRdd.count()`, the Bench
  *    convention: `Dataset.count()` re-optimizes and can prune expensive
  *    subtrees whose row count is statically derivable — the op_mrr
  *    finding). The shared lineages are persisted first unless
  *    `SPARK_GRAFT_PROBE_NOWARM` is set: probing a non-tax query at ×100
  *    with 60 M persisted lineitem rows crowding the heap measures GC
  *    pressure, not the query. `SPARK_GRAFT_PROBE_RULES` dumps the
  *    cumulative Catalyst rule timings after the probes.
  *  - `plan`: as `time`, but each pass only constructs the query and
  *    builds its physical plan ([[plan]]) — the driver-side share of a
  *    query's seconds, with nothing executed.
  *  - `explain`: the formatted physical plan (default: six headline
  *    queries), so shuffle/broadcast/pushdown regressions are visible.
  *  - `count-audit`: queries whose optimized `groupBy().count()` plan
  *    references no input relation (COLLAPSED: Catalyst folded the count
  *    of a plan it knows yields one row into a constant) or fewer leaves
  *    than the full plan (PRUNED, e.g. a row-preserving unique-key left
  *    join eliminated) — where `Dataset.count()` would time less work
  *    than the declared query. Plan-only.
  *  - `cache-audit`: persist the shared frames, run every named (default:
  *    every declared) query once — accumulating each session-lifetime
  *    persist the library takes — then print each cached RDD's
  *    memory/disk footprint and the session totals.
  *  - `cli`: the tax CLI's file commands over one CSV (default: all of
  *    calculate, compliance, refund, refund-quick, report), each with
  *    `--as-of 2026-08-12`; report exports JSON and CSV to a temporary
  *    directory. After one warm-up cycle it prints, per command, the
  *    Spark jobs, the disk reads of the CSV (Hadoop `file`-scheme bytes
  *    read ÷ the file's size — Spark's `inputMetrics` also count cached
  *    blocks) and the driver time spent outside actions (wall time minus
  *    the SQL executions' durations: plan building, collection, printing).
  *    The commands' stdout is discarded. */
object Probe {
  private val explainDefaults = Seq("op_tax_calc", "op_filter_project",
    "op_rate_join", "op_smj_join", "op_refund_summary", "op_ann_topk")

  def main(args: Array[String]): Unit = {
    val (mode, named) = (args.headOption.getOrElse(""), args.drop(1).toSeq)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val run: (SparkSession, String) => Unit = mode match {
      case "cli" if named.nonEmpty =>
        (spark, _) => cli(spark, named.head,
          if (named.size > 1) named.tail else cliCommands.keys.toSeq)
      case "time" if named.nonEmpty => time(_, _, named, planOnly = false)
      case "plan" if named.nonEmpty => time(_, _, named, planOnly = true)
      case "explain" =>
        explain(_, _, if (named.nonEmpty) named else explainDefaults)
      case "count-audit" => countAudit(_, _, if (named.nonEmpty) named else all)
      case "cache-audit" => cacheAudit(_, _, if (named.nonEmpty) named else all)
      case _ =>
        System.err.println("usage: graft.Probe time|plan <query> [query ...]" +
          " | explain|count-audit|cache-audit [query ...]" +
          " | cli <csv> [command ...]")
        sys.exit(2)
    }
    val spark = GraftSession("graft-probe")
    try run(spark, Bench.envSfDir) finally spark.stop()
  }

  /** The query's physical plan, built but not run. Stops at
    * `executedPlan`: under AQE `queryExecution.toRdd` also runs every
    * shuffle stage, so it is not a plan-only step. */
  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def warm(spark: SparkSession, sfDir: String): Unit =
    Catalog.sharedFrames(spark, sfDir).zipWithIndex.foreach { case (df, i) =>
      val t0 = System.nanoTime()
      df.persist(StorageLevel.MEMORY_AND_DISK).count()
      println(f"PROBE warm-frame$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      planOnly: Boolean): Unit = {
    if (!sys.env.contains("SPARK_GRAFT_PROBE_NOWARM")) warm(spark, sfDir)
    val dumpRules = sys.env.contains("SPARK_GRAFT_PROBE_RULES")
    if (dumpRules) RuleExecutor.resetMetrics()
    names.foreach { name =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tCons = (System.nanoTime() - t0) / 1e9
        val what = if (planOnly) { plan(df); f"cons=$tCons%.3f" }
          else s"(${df.queryExecution.toRdd.count()} rows)"
        println(f"PROBE $name pass$i ${(System.nanoTime() - t0) / 1e9}%.3f s $what")
      }
    }
    if (dumpRules) println("RULES\n" + RuleExecutor.dumpTimeSpent())
  }

  private def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }

  private def countAudit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val fullLeaves = df.queryExecution.optimizedPlan.collectLeaves()
        val leaves = df.groupBy().count().queryExecution.optimizedPlan
          .collectLeaves()
        val hasRelation = leaves.exists { l =>
          val s = l.nodeName
          !(s.contains("OneRowRelation") ||
            (s.contains("LocalRelation") && l.maxRows.contains(1L)))
        }
        if (!hasRelation)
          println(s"COLLAPSED $n :: leaves=${leaves.map(_.nodeName).mkString(",")}")
        else if (leaves.size < fullLeaves.size)
          println(s"PRUNED $n :: count=${leaves.size} full=${fullLeaves.size}")
      } catch {
        case e: Throwable => println(s"ERROR $n ${e.getClass.getSimpleName}")
      }
    }
    println("COUNT-AUDIT DONE")
  }

  private def cacheAudit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    warm(spark, sfDir)
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable =>
        println(s"AUDIT $name FAILED ${e.getMessage}") }
    }
    val infos = spark.sparkContext.getRDDStorageInfo
    infos.sortBy(-_.memSize).foreach { i =>
      println(f"AUDIT rdd=${i.id}%5d mem=${i.memSize / 1e6}%9.2f MB " +
        f"disk=${i.diskSize / 1e6}%8.2f MB parts=${i.numCachedPartitions}%3d " +
        s"name=${Option(i.name).getOrElse("?").take(120)}")
    }
    println(f"AUDIT TOTAL cached=${infos.length} " +
      f"mem=${infos.map(_.memSize).sum / 1e6}%.1f MB " +
      f"disk=${infos.map(_.diskSize).sum / 1e6}%.1f MB")
  }

  /** The tax CLI's file commands by name, as `cli` runs them; the CSV,
    * the as-of date and the output directory are added to each. */
  private val cliCommands: ListMap[String, Seq[String]] = ListMap(
    "calculate" -> Seq("calculate"),
    "compliance" -> Seq("compliance", "--registered", "CA,TX"),
    "refund" -> Seq("refund"),
    "refund-quick" -> Seq("refund", "--quick"),
    "report" -> Seq("report", "--period", "2024", "--export-json",
      "report.json", "--export-csv", "report.csv"))

  private def cli(spark: SparkSession, csv: String, names: Seq[String]): Unit = {
    val unknown = names.filterNot(cliCommands.contains)
    require(unknown.isEmpty, s"unknown cli command(s): ${unknown.mkString(", ")}" +
      s"; known: ${cliCommands.keys.mkString(", ")}")
    val out = java.nio.file.Files.createTempDirectory("graft_probe_cli").toString
    val csvBytes = java.nio.file.Files.size(java.nio.file.Path.of(csv)).toDouble
    def bytesRead = org.apache.hadoop.fs.FileSystem.getAllStatistics
      .asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val actionNs = new java.util.concurrent.atomic.AtomicLong
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actionNs.addAndGet(ns)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    def cycle(report: Boolean): Unit = names.foreach { name =>
      val args = cliCommands(name) ++ Seq("--file", csv,
        "--as-of", "2026-08-12", "--output-dir", out)
      ListenerBus.drain(spark.sparkContext)
      jobs.set(0); actionNs.set(0)
      val read0 = bytesRead
      val t0 = System.nanoTime()
      Console.withOut(sink)(Cli.run(spark, args.toArray))
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      if (report) println(f"CLI $name%-12s jobs=${jobs.get}%3d " +
        f"reads=${(bytesRead - read0) / csvBytes}%.2f wall_s=$wall%.3f " +
        f"driver_s=${wall - actionNs.get / 1e9}%.3f")
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try { cycle(report = false); cycle(report = true) }
    finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
    }
  }
}
