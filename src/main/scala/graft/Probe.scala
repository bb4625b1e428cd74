package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.storage.StorageLevel

/** Dev probe over the query catalog — one session per run, the
  * [[GraftSession]] config [[Bench]] uses:
  *
  *   runMain graft.Probe time <query> [query ...]
  *   runMain graft.Probe plan <query> [query ...]
  *   runMain graft.Probe explain [query ...]
  *   runMain graft.Probe count-audit [query ...]
  *   runMain graft.Probe cache-audit [query ...]
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
  *    memory/disk footprint and the session totals. */
object Probe {
  private val explainDefaults = Seq("op_tax_calc", "op_filter_project",
    "op_rate_join", "op_smj_join", "op_refund_summary", "op_ann_topk")

  def main(args: Array[String]): Unit = {
    val (mode, named) = (args.headOption.getOrElse(""), args.drop(1).toSeq)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val run: (SparkSession, String) => Unit = mode match {
      case "time" if named.nonEmpty => time(_, _, named, planOnly = false)
      case "plan" if named.nonEmpty => time(_, _, named, planOnly = true)
      case "explain" =>
        explain(_, _, if (named.nonEmpty) named else explainDefaults)
      case "count-audit" => countAudit(_, _, if (named.nonEmpty) named else all)
      case "cache-audit" => cacheAudit(_, _, if (named.nonEmpty) named else all)
      case _ =>
        System.err.println("usage: graft.Probe time|plan <query> [query ...]" +
          " | explain|count-audit|cache-audit [query ...]")
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
}
