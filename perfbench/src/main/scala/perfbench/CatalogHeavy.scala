package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.{Catalog, SparkEntry}

/** `catalog_heavy`: execution-bound catalog queries (eval/ANN scoring over
  * an IVF index, label propagation, stream replays with state stores) in a
  * seeded order, each run through its own physical plan with
  * `queryExecution.toRdd.count()`, as `graft.Bench` runs them. The seed
  * picks where in [[CatalogHeavy.queries]] a pass starts, and passes run
  * back to back, so every seed runs each query after the same one. Set-up
  * persists the shared frames these queries read, as `graft.Bench` persists
  * `Catalog.sharedFrames`. */
final class CatalogHeavy(spark: SparkSession, seed: Long, data: Path,
    expected: Map[String, Long]) extends Workload {
  private val dir = data.toString
  val order: Seq[String] = CatalogHeavy.rotate(CatalogHeavy.queries, new scala.util.Random(seed))
  private val seen = scala.collection.mutable.Map.empty[String, Long]

  /** The first pass after one warm-up still runs about 25% slower while the
    * JIT catches up, and by a different amount in every run; a second
    * warm-up pass keeps that out of the timed passes. */
  def warmPasses: Int = 2
  /** The first timed pass can still run slow; with three, it is never the
    * median. */
  def minPasses: Int = 3

  def setup(): Unit = {
    val missing = CatalogHeavy.queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in the catalog: ${missing.mkString(", ")}")
    val noCount = CatalogHeavy.queries.filterNot(expected.contains)
    require(noCount.isEmpty, s"no expected row count for: ${noCount.mkString(", ")}")
    // materialize the shared lineages; a failure here aborts the run
    val t0 = System.nanoTime()
    Seq(Catalog.embCorpus(spark, dir), Catalog.copurchaseEdges(spark, dir))
      .foreach(_.persist(StorageLevel.MEMORY_AND_DISK).count())
    Log(f"catalog_heavy: shared frames persisted in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    Log(s"catalog_heavy order: ${order.mkString(" ")}")
  }

  def pass: Seq[Op] = order.map { name =>
    Op(name, CatalogHeavy.family(name), ctx => {
      val df = ctx.span("construct")(ctx.phase("construct")(SparkEntry.queries(name)(spark, dir)))
      val qe = df.queryExecution
      ctx.trace.foreach { t =>
        // the final plan is analyzed while it is built; the tracker holds
        // that interval
        val constructId = t.lastId
        qe.tracker.phases.get("analysis").foreach { p =>
          t.add("catalyst.analysis", constructId, Clock.fromMillis(p.startTimeMs), Clock.fromMillis(p.endTimeMs))
        }
        t.span("catalyst.optimize")(qe.optimizedPlan)
        t.span("catalyst.plan")(qe.executedPlan)
        if (qe.optimizedPlan.toString.contains("InMemoryRelation"))
          t.add("cache.scan", t.current, Clock.now(), Clock.now())
      }
      val rows = ctx.span("exec")(ctx.phase("exec")(qe.toRdd.count()))
      val prev = seen.getOrElseUpdate(name, rows)
      if (rows != expected(name)) Some(s"$rows rows, expected ${expected(name)}")
      else if (rows != prev) Some(s"$rows rows, an earlier pass gave $prev")
      else None
    })
  }

  /** Jobs launched while a query is built, before the benchmark's own
    * action, become spans under that op's construct span. */
  def eventSpans(t: Tracer, op: Span, ev: Probe.Events): Unit = {
    val construct = t.all.filter(s => s.op == op.op && s.name == "construct").map(_.id).headOption
    construct.foreach { c =>
      ev.jobs.filter(_.phase == "construct").foreach(j => t.add("construct.job", c, j.start, j.end))
    }
  }
}

object CatalogHeavy {
  val queries: Seq[String] = Seq(
    // eval / ANN brute-scan family
    "op_ndcg_ivf",
    // graph
    "op_label_prop",
    // stream replays
    "op_stream_neardup")

  /** The list started at a random place. A query runs at a different speed
    * after different queries (ndcg_ivf about 15% slower after label_prop
    * than after stream_neardup), so a shuffle would let the seed move the
    * pass time; a rotation keeps what follows what. */
  def rotate(list: Seq[String], rnd: scala.util.Random): Seq[String] = {
    val (a, b) = list.splitAt(rnd.nextInt(list.length))
    b ++ a
  }

  def family(q: String): String = q match {
    case "op_ndcg_ivf" => "text"
    case "op_label_prop" => "ops"
    case _ => "streaming"
  }

  /** `name<TAB>rows` lines. */
  def readCounts(p: Path): Map[String, Long] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap
}
