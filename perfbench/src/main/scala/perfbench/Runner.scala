package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Hooks an op uses to mark its layers. Untraced runs get [[OpCtx.off]],
  * whose hooks only run their body. */
trait OpCtx {
  def span[T](name: String)(body: => T): T
  /** Tags the Spark jobs `body` launches with a benchmark phase. */
  def phase[T](name: String)(body: => T): T
  def trace: Option[Tracer]
}
object OpCtx {
  val off: OpCtx = new OpCtx {
    def span[T](name: String)(body: => T): T = body
    def phase[T](name: String)(body: => T): T = body
    def trace: Option[Tracer] = None
  }
}

/** One benchmark operation. `run` returns an error message when the
  * program's output is wrong, and throws when the program fails. */
final case class Op(name: String, family: String, run: OpCtx => Option[String])

/** A workload: set-up, then a fixed list of ops that one pass runs in order. */
trait Workload {
  /** Inputs, fixtures and persisted frames. Throws on any failure. */
  def setup(): Unit
  def pass: Seq[Op]
  /** Warm-up passes run after set-up and before any timed op. */
  def warmPasses: Int
  /** The fewest timed passes a run measures, however long they take. */
  def minPasses: Int
  /** Turns the Spark jobs and Dataset actions that one traced op caused
    * into spans under that op. */
  def eventSpans(t: Tracer, op: Span, ev: Probe.Events): Unit
  /** A check after the timed passes; throwing fails the run. */
  def finalCheck(): Unit = ()
  /** Work after the traced passes that only adds spans, such as timing each
    * public function once. */
  def probeSpans(t: Tracer): Unit = ()
  /** Layer metrics only this workload can compute. */
  def layerMetrics(c: LayerCtx): Seq[(String, Double)] = Nil
}

/** What a workload's own layer metrics are computed from: all spans, the
  * traced pass count, the common per-pass layer metrics and the median
  * untraced pass time. */
final case class LayerCtx(spans: Seq[Span], passes: Int, layers: Map[String, Double],
    untracedPass: Double)

final case class PassLog(wall: Double, ops: Seq[Double], failures: Seq[String])

/** A traced run: untraced and traced passes, every span, and the per-pass
  * layer metrics. */
final case class Traced(plain: Seq[PassLog], traced: Seq[PassLog], spans: Seq[Span],
    layers: Seq[(String, Double)])

/** Closed loop with one client: each op starts when the previous one ends. */
final class Runner(spark: SparkSession, w: Workload, cores: Int) {
  private def runPass(ctx: OpCtx, afterOp: () => Unit): PassLog = {
    val t0 = System.nanoTime()
    val times = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    w.pass.foreach { op =>
      val s = System.nanoTime()
      val err = try ctx.span(s"op:${op.family}:${op.name}")(op.run(ctx)) catch {
        case e: Exception => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      }
      val d = (System.nanoTime() - s) / 1e9
      err.foreach(m => failures += s"${op.name}: $m")
      times += d
      afterOp()
    }
    PassLog((System.nanoTime() - t0) / 1e9, times.toSeq, failures.toSeq)
  }

  /** Set-up and warm-up. A failure in either aborts the run. */
  def prepare(): Unit = {
    w.setup()
    for (i <- 1 to w.warmPasses) {
      val p = runPass(OpCtx.off, () => ())
      if (p.failures.nonEmpty)
        throw new IllegalStateException(s"warm-up pass $i failed: ${p.failures.mkString("; ")}")
      Log(f"warm-up pass $i: ${p.wall}%.3f s; ops " + p.ops.map(x => f"$x%.2f").mkString(" "))
    }
  }

  /** Whole passes while less than `seconds` have gone by, and at least
    * the workload's `minPasses`, so that the number of passes, and with it
    * the median, does not depend on how fast the host runs. */
  def measure(seconds: Double): Seq[PassLog] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[PassLog]
    while (out.length < w.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = runPass(OpCtx.off, () => ())
      Log(f"pass ${out.length + 1}: ${p.wall}%.3f s, ${p.failures.length} wrong; ops " +
        p.ops.map(x => f"$x%.2f").mkString(" "))
      p.failures.foreach(f => Log(s"wrong op: $f"))
      out += p
    }
    out.toSeq
  }

  /** Untraced and traced passes in blocks of untraced, traced, traced,
    * untraced, so that ops still speeding up late in warm-up bias neither
    * side. A traced pass has a span around every op and layer, Spark
    * counters from listeners (registered only while it runs), and cache
    * sizes sampled every 50 ms. Returns both sides' passes, the spans and
    * the per-pass layer metrics. */
  def traced(seconds: Double): Traced = {
    val tracer = new Tracer
    val probe = new Probe(spark)
    val ctx = new OpCtx {
      def span[T](name: String)(body: => T): T = tracer.span(name)(body)
      def phase[T](name: String)(body: => T): T = probe.phase(name)(body)
      def trace: Option[Tracer] = Some(tracer)
    }
    @volatile var memPeak, diskPeak = 0.0
    @volatile var sampling = false
    val sampler = new Thread(() =>
      try while (true) {
        if (sampling) {
          val (m, d) = JvmCounters.cachedMb(spark)
          memPeak = math.max(memPeak, m); diskPeak = math.max(diskPeak, d)
        }
        Thread.sleep(50)
      } catch { case _: InterruptedException => })
    sampler.setDaemon(true)
    sampler.start()
    var gc, compiles = 0.0
    val plain, traced = ArrayBuffer.empty[PassLog]
    def tracedPass(): Unit = {
      val gc0 = JvmCounters.gcSeconds
      val cg0 = JvmCounters.codegenCompiles
      probe.start(); sampling = true
      try traced += runPass(ctx, { () =>
        val opSpan = tracer.all.find(_.id == tracer.lastId).get
        w.eventSpans(tracer, opSpan, probe.takeEvents())
        tracer.op += 1
      }) finally { sampling = false; probe.stop() }
      gc += JvmCounters.gcSeconds - gc0
      compiles += JvmCounters.codegenCompiles - cg0
      Log(f"traced pass: ${traced.last.wall}%.3f s")
    }
    def plainPass(): Unit = {
      plain += runPass(OpCtx.off, () => ())
      Log(f"untraced pass: ${plain.last.wall}%.3f s")
    }
    val t0 = System.nanoTime()
    tracer.op = 0
    while (plain.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      plainPass(); tracedPass(); tracedPass(); plainPass()
    }
    sampler.interrupt()
    sampler.join()
    val n = traced.length.toDouble
    tracer.op = -1
    w.probeSpans(tracer)
    val spans = tracer.all
    val traceSpans = spans.filter(_.op >= 0)
    val self = Trace.selfByName(traceSpans)
    def s(name: String) = self.getOrElse(name, 0.0) / n
    def c(name: String) = probe.counter(name) / n
    // an op span's self time is the op's own work outside its layers, such
    // as CLI argument handling and output rendering
    val opSelf = self.collect { case (k, v) if k.startsWith("op:") => v }.sum / n
    val layers = Seq(
      "construct.self_s" -> (s("construct") + opSelf),
      "construct.jobs" -> c("jobs.construct"),
      "construct.job_s" -> s("construct.job"),
      "catalyst.analysis_s" -> s("catalyst.analysis"),
      "catalyst.optimize_s" -> s("catalyst.optimize"),
      "catalyst.plan_s" -> s("catalyst.plan"),
      "exec.wall_s" -> (s("exec") + s("action")),
      "exec.jobs" -> (c("jobs.exec") + c("jobs.other")),
      "exec.stages" -> c("stages"),
      "exec.stages_skipped" -> c("stages_skipped"),
      "exec.tasks" -> c("tasks"),
      "exec.nontask_s" -> (s("exec") + s("action") + s("construct.job") - c("task_run_s") / cores),
      "exec.task_run_s" -> c("task_run_s"),
      "exec.task_cpu_s" -> c("task_cpu_s"),
      "exec.gc_s" -> gc / n,
      "exec.shuffle_read_mb" -> c("shuffle_read_mb"),
      "exec.shuffle_write_mb" -> c("shuffle_write_mb"),
      "exec.spill_mb" -> c("spill_mb"),
      "exec.peak_exec_mem_mb" -> probe.counter("peak_exec_mem_mb"),
      "exec.input_mb" -> c("input_mb"),
      "exec.output_mb" -> c("output_mb"),
      "codegen.compiles" -> compiles / n,
      "cache.mem_mb" -> memPeak,
      "cache.disk_mb" -> diskPeak,
      "cache.scan_ratio" -> traceSpans.count(_.name == "cache.scan").toDouble / traced.map(_.ops.length).sum,
      "streaming.batches" -> c("streaming.batches"),
      "streaming.trigger_s" -> c("streaming.trigger_s"),
      "streaming.add_batch_s" -> c("streaming.add_batch_s"),
      "streaming.state_commit_s" -> c("streaming.state_commit_s"),
    ) ++ Workload.families.map { f =>
      s"family.$f.exec_s" -> execByFamily(traceSpans, f) / n
    }
    val plainMedian = Stats.median(plain.map(_.wall).toSeq)
    Traced(plain.toSeq, traced.toSeq, spans,
      layers ++ w.layerMetrics(LayerCtx(spans, traced.length, layers.toMap, plainMedian)))
  }

  /** Execution self time of the ops of one family, counting the jobs an
    * op runs while it is built (a stream replay runs there). */
  private def execByFamily(spans: Seq[Span], family: String): Double = {
    val ops = spans.filter(s => s.parent == -1 && s.name.startsWith(s"op:$family:")).map(_.op).toSet
    val mine = spans.filter(s => ops(s.op))
    val self = Trace.selfTimes(mine)
    mine.filter(s => Set("exec", "action", "construct.job")(s.name)).map(s => self(s.id)).sum / 1e9
  }
}

object Workload {
  val families: Seq[String] = Seq("text", "ops", "streaming", "multimodal", "tax")
}

object Log {
  def apply(msg: String): Unit = Console.err.println(s"[perfbench] $msg")
}
