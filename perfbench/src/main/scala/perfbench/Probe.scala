package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run. Jobs are tagged with the
  * benchmark phase that launched them through a local property,
  * so a job started while a query is being constructed counts as a
  * construction job. Registered only in the traced run. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  val PhaseKey = "perfbench.phase"

  import Probe._

  val counters = new ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val executions = mutable.ArrayBuffer.empty[Interval]
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val phases = mutable.ArrayBuffer.empty[Interval]
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
      jobs.synchronized { jobs += Job(e.jobId, phase, Clock.fromMillis(e.time), -1L, e.stageIds) }
      add(s"jobs.$phase", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = Clock.fromMillis(e.time)
        add("stages_skipped", j.stages.count(s => !submitted.contains(s)))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => Option(execStart.remove(s.executionId)).foreach { t =>
        executions.synchronized { executions += Interval("sql", Clock.fromMillis(t), Clock.fromMillis(s.time)) } }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("tasks", 1)
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("input_mb", m.inputMetrics.bytesRead / 1e6)
      add("output_mb", m.outputMetrics.bytesWritten / 1e6)
      counters.merge("peak_exec_mem_mb", m.peakExecutionMemory / 1e6, (a: Double, b: Double) => math.max(a, b))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  /** Catalyst phase intervals of a finished Dataset action. The tracker
    * stamps them on the thread that ran the phase, so they are exact even
    * though this callback runs later. */
  private def record(qe: QueryExecution): Unit = phases.synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Interval(name, Clock.fromMillis(p.startTimeMs), Clock.fromMillis(p.endTimeMs)) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.batches", 1)
      add("streaming.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      add("streaming.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def phase[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  /** Jobs, SQL executions and Catalyst phases that ended since the last
    * call. */
  def takeEvents(): Events = {
    drain()
    def take[A](b: mutable.ArrayBuffer[A]): Seq[A] = b.synchronized { val r = b.toSeq; b.clear(); r }
    val j = jobs.synchronized { val r = jobs.filter(_.end >= 0).toSeq; jobs --= r; r }
    Events(j, take(executions), take(phases))
  }

  def counter(k: String): Double = Option(counters.get(k)).getOrElse(0.0)
}

object Probe {
  final case class Job(id: Int, phase: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Interval(name: String, start: Long, end: Long)
  final case class Events(jobs: Seq[Job], executions: Seq[Interval], phases: Seq[Interval])
}

/** JVM-wide counters that need no listener. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  /** Whole-stage and expression code generator compiles so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Bytes held by persisted frames in memory and on disk. */
  def cachedMb(spark: SparkSession): (Double, Double) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(_.memSize).sum / 1e6, info.map(_.diskSize).sum / 1e6)
  }
}
