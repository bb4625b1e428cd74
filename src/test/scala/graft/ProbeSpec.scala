package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The `plan` probe measures what its name says: construction plus
  * physical planning, with nothing executed. Under AQE,
  * `queryExecution.toRdd` runs each shuffle stage, so a plan step that
  * went through it would time execution too. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("plan: building a shuffling query's physical plan starts zero jobs") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try Seq("op_tax_summary", "op_state_breakdown", "op_rollup", "op_cube")
      .foreach { name =>
        // construction may run a job of its own (the first parquet read
        // infers the schema with one); only the plan step is counted
        val df = SparkEntry.queries(name)(spark, sf)
        ListenerBus.drain(spark.sparkContext)
        jobs.set(0)
        Probe.plan(df)
        ListenerBus.drain(spark.sparkContext)
        assert(jobs.get == 0, s"$name started ${jobs.get} job(s) while planning")
      }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
