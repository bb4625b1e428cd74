package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Batch-replay harness for streaming pipelines: run a streaming
  * transformation over a FILE-SOURCE replay of staged parquet and return
  * the final result as a batch frame — the streaming/batch equivalence
  * bridge. The transformation executes on the REAL Structured Streaming
  * path (file source → `StreamExecution` micro-batches → memory sink), so
  * a batch-checkable oracle (DuckDB can't run a stream) still certifies
  * the streaming plan: for a complete-mode aggregation, replaying the
  * whole input must equal the batch aggregate over the same input.
  *
  * Scale posture: this is a TEST/VERIFICATION harness — the memory sink
  * collects the FINAL AGGREGATED frame to the driver (bounded: per-state
  * totals etc.), never the input. Production streams keep their real sinks;
  * the point here is that the identical transformation function is what a
  * deployment passes to `writeStream`.
  */
object Replay {

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay the parquet files under `srcDir` through `transform` as ONE
    * `Trigger.AvailableNow` streaming run (every staged file in the first
    * and only micro-batch set), collecting complete-mode output in a
    * memory sink. Returns a MATERIALIZED copy of the sink's rows (bounded:
    * the final aggregated frame) — the sink's session-global temp view is
    * dropped before returning, so repeated Bench/Verify reruns don't
    * accumulate driver-held result tables for the session lifetime. */
  def replayComplete(spark: SparkSession, srcDir: String, schema: StructType,
      transform: DataFrame => DataFrame): DataFrame =
    run(spark, "complete", noDataFlush = true)(
      transform(read(spark, srcDir, schema)))

  /** Append-mode sibling of [[replayComplete]] for stateful row-level
    * streaming ops (dedup, sessionize): the sink accumulates every APPENDED
    * row across the replay's micro-batches. Callers keep the appended set
    * bounded (deduped/aggregated rows, not the raw input).
    *
    * `noDataFlush = false` disables the trailing no-data micro-batch for
    * transforms whose OUTPUT is provably complete after the data batches
    * (verdict/match rows emitted on arrival; timeouts only evict state) —
    * the flush batch costs a full state-store commit cycle and contributes
    * zero rows there. Transforms that EMIT on event-time timeout
    * (sessionize) must keep it. */
  def replayAppend(spark: SparkSession, srcDir: String, schema: StructType,
      transform: DataFrame => DataFrame,
      noDataFlush: Boolean = true): DataFrame =
    run(spark, "append", noDataFlush)(transform(read(spark, srcDir, schema)))

  /** Two-stream sibling: reads `srcDir` as TWO independent file-source
    * streams (each with its own offsets/state) and runs a binary streaming
    * transform — the stream-stream join replay path. Append mode: joined
    * rows are emitted as the watermark proves them complete. An APPEND
    * inner interval join emits matches eagerly as data arrives, so join
    * callers pass `noDataFlush = false`: the trailing no-data batch only
    * evicts state (measured 1.4-2.2 s of pure state-store commits at
    * sf0.1, zero output rows); the batch-oracle equality pins that the
    * emitted set is unchanged. */
  def replayJoin2(spark: SparkSession, srcDir: String, schema: StructType,
      transform: (DataFrame, DataFrame) => DataFrame,
      noDataFlush: Boolean = true): DataFrame =
    run(spark, "append", noDataFlush)(
      transform(read(spark, srcDir, schema), read(spark, srcDir, schema)))

  private def read(spark: SparkSession, srcDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)

  /** Runs the streaming frame `query` builds to completion into a memory
    * sink and returns a batch copy of the sink's rows. */
  private def run(spark: SparkSession, mode: String, noDataFlush: Boolean)(
      query: => DataFrame): DataFrame = {
    // unique sink name per replay: Bench re-runs each query and memory
    // sink names are session-global
    val name = s"graft_replay_${nameCounter.incrementAndGet()}"
    // Stateful operators commit state per partition: at the session's 32
    // shuffle partitions the HDFS-backed store's per-commit fsyncs
    // dominate a replay (measured ~8 s at sf0.1 vs ~0.3 s for the
    // equivalent batch join). A replay is one bounded run, so fewer,
    // larger state partitions win; production continuous streams keep the
    // session default. Restored after the query finishes. 4 is measured,
    // not guessed (round-18 sweep, sf0.1 warm): 8 -> 4 partitions cut the
    // join replay 5.3 -> 2.9 s and the no-data flush batch ~45% (fewer
    // store commits); 4 -> 2 REGRESSED the stateful-heavy replays
    // (neardup b0 3.0 -> 3.9 s — the real flatMapGroupsWithState work
    // loses parallelism faster than commit overhead shrinks).
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val prev = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), "4")
    spark.conf.set(keys(1), noDataFlush.toString)
    val ckpt = ephemeralCheckpoint(name)
    try {
      val q = query.writeStream
        .format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      debugProgress(name, q)
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      deleteRecursively(ckpt)
    }
    val sink = spark.table(name)
    // materialize off the sink, then drop its view: the copy is what the
    // caller computes on; the sink's rows are GC-able immediately
    val rows = sink.collect()
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), sink.schema)
  }

  /** Ephemeral checkpoint dir for ONE replay — on tmpfs when available.
    * A replay's checkpoint is throwaway by construction (the default was
    * a force-deleted temp dir), but the state store and offset/commit
    * logs fsync EVERY file they write; on this box /tmp is ext4, so a
    * bounded replay paid real disk syncs for durability nobody reads.
    * /dev/shm sidesteps the syncs; a PRODUCTION stream keeps its durable
    * checkpoint — this is the verification harness's own temp dir, and
    * `SPARK_GRAFT_REPLAY_CKPT_DIR` overrides the base. The dir is
    * removed right after the query ends. */
  private def ephemeralCheckpoint(name: String): java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_REPLAY_CKPT_DIR")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      }
    java.nio.file.Files.createTempDirectory(base, s"graft_ckpt_$name")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // close the walk stream (it holds directory fds — one leaked fd per
      // replay adds up over a 270-query sweep), and WARN on a failed
      // delete instead of swallowing it: the checkpoint lives on /dev/shm,
      // where silent cleanup failure would exhaust shared memory with no
      // signal (r18 advice item)
      val walk = java.nio.file.Files.walk(p)
      val files = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      files.foreach { f =>
        try { java.nio.file.Files.deleteIfExists(f); () }
        catch { case e: Throwable =>
          System.err.println(s"WARN Replay: checkpoint cleanup failed for $f: $e")
        }
      }
    }
  }

  /** Dev-only batch audit (SPARK_GRAFT_REPLAY_DEBUG): one line per replay
    * with the micro-batch count and per-batch wall/rows — the first read
    * when a replay's fixed cost needs explaining. */
  private def debugProgress(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (sys.env.contains("SPARK_GRAFT_REPLAY_DEBUG")) {
      val ps = q.recentProgress
      println(s"REPLAY $name batches=${ps.length} " + ps.map(p =>
        s"b${p.batchId}:${p.durationMs.get("triggerExecution")}ms:" +
          s"${p.numInputRows}r").mkString(" "))
    }
}
