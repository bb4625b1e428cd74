package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.BloomMightContain

/** Bloom-prefiltered joins: build a Bloom filter over the build side's
  * join keys, probe it as a native codegen'd filter riding the probe
  * side's SCAN, then settle false positives with the exact join.
  *
  * Why this wins at scale: a (broadcast) join must still STREAM every
  * probe row through the join operator; the Bloom probe rejects
  * non-matching rows inside the scan stage itself — before exchange,
  * before the join's hash-table lookups, and (with columnar sources)
  * after only the key column is materialized. At 100 TB with a selective
  * build side, the volume reaching the join drops to
  * ~(matches + fpp · rows). This is what Spark's AQE "runtime filter"
  * does for you when statistics cooperate; here it is explicit,
  * deterministic, and plan-pinned. No false negatives, so results are
  * exactly the unfiltered join's.
  */
object BloomJoin {

  /** The build side's distinct long keys as a driver-held Bloom filter.
    * The build frame must be broadcast-sized (it is in the joins this
    * accelerates); `expectedItems` oversizes the filter to keep fpp
    * honest if the build side grows. */
  def buildFilter(build: DataFrame, buildKey: Column,
      expectedItems: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    build.select(buildKey.cast("long").as("k")).stat
      .bloomFilter("k", expectedItems, fpp)

  /** Exact left-semi join of `probe` against `build`'s keys, with the
    * Bloom prefilter pushed onto the probe scan. Result-identical to
    * `probe.join(build, probeKey === buildKey, "left_semi")`. */
  def semiJoin(probe: DataFrame, build: DataFrame,
      probeKey: Column, buildKey: Column,
      expectedItems: Long = 1000000L): DataFrame = {
    val bf = buildFilter(build, buildKey, expectedItems, 0.01)
    probe
      .filter(BloomMightContain(probeKey, bf))
      .join(broadcast(build.select(buildKey.as("__bloom_k")).distinct()),
        probeKey === col("__bloom_k"), "left_semi")
  }
}
