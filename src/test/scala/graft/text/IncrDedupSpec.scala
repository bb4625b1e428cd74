package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the incremental-corpus dedup: the headline property is
  * INCREMENTAL == FROM-SCRATCH — deduping a new batch against the
  * persisted band index of the historical corpus yields exactly the keep
  * flags a from-scratch dedup of (history ∪ batch) would give the batch. */
class IncrDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while morning mist settles across the quiet valley floor below"
  private val other =
    "distributed query engines shuffle partitioned columnar data across " +
      "executor nodes applying vectorized expression evaluation per batch"
  private val hist = Seq(
    (1L, base),
    (2L, "completely unrelated historical text about mountain weather patterns and seasonal snowfall measurement stations"),
    (3L, base + " with one small trailing change")) // near-dup of 1 (dropped historically — still indexed)
    .toDF("doc_id", "text")
  private val newBatch = Seq(
    (10L, base + " plus an ingest suffix"), // near-dup of history -> drop
    (11L, other),                           // fresh -> keep
    (12L, other + " with a tiny tail"),     // in-batch near-dup of 11 -> drop
    (13L, "entirely novel content describing coral reef ecosystems and tidal current interactions"))
    .toDF("doc_id", "text")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_incr_spec").toString

  test("empty index (first ingest): every fresh doc keeps, in-batch dups still drop") {
    val path = tmp()
    IncrDedup.writeIndex(hist.filter(col("doc_id") < 0L), path)
    val out = IncrDedup.dedupAgainst(spark, newBatch, path)
      .decisions.select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    // no history to collide with: 10 keeps now; 12 still drops against its
    // in-batch near-dup 11
    assert(out == Map(10L -> true, 11L -> true, 12L -> false, 13L -> true))
  }

  test("incremental keep flags == from-scratch dedup of the union, restricted to the batch") {
    val path = tmp()
    IncrDedup.writeIndex(hist, path)
    val inc = IncrDedup.dedupAgainst(spark, newBatch, path)
      .decisions.as[(Long, Boolean)].collect().toMap

    val scratch = Dedup.survivors(
      hist.unionByName(newBatch),
      Dedup.components(Dedup.minhashPairs(
        hist.unionByName(newBatch), minAgree = 20)))
      .select(col("doc_id"), col("survivor"))
      .as[(Long, Boolean)].collect().toMap
      .filter(_._1 >= 10L)

    assert(inc == scratch, s"incremental $inc != from-scratch $scratch")
    assert(inc == Map(10L -> false, 11L -> true, 12L -> false, 13L -> true))
  }

  test("index delta covers EVERY batch doc (dropped docs' signatures still witness clusters)") {
    val path = tmp()
    IncrDedup.writeIndex(hist, path)
    val r = IncrDedup.dedupAgainst(spark, newBatch, path)
    assert(r.deltaSigs.select("id").as[Long].collect().toSet ==
      Set(10L, 11L, 12L, 13L))
    // delta bands are exactly the banded form of the delta signatures
    assert(r.deltaBands.count() == 4 * Dedup.Bands)
    // appending the delta then deduping a FURTHER batch against the grown
    // index still equals from-scratch: a doc near-dup'ing only the DROPPED
    // batch doc 12 must still drop (12's signature is in the index)
    r.deltaSigs.write.mode("append").parquet(s"$path/sigs")
    r.deltaBands.write.mode("append").parquet(s"$path/bands")
    val batch2 = Seq((20L, other + " with a tiny tail indeed")).toDF("doc_id", "text")
    val d2 = IncrDedup.dedupAgainst(spark, batch2, path)
      .decisions.as[(Long, Boolean)].collect().toMap
    assert(d2 == Map(20L -> false))
  }

  test("retention compaction: incremental over the compacted index == from-scratch over the RETAINED corpus") {
    val path = tmp()
    val dst = tmp()
    IncrDedup.writeIndex(hist, path)
    // the corpus drops docs 1 and 3 (takedown/TTL) and retains only 2 —
    // compaction must remove their signatures from the standing index
    val retained = Seq(2L).toDF("doc_id")
    val stats = IncrDedup.compactIndex(spark, path, dst, retained)
    assert(stats == IncrDedup.CompactStats(3L, 1L),
      s"store must shrink to the retained corpus: $stats")
    assert(spark.read.parquet(s"$dst/bands").count() == 1 * Dedup.Bands)

    val inc = IncrDedup.dedupAgainst(spark, newBatch, dst)
      .decisions.as[(Long, Boolean)].collect().toMap
    // batch doc 10 near-dups ONLY the now-removed history — it is novel
    // relative to the retained corpus and must now be KEPT; a ghost
    // signature left behind would wrongly drop it
    assert(inc == Map(10L -> true, 11L -> true, 12L -> false, 13L -> true))
    // and the full equality: incremental == from-scratch dedup over
    // (retained corpus ∪ batch), restricted to the batch
    val retainedCorpus = hist.filter(col("doc_id") === 2L)
    val scratch = Dedup.survivors(
      retainedCorpus.unionByName(newBatch),
      Dedup.components(Dedup.minhashPairs(
        retainedCorpus.unionByName(newBatch), minAgree = 20)))
      .select(col("doc_id"), col("survivor"))
      .as[(Long, Boolean)].collect().toMap
      .filter(_._1 >= 10L)
    assert(inc == scratch, s"incremental $inc != from-scratch $scratch")
  }

  test("id-monotonicity guard is loud: a batch id at-or-below history fails fast") {
    val path = tmp()
    IncrDedup.writeIndex(hist, path)
    val bad = Seq((2L, "any text at all here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrDedup.dedupAgainst(spark, bad, path)
    }
    assert(e.getMessage.contains("min-id survivorship"))
  }

  test("probe plan never shuffles the stored band index (broadcast new side)") {
    val path = tmp()
    IncrDedup.writeIndex(hist, path)
    val histBands = spark.read.parquet(s"$path/bands")
    val newBands = IncrDedup.bandTable(IncrDedup.signatures(newBatch))
    // the shape dedupAgainst builds: stored side scanned, small new side
    // joined on bk — with the new side broadcast the index never exchanges
    val probe = histBands.select(col("bk"), col("id").as("a"))
      .join(broadcast(newBands.select(col("bk"), col("id").as("b"))), "bk")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    val shuffles = "(?<!Broadcast)Exchange ".r.findAllIn(plan).size
    assert(shuffles == 0, s"stored index side should not shuffle, got $shuffles:\n${plan.take(1200)}")
  }
}
