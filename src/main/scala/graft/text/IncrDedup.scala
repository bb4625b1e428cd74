package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Incremental-corpus near-dup dedup — the recurring-ingest shape a real
  * 100 TB pipeline runs daily: dedup a NEW batch (crawl snapshot) against
  * the PERSISTED MinHash band index of the existing corpus without
  * recomputing the historical side.
  *
  * Index layout (the [[Pq.writeCellStore]] write-time pattern applied to
  * [[Dedup]]'s band tables): `path/bands` = (bk, id) where `bk` is the
  * single-string band key "band:v1,v2,v3,v4" over the portable MinHash
  * signature, and `path/sigs` = (id, sig). The index holds EVERY historical
  * document's signature — kept AND dropped: a dropped doc's signature still
  * witnesses its cluster, and without it a new doc near-dup'ing a dropped
  * historical doc (but not that doc's surviving cluster min) would be
  * wrongly kept. This is what makes incremental == from-scratch EXACT
  * (IncrDedupSpec proves it), not an approximation that drifts per batch.
  *
  * Probe economics: signatures/banding for the new batch are the same
  * narrow codegen maps as the batch path; the only joins are
  * (new bands ⋈ stored bands) on `bk` — the stored side is a plain
  * columnar scan, the new side is small by definition of an ingest batch,
  * so the optimizer broadcasts it and the INDEX IS NEVER SHUFFLED — plus
  * the bounded signature-verify joins and the within-batch self-join.
  * History cost: zero recompute; O(index scan) I/O. At 100 TB, write the
  * band table bucketed on `bk` ([[graft.ops.Layout.writeBucketed]]) and
  * even repeated self-maintenance joins stay exchange-free.
  *
  * New-batch ids must be strictly greater than every historical id (ingest
  * batches are id-monotone by construction — enforced with a loud check):
  * survivor semantics are min-id, so a cluster containing any historical
  * doc can never elect a new doc, which is exactly what makes the
  * incremental keep flags equal the from-scratch-over-union flags
  * restricted to the new batch.
  */
object IncrDedup {

  /** Single-string band keys "band:v1,..,v4" for a signature column —
    * [[Dedup.lshCandidatesFromSigs]]'s banding flattened to one join key
    * (equality on the pair ⟺ equality on the string; ':' cannot occur in
    * the comma-joined long values). */
  def bandKeys(sig: Column): Column =
    array((0 until Dedup.Bands).map(b =>
      concat_ws(":", lit(b), concat_ws(",",
        slice(sig, lit(b * Dedup.RowsPerBand + 1), lit(Dedup.RowsPerBand))))): _*)

  /** (id, sig) with the engine-portable MinHash signature. */
  def signatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).cast(LongType).as("id"),
      Dedup.minhashSignaturePortable(col(textCol)).as("sig"))

  /** (bk, id) exploded band table of a signature frame. */
  def bandTable(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), explode(bandKeys(col("sig"))).as("bk"))
      .select("bk", "id")

  /** Write the persistent index for a historical corpus: `path/sigs` and
    * `path/bands` (parquet). Call once; append [[Result.deltaSigs]] /
    * [[Result.deltaBands]] after each ingest. */
  def writeIndex(hist: DataFrame, path: String,
      textCol: String = "text"): Unit = {
    val sigs = signatures(hist, textCol, "doc_id")
    sigs.write.mode("overwrite").parquet(s"$path/sigs")
    bandTable(sigs).write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Compaction stats: store rows before/after the retention rewrite
    * (bands are exactly 16× the signature rows on both sides). */
  final case class CompactStats(nSigsBefore: Long, nSigsAfter: Long)

  /** RETENTION COMPACTION of the keep-everything index — the maintenance
    * operator a daily 100 TB ingest eventually needs: the standing index
    * grows with GROSS ingest (every batch's signatures append, dropped
    * docs' included), not with the net corpus, so a long-lived pipeline
    * periodically rewrites it for the corpus it actually RETAINS.
    *
    * Contract (exact, not approximate): the compacted index at `dstPath`
    * holds precisely the retained docs' signatures, so from then on
    * [[dedupAgainst]] == from-scratch dedup over (RETAINED corpus ∪
    * batch) restricted to the batch — the same equality [[writeIndex]]
    * gives for full history, with the retained set as the new history
    * (IncrDedupSpec proves it). Dropping a non-retained doc's signature
    * is CORRECT under this contract, not just safe: a new doc that
    * near-dups only a doc the corpus no longer retains IS novel relative
    * to the retained corpus and must now be kept — ghost witnesses would
    * wrongly drop it. (Retention means removed from the corpus: curation
    * deletions, takedowns, TTL expiry. It is NOT the dedup keep flag —
    * dedup-dropped docs of a retained crawl should stay retained here,
    * exactly so they keep witnessing their clusters.)
    *
    * Scale: one key-keyed semi-join of the signature table against the
    * retained-id set (linear shuffle of (id, sig) rows — never the 16×
    * band table, which is REGENERATED from the kept signatures as a
    * narrow map), then two columnar writes. Writes go to a NEW path:
    * stores are immutable snapshots (a parquet dir cannot be rewritten
    * while read), and the caller flips the pipeline's index pointer —
    * the standard compact-then-swap. Counts are two bounded aggregates. */
  def compactIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retainedIds: DataFrame): CompactStats = {
    val sigs = spark.read.parquet(s"$srcPath/sigs")
    val keep = retainedIds.select(col("doc_id").cast(LongType).as("id")).distinct()
    val kept = sigs.join(keep, Seq("id"), "left_semi")
    kept.write.mode("overwrite").parquet(s"$dstPath/sigs")
    // bands: narrow regeneration from the kept signatures just written —
    // reading them back avoids recomputing the semi-join for the second
    // write and exactly equals filtering the old band table
    val keptBack = spark.read.parquet(s"$dstPath/sigs")
    bandTable(keptBack).write.mode("overwrite").parquet(s"$dstPath/bands")
    CompactStats(sigs.count(), keptBack.count())
  }

  /** Incremental dedup result: per-new-doc decisions
    * (doc_id, keep — keep ⟺ the doc is its combined-cluster min), and the
    * index delta to append (ALL new docs' rows — see the class note on why
    * dropped docs' signatures must enter the index too). */
  final case class Result(decisions: DataFrame, deltaSigs: DataFrame,
      deltaBands: DataFrame)

  /** Signature-verified near-dup pairs from band-collision candidates:
    * join both ids back to their signatures, count agreeing hash slots,
    * keep pairs agreeing on ≥ 20 of the 64. */
  private def verify(cand: DataFrame, aSigs: DataFrame,
      bSigs: DataFrame): DataFrame =
    cand
      .join(aSigs.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(bSigs.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .withColumn("n_agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("n_agree") >= 20)
      .select("a", "b")

  /** Dedup `newBatch` against the index at `path`.
    *
    * Pair graph = (new ⋈ history band collisions) ∪ (new ⋈ new band
    * collisions), both signature-verified at 20 of 64 slots; decisions come
    * from connected components over that graph (transitive chains through
    * history or through other new docs must drop, exactly as a
    * from-scratch run would) — `keep` ⟺ cluster min == own id. History
    * never recomputes and history×history never joins.
    */
  def dedupAgainst(spark: SparkSession, newBatch: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): Result = {
    val histSigs = spark.read.parquet(s"$path/sigs")
    val histBands = spark.read.parquet(s"$path/bands")
    // persisted: feeds its band explode, two verify joins, and the final
    // decisions join — the expensive narrow stage must run once (the same
    // contract as Dedup.minhashPairs' signature table)
    val newSigs = signatures(newBatch, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newBands = bandTable(newSigs)

    // loud guard, not silent wrong answers: min-id survivor semantics need
    // every new id above every historical id (1-row aggregates, trivial)
    val maxHistRow = histSigs.agg(max("id")).head()
    // empty index (first ingest): every batch id trivially exceeds history
    val maxHist =
      if (maxHistRow.isNullAt(0)) Long.MinValue else maxHistRow.getLong(0)
    val minNewRow = newSigs.agg(min("id")).head()
    require(!minNewRow.isNullAt(0),
      "IncrDedup: new batch is empty — nothing to dedup")
    val minNew = minNewRow.getLong(0)
    require(minNew > maxHist,
      s"IncrDedup: new-batch ids must exceed all historical ids " +
        s"(min new = $minNew, max hist = $maxHist) — min-id survivorship " +
        s"is undefined otherwise")

    // new × history candidates: the stored side is a columnar scan keyed by
    // bk; the new side is the small one — a < b with a = hist id always
    val nhCand = histBands.select(col("bk"), col("id").as("a"))
      .join(newBands.select(col("bk"), col("id").as("b")), "bk")
      .select("a", "b").distinct()
    // new × new candidates within the batch (an ingest batch can contain
    // its own near-dups)
    val nnCand = newBands.select(col("bk"), col("id").as("a"))
      .join(newBands.select(col("bk"), col("id").as("b")), "bk")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val pairs = verify(nhCand, histSigs, newSigs)
      .unionByName(verify(nnCand, newSigs, newSigs))

    val labels = Dedup.components(pairs)
    val decisions = newSigs.select(col("id").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
          .as("keep"))
    Result(decisions, newSigs, bandTable(newSigs))
  }
}
