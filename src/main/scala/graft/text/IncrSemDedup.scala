package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental SEMANTIC dedup — the embedding-side twin of [[IncrDedup]],
  * completing the recurring-ingest pair (MinHash text side / cosine
  * vector side): dedup a NEW batch of vectors against the PERSISTED IVF
  * cell store of the existing corpus without recomputing the historical
  * side, under [[Similarity.semDedup]]'s exact rule — a vector drops iff
  * it has a ≥ `minCos` cosine neighbor of SMALLER id in its own IVF cell.
  *
  * Index layout: `path` holds (vec_id, embedding) hive-partitioned by
  * `ivf_cell` ([[graft.ops.Layout.writePartitioned]] — the
  * [[Pq.writeCellStore]] layout). RAW embeddings, not PQ codes: the
  * dedup contract is the exact cosine threshold, and ADC-approximate
  * distances would make incremental ≠ from-scratch. The store holds
  * EVERY historical vector — kept AND dropped: semDedup drops on ANY
  * smaller-id neighbor (dropped ones included), so a dropped vector's
  * embedding still witnesses its neighborhood; without it a new vector
  * near-duplicating a dropped historical vector would be wrongly kept.
  * Same keep-everything insight as [[IncrDedup]]'s signature index, same
  * consequence: incremental == from-scratch EXACTLY (IncrSemDedupSpec
  * proves it), not an approximation that drifts per batch.
  *
  * Probe economics: the new batch assigns cells via the same broadcast
  * centroid literals as the batch path (narrow map); its DISTINCT cells
  * (≤ C ints — bounded, driver-safe) become a LITERAL partition filter,
  * so the parquet scan reads ONLY the touched cells' files (static
  * directory pruning, the [[Pq.searchTopKIvfStore]] pattern; LayoutSpec
  * pins the mechanism). The only corpus-sized work is that pruned
  * columnar scan feeding one cell-keyed join against the small new side
  * — the optimizer broadcasts the batch and THE STORE IS NEVER SHUFFLED.
  * Pair work is Σ n_c² over touched cells only; grow C with the corpus
  * to hold occupancy (and per-ingest cost) constant. History cost: zero
  * recompute.
  *
  * New-batch ids must be strictly greater than every historical id
  * (ingest batches are id-monotone by construction — enforced with a
  * loud check): smaller-id survivorship then guarantees historical
  * decisions can never be changed by a new arrival, which is exactly
  * what makes the incremental keep flags equal the
  * from-scratch-over-union flags restricted to the new batch.
  */
object IncrSemDedup {

  /** Write the persistent cell store for a historical corpus:
    * (vec_id, embedding) partitioned by ivf_cell. Call once; append
    * [[Result.delta]] (all new rows — see the class note on why dropped
    * vectors enter the store too) after each ingest. */
  def writeIndex(hist: DataFrame, model: Ivf.Model, path: String): Unit =
    graft.ops.Layout.writePartitioned(
      Ivf.assign(hist, model).select(col("ivf_cell"), col("vec_id"),
        col("embedding")),
      path, Seq("ivf_cell"))

  /** Compaction stats: store rows before/after the retention rewrite. */
  final case class CompactStats(nVecsBefore: Long, nVecsAfter: Long)

  /** RETENTION COMPACTION of the keep-everything cell store — the vector
    * twin of [[IncrDedup.compactIndex]], same contract: the compacted
    * store at `dstPath` holds precisely the retained vectors, so from
    * then on [[dedupAgainst]] == from-scratch [[Similarity.semDedup]]
    * over (RETAINED corpus ∪ batch) restricted to the batch
    * (IncrSemDedupSpec proves it). A new vector near-duplicating only a
    * vector the corpus no longer retains IS novel relative to the
    * retained corpus — dropping the ghost embedding is what makes the
    * incremental answer exact again. (Retention = removed from the
    * corpus; dedup-dropped vectors of retained ingests stay, so they
    * keep witnessing their neighborhoods.)
    *
    * Scale: one key-keyed semi-join against the retained-id set (linear
    * in store rows), written back hive-partitioned by `ivf_cell` — the
    * kept rows carry their cell, so the layout (and its static-pruning
    * probe economics) survives compaction unchanged. New path + pointer
    * swap, same immutable-snapshot convention as the text side. */
  def compactIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retainedIds: DataFrame): CompactStats = {
    val store = spark.read.parquet(srcPath)
    val keep = retainedIds.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    val kept = store.join(keep, Seq("vec_id"), "left_semi")
      .select(col("ivf_cell"), col("vec_id"), col("embedding"))
    graft.ops.Layout.writePartitioned(kept, dstPath, Seq("ivf_cell"))
    CompactStats(store.count(),
      spark.read.parquet(dstPath).count())
  }

  /** Incremental result: per-new-vector decisions
    * (vec_id, ivf_cell, keep) and the store delta to append — ALL new
    * rows, kept and dropped, in the store's (ivf_cell, vec_id, embedding)
    * column layout. */
  final case class Result(decisions: DataFrame, delta: DataFrame)

  /** Dedup `newBatch` (vec_id, embedding) against the store at `path`:
    * a new vector drops iff some same-cell vector with a smaller id —
    * historical or earlier-in-batch — scores ≥ `minCos` cosine
    * ([[graft.functions.CosineSim]] — fused accumulation order, mirrored
    * in the oracle, so the threshold compare is bit-stable). */
  def dedupAgainst(spark: SparkSession, newBatch: DataFrame, path: String,
      model: Ivf.Model, minCos: Double): Result = {
    // persisted: feeds the guard aggregate, the cell collect, both join
    // sides, and the decisions join — and materializing it keeps the
    // CodegenFallback centroid argmax out of the join stage (the
    // op_knn_graph codegen lesson)
    val assigned = Ivf.assign(newBatch, model)
      .select(col("vec_id"), col("ivf_cell"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val store = spark.read.parquet(path)
    // loud guard, not silent wrong answers: smaller-id survivorship needs
    // every new id above every historical id (1-row aggregates — the
    // IncrDedup contract)
    val maxHistRow = store.agg(max("vec_id")).head()
    // empty store (first ingest): every batch id trivially exceeds history
    val maxHist =
      if (maxHistRow.isNullAt(0)) Long.MinValue else maxHistRow.getLong(0)
    val minNewRow = assigned.agg(min("vec_id")).head()
    require(!minNewRow.isNullAt(0),
      "IncrSemDedup: new batch is empty — nothing to dedup")
    val minNew = minNewRow.getLong(0)
    require(minNew > maxHist,
      s"IncrSemDedup: new-batch ids must exceed all historical ids " +
        s"(min new = $minNew, max hist = $maxHist) — smaller-id " +
        s"survivorship is undefined otherwise")

    // distinct touched cells: bounded by the centroid count C (ints,
    // kilobytes) — collected so the cell restriction is a LITERAL
    // predicate on the partition column: static directory pruning, no
    // join needed to decide which files to read
    val cells = assigned.select("ivf_cell").distinct().collect()
      .map(_.getInt(0)).sorted.toIndexedSeq
    val hist = store.filter(col("ivf_cell").isin(cells: _*))

    // smaller-id side = pruned history ∪ the batch itself (an ingest
    // batch can contain its own near-dups); larger-id side = the batch
    val older = hist
      .select(col("ivf_cell"), col("vec_id").as("a"),
        col("embedding").as("a_emb"))
      .unionByName(assigned.select(col("ivf_cell"), col("vec_id").as("a"),
        col("embedding").as("a_emb")))
    val newer = assigned.select(col("ivf_cell"), col("vec_id").as("b"),
      col("embedding").as("b_emb"))
    val dropped = older.join(newer, Seq("ivf_cell"))
      .filter(col("a") < col("b"))
      .filter(graft.functions.CosineSim(col("a_emb"), col("b_emb")) >= minCos)
      .select(col("b").as("vec_id")).distinct()

    val decisions = assigned.select("vec_id", "ivf_cell")
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("ivf_cell"),
        col("is_dropped").isNull.as("keep"))
    Result(decisions,
      assigned.select(col("ivf_cell"), col("vec_id"), col("embedding")))
  }
}
