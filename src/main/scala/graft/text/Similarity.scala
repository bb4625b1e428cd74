package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over an `Array[Float]` embedding
  * column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    O(corpus × queries) but embarrassingly parallel: queries are broadcast,
  *    the corpus is scanned once, all math in one codegen stage.
  *  - [[lshTopK]] / [[nearDupPairs]]: random-hyperplane LSH — the 100 TB
  *    path. `nTables` independent signature tables of `planesPerTable` bits
  *    each bucket the corpus; candidates come from per-table bucket
  *    equi-joins (shuffle keyed on (table, bucket)), so work scales with
  *    collisions, never n². Buckets larger than `maxBucket` are dropped
  *    (the same hub cap [[Dedup.jaccardPairs]] uses for shingles) — this is
  *    what keeps the within-bucket pair join from going quadratic when a
  *    dense region of embedding space lands in one bucket.
  *
  * All per-query top-k selection goes through the bounded-heap
  * [[graft.ops.TopK]] operator: the shuffle moves ≤ k rows per (query,
  * partition) instead of every scored candidate (a row_number window here
  * would exchange and sort the full corpus×queries score set). Rank numbers
  * are assigned afterwards over the ≤ k·queries survivors.
  *
  * Dot products accumulate left-to-right in double — bit-identical to a
  * sequential C loop (and to DuckDB's list_sum(list_transform(...))), which
  * makes even floating-point outputs oracle-checkable.
  */
object Similarity {

  /** Cosine via the native codegen expression [[graft.functions.CosineSim]]
    * — one fused loop: dot(a, b) / sqrt(norm2(a) · norm2(b)), each sum
    * accumulated left to right in double. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Deterministic per-query top-k of a scored candidate frame
    * (q_id, neighbor_id, cos): bounded-heap selection on
    * struct(cos, -neighbor_id) — fully deterministic under cosine ties —
    * then rank assignment over the ≤ k·queries survivors. */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame =
    graft.ops.TopK.perKey(scored, Seq("q_id"),
      struct(col("cos"), -col("neighbor_id")), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .select("q_id", "rank", "neighbor_id", "cos")

  /** Exact cosine top-k: for each query vector (subset of the corpus or a
    * separate frame), the k nearest corpus vectors. Queries are broadcast;
    * ties broken by vec_id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
    topKRanked(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * k most cosine-similar corpus vectors with a DIFFERENT label — the
    * near-miss examples a retrieval/embedding model learns the most from.
    * Same plan shape as [[bruteForceTopK]] (queries broadcast, bounded-heap
    * per-query top-k, deterministic ties); the label inequality rides the
    * scored stream as a codegen filter and subsumes the self-match check.
    * At index scale the same label filter composes with the IVF/LSH
    * candidate paths — brute force is the oracle-exact baseline. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
    topKRanked(scored, k)
  }

  /** Mean reciprocal rank @ k — the standard retrieval-eval read over a
    * labeled corpus (label == relevance proxy, the op_knn_classify
    * convention): per query, the exact cosine top-k is scanned for the
    * FIRST same-label neighbor, contributing ⌊10⁶ / first_rank⌋ INTEGER
    * MICRO-UNITS (misses contribute 0, queries still count — the
    * published MRR definition), so the corpus-wide sum is an exact
    * integer and `mrr` is ONE int/int division — engine-exact where a
    * float mean would hinge on sum order. One summary row:
    * (n_queries, n_hit, sum_rr_micro, mrr).
    *
    * Scale: the [[bruteForceTopK]] exact-baseline shape (queries
    * broadcast, bounded-heap per-query top-k) plus a label join bounded
    * by queries × k rows and a 1-row finish; at index scale the same
    * label-scan composes with the routed tiers' outputs unchanged. */
  def mrrAtK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "mrrAtK: k must be positive")
    val ranked = bruteForceTopK(corpus, queries, k)
    val labels = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("_nl"))
    val qlab = queries.select(col("vec_id").as("q_id"),
      col("label").as("_ql"))
    val firstHit = ranked.join(labels, "neighbor_id").join(qlab, "q_id")
      .filter(col("_nl") === col("_ql"))
      .groupBy("q_id").agg(min("rank").as("_fr"))
    qlab.join(firstHit, Seq("q_id"), "left")
      .select(coalesce(expr("CAST(1000000 AS BIGINT) div CAST(_fr AS BIGINT)"),
        lit(0L)).as("_rr"), col("_fr"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("_fr").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum("_rr").as("sum_rr_micro"))
      .withColumn("mrr", col("sum_rr_micro").cast(DoubleType) /
        (col("n_queries") * lit(1000000L)).cast(DoubleType))
  }

  /** Routed (index-backed) MRR@k beside the exact baseline — the
    * retrieval-eval read that SCALES: [[mrrAtK]]'s brute scan is
    * O(corpus × queries) (52 s at the ×100 probe), while the IVF-routed
    * ranking pays only the probed cells; this op computes BOTH in one
    * plan and releases the exact-integer agreement metrics that gate the
    * cheap tier against the truth, the op_ann_recall discipline applied
    * to the eval itself. Per query, the first same-label rank is read
    * from the exact top-k AND from [[graft.text.Ivf.searchTopK]]'s
    * routed top-k; reciprocal ranks are ⌊10⁶/rank⌋ integer micro-units
    * (misses 0, still in the denominator). One summary row: n_queries,
    * n_hit_exact, n_hit_ivf, sum_rr_micro_exact, sum_rr_micro_ivf,
    * n_rr_agree (queries whose micro reciprocal ranks MATCH across
    * tiers, both-miss included — the trendable agreement gate),
    * mrr_gap_micro (exact − routed; can go negative when a pruned
    * better-cosine neighbor PROMOTES the first same-label hit), and the
    * two one-division mrr values. All integers exact cross-engine.
    *
    * Scale: the exact side stays the recall gate one pays deliberately
    * at eval scale (sampled queries); the routed side is the plan a
    * billion-vector eval actually ships. Both finishes are queries × k
    * joins + a 1-row aggregate. */
  def mrrRouted(corpus: DataFrame, queries: DataFrame,
      model: graft.text.Ivf.Model, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "mrrRouted: k must be positive")
    val labels = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("_nl"))
    val qlab = queries.select(col("vec_id").as("q_id"),
      col("label").as("_ql"))
    def firstHit(ranked: DataFrame, out: String): DataFrame =
      ranked.join(labels, "neighbor_id").join(qlab, "q_id")
        .filter(col("_nl") === col("_ql"))
        .groupBy("q_id").agg(min("rank").as(out))
    val exact = firstHit(bruteForceTopK(corpus, queries, k), "_fe")
    val routed = firstHit(
      graft.text.Ivf.searchTopK(corpus, queries, model, k, nprobe), "_fi")
    def rrMicro(fr: String): org.apache.spark.sql.Column =
      coalesce(expr(s"CAST(1000000 AS BIGINT) div CAST($fr AS BIGINT)"),
        lit(0L))
    qlab.join(exact, Seq("q_id"), "left").join(routed, Seq("q_id"), "left")
      .select(col("_fe"), col("_fi"),
        rrMicro("_fe").as("_re"), rrMicro("_fi").as("_ri"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("_fe").isNotNull, 1L).otherwise(0L)).as("n_hit_exact"),
        sum(when(col("_fi").isNotNull, 1L).otherwise(0L)).as("n_hit_ivf"),
        sum("_re").as("sum_rr_micro_exact"),
        sum("_ri").as("sum_rr_micro_ivf"),
        sum(when(col("_re") === col("_ri"), 1L).otherwise(0L))
          .as("n_rr_agree"))
      .withColumn("mrr_gap_micro",
        col("sum_rr_micro_exact") - col("sum_rr_micro_ivf"))
      .withColumn("mrr_exact", col("sum_rr_micro_exact").cast(DoubleType) /
        (col("n_queries") * lit(1000000L)).cast(DoubleType))
      .withColumn("mrr_ivf", col("sum_rr_micro_ivf").cast(DoubleType) /
        (col("n_queries") * lit(1000000L)).cast(DoubleType))
  }

  /** NDCG@k with binary relevance (same label — the [[mrrAtK]]
    * convention), the position-discounted sibling MRR stops short of:
    * per query, DCG = Σ over relevant ranks of 1/log₂(1+rank) and
    * IDCG = the same sum over ranks 1..min(R, k) with R = the query's
    * same-label corpus population minus itself (queries are corpus
    * members, the catalog convention), so `ndcg = dcg/idcg ∈ [0, 1]`
    * measures how close the ranking is to front-loading every relevant
    * neighbor it COULD have. Each gain is quantized to INTEGER
    * micro-units — `⌊10⁶·ln2 / ln(1+rank)⌋` with both logs the portable
    * series on exact integers (ln 2 IS the series' own p=1 constant) —
    * so dcg/idcg sums are exact integers and `ndcg` one division:
    * engine-exact. Queries with R = 0 release NULL ndcg (no relevant
    * neighbor exists — undefined, not zero).
    *
    * Scale: the [[bruteForceTopK]] exact-baseline scan + a queries×k
    * label join, a broadcast label histogram, and a per-query ideal
    * explode bounded at k rows — nothing corpus-sized past the scan. */
  /** Integer micro-unit position gain ⌊10⁶·ln2 / ln(1+rank)⌋ — both logs
    * the portable series (ln 2 IS its own p=1 constant), so every gain
    * is the same exact integer in both engines. Shared by [[ndcgAtK]]
    * and [[ndcgRouted]]. */
  private def gainMicro(r: org.apache.spark.sql.Column) =
    floor(lit(1000000.0) * lit(0.6931471805599453) /
      graft.ops.Sampling.portableLn(r.cast(LongType) + lit(1L)))
      .cast(LongType)

  def ndcgAtK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "ndcgAtK: k must be positive")
    val ranked = bruteForceTopK(corpus, queries, k)
    val labels = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("_nl"))
    val qlab = queries.select(col("vec_id").as("q_id"),
      col("label").as("_ql"))
    val dcg = ranked.join(labels, "neighbor_id").join(qlab, "q_id")
      .filter(col("_nl") === col("_ql"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_rel_at_k"),
        sum(gainMicro(col("rank"))).as("dcg_micro"))
    val hist = corpus.groupBy(col("label").as("_ql"))
      .agg(count(lit(1)).as("_cl"))
    val ideal = qlab.join(broadcast(hist), "_ql")
      .withColumn("_r", least(col("_cl") - lit(1L), lit(k.toLong)))
      .filter(col("_r") >= 1L)
      .withColumn("_i", explode(sequence(lit(1L), col("_r"))))
      .groupBy("q_id").agg(sum(gainMicro(col("_i"))).as("idcg_micro"))
    qlab.join(ideal, Seq("q_id"), "left").join(dcg, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) > 0L,
          coalesce(col("dcg_micro"), lit(0L)).cast(DoubleType) /
            col("idcg_micro").cast(DoubleType)).as("ndcg"))
  }

  /** Routed NDCG@k beside the exact baseline — [[mrrRouted]]'s
    * discipline applied to the position-discounted eval: per query, DCG
    * is read from BOTH the exact top-k and the IVF-routed top-k against
    * the SAME idcg (ideal ranking depends only on the label histogram,
    * not the retrieval path), so `ndcg_ivf` is directly comparable to
    * `ndcg_exact` and `dcg_agree` (exact integer equality of the two
    * micro DCGs, both-zero included) is the per-query agreement gate.
    * Output per query: n_rel_at_k_exact, n_rel_at_k_ivf,
    * dcg_micro_exact, dcg_micro_ivf, idcg_micro, ndcg_exact, ndcg_ivf
    * (both NULL when no relevant neighbor exists), dcg_agree.
    *
    * Scale: one brute gate scan (sampled queries — the deliberate
    * eval-time truth cost) + the routed tier's probed-cell scan; both
    * finishes are queries × k joins. */
  def ndcgRouted(corpus: DataFrame, queries: DataFrame,
      model: graft.text.Ivf.Model, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "ndcgRouted: k must be positive")
    val labels = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("_nl"))
    val qlab = queries.select(col("vec_id").as("q_id"),
      col("label").as("_ql"))
    def dcgOf(ranked: DataFrame, nOut: String, dOut: String): DataFrame =
      ranked.join(labels, "neighbor_id").join(qlab, "q_id")
        .filter(col("_nl") === col("_ql"))
        .groupBy("q_id")
        .agg(count(lit(1)).as(nOut), sum(gainMicro(col("rank"))).as(dOut))
    val dce = dcgOf(bruteForceTopK(corpus, queries, k),
      "n_rel_at_k_exact", "dcg_micro_exact")
    val dci = dcgOf(
      graft.text.Ivf.searchTopK(corpus, queries, model, k, nprobe),
      "n_rel_at_k_ivf", "dcg_micro_ivf")
    val hist = corpus.groupBy(col("label").as("_ql"))
      .agg(count(lit(1)).as("_cl"))
    val ideal = qlab.join(broadcast(hist), "_ql")
      .withColumn("_r", least(col("_cl") - lit(1L), lit(k.toLong)))
      .filter(col("_r") >= 1L)
      .withColumn("_i", explode(sequence(lit(1L), col("_r"))))
      .groupBy("q_id").agg(sum(gainMicro(col("_i"))).as("idcg_micro"))
    qlab.join(ideal, Seq("q_id"), "left")
      .join(dce, Seq("q_id"), "left").join(dci, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel_at_k_exact"), lit(0L)).as("n_rel_at_k_exact"),
        coalesce(col("n_rel_at_k_ivf"), lit(0L)).as("n_rel_at_k_ivf"),
        coalesce(col("dcg_micro_exact"), lit(0L)).as("dcg_micro_exact"),
        coalesce(col("dcg_micro_ivf"), lit(0L)).as("dcg_micro_ivf"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"))
      .select(col("q_id"), col("n_rel_at_k_exact"), col("n_rel_at_k_ivf"),
        col("dcg_micro_exact"), col("dcg_micro_ivf"), col("idcg_micro"),
        when(col("idcg_micro") > 0L,
          col("dcg_micro_exact").cast(DoubleType) /
            col("idcg_micro").cast(DoubleType)).as("ndcg_exact"),
        when(col("idcg_micro") > 0L,
          col("dcg_micro_ivf").cast(DoubleType) /
            col("idcg_micro").cast(DoubleType)).as("ndcg_ivf"),
        (col("dcg_micro_exact") === col("dcg_micro_ivf")).as("dcg_agree"))
  }

  /** Triplet mining for contrastive training — (anchor, positive,
    * hardest negative) rows, the data a metric-learning fine-tune
    * consumes: per query, positive = the most-similar SAME-label corpus
    * vector (excluding self), negative = the most-similar
    * DIFFERENT-label vector (the [[hardNegatives]] near-miss), both by
    * exact cosine with id tie-breaks; `margin = pos_cos − neg_cos` (a
    * difference of two bit-stable doubles — negative margin rows are the
    * triplets the model learns most from). Queries with no same-label
    * partner in the corpus drop (no positive exists — an inner join, not
    * a NULL row).
    *
    * Scale: ONE broadcast-query scored scan feeds both sides (the
    * label predicate splits it in-plan); two bounded-heap top-1s and a
    * queries-sized join — never a corpus sort. */
  def tripletMine(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("label"),
        col("vec_id").as("neighbor_id"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
    def top1(side: DataFrame, idName: String, cosName: String): DataFrame =
      graft.ops.TopK.perKey(side, Seq("q_id"),
        struct(col("cos"), -col("neighbor_id")), 1)
        .select(col("q_id"), col("neighbor_id").as(idName),
          col("cos").as(cosName))
    val pos = top1(scored.filter(col("label") === col("q_label")),
      "pos_id", "pos_cos")
    val neg = top1(scored.filter(col("label") =!= col("q_label")),
      "neg_id", "neg_cos")
    pos.join(neg, "q_id")
      .select(col("q_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
  }

  /** (vec_id, tbl, bkt) rows: one bucket assignment per LSH table (4
    * tables), hub buckets larger than 512 dropped. Ids only — the embedding is
    * re-joined AFTER candidate dedup, so the bucket join, the pair
    * `distinct`, and this persist all move 16-byte rows, never the
    * embedding arrays (at 100 TB the arrays dominate row width ~30×). */
  private def bucketed(corpus: DataFrame,
      planesPerTable: Int): DataFrame = {
    val sigArr = graft.functions.LshSig(col("embedding"), 4, planesPerTable)
    val b = corpus.select(col("vec_id"),
      posexplode(sigArr).as(Seq("tbl", "bkt")))
    val keep = b.groupBy("tbl", "bkt").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= 512).drop("bsz")
    b.join(keep, Seq("tbl", "bkt"))
  }

  /** Distinct candidate id-pairs from the multi-table bucket self-join
    * (`left` < `right` when `ordered`, `left` ≠ `right` otherwise). */
  private def candidatePairs(corpus: DataFrame, planesPerTable: Int,
      ordered: Boolean): DataFrame = {
    val b = bucketed(corpus, planesPerTable)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = b.select(col("tbl"), col("bkt"), col("vec_id").as("left"))
    val r = b.select(col("tbl"), col("bkt"), col("vec_id").as("right"))
    val pairCond = if (ordered) col("left") < col("right")
      else col("left") =!= col("right")
    l.join(r, Seq("tbl", "bkt")).filter(pairCond)
      .select("left", "right")
      .distinct() // a pair can collide in several tables — score it once
  }

  private def withEmb(df: DataFrame, idCol: String, embAs: String,
      corpus: DataFrame): DataFrame =
    df.join(corpus.select(col("vec_id").as(idCol),
      col("embedding").as(embAs)), idCol)

  /** LSH ANN: candidates from 4 independent bucket joins (deduped),
    * exact cosine on candidates, bounded-heap top-k per query. Recall < 1 by
    * construction; more tables raise recall, more planes shrink buckets.
    *
    * `queries`: optional frame of query `vec_id`s — when set, candidate
    * pairs are semi-joined to it BEFORE the embedding re-join and cosine
    * scoring. The restriction commutes with per-query top-k (selection is
    * independent per `q_id`), so the surviving queries' answers are
    * IDENTICAL to the all-queries run — but the expensive scoring work
    * drops from O(corpus candidates) to O(query-set candidates). The
    * candidate frame is id-only at that point, so the semi-join moves
    * 16-byte rows. At a fixed benchmark query set over a growing corpus
    * the saving is the corpus/queries ratio (measured 25× avoidable
    * scoring in the recall harness before this parameter existed).
    *
    * Sizing: keep the expected bucket occupancy n / 2^planesPerTable near
    * 64, i.e. planesPerTable ≈ ceil(log2(n / 64)) for an n-vector corpus —
    * at fixed planes the within-bucket candidate cost grows with n² (a 10×
    * corpus at 8 planes measured ~50× the candidate pairs).
    *
    * The internal bucket table stays persisted for the session; a caller
    * that sweeps many corpora frees it with `spark.catalog.clearCache()`. */
  def lshTopK(corpus: DataFrame, k: Int, planesPerTable: Int = 8,
      queries: Option[DataFrame] = None): DataFrame = {
    val all = candidatePairs(corpus, planesPerTable, ordered = false)
      .select(col("left").as("q_id"), col("right").as("neighbor_id"))
    val cand = queries.fold(all)(q =>
      all.join(q.select(col("vec_id").as("q_id")), Seq("q_id"), "left_semi"))
    val scored = withEmb(withEmb(cand, "q_id", "q_emb", corpus),
      "neighbor_id", "n_emb", corpus)
      .select(col("q_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
    topKRanked(scored, k)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings into IVF/k-means cells, then within each cell
    * drop every vector that has a ≥ `minCos` cosine neighbor with a
    * SMALLER id — the paper's keep-one-representative rule made
    * deterministic by min-id. Closes the gap between [[nearDupPairs]]
    * (LSH pair REPORTING) and cluster-scoped corpus-level semantic
    * PRUNING. Output: (vec_id, ivf_cell, keep).
    *
    * Scale — the IVF economics applied to dedup: pair work is bounded by
    * per-cell occupancy (Σ n_c², never corpus n²); grow `model.c` with the
    * corpus to hold occupancy constant. The self-join keys on the cell id,
    * the drop set aggregates to distinct ids, and the final decision is
    * one left anti-ish join — no windows, no driver collect. Cosine is the
    * fused codegen [[graft.functions.CosineSim]], so the threshold compare
    * is bit-stable cross-engine (the oracle mirrors the accumulation
    * order). */
  def semDedup(corpus: DataFrame, model: Ivf.Model,
      minCos: Double): DataFrame = {
    val assigned = Ivf.assign(corpus, model)
      .select(col("vec_id"), col("ivf_cell"), col("embedding"))
    val l = assigned.select(col("ivf_cell"), col("vec_id").as("a"),
      col("embedding").as("a_emb"))
    val r = assigned.select(col("ivf_cell"), col("vec_id").as("b"),
      col("embedding").as("b_emb"))
    val dropped = l.join(r, Seq("ivf_cell"))
      .filter(col("a") < col("b"))
      .filter(cosine(col("a_emb"), col("b_emb")) >= minCos)
      .select(col("b").as("vec_id")).distinct()
    assigned.select("vec_id", "ivf_cell")
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("ivf_cell"), col("is_dropped").isNull.as("keep"))
  }

  /** Threshold-calibration sweep for [[semDedup]] — the sizing run an
    * operator does BEFORE committing a semantic-dedup pass over 100 TB:
    * for each candidate cosine threshold, how many within-cell pairs
    * clear it and how many docs the smaller-id-wins rule would drop.
    * One row per threshold (threshold, n_pairs, n_dropped, n_kept) —
    * the drop-curve that picks ε.
    *
    * Scale: the cell-scoped pair cosines are computed ONCE (Σ n_c² work,
    * identical to a single [[semDedup]] run — the assigned frame persists
    * for the same codegen reason as [[knnGraph]]); each scored pair then
    * fans out to the thresholds it clears via an in-row array explode
    * (|thresholds| is a handful), and two bounded aggregates finish. The
    * sweep costs one dedup pass, not |thresholds| passes. */
  def semDedupSweep(corpus: DataFrame, model: Ivf.Model,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds == thresholds.sorted && thresholds.distinct == thresholds,
      "thresholds must be strictly ascending")
    val spark = corpus.sparkSession
    // corpus total rides the plan as a cross-joined 1-row aggregate (the
    // tokenBudgetMix pattern) — no eager count() action, ONE job
    val nVecs = corpus.agg(count(lit(1)).as("_n_vecs"))
    val assigned = Ivf.assign(corpus, model)
      .select(col("vec_id"), col("ivf_cell"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("ivf_cell"), col("vec_id").as("a"),
      col("embedding").as("a_emb"))
    val r = assigned.select(col("ivf_cell"), col("vec_id").as("b"),
      col("embedding").as("b_emb"))
    val scored = l.join(r, Seq("ivf_cell"))
      .filter(col("a") < col("b"))
      .select(col("b"), cosine(col("a_emb"), col("b_emb")).as("cos"))
    val hits = scored
      .select(col("b"), explode(array(thresholds.map(lit): _*)).as("threshold"),
        col("cos"))
      .filter(col("cos") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("b")).as("n_dropped"))
    import spark.implicits._
    thresholds.toDF("threshold")
      .join(hits, Seq("threshold"), "left")
      .crossJoin(nVecs)
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("_n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  /** Cell-scoped k-NN GRAPH over the whole corpus — every vector's top-k
    * nearest cell-mates by cosine, with rank: the corpus×corpus sibling of
    * [[bruteForceTopK]] (whose query side is a small broadcast set). The
    * structure behind dedup-graph construction, curriculum mining, and
    * diversity analysis. Neighbors come from the vector's OWN IVF cell
    * ([[Ivf.assign]] — the SemDeDup economics): pair work is Σ n_c², never
    * n², and grows C with the corpus to hold per-cell occupancy constant.
    * Ties break (cos desc, neighbor_id asc) — deterministic, mirrored in
    * the oracle.
    *
    * Scale: one cell-keyed self-join (the only corpus-sized exchange)
    * feeding the fused-codegen [[cosine]], then a per-vector rank window
    * whose partition is bounded by cell occupancy (NOT the corpus — this
    * is what makes a window acceptable here where [[bruteForceTopK]]
    * needed the bounded-heap TopK operator). Vectors alone in their cell
    * emit no rows (no neighbors at nprobe=1 — widen C/probes to trade).
    *
    * The assigned frame is PERSISTED (session lifetime): [[Ivf.assign]]'s HOF
    * centroid scoring is CodegenFallback, and feeding it unmaterialized
    * into the self-join poisons whole-stage codegen for the entire
    * join+cosine+top-k stage — measured 4.1 s vs 0.6 s at sf0.1 (the
    * filter-shaped [[semDedup]] tolerates interpreted eval because almost
    * nothing survives its threshold; the rank path materializes every
    * scored pair). Caching the tiny (id, cell, emb) frame restores
    * codegen downstream AND halves the double assign evaluation. */
  def knnGraph(corpus: DataFrame, model: Ivf.Model, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val assigned = Ivf.assign(corpus, model)
      .select(col("vec_id"), col("ivf_cell"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("ivf_cell"), col("vec_id").as("q"),
      col("embedding").as("q_emb"))
    val r = assigned.select(col("ivf_cell"), col("vec_id").as("n"),
      col("embedding").as("n_emb"))
    l.join(r, Seq("ivf_cell"))
      .filter(col("q") =!= col("n"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q").orderBy(col("cos").desc, col("n"))))
      .filter(col("rank") <= k)
      .select(col("q").as("vec_id"), col("rank"),
        col("n").as("neighbor_id"), col("cos"))
  }

  /** Centroid-distance OUTLIER flagging — the embedding-space quality
    * filter SemDeDup-style curation pairs with its dedup pass: a vector
    * whose best centroid cosine (`cos_centroid`, [[Ivf.assignWithSim]])
    * falls below `minCos` sits in no cluster's core — noise, garbage
    * embeddings, or genuinely novel content to route for review. Output:
    * (vec_id, ivf_cell, cos_centroid, is_outlier).
    *
    * Scale: fully NARROW — C cosines + argmax + max per row against
    * broadcast centroid literals riding the scan; no shuffle at all. The
    * threshold compare is bit-stable (fused [[graft.functions.CosineSim]]
    * accumulation order, mirrored in the oracle). */
  def centroidOutliers(corpus: DataFrame, model: Ivf.Model,
      minCos: Double): DataFrame =
    Ivf.assignWithSim(corpus, model)
      .select(col("vec_id"), col("ivf_cell"), col("cos_centroid"),
        (col("cos_centroid") < minCos).as("is_outlier"))

  /** Embedding-distribution DRIFT between a history corpus and an ingest
    * batch — the monitoring read a recurring 100 TB ingest runs before
    * publishing: per IVF cell, each side's occupancy share (ppm) and mean
    * centroid cosine, plus the share delta. A batch whose mass moves into
    * different cells (or whose cells' centroid fit degrades) is
    * distribution shift — catch it before it trains.
    *
    * Determinism: the cosine enters as floor(cos·10⁶) — an exact integer
    * per row, so the per-cell sums are order-independent and the mean is
    * ONE IEEE division; shares are integer-ppm divisions. Scale: two
    * narrow assign passes + two C-bounded aggregates + a C-row outer join
    * against two 1-row totals — nothing pairwise. */
  def embedDrift(history: DataFrame, batch: DataFrame,
      model: Ivf.Model): DataFrame = {
    def perCell(df: DataFrame, n: String, s: String): DataFrame =
      Ivf.assignWithSim(df, model)
        .groupBy("ivf_cell")
        .agg(count(lit(1)).as(n),
          sum(floor(col("cos_centroid") * lit(1000000.0)).cast(LongType))
            .as(s))
    val h = perCell(history, "n_hist", "_ch")
    val b = perCell(batch, "n_batch", "_cb")
    val nh = history.count()
    val nb = batch.count()
    h.join(b, Seq("ivf_cell"), "full_outer")
      .select(col("ivf_cell"),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        // floor of the IEEE double quotient — both engines floor the
        // identical correctly-rounded double, unlike a bigint CAST
        // (Spark truncates, DuckDB rounds)
        floor(coalesce(col("n_hist"), lit(0L)) * lit(1000000.0) / lit(nh))
          .cast(LongType).as("hist_share_ppm"),
        floor(coalesce(col("n_batch"), lit(0L)) * lit(1000000.0) / lit(nb))
          .cast(LongType).as("batch_share_ppm"),
        (col("_ch").cast(DoubleType) / col("n_hist").cast(DoubleType) /
          1000000.0).as("mean_cos_hist"),
        (col("_cb").cast(DoubleType) / col("n_batch").cast(DoubleType) /
          1000000.0).as("mean_cos_batch"))
      .withColumn("drift_ppm",
        col("batch_share_ppm") - col("hist_share_ppm"))
  }

  /** k-NN majority-vote classification over the labeled corpus — the
    * weak-supervision labeler: each vector takes the most common `label`
    * among its [[knnGraph]] top-k cell-mates (ties -> more votes first,
    * then the smaller label; vectors alone in their cell have no
    * neighbors and drop). Output: (vec_id, pred_label, n_votes,
    * true_label, correct) — the `correct` flag makes the query double as
    * a leave-one-out accuracy probe.
    *
    * Scale: the k-NN graph is the cell-scoped Σ n_c² pass ([[knnGraph]]);
    * voting is a (vec, label)-bounded aggregate and the per-vector argmax
    * rides the bounded-heap [[graft.ops.TopK.perKey]], never a window. */
  def knnClassify(corpus: DataFrame, model: Ivf.Model, k: Int): DataFrame = {
    val g = knnGraph(corpus.select(col("vec_id"), col("embedding")),
      model, k)
    val votes = g
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").cast(LongType).as("_nl")), "neighbor_id")
      .groupBy(col("vec_id"), col("_nl"))
      .agg(count(lit(1)).as("n_votes"))
    graft.ops.TopK.perKey(votes, Seq("vec_id"),
        struct(-col("n_votes"), col("_nl")), 1, descending = false)
      .join(corpus.select(col("vec_id"),
        col("label").cast(LongType).as("true_label")), "vec_id")
      .select(col("vec_id"), col("_nl").as("pred_label"), col("n_votes"),
        col("true_label"),
        (col("_nl") === col("true_label")).as("correct"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * via the multi-table LSH buckets (each unordered pair once). */
  def nearDupPairs(corpus: DataFrame, minCos: Double): DataFrame = {
    val cand = candidatePairs(corpus, 8, ordered = true)
      .select(col("left").as("a"), col("right").as("b"))
    withEmb(withEmb(cand, "a", "a_emb", corpus), "b", "b_emb", corpus)
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= minCos)
      .select("a", "b", "cos")
  }

  /** Matryoshka truncation sweep (Kusupati et al. 2022): recall@k of
    * FIRST-d′-DIMENSIONS cosine retrieval against the full-dimension exact
    * baseline, for each d′ in `dims` — the read that decides how short a
    * nested-embedding prefix the retrieval tier can store and scan
    * (MRL-trained embeddings concentrate signal in the prefix; this
    * measures what THIS corpus's embeddings lose at each truncation; a
    * full-dim rung in `dims` is the == 1.0 sanity row).
    *
    * Scale: per rung, the [[bruteForceTopK]] shape with the corpus side
    * sliced IN-ROW to d′ dims before scoring — the rung's scan moves
    * d′/D-ths of the vector bytes, which is the point; the hit-join and
    * both counts are bounded by queries × k. The truncated cosine runs
    * the native [[graft.functions.CosineSim]] loop (accumulation
    * bit-identical to the oracle-mirrored HOF form); ties by neighbor
    * id. */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "mrlRecall: at least one truncation rung")
    require(dims.forall(_ >= 1), "mrlRecall: rungs must be positive")
    val brute = bruteForceTopK(corpus, queries, k)
      .select("q_id", "neighbor_id")
    val perDim = dims.map { d =>
      val c = corpus.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("_e"))
      val q = queries.select(col("vec_id").as("q_id"),
        slice(col("embedding"), 1, d).as("_qe"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosine(col("_e"), col("_qe")).as("cos"))
      graft.ops.TopK.perKey(scored, Seq("q_id"),
        struct(col("cos"), -col("neighbor_id")), k)
        .select(lit(d).as("dims"), col("q_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    perDim.join(brute, Seq("q_id", "neighbor_id"))
      .groupBy("dims").agg(count(lit(1)).as("n_hit"))
      .crossJoin(brute.agg(count(lit(1)).as("n_total")))
      .select(col("dims"), col("n_hit"), col("n_total"),
        (col("n_hit").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as(s"recall_at_$k"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the standard
    * hybrid-retrieval combiner: each input ranking contributes
    * 1/(kRrf + rank) per (query, candidate), candidates absent from a list
    * contribute nothing, and the fused order is the contribution sum. The
    * published constant kRrf = 60. Scores are INTEGER MICRO-UNITS —
    * `1000000 div (kRrf + rank)` per list, summed — so the fusion is
    * engine-exact (rank is an integer, integer division truncates
    * identically everywhere; the double form would hinge on float-sum
    * order). Output per query: the top `k` fused candidates as
    * (q_id, fused_rank, neighbor_id, n_lists, rrf_micro), ties by
    * neighbor id.
    *
    * Each input frame must carry (q_id, neighbor_id, rank) — the
    * [[bruteForceTopK]]/[[Sq.searchTopK]]/BM25-style ranked shape; extra
    * columns are ignored.
    *
    * Scale: one union of the (already small) per-list top-k frames — rows
    * = Σ lists × queries × k, never corpus-sized — one (q_id, neighbor)
    * keyed aggregate with map-side partials, and the bounded-heap
    * [[graft.ops.TopK.perKey]] finish. The expensive part of hybrid
    * retrieval is PRODUCING the input rankings (each audited on its own
    * op); fusion itself is a reduction over their outputs. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(k >= 1, "rrfFuse: k must be positive")
    val tagged = rankings
      .map(_.select(col("q_id"), col("neighbor_id"), col("rank")))
      .reduce(_.unionByName(_))
    val scored = tagged.groupBy("q_id", "neighbor_id")
      .agg(count(lit(1)).as("n_lists"),
        // integer `div`, never `/`: float division would make the micro
        // score depend on double rounding; div truncates identically in
        // both engines (ranks are positive, so truncation == floor)
        sum(expr(s"CAST(1000000 AS BIGINT) div " +
          s"(CAST(60 AS BIGINT) + CAST(rank AS BIGINT))"))
          .as("rrf_micro"))
    graft.ops.TopK.perKey(scored, Seq("q_id"),
      struct(col("rrf_micro"), -col("neighbor_id")), k)
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rrf_micro").desc,
          col("neighbor_id"))))
      .select("q_id", "fused_rank", "neighbor_id", "n_lists", "rrf_micro")
  }
}
