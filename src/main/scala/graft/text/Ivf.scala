package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSim

/** IVF (inverted-file) approximate nearest neighbor — the third similarity
  * tier beside brute force (exact baseline) and sign-LSH (hash buckets):
  * spherical k-means centroids partition the corpus; a query probes only
  * the `nprobe` nearest cells.
  *
  * Scale: training samples a bounded slice to the driver (centroids are
  * C × dim floats — kilobytes); assignment and search are narrow map
  * stages over broadcast centroid literals; the only shuffle is the
  * candidate equi-join on cell id, so scanned volume drops by ~C/nprobe
  * versus brute force.
  */
object Ivf {

  case class Model(centroids: Array[Array[Float]]) {
    def c: Int = centroids.length
  }

  /** Data-independent deterministic centroids from a closed-form integer
    * formula — small-int components, so both engines' doubles are exact and
    * the DuckDB oracle can embed the same literals. Cosine assignment is
    * scale-invariant, so unnormalized centroids partition identically to
    * their normalized forms. k-means ([[train]]) gives better cells on real
    * data; the fixed model is the oracle-checkable default. */
  def fixedModel(c: Int, dim: Int): Model = Model(
    Array.tabulate(c)(j => Array.tabulate(dim)(d =>
      fixedComponent(j, d).toFloat)))

  /** Centroid component formula, mirrored textually in the oracle SQL. */
  def fixedComponent(j: Int, d: Int): Int = ((j * 131 + d * 17 + 7) % 13) - 6

  /** Deterministic spherical k-means over a sample of the first 2048
    * vectors by `vec_id`: init = first `c` sampled vectors, fixed Lloyd
    * iterations, cosine assignment on normalized vectors. */
  def train(corpus: DataFrame, c: Int, iters: Int = 8): Model = {
    val sample = corpus.orderBy("vec_id").limit(2048)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= c, s"need >= $c sample vectors")
    def norm(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
      if (n == 0f) v else v.map(_ / n)
    }
    val data = sample.map(norm)
    var centroids = data.take(c).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(c)(new Array[Double](data.head.length))
      val counts = new Array[Int](c)
      data.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var j = 0
        while (j < c) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i).toDouble * centroids(j)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { j =>
        if (counts(j) == 0) centroids(j)
        else norm(sums(j).map(_.toFloat))
      }.toArray
    }
    Model(centroids)
  }

  /** Sufficient statistics of ONE distributed Lloyd iteration from `model`:
    * nearest-centroid assignment (narrow map — C cosines per row against
    * broadcast literals), then per-(cell, dim) quantized component sums
    * plus cell size (map-side partials). Output is bounded at C × dim rows
    * however large the corpus — exactly the assign + aggregate shape
    * distributed k-means (e.g. MLlib) runs at scale. Shared by
    * op_kmeans_step and the iterated [[kmeansIterStats]] path. */
  def lloydStats(corpus: DataFrame, model: Model): DataFrame =
    assign(corpus, model)
      .select(col("ivf_cell"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("ivf_cell", "dim")
      .agg(sum(floor(col("x").cast("double") * 1000).cast("long"))
        .as("sum_milli"),
        count(lit(1)).as("n"))

  /** One distributed Lloyd UPDATE: reduce the corpus to its C × dim
    * sufficient statistics ([[lloydStats]] — kilobytes, the same
    * driver-sized reduce MLlib's k-means performs per iteration) and
    * rebuild the model from them. New component = sum_milli / (n·1000) —
    * ONE IEEE division of exact integers rounded once to float, so the
    * DuckDB oracle replays the identical arithmetic bit-for-bit; empty
    * cells keep their previous centroid. Cosine assignment is
    * scale-invariant, so the unnormalized mean partitions identically to
    * the spherical-normalized form. */
  def lloydNext(corpus: DataFrame, model: Model): Model = {
    val dim = model.centroids.head.length
    val stats = lloydStats(corpus, model).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    Model(Array.tabulate(model.c)(j => Array.tabulate(dim)(d =>
      stats.get((j, d)).map { case (s, n) =>
        (s.toDouble / (n * 1000L).toDouble).toFloat
      }.getOrElse(model.centroids(j)(d)))))
  }

  /** `iters` distributed Lloyd iterations from `init`: iters−1 driver-fed
    * centroid updates ([[lloydNext]] — each moves only C × dim longs to
    * the driver and broadcasts C × dim floats back as literals), then the
    * FINAL iteration's statistics as the returned lazy frame. This is the
    * corpus-scale k-means loop [[train]] only approximates on a driver
    * sample: every assignment pass is distributed, and the per-iteration
    * driver state is centroid-sized regardless of corpus size. */
  def kmeansIterStats(corpus: DataFrame, init: Model, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    var m = init
    for (_ <- 1 until iters) m = lloydNext(corpus, m)
    lloydStats(corpus, m)
  }

  /** Per-centroid cosine similarities as an array column. */
  private def simArray(emb: Column, model: Model): Column =
    array(model.centroids.toIndexedSeq.map(cv => CosineSim(emb, typedLit(cv.toSeq))): _*)

  /** Nearest-cell id (0-based) from a MATERIALIZED similarity-array column
    * (first index on ties). Take the sims as an attribute, not an
    * expression: argmax references its input twice, and an inlined C-wide
    * cosine array would be evaluated twice per row. */
  private def argmaxCell(sims: Column): Column =
    (array_position(sims, array_max(sims)) - 1).cast("int")

  /** Corpus with its IVF cell assignment. */
  def assign(corpus: DataFrame, model: Model): DataFrame =
    corpus
      // referenced twice by argmax -> CollapseProject keeps it materialized
      .withColumn("ivf_sims", simArray(col("embedding"), model))
      .withColumn("ivf_cell", argmaxCell(col("ivf_sims")))
      .drop("ivf_sims")

  /** [[assign]] plus the WINNING cosine (`cos_centroid` = the vector's
    * similarity to its own cell centroid) — the signal centroid-distance
    * outlier flagging reads: a vector weakly similar to EVERY centroid
    * sits in no cluster's core. Same narrow broadcast-literal map. */
  def assignWithSim(corpus: DataFrame, model: Model): DataFrame =
    corpus
      .withColumn("ivf_sims", simArray(col("embedding"), model))
      .withColumn("ivf_cell", argmaxCell(col("ivf_sims")))
      .withColumn("cos_centroid", array_max(col("ivf_sims")))
      .drop("ivf_sims")

  /** (q_id, q_emb, ivf_cell) rows: each query exploded into its `nprobe`
    * best cells — sort (sim, idx) structs descending, so ties break on
    * cell DESC (mirrored in the oracle). Shared by [[searchTopK]] and
    * [[Pq.searchTopKIvf]]. */
  def probeCells(queries: DataFrame, model: Model, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.c)
    queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("probe_cells",
        slice(reverse(array_sort(zip_with(
          simArray(col("q_emb"), model),
          typedLit((0 until model.c).toList),
          (s, i) => struct(s.as("sim"), i.as("cell"))))), 1, nprobe))
      .withColumn("probe", explode(col("probe_cells")))
      .select(col("q_id"), col("q_emb"), col("probe.cell").as("ivf_cell"))
  }

  /** [[probeCells]] with the probe RANK carried (prn = 1 is the best
    * cell) — lets ONE scored candidate frame serve every rung of
    * [[probeSweep]]: rung np's candidate set is exactly prn ≤ np. */
  def probeCellsRanked(queries: DataFrame, model: Model,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.c)
    queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("probe_cells",
        slice(reverse(array_sort(zip_with(
          simArray(col("q_emb"), model),
          typedLit((0 until model.c).toList),
          (s, i) => struct(s.as("sim"), i.as("cell"))))), 1, nprobe))
      .select(col("q_id"), col("q_emb"),
        posexplode(col("probe_cells")).as(Seq("_pos", "probe")))
      .select(col("q_id"), col("q_emb"),
        (col("_pos") + 1).cast("int").as("prn"),
        col("probe.cell").as("ivf_cell"))
  }

  /** Salted cell-candidate equi-join — the skew fix for every IVF scoring
    * path (round 18): a cell join has only C distinct keys (16 here), so
    * at scale the scored stream lands on ≤ C tasks no matter how many
    * partitions the shuffle declares — measured at the ×100 probe, the
    * UNSALTED routed scan (87–114 s) was SLOWER than the brute-force scan
    * it prunes 4× of (69 s), entirely scheduling skew. AQE's skew-join
    * can't help: it splits on INPUT partition bytes (a few MB per cell)
    * and never sees the join-OUTPUT explosion. The fix is the standard
    * salt: candidates take `xxhash64(neighbor_id) % CellSalt` as a
    * subkey, probes explode all [[CellSalt]] subkeys, the join runs on
    * (cell, subkey) —
    * C×salt keys spread over every core, result set IDENTICAL (each
    * candidate owns exactly one subkey; xxh64 is Spark-internal and never
    * reaches a result column). Probe-side replication is ×salt of a
    * queries×nprobe frame — trivial beside the scored stream it
    * parallelizes. After: op_ivf_ann 87–114 s → 33–46 s warm at ×100
    * (clean heap). The residual gap to the ~4× pair-count ratio vs brute
    * is the SMJ pair-stream shape vs the brute path's fully-fused
    * broadcast loop; the deployment answer remains the cell-bucketed
    * store (Pq.writeCellStore), where routing is directory pruning and
    * no cell join exists at all. */
  private[text] def saltedCellJoin(probes: DataFrame,
      cand: DataFrame): DataFrame =
    probes
      .withColumn("_cs", explode(array((0 until CellSalt).map(lit): _*)))
      .join(cand.withColumn("_cs",
        pmod(xxhash64(col("neighbor_id")), lit(CellSalt.toLong)).cast("int")),
        Seq("ivf_cell", "_cs"))
      .drop("_cs")

  /** Subkeys per cell in [[saltedCellJoin]]. */
  private val CellSalt = 8

  /** ANN top-k with `nprobe` probed cells per query: queries explode into
    * their nprobe best cells, candidates come from the cell equi-join,
    * scoring is exact cosine within candidates. */
  def searchTopK(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = assign(corpus, model)
      .select(col("ivf_cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"))
    val probes = probeCells(queries, model, nprobe)
    // join order matters more than it looks: leaving the optimizer free
    // (no broadcast hint) lets AQE broadcast the smaller materialized side.
    // Forcing broadcast(probes) was measured 10x SLOWER at the x10 probe
    // (51 s vs 4.9 s): with the corpus streamed, the inferred
    // isnotnull(ivf_cell) join-key predicate pushes the whole 16-cosine
    // argmax assignment below the repartition exchange (single input
    // partition on the fixture) and duplicates its evaluation per row,
    // while the unhinted plan materializes the assignment once into the
    // broadcast table. At true 100 TB corpus scale the cell-id join is
    // low-cardinality (C keys) — there, pre-partition the corpus by cell
    // (bucketing) rather than hinting this join; HERE the low
    // cardinality itself is the hazard, closed by [[saltedCellJoin]].
    val scored = saltedCellJoin(probes, assigned)
      .filter(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        CosineSim(col("q_emb"), col("n_emb")).as("cos"))
    // bounded-heap top-k (deterministic tie-break on neighbor_id), rank
    // assigned over the <= k rows per query that survive
    graft.ops.TopK.perKey(scored, Seq("q_id"),
      struct(col("cos"), -col("neighbor_id")), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .select("q_id", "rank", "neighbor_id", "cos")
  }

  /** nprobe → recall/cost ladder: one row per rung with recall@k of
    * [[searchTopK]] against the exact brute-force baseline AND the scan
    * volume the rung buys (Σ probed-cell sizes, the query's own vector
    * included) — the sizing read before fixing nprobe on a billion-vector
    * index. A rung with nprobe = C probes every cell and recalls 1.0 by
    * construction (the baked-in sanity row). Output: nprobe, n_relevant,
    * n_hits, recall, n_scanned.
    *
    * Scale: the corpus is assigned and SCORED ONCE at the maximum rung
    * with the probe rank carried ([[probeCellsRanked]]), each candidate
    * BANDED by its smallest containing rung, and the one corpus-scale
    * aggregation is a bounded-heap top-k per (query, band). From there the
    * plan stays a single LINEAR chain over bounded rows — each band-top
    * row explodes into the rungs it serves (rung candidate sets are
    * nested, and a set's top-k is the top-k of its bands' top-ks), one
    * more bounded top-k per (rung, query), then hits per rung via pair-
    * membership against the truth tag. Linearity is the point: a per-rung
    * union of filtered shares re-evaluates the scan per rung — filters
    * push BELOW a band aggregation (band is a grouping key), so exchange
    * reuse can never dedupe the branches. Measured at the ×10 probe: four
    * independent searchTopK subtrees 21 s, filter-below-topk sharing
    * 300 s (five full re-evaluations), this chain 6 s. When the max rung
    * probes every cell its top-k IS the exact baseline (truth tag rides
    * the same chain — the ground-truth scan is never paid twice);
    * otherwise the brute baseline unions in as the truth. Per-rung output
    * equals searchTopK's exactly (same candidate set, same (cos, id)
    * tie-break).
    *
    * Degenerate caveat: a rung whose probed cells contain no candidate at
    * all for ANY query would drop its row (inner join on the hit chain) —
    * unreachable on a populated index, where the best cell always holds
    * at least the query's own neighbors. */
  def probeSweep(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, rungs: Seq[Int]): DataFrame = {
    require(rungs.nonEmpty && rungs.forall(np => np >= 1 && np <= model.c),
      "probeSweep: every rung must be in [1, c]")
    require(rungs.distinct.size == rungs.size, "probeSweep: rungs must be distinct")
    val sortedRungs = rungs.sorted
    val maxR = sortedRungs.last
    val asg = assign(corpus, model)
      .select(col("ivf_cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"))
    // band = the smallest rung containing this candidate's probe rank
    val bandCol = sortedRungs.reverse.foldLeft(lit(-1)) { (acc, r) =>
      when(col("prn") <= r, lit(r)).otherwise(acc)
    }
    val bandTop = graft.ops.TopK.perKey(
      probeCellsRanked(queries, model, maxR)
        .join(asg, "ivf_cell")
        .filter(col("q_id") =!= col("neighbor_id"))
        .select(col("q_id"), bandCol.as("_band"), col("neighbor_id"),
          CosineSim(col("q_emb"), col("n_emb")).as("cos")),
      Seq("q_id", "_band"), struct(col("cos"), -col("neighbor_id")), k)
    // every rung this band-top row serves; -1 tags the exact baseline
    // (maxR == c: all cells probed, so the maxR top-k IS ground truth)
    val servedRungs = {
      val base = filter(typedLit(sortedRungs.toList), r => r >= col("_band"))
      if (maxR == model.c) concat(base, typedLit(List(-1))) else base
    }
    val rungTop = graft.ops.TopK.perKey(
      bandTop.withColumn("nprobe", explode(servedRungs)),
      Seq("nprobe", "q_id"), struct(col("cos"), -col("neighbor_id")), k)
      .select("nprobe", "q_id", "neighbor_id")
    val withTruth =
      if (maxR == model.c) rungTop
      else rungTop.unionByName(
        Similarity.bruteForceTopK(corpus, queries, k)
          .select(lit(-1).as("nprobe"), col("q_id"), col("neighbor_id")))
    // hit = this rung's pair is also a truth pair; relevant = truth count
    val hitCounts = withTruth.groupBy("q_id", "neighbor_id")
      .agg(collect_list(col("nprobe")).as("_rs"))
      .select(explode(col("_rs")).as("nprobe"),
        array_contains(col("_rs"), -1).cast("long").as("_hit"))
      .groupBy("nprobe").agg(sum("_hit").as("n_hits"))
    val allRows = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val rungHits = hitCounts
      .withColumn("n_relevant",
        max(when(col("nprobe") === -1, col("n_hits"))).over(allRows))
      .filter(col("nprobe") =!= -1)
    // scan volume: a probed cell's size counts toward every rung >= the
    // probe's rank (narrow rank/size chain, bounded by queries x c rows)
    val sizes = asg.groupBy("ivf_cell").agg(count(lit(1)).as("_cs"))
    val scanned = probeCellsRanked(queries, model, maxR)
      .select("prn", "ivf_cell")
      .join(sizes, "ivf_cell")
      .withColumn("nprobe",
        explode(filter(typedLit(sortedRungs.toList), r => r >= col("prn"))))
      .groupBy("nprobe").agg(sum("_cs").as("n_scanned"))
    rungHits.join(scanned, "nprobe")
      .select(col("nprobe").cast("long").as("nprobe"), col("n_relevant"),
        col("n_hits"),
        (col("n_hits").cast("double") / col("n_relevant").cast("double"))
          .as("recall"),
        col("n_scanned"))
  }
}
