package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

/** Product quantization (PQ) — the compressed-domain ANN tier beside brute
  * force (exact), sign-LSH (hash buckets) and IVF (cell pruning): the
  * embedding splits into `m` subvectors of `dsub` dims, each encoded as the
  * index of its best codeword (`ksub` per block), so a 64-dim float vector
  * stores as m small ints (~8 bytes vs 256 — the ×32 compression that makes
  * billion-vector candidate stores fit in memory).
  *
  * Search is asymmetric distance computation (ADC): each query precomputes
  * an m × ksub lookup table of subvector·codeword dots ONCE, and scoring a
  * candidate is m table lookups + adds — no float vector math per
  * candidate. At 100 TB that flips the scan economics: the corpus pass
  * reads 8-byte code rows (narrow columnar scan) instead of 256-byte
  * vectors, queries ride along broadcast with their LUTs, and the only
  * shuffle is the bounded-heap top-k (≤ k rows per query per partition).
  *
  * Everything is deterministic and engine-exact: the default codebook comes
  * from a closed-form small-integer formula (the same device as
  * [[Ivf.fixedModel]]), dots accumulate left-to-right in double, argmax
  * breaks ties on the first maximum — so the DuckDB oracle rebuilds every
  * code and every ADC score bit-for-bit.
  */
object Pq {

  /** codebook(b)(j) = codeword j of block b (dsub doubles). */
  case class Model(m: Int, dsub: Int, ksub: Int,
      codebook: Array[Array[Array[Double]]]) {
    require(codebook.length == m && codebook.forall(b =>
      b.length == ksub && b.forall(_.length == dsub)))
  }

  /** Codebook component formula, mirrored textually in the oracle SQL —
    * small ints so double arithmetic is exact in both engines. */
  def fixedComponent(b: Int, j: Int, d: Int): Int =
    ((b * 37 + j * 131 + d * 17 + 5) % 13) - 6

  /** Data-independent deterministic codebook (oracle-checkable). A k-means
    * codebook per block (train on residuals like a real PQ index) would
    * give tighter cells on real data — [[Ivf.train]] shows the bounded-
    * sample pattern to follow; the fixed model is the parity default. */
  def fixedModel(): Model =
    Model(8, 8, 16, Array.tabulate(8)(b => Array.tabulate(16)(j =>
      Array.tabulate(8)(d => fixedComponent(b, j, d).toDouble))))

  /** Left-to-right double dot of a subvector column against a literal
    * codeword via the native [[graft.functions.DotProduct]] — the
    * left-to-right accumulation order of `aggregate(zip_with(...))`, so
    * the oracle's list_sum(list_transform(list_zip(...))) is bit-identical
    * (NativeExprSpec pins the native↔HOF equality). */
  private def dotLit(sub: Column, cw: Array[Double]): Column =
    graft.functions.DotProduct(sub, typedLit(cw.toSeq))

  private def codeCol(b: Int) = s"pq_$b"

  /** Appends one small-int code column per block (`pq_0 .. pq_{m-1}`):
    * code = argmax over codewords of the subvector dot (FIRST max on ties —
    * array_position semantics, mirrored by DuckDB list_position). The dot
    * array materializes through a named column per block so argmax's two
    * references don't re-evaluate the ksub dots (the [[Ivf.argmaxCell]]
    * CollapseProject discipline). One narrow codegen-friendly map stage —
    * encoding 100 TB of vectors is a scan, nothing more. */
  def encode(df: DataFrame, model: Model,
      embCol: String = "embedding"): DataFrame = {
    val reserved = (0 until model.m).map(codeCol) :+ "__pq_sims"
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"Pq.encode: input must not contain reserved column(s) ${clash.mkString(", ")}")
    (0 until model.m).foldLeft(df) { (acc, b) =>
      val sub = slice(col(embCol), b * model.dsub + 1, model.dsub)
      acc
        .withColumn("__pq_sims",
          array(model.codebook(b).toIndexedSeq.map(cw => dotLit(sub, cw)): _*))
        .withColumn(codeCol(b),
          (array_position(col("__pq_sims"), array_max(col("__pq_sims"))) - 1)
            .cast("int"))
        .drop("__pq_sims")
    }
  }

  /** IVF-PQ top-k — the standard billion-scale composition (coarse cell
    * pruning × compressed-domain scoring): the corpus carries its IVF cell
    * AND its PQ codes; a query probes its `nprobe` best cells and scores
    * ONLY those cells' candidates, each by m LUT lookups. Cuts the scan by
    * ~C/nprobe on top of PQ's per-candidate economics — at corpus scale
    * the code store is read cell-partitioned (bucket by `ivf_cell` at
    * write time) so a probe touches only its cells' files. */
  def searchTopKIvf(corpus: DataFrame, queries: DataFrame, ivf: Ivf.Model,
      pq: Model, k: Int, nprobe: Int): DataFrame = {
    // the code table persists for the same reasons as in [[searchTopK]] —
    // it IS the stored index, and unpersisted its encode expressions can
    // be re-planned into the join output path
    val codes = encode(Ivf.assign(corpus, ivf), pq)
      .select(col("ivf_cell") +: col("vec_id").as("neighbor_id") +:
        (0 until pq.m).map(b => col(codeCol(b))): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    adcTopK(probeLuts(queries, ivf, pq, nprobe)
      .persist(StorageLevel.MEMORY_AND_DISK), codes, pq, k)
  }

  /** Per-query probe frame carrying the per-block ADC LUTs: q_id × nprobe
    * rows, each with `m` ksub-wide lookup arrays. Persisted by callers —
    * the m×ksub dots are per-QUERY work, and AQE's runtime replan was
    * measured re-evaluating them per CANDIDATE (4.3 s pass-1 static plan,
    * 200 s once the code-table cache fed the replanner); the persist
    * barrier pins LUT construction to once per probe. */
  private def probeLuts(queries: DataFrame, ivf: Ivf.Model, pq: Model,
      nprobe: Int): DataFrame =
    (0 until pq.m).foldLeft(Ivf.probeCells(queries, ivf, nprobe)) { (acc, b) =>
      acc.withColumn(s"__lut_$b",
        array(pq.codebook(b).toIndexedSeq.map(cw =>
          dotLit(slice(col("q_emb"), b * pq.dsub + 1, pq.dsub), cw)): _*))
    }.drop("q_emb")

  /** Cell-equi-join + LUT scoring + bounded-heap top-k over a probed LUT
    * frame and an (ivf_cell, neighbor_id, pq_*) code table. */
  private def adcTopK(probed: DataFrame, codes: DataFrame, pq: Model,
      k: Int): DataFrame = {
    val score = (0 until pq.m)
      .map(b => element_at(col(s"__lut_$b"), col(codeCol(b)) + 1))
      .reduce(_ + _)
    // (cell, salt) join — the Ivf.saltedCellJoin skew fix; C keys alone
    // cap the scored stream's parallelism at C tasks (LUT arrays ride
    // the ×salt probe replication: ~1 KB × queries × nprobe × salt,
    // trivial beside the scored stream it parallelizes)
    val scored = Ivf.saltedCellJoin(probed, codes)
      .filter(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), score.as("score"))
    graft.ops.TopK.perKey(scored, Seq("q_id"),
      struct(col("score"), -col("neighbor_id")), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))))
      .select("q_id", "rank", "neighbor_id", "score")
  }

  /** Write-time IVF cell layout for the PQ code store — the true 100 TB
    * read path: the corpus is assigned + encoded ONCE and written
    * hive-partitioned by `ivf_cell`, so a probe query's scan touches only
    * its probed cells' FILES (directory-level partition pruning — zero I/O
    * for the other ~C−nprobe cells). The store rows are (neighbor_id,
    * pq_0..pq_{m−1}) under their cell directory: ~9 small values per
    * vector, the ×32-compressed index PQ exists for. */
  def writeCellStore(corpus: DataFrame, ivf: Ivf.Model, pq: Model,
      path: String): Unit =
    graft.ops.Layout.writePartitioned(
      encode(Ivf.assign(corpus, ivf), pq, "embedding")
        .select(col("ivf_cell") +: col("vec_id").as("neighbor_id") +:
          (0 until pq.m).map(b => col(codeCol(b))): _*),
      path, Seq("ivf_cell"))

  /** IVF-PQ top-k over a [[writeCellStore]] store: the probe set's distinct
    * cells (≤ C ints — bounded, driver-safe) become a static partition
    * filter, so the parquet scan reads ONLY the probed cells' files
    * (LayoutSpec pins the pruning in the executed plan). Functionally
    * identical to [[searchTopKIvf]] on the same corpus/models. */
  def searchTopKIvfStore(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, ivf: Ivf.Model, pq: Model, k: Int,
      nprobe: Int): DataFrame = {
    val probed = probeLuts(queries, ivf, pq, nprobe)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // distinct probed cells: bounded by the centroid count C (kilobytes),
    // collected so the cell restriction is a LITERAL predicate on the
    // partition column — static directory pruning, no join needed to
    // decide which files to read
    val cells = probed.select("ivf_cell").distinct().collect()
      .map(_.getInt(0)).sorted.toIndexedSeq
    val codes = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(cells: _*))
    adcTopK(probed, codes, pq, k)
  }

  /** ADC top-k: corpus codes (ids + m ints — the compressed store) scanned
    * once against broadcast queries carrying per-block LUTs; candidate
    * score = m LUT lookups summed left-to-right. Ties break on neighbor_id
    * via the bounded-heap [[graft.ops.TopK]] operator like every ANN path
    * here. Scores are ADC approximations of the dot product (not cosine) —
    * rank quality, not metric parity, is the contract. */
  def searchTopK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int): DataFrame = {
    // Persist the code table: it is the STORED index in a real PQ
    // deployment (encode once, scan codes many times), it is tiny
    // (id + m small ints per vector — the whole point of PQ), and the
    // barrier pins the encode work to one pass per corpus row. Without
    // it, AQE's runtime re-planning of the scored stage can inline the
    // m×ksub encode dots into the join OUTPUT projection — measured
    // 260 s vs 3.4 s at the ×10 probe (the dots re-ran per candidate,
    // not per vector). Session-lifetime persist, like the dedup
    // families'.
    val codes = encode(corpus, model)
      .select(col("vec_id").as("neighbor_id") +:
        (0 until model.m).map(b => col(codeCol(b))): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val q = (0 until model.m).foldLeft(
      queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))) {
      (acc, b) =>
        acc.withColumn(s"__lut_$b",
          array(model.codebook(b).toIndexedSeq.map(cw =>
            dotLit(slice(col("q_emb"), b * model.dsub + 1, model.dsub), cw)): _*))
    }.drop("q_emb")
    val score = (0 until model.m)
      .map(b => element_at(col(s"__lut_$b"), col(codeCol(b)) + 1))
      .reduce(_ + _)
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), score.as("score"))
    graft.ops.TopK.perKey(scored, Seq("q_id"),
      struct(col("score"), -col("neighbor_id")), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("neighbor_id"))))
      .select("q_id", "rank", "neighbor_id", "score")
  }
}
