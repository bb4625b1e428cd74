package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: signature computation is a narrow map (array expressions
  * inside codegen — no explode, no shuffle); the only shuffles are the
  * LSH band-bucket self-join (keyed on (band, band_hash), so candidate
  * generation is O(collisions), never O(n²)) and the final per-pair verify.
  * At 100 TB the corpus never materializes pairwise.
  *
  * Persistence contract: [[minhashPairs]], [[jaccardPairs]] and
  * [[contamination]] persist a narrow intermediate (the signature table /
  * exploded shingle index) that the returned lazy frame reads more than
  * once, and deliberately do NOT unpersist it — the result would
  * recompute the expensive narrow stage on every downstream action. Spark's
  * CacheManager dedupes identical plans, so repeated calls over the same
  * input reuse one cache entry. Library intermediates stay persisted for
  * the session; a caller that sweeps MANY DISTINCT corpora in one session
  * frees them with `spark.catalog.clearCache()` after consuming each
  * result, so they do not accumulate until executor storage evicts under
  * pressure.
  */
object Dedup {
  /** LSH banding of the 64-hash signature
    * ([[graft.functions.PortableTextSig.NumHashes]] = Bands × RowsPerBand). */
  val Bands = 16
  val RowsPerBand = 4

  /** Exact dedup: canonical survivor per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast(BinaryType)).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Paragraph-level exact dedup — the C4/Gopher recipe granularity: the
    * standard pipelines drop REPEATED PARAGRAPHS (boilerplate, licenses,
    * navigation chrome) across the whole corpus, not just whole-document
    * duplicates. Paragraphs are blank-line (`\n\n`) splits;
    * the canonical survivor of each distinct paragraph is its occurrence
    * in the LOWEST doc id.
    *
    * Output per document: total paragraph count (`n_paras`), distinct
    * paragraphs (`n_unique`), and how many of its distinct paragraphs
    * survive corpus-wide dedup (`n_kept`) — the inputs to a
    * keep/strip-boilerplate filter.
    *
    * Scale: explode is narrow; both aggregations key on the paragraph hash
    * / (doc, hash) with map-side partials, and the min-owner join moves
    * (hash, doc_id) rows only — the same bounded-agg shape as [[exact]],
    * one explode wider. No windows, no per-doc buffers. */
  def paraDedup(docs: DataFrame): DataFrame = {
    val paras = docs.select(col("doc_id"),
        explode(split(col("text"), "\\n\\n")).as("para"))
      .filter(length(trim(col("para"))) > 0)
      .select(col("doc_id"), md5(col("para").cast(BinaryType)).as("ph"))
    val perDoc = paras.groupBy("doc_id", "ph").agg(count(lit(1)).as("n_occ"))
    val owner = perDoc.groupBy("ph").agg(min("doc_id").as("keep_doc"))
    perDoc.join(owner, "ph")
      .groupBy("doc_id")
      .agg(sum("n_occ").as("n_paras"), count(lit(1)).as("n_unique"),
        count(when(col("keep_doc") === col("doc_id"), 1)).as("n_kept"))
  }

  /** C4-style boilerplate STRIP (the deliverable [[paraDedup]] only
    * reports stats for): a paragraph is boilerplate when it appears in at
    * least 10 distinct documents (licenses, navigation chrome,
    * subscribe banners), and the cleaned document is the remaining
    * paragraphs re-joined in their original order. Output per doc:
    * `n_paras`, `n_dropped`, and `clean_hash` (md5 of the re-joined
    * cleaned text — the full text stays distributed; callers wanting the
    * cleaned string swap the final md5 for the join).
    *
    * Scale: explode is narrow; the document-frequency aggregate keys on
    * the paragraph hash with map-side partials and its join back moves
    * only (hash, df) pairs; re-assembly is ONE shuffle keyed on doc_id
    * whose per-group state is the document's own paragraphs — nothing
    * corpus-wide ever sits in one task. */
  def stripBoilerplate(docs: DataFrame): DataFrame = {
    val paras = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\n\\n")).as(Seq("pos", "para")))
      .filter(length(trim(col("para"))) > 0)
      .select(col("doc_id"), col("pos"), col("para"),
        md5(col("para").cast(BinaryType)).as("ph"))
    val docFreq = paras.select("ph", "doc_id").distinct()
      .groupBy("ph").agg(count(lit(1)).as("df"))
    paras.join(docFreq, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("df") >= 10, 1)).as("n_dropped"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("df") < 10, struct(col("pos"), col("para"))))),
            p => p.getField("para")),
          "\n\n").cast(BinaryType)).as("clean_hash"))
  }

  /** Word 3-gram shingles (distinct); short docs fall back to the whole
    * token array joined.
    *
    * PERF: built from slice+zip_with so the token array appears only in HOF
    * *argument* position (evaluated once per row). Indexing tokens via
    * `element_at(toks, i)` inside a lambda re-evaluates the whole
    * split-expression per element under interpreted HOF eval — O(tokens²)
    * regex work per row (measured: 900 s/core for 5 500 docs). */
  def shingles(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val n = size(toks)
    val tri = zip_with(
      zip_with(slice(toks, lit(1), n - 2), slice(toks, lit(2), n - 2),
        (a, b) => concat(a, lit(" "), b)),
      slice(toks, lit(3), n - 2),
      (ab, c) => concat(ab, lit(" "), c))
    array_distinct(when(n >= 3, tri).otherwise(array(concat_ws(" ", toks))))
  }

  /** Engine-portable base hash: the first 15 hex chars of md5 parsed as a
    * 60-bit integer (DuckDB: `CAST('0x' || substring(md5(s),1,15) AS
    * BIGINT)`), optionally folded into [0, 2^31). Every signature in this
    * object hashes shingles with it, so the DuckDB oracle reproduces them
    * bit for bit. */
  def portableHash(s: Column): Column =
    conv(substring(md5(s.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)

  /** Engine-portable MinHash signature via the native codegen expression
    * [[graft.functions.PortableMinHashSig]] — the affine family over
    * [[portableHash]] base hashes, one fused pass over the shingles. */
  def minhashSignaturePortable(text: Column): Column =
    graft.functions.PortableMinHashSig(shingles(text))

  /** Per-(bucket) occupancy cap for the banded self-joins: buckets at or
    * under the cap emit ALL pairs; buckets over it emit STAR edges to the
    * bucket's min id only. The star keeps every over-cap member connected
    * to one representative (linear output per bucket instead of quadratic),
    * so connected-components dedup over the pairs drops the same mega-
    * cluster — the skew guard that makes a boilerplate page duplicated 10⁶×
    * cost 10⁶ candidate rows, not 5·10¹¹. Same family as [[jaccardPairs]]'
    * maxDf=100 and phashPairs' 64; chosen larger (256) because band buckets
    * are verified afterwards (pair-level recall inside a ≤cap bucket stays
    * pigeonhole-exact) and an over-cap band bucket is in practice an
    * exact-dup mega-cluster whose star edges all verify. */
  val MaxBandBucket = 256

  /** Hub-shingle cap of the shingle inverted index ([[jaccardPairs]],
    * [[containmentPairs]], [[contamination]]): a shingle in more than
    * this many documents is dropped before the pair join. */
  private val MaxShingleDf = 100

  /** Hybrid all-pairs/star edges from an exploded bucket table
    * `(bucket key cols..., id)`: per bucket, occupancy ≤ `maxBucket` emits
    * every unordered pair, occupancy > `maxBucket` emits (min id, member)
    * star edges — output per bucket is min(n(n−1)/2, bounded) ∪ (n−1),
    * never unconditionally quadratic. Shared by the MinHash and SimHash
    * band miners; `Int.MaxValue` recovers the exact all-pairs form for
    * calibration-scale runs. */
  private[text] def cappedBucketPairs(buckets: DataFrame, keyCols: Seq[String],
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be at least 2")
    // bounded aggregate (map-side partials): per-bucket occupancy + min id.
    // Joined back to BOTH sides of the self-join *before* it runs — the
    // whole point is that over-cap buckets never enter the quadratic join.
    val stats = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), min(col("id")).as("_m"))
    val tagged = buckets.join(stats, keyCols)
    // _n >= 2: singleton buckets (the vast majority of a healthy banding)
    // cannot form pairs — dropping them before the self-join shrinks its
    // input to just the colliding rows
    val small = tagged.filter(col("_n") >= 2 && col("_n") <= maxBucket)
    val allPairs = small.select(keyCols.map(col) :+ col("id").as("a"): _*)
      .join(small.select(keyCols.map(col) :+ col("id").as("b"): _*), keyCols)
      .filter(col("a") < col("b"))
      .select("a", "b")
    val star = tagged.filter(col("_n") > maxBucket && col("id") =!= col("_m"))
      .select(col("_m").as("a"), col("id").as("b"))
    allPairs.unionByName(star).distinct()
  }

  /** The banded `(id, band, band_hash)` table behind the MinHash miners —
    * shared by [[lshCandidatesFromSigs]] and [[bandStats]]. */
  private def bandedSigs(sigs: DataFrame): DataFrame = {
    // bands as an explicit 16-element array: `sig` appears 16× in argument
    // position, so CollapseProject keeps it materialized (a single lambda-
    // captured reference would re-run the signature aggregate per band)
    val bandArr = array((0 until Bands).map(b =>
      concat_ws(",", slice(col("sig"), lit(b * RowsPerBand + 1), lit(RowsPerBand)))): _*)
    sigs.select(col("id"), posexplode(bandArr))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** LSH candidate pairs from a precomputed `(id, sig)` frame: band the
    * signature (16 bands × 4 rows), bucket-join on (band, band-key), emit
    * each unordered pair once. Band keys are the joined band values
    * (bucketing only needs equality). Buckets over `maxBucket`
    * emit star edges to the bucket min instead of all pairs (see
    * [[MaxBandBucket]]) — pass `Int.MaxValue` for the exact all-pairs form
    * at calibration scale. */
  def lshCandidatesFromSigs(sigs: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame =
    cappedBucketPairs(bandedSigs(sigs), Seq("band", "band_hash"), maxBucket)

  /** Band-bucket occupancy report for BOTH signature pair miners — the
    * dropped-mass accounting behind [[MaxBandBucket]]: per miner, bucket
    * count, over-cap bucket count, the worst bucket, the exact all-pairs
    * candidate mass Σ n(n−1)/2, and the mass the capped/star form actually
    * emits (≤cap buckets quadratic, over-cap buckets n−1). The sizing read
    * an operator checks BEFORE a 100 TB dedup pass: `pairs_emitted` is the
    * PRE-DEDUP candidate mass summed per band — [[cappedBucketPairs]]
    * dedupes across bands afterwards, so the verify join's true input is
    * ≤ `pairs_emitted` — and `pairs_exact − pairs_emitted` is what the
    * star reduction saved. Star-edge verify accounting (the round-15
    * hardening): `n_star_edges` counts the DISTINCT (bucket-min, member)
    * edges over-cap buckets emit and `n_star_verified` how many survive
    * the miner's own verify (n_agree ≥ `minAgree` / hamming ≤
    * `maxHamming`) — a shortfall measures exactly how far the corpus is
    * from the "over-cap buckets are exact-dup mega-clusters" assumption
    * the cap's recall argument rests on, instead of assuming it. Bounded
    * aggregates per miner plus one star-edge-sized verify join. */
  def bandStats(docs: DataFrame, maxBucket: Int = MaxBandBucket,
      minAgree: Int = 20, maxHamming: Int = 3): DataFrame = {
    def report(miner: String, buckets: DataFrame,
        keyCols: Seq[String]): DataFrame =
      buckets.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("_n") > maxBucket, 1L).otherwise(0L))
            .as("n_overcap_buckets"),
          max(col("_n")).as("max_occupancy"),
          // `div` keeps the mass integer-exact (n(n−1)/2 at mega-bucket
          // occupancy overflows double's 2^53 long before it overflows long)
          sum(expr("_n * (_n - 1) div 2")).as("pairs_exact"),
          sum(when(col("_n") <= maxBucket, expr("_n * (_n - 1) div 2"))
            .otherwise(col("_n") - 1)).as("pairs_emitted"))
        .select(lit(miner).as("miner"), col("n_buckets"),
          col("n_overcap_buckets"), col("max_occupancy"),
          col("pairs_exact"), col("pairs_emitted"))
    // The DISTINCT (bucket-min, member) edges over-cap buckets emit —
    // the same construction as [[cappedBucketPairs]]' star branch, so the
    // count here IS the candidate set the miner actually adds for them.
    def starEdges(buckets: DataFrame, keyCols: Seq[String]): DataFrame = {
      val stats = buckets.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_n"), min(col("id")).as("_m"))
      buckets.join(stats, keyCols)
        .filter(col("_n") > maxBucket && col("id") =!= col("_m"))
        .select(col("_m").as("a"), col("id").as("b")).distinct()
    }
    // 1-row (n_star_edges, n_star_verified) under the given verdict column
    def starCounts(edges: DataFrame, verified: Column): DataFrame =
      edges.agg(count(lit(1)).as("n_star_edges"),
        sum(when(verified, 1L).otherwise(0L)).as("n_star_verified"))
        .select(col("n_star_edges"),
          coalesce(col("n_star_verified"), lit(0L)).as("n_star_verified"))
    val sigs = docs
      .withColumn("sig", minhashSignaturePortable(col("text")))
      .select(col("doc_id").as("sid"), col("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mh = bandedSigs(sigs.select(col("sid").as("id"), col("sig")))
    val mhStars = starCounts(
      starEdges(mh, Seq("band", "band_hash"))
        .join(sigs.select(col("sid").as("a"), col("sig").as("sig_a")), "a")
        .join(sigs.select(col("sid").as("b"), col("sig").as("sig_b")), "b")
        .withColumn("n_agree",
          aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0),
            (acc, v) => acc + v)),
      col("n_agree") >= minAgree)
    val shSigs = withSimhash(docs)
      .select(col("doc_id").as("id"), col("simhash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shSigs
      .select(col("id"),
        explode(array((0 until 4).map(b => struct(lit(b).as("bd"),
          shiftrightunsigned(col("simhash"), 15 * b)
            .bitwiseAND(lit(32767L)).as("bkey"))): _*)).as("_band"))
      .select(col("id"), col("_band.bd").as("bd"), col("_band.bkey").as("bkey"))
    val shStars = starCounts(
      starEdges(sh, Seq("bd", "bkey"))
        .join(shSigs.select(col("id").as("a"), col("simhash").as("_sa")), "a")
        .join(shSigs.select(col("id").as("b"), col("simhash").as("_sb")), "b")
        .withColumn("hamming", hamming(col("_sa"), col("_sb"))),
      col("hamming") <= maxHamming)
    report("minhash", mh, Seq("band", "band_hash")).crossJoin(mhStars)
      .unionByName(report("simhash", sh, Seq("bd", "bkey")).crossJoin(shStars))
  }

  /** Candidate pairs + estimated Jaccard from signature agreement; keep
    * pairs with est ≥ threshold (num agreeing hashes ≥ thresh64/64).
    * Signatures are [[minhashSignaturePortable]]'s, DuckDB-reproducible. */
  def minhashPairs(docs: DataFrame, minAgree: Int = 32,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    // Persist the (id, sig) table: it feeds the band join twice and the
    // verify join twice — without it the signature aggregate (the expensive
    // narrow stage) runs 3-4×. Size is id + 64 longs per doc — tiny
    // relative to the corpus, safe to persist at any scale.
    val sigs = docs
      .withColumn("sig", minhashSignaturePortable(col("text")))
      .select(col("doc_id").as("sid"), col("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    lshCandidatesFromSigs(sigs.select(col("sid").as("id"), col("sig")), maxBucket)
      .join(sigs.select(col("sid").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("sid").as("b"), col("sig").as("sig_b")), "b")
      .withColumn("n_agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("n_agree") >= minAgree)
      .select("a", "b", "n_agree")
  }

  /** SimHash over shingle hashes: per-bit majority vote of ±1 over the
    * 60 bits of [[portableHash]] (DuckDB-reproducible), computed by the
    * native codegen expression [[graft.functions.PortableSimHash]]. */
  def withSimhash(docs: DataFrame): DataFrame =
    docs.withColumn("simhash",
      graft.functions.PortableSimHash(shingles(col("text"))))

  /** Hamming distance between two simhash longs (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS via banded Hamming LSH — the pairing query
    * [[withSimhash]]'s fingerprints exist for: the 60-bit portable
    * simhash splits into 4 bands of 15 bits, candidates collide on any
    * band, and the exact Hamming distance (one xor + popcount) verifies
    * ≤ 3. Pigeonhole gives GUARANTEED recall at this banding:
    * a pair within Hamming 3 differs in at most 3 of the 4 bands, so at
    * least one band matches exactly — no probabilistic miss, unlike
    * MinHash banding.
    *
    * Scale: the signature table persists (one pass of the expensive
    * shingle/vote work); band join is the inverted-index shape — work
    * O(band collisions), never all-pairs; the verify is integer-only.
    * Near-identical docs (the use case) collide on all 4 bands, so the
    * distinct() pre-verify dedups candidate multiplicity. Buckets over
    * [[MaxBandBucket]] emit star edges to the bucket min instead of all
    * pairs: the pigeonhole guarantee then holds for pairs whose shared
    * bucket is ≤ cap; over-cap buckets (in practice exact-dup
    * mega-clusters, hamming 0 to the representative) stay connected
    * through the star — [[bandStats]] reports how many there are. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sh = withSimhash(docs)
      .select(col("doc_id").as("id"), col("simhash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sh.select(col("id"),
        explode(array((0 until 4).map(b => struct(lit(b).as("bd"),
          shiftrightunsigned(col("simhash"), 15 * b)
            .bitwiseAND(lit(32767L)).as("bkey"))): _*)).as("_band"))
      .select(col("id"), col("_band.bd").as("bd"), col("_band.bkey").as("bkey"))
    cappedBucketPairs(banded, Seq("bd", "bkey"), MaxBandBucket)
      .join(sh.select(col("id").as("a"), col("simhash").as("_sa")), "a")
      .join(sh.select(col("id").as("b"), col("simhash").as("_sb")), "b")
      .select(col("a"), col("b"), hamming(col("_sa"), col("_sb")).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    * explode shingles → self-join per shingle → per-pair intersection
    * count; union from per-doc distinct counts. Division-free output:
    * (a, b, inter, union) with 2*inter ≥ union (Jaccard ≥ 1/3 kept,
    * caller filters tighter). Hub shingles are capped to bound the join
    * (a shingle shared by > [[MaxShingleDf]] docs is dropped — standard
    * inverted-index trick; at 100 TB this is what keeps the op
    * near-linear).
    *
    * The cap bounds the pair join, not the document-frequency count:
    * the df comes from a count window partitioned by shingle, so every
    * row of a hub shingle passes through ONE window buffer, in one task,
    * before the cap's filter drops it. The buffer spills to disk past
    * `spark.sql.windowExec.buffer.spill.threshold` rows, so a hub costs
    * disk and one task's time, not heap; the op assumes no shingle's
    * posting list is a large share of the corpus. */
  def jaccardPairs(docs: DataFrame): DataFrame =
    shingleIntersections(docs)
      .withColumn("union_n", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("union_n"))
      .select("a", "b", "inter", "union_n")

  /** Asymmetric shingle CONTAINMENT pairs — the near-dup signal Jaccard
    * misses: an excerpt/quote/subset doc shares nearly ALL of its own
    * shingles with its source while the symmetric Jaccard can sit at ~0.5
    * or below. Keeps pairs where `inter / min(n_a, n_b) ≥ 0.8`
    * (threshold multiplicative — integer-only; the reported containment is
    * ONE exact-int division). Same de-hubbed inverted index, same
    * [[MaxShingleDf]] cap, same O(collisions) bound as [[jaccardPairs]],
    * and the same hub-size assumption: each hub shingle's rows pass
    * through one window buffer (spilling past
    * `spark.sql.windowExec.buffer.spill.threshold`) before the cap's
    * filter drops them.
    *
    * Scale: identical posture to [[jaccardPairs]] — the two ops share the
    * [[shingleIntersections]] core, so running both against the same
    * corpus reuses the persisted index via plan-identity caching. */
  def containmentPairs(docs: DataFrame): DataFrame =
    shingleIntersections(docs)
      .filter(col("inter") * 1000 >= least(col("na"), col("nb")) * 800)
      .select(col("a"), col("b"), col("inter"),
        col("na").cast(LongType).as("na"), col("nb").cast(LongType).as("nb"),
        (col("inter").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType)).as("containment"))

  /** Shared core of [[jaccardPairs]] / [[containmentPairs]]: de-hubbed
    * inverted shingle index → per-pair intersection counts with both
    * docs' distinct-shingle counts carried through the aggregation. */
  private def shingleIntersections(docs: DataFrame): DataFrame = {
    // Per-doc distinct-shingle count rides ALONG the exploded index (size
    // of the shingle array, same narrow map), so there is no per-doc counts
    // aggregation and no (a)/(b) count joins downstream — two fewer
    // shuffles than the textbook inverted-index formulation.
    val withSh = docs.select(col("doc_id").as("id"),
      shingles(col("text")).as("shs"))
    val sh = withSh.select(col("id"),
      size(col("shs")).as("n_sh"), explode(col("shs")).as("s"))
    // De-hubbing as ONE pass (round 19): the document frequency comes from
    // a count window PARTITIONED BY the shingle — the same exchange the
    // pair self-join needs anyway — instead of the previous groupBy-count +
    // keep-set join, which (a) shuffled the index TWICE (once partially
    // aggregated for the df counts, once in full for the join) and (b)
    // needed TWO O(corpus-token) persists (raw + de-hubbed) to keep the
    // shingle extraction single-run. Only the de-hubbed index persists now
    // — HALF the round-18 cache footprint, which is what let pass-2
    // revisits of the dedup family survive an 8g-class heap without
    // reading evicted blocks (guide §5) — and the cached frame comes out
    // hash-partitioned (and sorted) by `s`, so the self-join below adds NO
    // exchange and NO sort on either side. Rows are narrow (two longs + a
    // ~25-byte shingle), O(collisions) join bound unchanged.
    val w = Window.partitionBy("s")
    val filtered =
      sh.withColumn("_df", count(lit(1)).over(w))
        .filter(col("_df") <= MaxShingleDf).drop("_df")
        .persist(StorageLevel.MEMORY_AND_DISK)
    val inter = filtered.select(col("s"), col("id").as("a"), col("n_sh").as("na"))
      .join(filtered.select(col("s"), col("id").as("b"), col("n_sh").as("nb")), "s")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      // na/nb are functionally dependent on a/b — carry them through the
      // pair aggregation instead of re-joining per-doc counts
      .agg(count(lit(1)).as("inter"), first("na").as("na"), first("nb").as("nb"))
    inter
  }

  /** Connected components over an undirected pair list — the clustering
    * step that turns near-dup PAIRS into dedup GROUPS (cluster id = min
    * member id; survivors are the rows where `doc_id == cluster_id`).
    *
    * Iterative min-label propagation: each round every vertex takes the
    * min of its own and its neighbors' labels; converges to the component
    * min in O(component diameter) rounds. Near-dup clusters are
    * near-cliques (diameter 1-2), so 1-2 rounds in practice; a cap of 20
    * rounds bounds pathological chains.
    *
    * Scale: DataFrame-only (no GraphX/RDDs, no driver collect) — per round
    * one shuffle join (edges ⋈ labels) and one per-vertex min aggregate;
    * the edge list is persisted once and label frames swap each round. The
    * driver issues exactly ONE action per round: the round's aggregate
    * computes the pre- and post-propagation label sums together, and since
    * labels only ever decrease, sum(new) == sum(old) proves the fixpoint —
    * no separate up-front sum, no per-round diff join. O(diameter) driver-
    * synchronized jobs total — the standard trade for CC on DataFrames.
    *
    * Persistence contract: the returned labels frame is backed by a LOCAL
    * CHECKPOINT (lineage-free persisted RDD blocks — see the storage note
    * in the body), so downstream actions scan materialized blocks without
    * any recompute. Those blocks live for the session: they are no
    * CacheManager entry, so `spark.catalog.clearCache()` (which frees the
    * library's other intermediates) leaves them in place. All per-round
    * intermediates and the edge list are freed here. The fixpoint runs AT
    * CALL TIME (driver-synchronized rounds), so callers deriving several
    * reports from one clustering — survivors, cluster sizes,
    * best-survivor argmax — should call this once and reuse the returned
    * frame, not re-call per report. */
  def components(pairs: DataFrame): DataFrame =
    componentsWithStats(pairs).labels

  /** Result of [[componentsWithStats]]: final labels + convergence info. */
  final case class ComponentsResult(labels: DataFrame, rounds: Int,
      converged: Boolean)

  /** [[components]] with the round count and convergence flag exposed. */
  def componentsWithStats(pairs: DataFrame): ComponentsResult = {
    // ITERATION STORAGE: per-round LOCAL CHECKPOINTS, not cache entries.
    // Spark's CacheManager re-compiles (and drops the materialized blocks
    // of) every cached entry whose plan references an entry being
    // unpersisted — so a persist-per-round loop can never free round k-1
    // without invalidating round k, and the final labels cache dies with
    // the last round's unpersist (measured: every downstream action then
    // re-ran the fixpoint tail). localCheckpoint truncates lineage into
    // plain persisted RDD blocks with NO CacheManager entry, so each
    // round's blocks are freed explicitly ([[CheckpointBridge]]) the
    // moment the next round is materialized, and the returned labels are
    // lineage-free — nothing later can invalidate them. The standard
    // iterative-graph trade (GraphFrames CC does the same): local
    // checkpoints give up lineage-based recovery, so an executor loss
    // mid-fixpoint fails the job (retry re-runs it) — acceptable for a
    // bounded O(diameter)-round batch op.
    import org.apache.spark.sql.graft.CheckpointBridge
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col("a").as("u"), col("b").as("v"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
      .distinct().persist(lvl)
    // initialization fused with the first propagation round: every vertex
    // starts at min(self, neighbors) — one round fewer for the common
    // pair/clique components (bidirectional edges ⇒ every vertex is a `u`)
    var ck = edges.groupBy(col("u").as("id")).agg(min("v").as("nv"))
      .select(col("id"), least(col("id"), col("nv")).as("label"))
      .localCheckpoint(true)
    var labels = ck
    var iters = 0
    var converged = false
    while (!converged && iters < 20) {
      val nmin = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("id")).agg(min("vl").as("nmin"))
      // eager checkpoint = the round's one heavy action; the convergence
      // sums are a cheap second scan of the fresh checkpoint blocks.
      // coalesce guards the empty-graph case (sum over zero rows is NULL).
      val next = labels.join(nmin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(true)
      val sums = next.agg(
        coalesce(sum("label"), lit(0L)).as("s_new"),
        coalesce(sum("old_label"), lit(0L)).as("s_old")).head()
      converged = sums.getLong(0) == sums.getLong(1)
      // `next` is self-contained — the previous round's blocks can go now
      CheckpointBridge.release(ck)
      ck = next
      labels = next.select("id", "label")
      iters += 1
    }
    if (!converged)
      // a truncated fixpoint silently diverges from exact CC — make it loud
      System.err.println(s"[graft] Dedup.components: label propagation did " +
        s"NOT converge within 20=20 rounds; cluster labels may " +
        s"be split. Raise 20 for long-chain graphs.")
    edges.unpersist()
    // the result is a projection of the final checkpoint — lineage-free,
    // so later unpersists can't invalidate it
    ComponentsResult(
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      iters, converged)
  }

  /** Near-dup survivors — the dedup DELIVERABLE that [[components]]' labels
    * imply: every corpus doc with its cluster id (itself when it joined no
    * near-dup pair) and the keep flag (`survivor` = it IS its cluster's
    * canonical min-id member). Downstream pipelines filter
    * `survivor = true` to materialize the deduplicated corpus.
    * Scale: one left join keyed on doc id against the labels frame —
    * labels hold only docs that appeared in a pair, so the join's small
    * side is the near-dup subset, not the corpus. */
  def survivors(corpus: DataFrame, labels: DataFrame): DataFrame =
    corpus.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
          .as("survivor"))

  /** QUALITY-AWARE survivor selection — the production refinement of
    * [[survivors]]' min-id rule: within each near-dup cluster keep the
    * member with the highest `quality` value (ties → smallest id), e.g.
    * keep-the-LONGEST-version of a page instead of
    * keep-the-first-crawled. `quality` must be numeric (required loudly
    * — fractional model scores in [0, 1] such as `linearScore` output
    * keep their full precision: no integral cast anywhere) and the id
    * column may be any orderable type (string ids tie-break fine: the
    * ordering is an ascending struct, never a unary negation). Output
    * matches [[survivors]]: (doc_id, cluster_id, survivor).
    *
    * Scale: the per-cluster argmax goes through the bounded-heap
    * [[graft.ops.TopK.perKey]] (k = 1) — never a rank window over the
    * corpus (cluster sizes are unbounded in a crawl: a boilerplate
    * cluster can hold millions of members); the winner list (one row per
    * cluster) joins back hash-keyed on cluster_id. */
  def bestSurvivors(corpus: DataFrame, labels: DataFrame,
      quality: Column): DataFrame = {
    val lab = corpus
      .select(col("doc_id"), quality.as("_q"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("_q"))
    val qType = lab.schema("_q").dataType
    require(qType.isInstanceOf[NumericType],
      s"bestSurvivors: quality must be numeric (got ${qType.simpleString}) " +
        "— a silent cast would truncate fractional scores to 0")
    // ascending keep-1 on (-quality, id): smallest negated quality = the
    // highest quality; ties fall to the smallest id under the struct's
    // natural second-field ordering, which works for ANY orderable id type
    val best = graft.ops.TopK.perKey(lab, Seq("cluster_id"),
      struct(negate(col("_q")), col("doc_id")), 1, descending = false)
      .select(col("cluster_id"), col("doc_id").as("_best"))
    lab.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("_best")).as("survivor"))
  }

  /** Per-group near-duplication ATTRIBUTION — the report a curation team
    * reads after a dedup pass: for each group (source / domain / crawl
    * snapshot), how many of its docs sit in a multi-member cluster, how
    * many lose the min-id survivorship race, and how many chars of
    * storage those losers represent. This is what turns "the corpus is
    * 12% near-dup" into "src7 contributes half the duplicate mass" — the
    * actionable per-feed signal (throttle the feed, fix the crawler).
    *
    * `labels` is a [[components]] frame (doc_id, cluster_id); docs absent
    * from it are singletons. Output: (group, n_docs, n_dup_docs,
    * n_wasted, wasted_chars) — `n_dup_docs` counts members of size>1
    * clusters, `n_wasted` the non-survivors among them.
    *
    * Scale: one hash join to labels, one cluster-keyed aggregate bounded
    * by cluster count, one join back, one group-keyed aggregate bounded
    * by group count — all map-side-partial friendly, nothing all-pairs
    * (the pair work already happened in the clustering). */
  def dupAttribution(corpus: DataFrame, labels: DataFrame): DataFrame = {
    val asg = corpus
      .select(col("doc_id"), col("source").as("_grp"),
        length(col("text")).cast(LongType).as("_len"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_grp"), col("_len"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = asg.groupBy("cluster_id")
      .agg(count(lit(1)).as("_sz"), min("doc_id").as("_keep"))
    asg.join(sizes, "cluster_id")
      .groupBy(col("_grp").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_sz") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("doc_id") =!= col("_keep"), 1L).otherwise(0L))
          .as("n_wasted"),
        sum(when(col("doc_id") =!= col("_keep"), col("_len"))
          .otherwise(0L)).as("wasted_chars"))
  }

  /** Vote-threshold calibration sweep for MinHash dedup — the text twin of
    * [[graft.text.Similarity.semDedupSweep]]: for each candidate
    * `min_agree` vote threshold (of the 64 signature slots), how many
    * banded candidate pairs clear it and how many docs the smaller-id rule
    * would drop. One row per threshold (min_agree, n_pairs, n_dropped,
    * n_kept) — the drop-curve that picks the verification bar BEFORE
    * committing a 100 TB dedup pass.
    *
    * Scale: signatures + band candidates + slot agreement are computed
    * ONCE (exactly [[minhashPairs]] at the laxest threshold); each scored
    * pair fans out to the thresholds it clears via an in-row explode
    * (|thresholds| is a handful) and two bounded aggregates finish. The
    * sweep costs one dedup pass, not |thresholds| passes. The corpus total
    * rides the plan as a cross-joined 1-row aggregate (the
    * [[graft.ops.Sampling.tokenBudgetMix]] pattern) — no eager count()
    * action, so the whole sweep is ONE job. */
  def minhashSweep(docs: DataFrame, thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds == thresholds.sorted && thresholds.distinct == thresholds,
      "thresholds must be strictly ascending")
    val spark = docs.sparkSession
    val nDocs = docs.agg(count(lit(1)).as("_n_docs"))
    val pairs = minhashPairs(docs, minAgree = thresholds.head)
    val hits = pairs
      .select(col("b"),
        explode(array(thresholds.map(t => lit(t)): _*)).as("min_agree"),
        col("n_agree"))
      .filter(col("n_agree") >= col("min_agree"))
      .groupBy("min_agree")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("b")).as("n_dropped"))
    import spark.implicits._
    thresholds.toDF("min_agree")
      .join(hits, Seq("min_agree"), "left")
      .crossJoin(nDocs)
      .select(col("min_agree"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("_n_docs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  /** Cross-group near-duplication OVERLAP matrix — the syndication
    * detector: which pairs of sources (feeds, domains, crawl snapshots)
    * share near-duplicate content, and how much. `pairs` is a verified
    * near-dup pair frame (a, b) (e.g. [[jaccardPairs]]' output); each pair
    * is attributed to the unordered source pair of its endpoints
    * (source_a <= source_b, so a pair is counted once whichever side it
    * lands on), with the distinct docs involved per side of the cell.
    *
    * Scale: two hash joins of the (already bounded) pair frame against the
    * (id, group) projection, then one matrix-bounded aggregate — nothing
    * rescans text; the pair work already happened upstream. */
  def crossSourceOverlap(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val src = corpus.select(col("doc_id"), col("source").as("_g"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("_g").as("_ga")), "a")
      .join(src.select(col("doc_id").as("b"), col("_g").as("_gb")), "b")
      .select(
        least(col("_ga"), col("_gb")).as("source_a"),
        greatest(col("_ga"), col("_gb")).as("source_b"),
        // endpoint ids re-aligned to the swapped source order, so
        // n_docs_a counts docs on the source_a side specifically
        when(col("_ga") <= col("_gb"), col("a")).otherwise(col("b"))
          .as("_da"),
        when(col("_ga") <= col("_gb"), col("b")).otherwise(col("a"))
          .as("_db"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("_da")).as("n_docs_a"),
        countDistinct(col("_db")).as("n_docs_b"))
  }

  /** Cross-corpus contamination check (train/benchmark decontamination):
    * for each benchmark doc, the train docs sharing at least 5
    * distinct word 3-grams, with the overlap count and the benchmark's
    * shingle count (so callers can threshold on overlap/bench_n coverage).
    *
    * Same inverted-index shape as [[jaccardPairs]], but the two sides are
    * DIFFERENT corpora: the index is built over the train side only and
    * benchmark shingles probe it — a benchmark row never pairs with
    * another benchmark row, and df-capping ([[MaxShingleDf]], on TRAIN document
    * frequency) bounds hub shingles exactly as in the self-join case.
    * At 100 TB train / small benchmark, the probe side is the small one:
    * the join shuffles O(bench shingles + train index rows), never pairs
    * of train docs. */
  def contamination(train: DataFrame, bench: DataFrame): DataFrame = {
    // persisted for the same reason as jaccardPairs' index: the exploded
    // train shingles feed the df-count aggregate AND the probe join
    val tSh = train.select(col("doc_id").as("train_id"),
      explode(shingles(col("text"))).as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tIdx = tSh.join(
      tSh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf)
        .select("s"), "s")
    // stage the shingle array once (same pattern as jaccardPairs) so size
    // and explode read one computed array
    val bSh = bench
      .select(col("doc_id").as("bench_id"), shingles(col("text")).as("shs"))
      .select(col("bench_id"),
        size(col("shs")).cast(LongType).as("bench_n_sh"),
        explode(col("shs")).as("s"))
    bSh.join(tIdx, "s")
      .groupBy("bench_id", "train_id")
      .agg(count(lit(1)).as("overlap"), first("bench_n_sh").as("bench_n_sh"))
      .filter(col("overlap") >= 5)
  }

  /** N-gram NOVELTY of each probe document against a reference corpus —
    * the data-SELECTION signal beside [[contamination]]'s
    * decontamination flag: the fraction of the doc's distinct word
    * 3-grams never seen anywhere in the reference (near-dup of history →
    * ≈ 0, genuinely fresh content → ≈ 1). Scoring an ingest batch's
    * novelty is how a pipeline prioritizes what to keep when the crawl
    * exceeds the training budget. Output: (doc_id, n_shingles, n_unseen,
    * novelty) with ONE exact-integer division.
    *
    * Scale: the reference side collapses to its DISTINCT shingle set
    * (one aggregate — no df cap needed: membership only, nothing can
    * pair-explode); the probe's exploded shingles LEFT-join it on the
    * shingle key and re-aggregate per doc. Both shuffles move (doc,
    * shingle) / shingle rows with map-side partials — linear in corpus
    * shingles, and the reference set is the same standing index shape a
    * recurring ingest would maintain incrementally. */
  def ngramNovelty(probe: DataFrame, reference: DataFrame): DataFrame = {
    val refSet = reference
      .select(explode(shingles(col("text"))).as("s")).distinct()
      .withColumn("_seen", lit(true))
    probe
      .select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .join(refSet, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("novelty",
        col("n_unseen").cast(DoubleType) / col("n_shingles").cast(DoubleType))
  }
}
