package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDFs) — at 100 TB
  * these run as a single narrow map stage over the corpus scan.
  */
object TextOps {

  /** Whitespace tokens of the lower-cased trimmed text. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Token count: whitespace segmentation (empty text → 0). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word bigrams (ALL occurrences, not distinct — corpus-statistics use).
    * Built from slice+zip_with so the token array stays in HOF argument
    * position (see [[Dedup.shingles]] PERF note). */
  def bigrams(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val bg = zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    when(n >= 2, bg)
      .otherwise(array().cast(ArrayType(StringType, containsNull = false)))
  }

  /** BPE-ish subword proxy count: word pieces after splitting on
    * non-alphanumeric runs — a cheap deterministic stand-in for a real
    * tokenizer's piece count (RE2-safe: no lookaround). */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0))

  /** Language ID via stopword/charset scoring — n-gram-free heuristic that
    * stays SQL-expressible. Scores: CJK chars → zh; else the Latin language
    * whose marker stopwords appear most. */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    // per-language word-hit totals, one native precompiled match count per
    // language — value-identical to the split-size − 1 sum it replaced,
    // which compiled each regex and re-converted the string per row
    // (22 splits/row); RegexHitsSpec pins the equality
    def hits(words: Seq[String]): Column =
      graft.functions.RegexHits(t, words.map(w => s"\\s${w}\\s"))
    val en = hits(Seq("the", "and", "of", "is", "with"))
    val es = hits(Seq("el", "la", "los", "las", "es", "y"))
    val fr = hits(Seq("le", "les", "des", "est", "et", "une"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "mit"))
    val cjk = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))
    when(cjk > 0, "zh")
      .when(en >= es && en >= fr && en >= de, "en")
      .when(de >= es && de >= fr, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Quality signals as integer counts (division-free for oracle parity);
    * ratios belong to the caller. */
  def qualitySignals(df: DataFrame, text: String): DataFrame = df
    .withColumn("n_chars", length(col(text)))
    .withColumn("n_tokens", tokenCount(col(text)))
    .withColumn("n_upper", length(regexp_replace(col(text), "[^A-Z]", "")))
    .withColumn("n_digit", length(regexp_replace(col(text), "[^0-9]", "")))
    .withColumn("n_punct", length(regexp_replace(col(text), "[^.!?,;:]", "")))
    .withColumn("n_stopword", {
      // native precompiled match count — value-identical to the split-sum
      // form (see RegexHits scaladoc; RegexHitsSpec pins the equality)
      val t = concat(lit(" "), lower(col(text)), lit(" "))
      graft.functions.RegexHits(t,
        Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
          .map(w => s"\\s${w}\\s"))
    })

  /** One-row corpus datasheet (the summary block of a dataset card):
    * document / token / char totals, distinct language count, exact-
    * duplicate document count (docs beyond the first carrying an
    * identical md5 of the text), and mean tokens per document (one
    * division of exact integers — bit-stable cross-engine).
    *
    * Scale: a single corpus-wide aggregate with map-side partials. The
    * two COUNT(DISTINCT) expansions are the exact path — right for a
    * datasheet run that already reads every byte; when an estimate
    * suffices at 100 TB, swap in the mergeable KMV sketch
    * ([[graft.functions.KmvSketch]], op_kmv_distinct) instead. */
  def datasetCard(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("text")).cast(LongType)).as("n_tokens"),
      sum(length(col("text")).cast(LongType)).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"))
    .withColumn("mean_doc_tokens",
      col("n_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))

  /** Per-language token-length histogram in log₂ buckets — the
    * dataset-card companion plot: bucket b holds docs with token count in
    * [2^(b-1), 2^b) (bucket = bit length of the count; empty docs land in
    * bucket 0), with the doc and token mass per (lang, bucket) cell. The
    * length distribution is the first thing a curation review reads —
    * truncation spikes, boilerplate combs, and chunking artifacts all
    * show up here before any model does.
    *
    * Scale: one narrow pass (token count + `bin` bit-length — integer
    * math, engine-portable) into a (langs × 64)-bounded aggregate with
    * map-side partials. */
  def lengthHist(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        tokenCount(col("text")).cast(LongType).as("_n"))
      .withColumn("bucket",
        when(col("_n") === 0L, lit(0)).otherwise(length(bin(col("_n")))))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("_n").as("n_tokens"),
        min("_n").as("min_tokens"), max("_n").as("max_tokens"))

  /** Per-group QUALITY FLOOR gate driven by the deterministic sample
    * sketch ([[graft.functions.SampleSketch]]): drop each language's
    * shortest quartile (token count < the group's sampled P25) — the
    * "cut the worst X% per stratum" curation rule, computed with ZERO
    * full sorts and reproducible across engines/reruns because the
    * sketch sample is a pure function of the data. Output: per lang, doc
    * and token counts before/after the gate plus the applied floor.
    *
    * Scale: one bounded sketch aggregate (≤ k pairs per map-side
    * partial), the per-group floors broadcast back onto the scan, one
    * bounded re-aggregate — the [[op_winsorize]] recipe as a filter. */
  def qualityFloor(docs: DataFrame): DataFrame = {
    val n = tokenCount(col("text")).cast(LongType)
    val h = graft.text.Dedup.portableHash(col("doc_id").cast(StringType))
    val floors = docs.groupBy(col("lang"))
      .agg(graft.functions.SampleSketch(h, n, 256).as("_s"))
      .select(col("lang"),
        graft.functions.SampleSketch.quantile(array_sort(col("_s")), 25)
          .as("floor_tokens"))
    docs.select(col("lang"), n.as("_n"))
      .join(broadcast(floors), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_n") >= col("floor_tokens"), 1L).otherwise(0L))
          .as("n_kept"),
        sum("_n").as("n_tokens"),
        sum(when(col("_n") >= col("floor_tokens"), col("_n"))
          .otherwise(0L)).as("kept_tokens"),
        first(col("floor_tokens")).as("floor_tokens"))
  }

  /** Text-side corpus DRIFT between a history corpus and an ingest batch —
    * the language/composition twin of [[graft.text.Similarity.embedDrift]]:
    * both sides are keyed by a COMPUTED segment of the text (`segmentOf`,
    * default [[langId]] — ingest arrives unlabeled, so drift detection
    * must run on derived signals; compose language × length-bucket for a
    * profile-sensitive key), and each segment gets its occupancy share
    * (ppm, floored IEEE quotient — see embedDrift's CAST note) and mean
    * token count per side, plus the share delta. A feed that flips
    * language mix or doc-length profile shows here before it trains.
    *
    * Scale: one narrow langId+tokenCount pass per side into a
    * languages-bounded aggregate, then a tiny outer join — nothing
    * pairwise, no corpus-keyed shuffle at all. */
  def corpusDrift(history: DataFrame, batch: DataFrame,
      segmentOf: Column => Column = langId): DataFrame = {
    def side(df: DataFrame, n: String, tk: String): DataFrame =
      df.select(segmentOf(col("text")).as("segment"),
          tokenCount(col("text")).cast(LongType).as("_t"))
        .groupBy("segment")
        .agg(count(lit(1)).as(n), sum("_t").as(tk))
    val h = side(history, "n_hist", "_th")
    val b = side(batch, "n_batch", "_tb")
    val nh = history.count()
    val nb = batch.count()
    h.join(b, Seq("segment"), "full_outer")
      .select(col("segment"),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        floor(coalesce(col("n_hist"), lit(0L)) * lit(1000000.0) / lit(nh))
          .as("hist_share_ppm"),
        floor(coalesce(col("n_batch"), lit(0L)) * lit(1000000.0) / lit(nb))
          .as("batch_share_ppm"),
        (col("_th").cast(DoubleType) / col("n_hist").cast(DoubleType))
          .as("mean_tokens_hist"),
        (col("_tb").cast(DoubleType) / col("n_batch").cast(DoubleType))
          .as("mean_tokens_batch"))
      .withColumn("drift_ppm",
        col("batch_share_ppm") - col("hist_share_ppm"))
  }

  /** Tokenizer FERTILITY per language: subword tokens emitted per
    * whitespace word (the standard tokenizer-fit diagnostic — a language
    * whose fertility balloons is being shredded into characters and will
    * eat the token budget). Exact integer sums per language, fertility =
    * ONE IEEE division. One narrow pass, languages-bounded aggregate. */
  def tokFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        tokenCount(col("text")).cast(LongType).as("_w"),
        subwordCount(col("text")).cast(LongType).as("_s"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("_w").as("n_words"),
        sum("_s").as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast(DoubleType) / col("n_words").cast(DoubleType))

  /** Token-level VOCABULARY SHIFT between a history corpus and an ingest
    * batch — the top-k tokens whose occurrence share moved most (|batch
    * ppm − hist ppm| desc, token asc): where [[corpusDrift]] says THAT
    * the mix moved, this says WHICH words moved it (a new spam template,
    * a feed language flip, boilerplate injection all surface as specific
    * tokens). Shares are floored-IEEE ppm of exact counts.
    *
    * Scale: one token-keyed aggregate per side (map-side partials — the
    * op_top_ngrams shape), a full outer join on the token, two 1-row
    * totals broadcast, and a bounded TakeOrdered for the top-k — the
    * open vocabulary is shuffled once per side and never sorted. */
  def vocabShift(history: DataFrame, batch: DataFrame,
      k: Int = 50): DataFrame = {
    require(k >= 1, "k must be positive")
    def cnt(df: DataFrame, n: String): DataFrame =
      df.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(n))
    val h = cnt(history, "n_hist")
    val b = cnt(batch, "n_batch")
    h.join(b, Seq("token"), "full_outer")
      .crossJoin(broadcast(h.agg(sum("n_hist").as("_th"))))
      .crossJoin(broadcast(b.agg(sum("n_batch").as("_tb"))))
      .select(col("token"),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        floor(coalesce(col("n_hist"), lit(0L)) * lit(1000000.0) / col("_th"))
          .as("hist_ppm"),
        floor(coalesce(col("n_batch"), lit(0L)) * lit(1000000.0) / col("_tb"))
          .as("batch_ppm"))
      .withColumn("shift_ppm", col("batch_ppm") - col("hist_ppm"))
      .orderBy(abs(col("shift_ppm")).desc, col("token"))
      .limit(k)
  }

  /** Coarse quality bucket — multiplicative threshold checks only. */
  def qualityBucket(df: DataFrame): DataFrame = df.withColumn("quality_bucket",
    when(col("n_chars") < 30, "too_short")
      .when(col("n_digit") * 3 > col("n_chars"), "digit_heavy")
      .when(col("n_punct") * 5 > col("n_tokens") * 2, "punct_heavy")
      .when(col("n_stopword") * 20 < col("n_tokens"), "low_stopword")
      .otherwise("ok"))

  /** Deterministic document fingerprint: md5 prefix of the
    * whitespace-normalized lower-cased text. */
  def fingerprint(text: Column): Column =
    substring(md5(lower(regexp_replace(text, "\\s+", " ")).cast(BinaryType)), 1, 16)

  /** Token-level Rabin-Karp rolling-hash window fingerprints: every
    * length-`w` token window hashed with the polynomial rolling scheme
    * `h = (h·31 + tokenHash) mod (2^31−1)` over [[Dedup.portableHash]]
    * token hashes — integer-exact and engine-portable (every step stays
    * below 7·10^10, far inside int64). The classic granularity BETWEEN
    * whole-document fingerprints and paragraph dedup: window hashes power
    * duplicated-passage detection and winnowing-style fingerprints.
    *
    * Shape: tokens explode to (doc, pos, hash) ROWS and each window hash
    * is the Horner fold over `lead(hash, j)` in ONE window pass — rows at
    * the tail (fewer than `w` tokens left) drop via the null leads. A
    * first formulation kept the hashes as a per-doc ARRAY and sliced it
    * per window inside a HOF lambda: the captured array reference gets
    * inlined by CollapseProject and the md5 token hashing re-ran per
    * window — measured 15.6 s at sf0.1 vs ~1 s for this row form, whose
    * leads are codegen'd over each doc's sorted run. The per-doc sort
    * shuffle is the same shape the unigram/repetition ops already pay.
    * Returns (doc_id, pos, wh) — one row per window.
    *
    * PRECONDITION: `doc_id` values must be UNIQUE — duplicate ids merge
    * into one window partition whose `pos` ordering ties across the
    * duplicates, making the lead() folds (and everything built on them:
    * [[rollingFingerprint]], [[winnow]], [[passageDups]]) nondeterministic.
    * Dedup or disambiguate ids (e.g. append a source discriminator)
    * before calling. */
  def rollingWindows(docs: DataFrame, textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 1)
    val P = 2147483647L
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val th = pmod(Dedup.portableHash(col("tok")), lit(P))
    val horner = (1 until w).foldLeft(th: Column)((acc, j) =>
      (acc * 31 + lead(th, j).over(win)) % P)
    docs
      .select(col("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), horner.as("wh"))
      .filter(col("wh").isNotNull)
  }

  /** Content-defined chunking (CDC) dedup stats — the STORAGE-dedup
    * measurement for recurring crawl snapshots: a chunk boundary falls
    * after every window whose rolling hash ≡ 0 mod 2^`maskBits`
    * (expected chunk length 2^maskBits windows), so boundaries — unlike
    * fixed-size blocks — survive insertions: a near-duplicate document
    * re-chunks to MOSTLY IDENTICAL chunks and a snapshot store keeps
    * only its delta. Chunk identity = the Horner fold of its window
    * hashes in position order (exact integers, oracle-portable). Output:
    * one corpus row — chunk total, distinct, duplicate count, and mean
    * windows per chunk (one exact-int division).
    *
    * Production CDC adds min/max chunk-length clamps; those make
    * boundary eligibility depend on the PREVIOUS boundary (sequential
    * state), so the oracle-checked operator keeps the pure positional
    * rule — the dedup economics are identical.
    *
    * Scale: rides [[rollingWindows]] (explode + per-doc
    * doc-length-bounded window pass); the chunk build is one
    * (doc, chunk)-keyed aggregate with map-side partials whose groups
    * are ~2^maskBits windows; the summary is a second bounded
    * aggregate. */
  def cdcChunks(docs: DataFrame, w: Int = 8, maskBits: Int = 4): DataFrame = {
    require(maskBits >= 1 && maskBits < 31, "maskBits must be in [1, 30]")
    val P = 2147483647L
    val modv = 1L << maskBits
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = rollingWindows(docs, "text", w)
      // chunk id = boundaries among STRICTLY PRECEDING windows, so a
      // boundary window ENDS its chunk and the next one starts fresh
      .withColumn("chunk_id", coalesce(
        sum(when(col("wh") % modv === 0, 1L).otherwise(0L)).over(win),
        lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("wh")))).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast(LongType).as("n_windows"),
        aggregate(col("ws"), lit(0L),
          (acc, s) => (acc * 31 + s.getField("wh")) % P).as("chunk_hash"))
    chunks.agg(
      count(lit(1)).as("n_chunks"),
      countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
      (count(lit(1)) - countDistinct(col("chunk_hash"))).as("n_dup_chunks"),
      (sum("n_windows").cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("mean_chunk_windows"))
  }

  /** Per-document rolling-hash fingerprint summary: window count, distinct
    * windows, and the minimum window hash (the 1-sketch winnowing anchor).
    * Docs with fewer than 8 tokens drop (they have no 8-token windows). */
  def rollingFingerprint(docs: DataFrame, textCol: String): DataFrame =
    rollingWindows(docs, textCol, 8)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_windows"),
        countDistinct(col("wh")).cast("int").as("n_distinct"),
        min("wh").as("min_wh"))

  /** Winnowing fingerprint selection (the MOSS scheme) over the 8-token
    * [[rollingWindows]]: every run of g = [[WinnowRun]] consecutive window
    * hashes contributes its RIGHTMOST minimum — the standard guarantee that
    * any match of 8 + g − 1 tokens or longer shares a selected
    * fingerprint, at expected density 2/(g+1) instead of every window.
    * Selection is a CASE over g leads in the same per-doc window pass as
    * the hashes — no extra shuffle. Returns per doc: the number of
    * selection windows (`n_select`), distinct selected fingerprints
    * (`n_fp`), and the minimum selected hash (`min_fp`). Docs with fewer
    * than 8 + g − 1 tokens drop (no full selection window). */
  def winnow(docs: DataFrame, textCol: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val whs: Seq[Column] = (0 until WinnowRun).map(j =>
      if (j == 0) col("wh") else lead(col("wh"), j).over(win))
    val m = least(whs: _*)
    // rightmost minimum: CASE scanning offsets g−1 → 1, else offset 0.
    // (least() skips nulls, so partial tail windows must be filtered on
    // the furthest lead explicitly — __full below.)
    val selPos = (WinnowRun - 1 until 0 by -1)
      .map(j => (whs(j) === m, col("pos") + j))
      .foldRight(col("pos") + lit(0)) { case ((cond, v), acc) =>
        when(cond, v).otherwise(acc)
      }
    rollingWindows(docs, textCol, 8)
      .select(col("doc_id"), m.as("__m"), selPos.as("__sel"),
        whs(WinnowRun - 1).isNotNull.as("__full"))
      .filter(col("__full"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_select"),
        countDistinct(col("__sel")).cast("int").as("n_fp"),
        min("__m").as("min_fp"))
  }

  /** Winnowing selection run: consecutive window hashes per selection. */
  private val WinnowRun = 4

  /** Cross-document duplicated passages: window hashes appearing in two or
    * more documents, with the earliest (min-id) owner — substring-level
    * dedup/contamination at 5-token granularity, the repeated-passage
    * complement of [[Dedup.paraDedup]]. Per-doc DISTINCT windows feed the
    * group (a doc repeating its own passage is not a cross-doc dup).
    * Scale: one hash-keyed aggregate with map-side partials; output is
    * only the repeated windows. */
  def passageDups(docs: DataFrame, textCol: String): DataFrame =
    rollingWindows(docs, textCol, 5)
      .select(col("doc_id"), col("wh")).distinct()
      .groupBy("wh")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
      .filter(col("n_docs") >= 2)

  /** Exact-substring duplicate RUNS between document pairs — the last
    * dedup-granularity rung (whole-doc fingerprints → passages → this):
    * the Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" signal (arbitrary long exact repeats, ≥ `minRun`
    * tokens) realized without a distributed suffix array, as CHAINED
    * WINDOW-HASH RUNS: two docs sharing an exact L-token substring share
    * L−w+1 [[rollingWindows]] hashes (w = [[SubstrWindow]] tokens) at
    * positions of CONSTANT OFFSET
    * (pa − pb), so maximal runs are gaps-and-islands over each doc
    * pair's offset diagonal — island id = pa − row_number, one bounded
    * aggregate per island. Output: (a, b, start_a, start_b, run_tokens)
    * per maximal shared run of ≥ minRun tokens. Identity is hash-based
    * (mod-P Horner) — a cross-doc collision could fabricate one shared
    * window, but a ≥ minRun run needs minRun−w+1 CONSECUTIVE collisions
    * on one diagonal, vanishingly unlikely and verifiable downstream.
    *
    * Scale: rides the [[rollingWindows]] explode (doc-length-bounded
    * window pass); hub windows (> `maxDf` docs — boilerplate) drop
    * BEFORE the pair join, the standard inverted-index cap that keeps
    * the join O(collisions); the islands window partitions by
    * (a, b, diff) — one candidate pair's diagonal, bounded by doc
    * length, never corpus-sized.
    *
    * EAGER at construction: the pair-mass budget check below runs a
    * Spark job (persist + two aggregates + `.first()`) when this
    * function is CALLED, before any action on the returned frame — and
    * can throw there. Plan-only callers (Explain sweeps, plan audits)
    * that must stay lazy pass `pairBudget = Long.MaxValue`, which skips
    * the enforcement job entirely (and with it the protection). */
  def substrRuns(docs: DataFrame, minRun: Int = 20, maxDf: Int = 100,
      pairBudget: Long = 2000000000L): DataFrame = {
    require(minRun >= SubstrWindow, "minRun must be at least the window width")
    require(pairBudget > 0, "substrRuns: pairBudget must be positive")
    // persisted: the exploded window table feeds the df-count aggregate
    // once and the pair self-join twice (the shingleIntersections contract)
    val wins = rollingWindows(docs, "text", SubstrWindow)
      .select("doc_id", "pos", "wh").persist(StorageLevel.MEMORY_AND_DISK)
    // ENFORCED pair-mass contract (the round-16 ×100 OOM closure was
    // advisory — "run substrStats first"; this makes it code): the pair
    // join's EXACT input mass Σ_h (T_h² − Σ_d c_{h,d}²)/2 over kept
    // (df ≤ maxDf) hashes comes from two cheap keyed aggregates on the
    // already-persisted window table — the [[substrStats]] read inlined —
    // and the miner REFUSES a join bigger than `pairBudget` rows instead
    // of discovering the blowup as an OOM mid-shuffle. The failure the
    // budget catches: maxDf at or above the corpus's duplication
    // multiplicity (a ~100-way-replicated corpus at the default
    // maxDf=100 measured 1.089 B pair rows). Lower maxDf below the
    // multiplicity, or raise the budget deliberately for a cluster that
    // can pay it. One extra 1-row aggregate per call, never the join.
    // pairBudget = Long.MaxValue is the documented lazy escape hatch
    // (scaladoc): an unbounded budget can never fail, so skip the eager
    // job and keep construction plan-only for Explain/audit callers.
    if (pairBudget != Long.MaxValue) {
      val pairMass = wins.groupBy("wh", "doc_id").agg(count(lit(1)).as("_c"))
        .groupBy("wh").agg(count(lit(1)).as("_df"), sum("_c").as("_t"),
          sum(col("_c") * col("_c")).as("_s"))
        .agg(coalesce(sum(when(col("_df") <= maxDf,
          expr("(_t * _t - _s) div 2")).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      require(pairMass <= pairBudget,
        s"substrRuns: the pair join's input mass at maxDf=$maxDf is " +
          s"$pairMass rows, over the $pairBudget-row budget — maxDf likely " +
          "sits at/above the corpus's duplication multiplicity; lower maxDf " +
          "(read substrStats for the mass-vs-maxDf ledger) or pass a larger " +
          "pairBudget deliberately")
    }
    val keep = wins.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("wh")
    val f = wins.join(keep, "wh")
    val pairs = f.select(col("wh"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(f.select(col("wh"), col("doc_id").as("b"), col("pos").as("pb")),
        "wh")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("_diff"))
    val islands = pairs.withColumn("_isl",
      col("pa") - row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("a", "b", "_diff").orderBy("pa")))
    islands.groupBy("a", "b", "_diff", "_isl")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        count(lit(1)).as("_nw"))
      .withColumn("run_tokens", col("_nw") + lit((SubstrWindow - 1).toLong))
      .filter(col("run_tokens") >= minRun)
      .select("a", "b", "start_a", "start_b", "run_tokens")
  }

  /** Window width, in tokens, of [[substrRuns]] and its [[substrStats]]
    * pre-flight read. */
  private val SubstrWindow = 5

  /** PRE-FLIGHT sizing read for [[substrRuns]]/[[substrScrub]] — the
    * [[graft.text.Dedup.bandStats]] idea applied to the window-hash
    * inverted index: the miner's pair join emits, per window hash,
    * every cross-doc occurrence pair among kept (df ≤ maxDf) docs, so
    * its input mass is `Σ_h (T_h² − Σ_d c_{h,d}²) / 2` (T = total kept
    * occurrences, c = per-doc occurrences) — EXACT integers, computable
    * from two cheap keyed aggregates WITHOUT running the join. The
    * round-16 ×100 probe is why this read exists: a replica corpus with
    * ~100-way duplicate windows sits exactly AT the default maxDf = 100,
    * pair mass explodes to tens of billions of rows, and the miner OOMs
    * — the operator's blowup guard (maxDf) must be sized BELOW the
    * corpus's duplication multiplicity, and this 1-row report is how a
    * 100 TB deployment checks that BEFORE paying for the join (run it,
    * read pair_rows, lower maxDf until the mass fits the cluster).
    *
    * Output (1 row): n_windows (distinct hashes), n_hub_windows
    * (df > maxDf, dropped by the miner), max_df_kept, pair_rows (the
    * join's exact input mass at this maxDf), dropped_pair_rows (mass
    * the hub drop saves). Overflow bound: T² per window ≤ (corpus
    * tokens)², exact to ~3·10⁹ occurrences of one window.
    *
    * Scale: one (hash, doc) count with map-side partials, one
    * hash-keyed rollup, a 1-row finish — never the pair join itself. */
  def substrStats(docs: DataFrame, maxDf: Int = 100): DataFrame = {
    val perDoc = rollingWindows(docs, "text", SubstrWindow)
      .groupBy("wh", "doc_id").agg(count(lit(1)).as("_c"))
    val perWin = perDoc.groupBy("wh").agg(
      count(lit(1)).as("_df"), sum("_c").as("_t"),
      sum(col("_c") * col("_c")).as("_s"))
    perWin.agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("_df") > maxDf, 1L).otherwise(0L)).as("n_hub_windows"),
      coalesce(max(when(col("_df") <= maxDf, col("_df"))), lit(0L))
        .as("max_df_kept"),
      coalesce(sum(when(col("_df") <= maxDf,
        expr("(_t * _t - _s) div 2")).otherwise(0L)), lit(0L))
        .as("pair_rows"),
      coalesce(sum(when(col("_df") > maxDf,
        expr("(_t * _t - _s) div 2")).otherwise(0L)), lit(0L))
        .as("dropped_pair_rows"))
  }

  /** Corpus-frequency document scoring — the integer-exact core of a
    * KenLM-style unigram quality filter: each document gets the SUM of its
    * tokens' corpus-wide occurrence counts (plus its token total), so
    * downstream filters can threshold on mean token frequency. Integer
    * sums keep it engine-exact (a log-prob variant would hit libm
    * differences); rare-token-heavy docs score low, boilerplate scores
    * high. Scale: one (token) count aggregate with map-side partials, then
    * an exploded-token join keyed on token — both shuffles carry distinct
    * tokens / token occurrences, never per-doc buffers. */
  def unigramScore(docs: DataFrame, textCol: String): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("corpus_n"))
    tok.join(counts, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("corpus_n").as("freq_sum"))
  }

  /** Bigram extension of [[unigramScore]] — the next rung of the
    * KenLM-style quality-filter ladder: each document gets the SUM of its
    * bigrams' corpus-wide occurrence counts (plus its bigram total), so
    * downstream filters can threshold on mean bigram frequency — a much
    * sharper fluency signal than unigram frequency (word-salad text has
    * common words but rare word PAIRS). Integer sums keep it engine-exact;
    * documents with fewer than two tokens drop (no bigrams). Scale: same
    * join shape as the unigram core — one (bigram) count aggregate with
    * map-side partials, then an exploded-bigram join keyed on bigram; both
    * shuffles carry distinct bigrams / bigram occurrences, never per-doc
    * buffers. ~linear in corpus tokens. */
  def bigramScore(docs: DataFrame, textCol: String): DataFrame = {
    val bg = docs.select(col("doc_id"), explode(bigrams(col(textCol))).as("bg"))
    val counts = bg.groupBy("bg").agg(count(lit(1)).as("corpus_n"))
    bg.join(counts, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("corpus_n").as("freq_sum"))
  }

  /** Unigram-LM log-probability scoring — the standard KenLM-style quality
    * filter [[unigramScore]]'s integer sums stop short of: per document,
    * the mean add-1-smoothed token log-probability under the corpus's own
    * unigram model, `avg_logprob = (1/n) Σ_t ln((c_t + 1)/(N + V))` with
    * c_t the token's corpus count, N total occurrences, V vocab size.
    * Rare-token-heavy word salad scores very negative; fluent text sits
    * near the corpus entropy — threshold on `avg_logprob` exactly like a
    * KenLM perplexity filter.
    *
    * Engine-exact despite the log: ln comes from
    * [[graft.ops.Sampling.portableLn]] (bit-identical cross-engine), each
    * token's log-prob quantizes to MICRO-NATS (`⌊(ln(c+1) − ln(N+V))·10⁶⌋`
    * — multiply and floor are exact IEEE steps on a bit-identical input),
    * and the per-doc sum is then an exact integer; `avg_logprob` is ONE
    * division of exact integers. No float accumulation anywhere, so any
    * partitioning/engine produces the identical result. Quantization bias
    * is < 1e-6 nats/token — far under any filter threshold's resolution.
    *
    * Scale: same shape as [[unigramScore]] — one token-keyed count
    * aggregate (map-side partials), the 1-row (N, V) totals broadcast
    * back, one token-keyed join, one doc-keyed aggregate. The "model" is
    * the counts table itself; nothing corpus-sized sorts or windows. */
  def lmLogProb(docs: DataFrame): DataFrame = {
    // (doc, token) OCCURRENCE COUNTS as the shared base for the model
    // build AND the scoring join, PERSISTED (r18): the raw exploded
    // stream was rebuilt once per branch, and exchange reuse cannot
    // dedupe the two branches (column pruning narrows the model branch's
    // exchange to (tok, _k) — no longer identical to the join branch's).
    // Persisting the AGGREGATED pair frame instead of the raw stream
    // keeps the footprint at distinct (doc, token) pairs, and the
    // scoring join carries pairs, never raw occurrences.
    val tokd =
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("_k"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = tokd.groupBy("tok").agg(sum("_k").as("_c"))
    val tot = counts.agg(sum("_c").as("_n_total"), count(lit(1)).as("_v"))
    val lp = floor((graft.ops.Sampling.portableLn(col("_c") + lit(1L)) -
      graft.ops.Sampling.portableLn(col("_n_total") + col("_v")))
      * lit(1000000.0)).cast(LongType)
    tokd.join(counts, "tok")
      .crossJoin(broadcast(tot))
      .withColumn("_lp", lp)
      .groupBy("doc_id")
      .agg(sum("_k").as("n_tokens"),
        sum(col("_k") * col("_lp")).as("sum_lp_micro"))
      .withColumn("avg_logprob", col("sum_lp_micro").cast(DoubleType) /
        (col("n_tokens") * lit(1000000L)).cast(DoubleType))
  }

  /** Bigram-LM log-probability scoring — the next rung of the KenLM-style
    * quality ladder above [[lmLogProb]]: per document, the mean
    * add-1-smoothed BIGRAM log-probability under the corpus's own bigram
    * model, `avg_logprob = (1/n) Σ_b ln((c_b + 1)/(N_bg + V_bg))`. Word
    * salad has common WORDS but rare word PAIRS, so the bigram LM
    * separates fluent text from shuffled text that the unigram rung
    * scores identically — the practical reason production quality filters
    * (CCNet, Gopher's downstream KenLM) are n-gram, not unigram, models.
    * Documents with fewer than two tokens have no bigrams and drop, like
    * [[bigramScore]].
    *
    * Engine-exact by the [[lmLogProb]] construction: portable-series ln,
    * per-bigram MICRO-NAT floor quantization, exact integer per-doc sum,
    * one final division. Scale: the [[bigramScore]] join shape — one
    * bigram-keyed count with map-side partials, one exploded-bigram join
    * keyed on bigram, a broadcast 1-row total; shuffles carry distinct
    * bigrams / bigram occurrences, never per-doc buffers. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    // same persisted-pair-frame shape as [[lmLogProb]]: per-(doc, bigram)
    // occurrence counts feed both the model build and the scoring join
    val bgd =
      docs.select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("_k"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = bgd.groupBy("bg").agg(sum("_k").as("_c"))
    val tot = counts.agg(sum("_c").as("_n_total"), count(lit(1)).as("_v"))
    val lp = floor((graft.ops.Sampling.portableLn(col("_c") + lit(1L)) -
      graft.ops.Sampling.portableLn(col("_n_total") + col("_v")))
      * lit(1000000.0)).cast(LongType)
    bgd.join(counts, "bg")
      .crossJoin(broadcast(tot))
      .withColumn("_lp", lp)
      .groupBy("doc_id")
      .agg(sum("_k").as("n_bigrams"),
        sum(col("_k") * col("_lp")).as("sum_lp_micro"))
      .withColumn("avg_logprob", col("sum_lp_micro").cast(DoubleType) /
        (col("n_bigrams") * lit(1000000L)).cast(DoubleType))
  }

  /** Exact-substring dedup ACTUATOR — [[substrRuns]] finds the ≥ minRun-token
    * repeats; this REMOVES them, the Lee et al. 2022 rewrite step: every
    * token position covered by a duplicated run is deleted from the run's
    * HIGHER-id doc (`b` side — the earliest/lowest-id occurrence survives,
    * a deterministic policy; the published method deletes all-but-one
    * occurrence too), and the doc is rebuilt from its kept tokens. The
    * rewrite is over the NORMALIZED token stream (lower-cased,
    * whitespace-split) like every token op in this file, so the rebuilt
    * text is single-space-joined normalized tokens. Overlapping runs
    * against different partners union their positions — a token deletes
    * once. Output: every doc with before/kept/removed token counts and
    * the scrubbed text (unchanged docs pass through; a fully-duplicated
    * doc comes back empty).
    *
    * Scale: [[substrRuns]]'s audited mining cost plus — crucially — ZERO
    * corpus-token shuffles for the rewrite itself: the run intervals
    * aggregate to a per-doc interval LIST (rows = docs-with-runs, a tiny
    * fraction of the corpus), that list joins back keyed on the doc id
    * (AQE broadcasts it when small), and the deletion is an in-row
    * higher-order `filter` over the token array — a narrow map stage.
    * Per-token work is O(intervals-of-this-doc), bounded by the maxDf
    * partner cap, not by the corpus. */
  def substrScrub(docs: DataFrame,
      pairBudget: Long = 2000000000L): DataFrame = {
    val runs = substrRuns(docs, pairBudget = pairBudget)
    // a run's token span on the b side is [start_b, start_b+run_tokens-1];
    // identical intervals from different a-partners collapse pre-aggregate
    val ivs = runs.select(col("b").as("_did"),
        struct(col("start_b").cast(LongType).as("s"),
          (col("start_b") + col("run_tokens") - lit(1L)).cast(LongType)
            .as("e")).as("_iv"))
      .distinct()
      .groupBy("_did").agg(collect_list("_iv").as("_ivs"))
    val toks = tokens(col("text"))
    val noIvs = array().cast("array<struct<s:bigint,e:bigint>>")
    docs.select(col("doc_id"), col("text"))
      .join(ivs, col("doc_id") === col("_did"), "left")
      .withColumn("_keep", filter(toks, (_, i) =>
        !exists(coalesce(col("_ivs"), noIvs), iv =>
          i.cast(LongType) >= iv("s") && i.cast(LongType) <= iv("e"))))
      .select(col("doc_id"),
        size(toks).cast(LongType).as("n_tokens_before"),
        size(col("_keep")).cast(LongType).as("n_tokens_kept"),
        (size(toks) - size(col("_keep"))).cast(LongType)
          .as("n_tokens_removed"),
        array_join(col("_keep"), " ").as("text_scrubbed"))
  }

  /** CCNet-style perplexity-tercile bucketing (Wenzek et al. 2020): split
    * each language's corpus into head / middle / tail thirds by LM
    * quality — the published recipe trains/filters on the "head" third and
    * drops or downweights the tail. The score is [[lmLogProb]]'s mean
    * add-1-smoothed token log-probability (higher = more fluent = lower
    * perplexity), quantized to MILLI-NATS per token by an exact integer
    * floor division, so the per-doc score is an exact integer and the
    * tercile assignment is pure integer arithmetic — engine-exact.
    *
    * Tercile rule (ties stay together, like CCNet's per-score-value
    * thresholds): score values sort descending within a language; a score
    * GROUP whose cumulative-before doc count `c` satisfies `3c < N` is
    * head, `3c < 2N` middle, else tail — so a tie group straddling a
    * boundary lands whole in the earlier bucket. Output: one row per
    * (language, bucket) with doc/token mass and the bucket's milli-nat
    * score range — the thresholds a filtering pass would then apply.
    *
    * Scale: [[lmLogProb]]'s shape (token-keyed count aggregate, 1-row
    * totals broadcast, doc-keyed aggregate) plus a histogram aggregate
    * keyed on (lang, milli-nat score). The cumulative window runs over
    * that HISTOGRAM, not the corpus: mean log-prob per token lies in
    * roughly [−25, 0] nats, so there are at most ~25k distinct milli-nat
    * values per language regardless of corpus size — the same
    * value-range-bounded-window trick as [[scoreAuc]]. Nothing
    * corpus-sized sorts or windows. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val scored = lmLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    // exact integer floor division to milli-nats/token: subtract the
    // non-negative pmod, then `div` on an exactly-divisible numerator
    // (truncating and flooring division agree there)
    val hist = scored
      .withColumn("_den", col("n_tokens") * lit(1000L))
      .withColumn("_q",
        expr("(sum_lp_micro - pmod(sum_lp_micro, _den)) div _den"))
      .groupBy(col("lang"), col("_q"))
      .agg(count(lit(1)).as("_n"), sum("n_tokens").as("_toks"))
    val cumWin = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("_q").desc)
    val totWin = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    hist
      .withColumn("_cum", sum("_n").over(cumWin))
      .withColumn("_tot", sum("_n").over(totWin))
      .withColumn("bucket",
        when((col("_cum") - col("_n")) * 3 < col("_tot"), "head")
          .when((col("_cum") - col("_n")) * 3 < col("_tot") * 2, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum("_n").as("n_docs"), sum("_toks").as("n_tokens"),
        min("_q").as("min_millinats"), max("_q").as("max_millinats"))
  }

  /** Per-document unigram token ENTROPY — the information-theoretic
    * repetitiveness filter (low entropy = the doc keeps repeating the same
    * few tokens; the repetition-ratio rules catch EXACT n-gram loops, this
    * catches diffuse repetitiveness they miss). H = ln(n) − (1/n)·Σ c·ln(c)
    * over the doc's OWN token counts (c = count of each distinct token,
    * n = Σc), the algebraic form that needs only logs of INTEGERS — so
    * every ln is [[graft.ops.Sampling.portableLn]] quantized to micro-nats
    * (floor of an exact product of bit-identical doubles), the numerator
    * `n·lnμ(n) − Σ c·lnμ(c)` is an exact integer, and the output double is
    * ONE int/int division — engine-exact, no libm. Quantization bounds the
    * numerator error by ±n micro-nats, so `entropy` is within 2·10⁻⁶ nat
    * of true H (and may be −1·10⁻⁶ instead of 0.0 on a constant doc — the
    * floor's direction; callers threshold, they don't test for zero).
    * Empty docs have no token rows and drop (no distribution to measure),
    * like [[lmLogProb]].
    *
    * Scale: one explode, one (doc, token)-keyed count aggregate, one
    * doc-keyed aggregate — both with map-side partials, both keyed on (or
    * under) the doc id. NOTHING corpus-global: no vocabulary join, no
    * broadcast, no window. The cheapest-possible two-shuffle shape, and
    * each doc's work is bounded by its own length. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    def lnMicro(m: Column): Column =
      floor(graft.ops.Sampling.portableLn(m) * lit(1000000.0)).cast(LongType)
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("_tok"))
      .groupBy(col("doc_id"), col("_tok"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_clnc", col("_c") * lnMicro(col("_c")))
      .groupBy("doc_id")
      .agg(sum("_c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum("_clnc").as("_sum_clnc"))
      .withColumn("entropy",
        (col("n_tokens") * lnMicro(col("n_tokens")) - col("_sum_clnc"))
          .cast(DoubleType) /
          (col("n_tokens") * lit(1000000L)).cast(DoubleType))
      .drop("_sum_clnc")
  }

  /** Zipf-slope corpus diagnostic: the fitted exponent `s` of the rank-
    * frequency law freq(r) ∝ r^−s over each language's `topK` most-frequent
    * tokens — natural corpora sit near s ≈ 1 (Zipf 1949); a slope far off
    * flags template/boilerplate floods (too steep) or shredded/noisy text
    * (too flat) before a training run ingests the language. Estimated by
    * ordinary least squares on (x = ln rank, y = ln count): both logs are
    * [[graft.ops.Sampling.portableLn]] quantized to MILLI-nats, so the OLS
    * sums and the slope's `n·Σxy − Σx·Σy` / `n·Σx² − (Σx)²` are EXACT
    * integers (milli precision keeps every product under 2⁶³ for
    * topK ≤ 10⁵ and counts ≤ 2⁶² — the require pins it) and the output
    * slope is one int/int double division — engine-exact. `zipf_slope` is
    * the NEGATED OLS slope (so the healthy value is ≈ +1); NULL when a
    * language has a single distinct token (zero-variance x).
    *
    * Rank is by count descending, ties broken by the token's 60-bit
    * content hash ascending — a total order both engines share without
    * comparing strings (two same-count tokens colliding on all 60 bits
    * would tie arbitrarily; at vocabulary scales that is ~10⁻⁹ territory).
    *
    * Scale: one (lang, token)-keyed count aggregate, then the per-language
    * top-K rides the bounded-heap [[graft.ops.TopK.perKey]] — ≤ topK rows
    * per (lang, partition) move, NEVER a vocabulary-wide sort — and the
    * rank window + OLS aggregate run over ≤ topK rows per language. A
    * 10⁹-token vocabulary costs what a 10³ one costs after the heaps. */
  def zipfSlope(docs: DataFrame): DataFrame = {
    def lnMilli(m: Column): Column =
      floor(graft.ops.Sampling.portableLn(m) * lit(1000.0)).cast(LongType)
    val counts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("_tok"))
      .groupBy(col("lang"), col("_tok"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_h", Dedup.portableHash(col("_tok")))
    // ascending struct(−count, hash) == count desc, hash asc — the same
    // total order the rank window and the oracle use
    val top = graft.ops.TopK.perKey(counts, Seq("lang"),
      struct(-col("_c"), col("_h")), 1000, descending = false)
    val rankWin = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("_c").desc, col("_h"))
    top
      .withColumn("_x", lnMilli(row_number().over(rankWin).cast(LongType)))
      .withColumn("_y", lnMilli(col("_c")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_points"),
        sum("_x").as("_sx"), sum("_y").as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"))
      .withColumn("slope_num",
        col("n_points") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("slope_den",
        col("n_points") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("zipf_slope",
        when(col("slope_den") === 0, lit(null).cast(DoubleType))
          .otherwise(-(col("slope_num").cast(DoubleType) /
            col("slope_den").cast(DoubleType))))
      .select(col("lang"), col("n_points"), col("slope_num"),
        col("slope_den"), col("zipf_slope"))
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023): score each doc by how target-like its
    * hashed-token distribution is, so a raw pool can be filtered toward a
    * target domain (here: the caller's `isTarget` rows, e.g. a curated
    * subset) without training a classifier. The hashed-n-gram feature
    * space bounds the "language model" to 2048 bucket rows regardless of
    * corpus vocabulary — the published trick that makes the method run at
    * web scale.
    *
    * The weight is a likelihood RATIO kept engine-exact: per doc,
    * `t_sum` = Σ over its tokens of the bucket's target count and
    * `p_sum` = the same over the whole pool — both exact integer sums —
    * and `weight = t_sum / p_sum` as ONE IEEE double division (correctly
    * rounded in any IEEE engine; no float accumulation anywhere, no log).
    * Docs with no tokens drop (no feature evidence).
    *
    * Scale: explode → narrow bucket hash → one 2048-row-bounded count
    * aggregate (map-side partials) → BROADCAST join of the bucket model
    * back onto the token stream → per-doc aggregate. The only corpus-
    * sized shuffle is the per-doc sum, keyed on the doc id. Selection on
    * top of this ([[dsirSelect]]) is a bounded TakeOrdered, never a
    * global sort. */
  def dsirWeights(docs: DataFrame, textCol: String,
      isTarget: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), isTarget.as("_is_t"),
        explode(tokens(col(textCol))).as("_tok"))
      .select(col("doc_id"), col("_is_t"),
        pmod(Dedup.portableHash(col("_tok")), lit(2048L)).as("_bkt"))
    val model = tok.groupBy("_bkt").agg(
      sum(when(col("_is_t"), 1L).otherwise(0L)).as("_t_n"),
      count(lit(1)).as("_p_n"))
    tok.select(col("doc_id"), col("_bkt"))
      .join(broadcast(model), "_bkt")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("_t_n").as("t_sum"), sum("_p_n").as("p_sum"))
      .select(col("doc_id"), col("n_tokens"), col("t_sum"), col("p_sum"),
        (col("t_sum").cast(DoubleType) / col("p_sum").cast(DoubleType))
          .as("weight"))
  }

  /** Top-`n` most target-like docs under [[dsirWeights]] (weight desc,
    * id asc — the id tie-break makes the cut deterministic). A bounded
    * TakeOrdered: k rows per partition move, never a corpus sort. */
  def dsirSelect(docs: DataFrame, textCol: String, isTarget: Column,
      n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    dsirWeights(docs, textCol, isTarget)
      .orderBy(col("weight").desc, col("doc_id")).limit(n)
  }

  /** GPT-style sequence packing (concat-then-chunk): documents are
    * concatenated in id order WITHIN EACH SHARD and chunked into
    * fixed-token-budget training sequences; a document may span a chunk
    * boundary (the standard trade — no padding waste). Each doc's start
    * offset is a running per-shard cumsum of token counts: one window
    * pass, no sequential loop. Sharding (by `source`) is what makes this
    * scale — a global ordered cumsum would funnel the corpus through one
    * reducer; per-shard packing is both the production layout and an
    * independent window per shard. */
  def packSequences(docs: DataFrame, textCol: String,
      budget: Int): DataFrame = {
    require(budget > 0)
    // n_tokens tiebreaks duplicate ids within a shard: rows that still tie
    // are identical in every projected column, so the output MULTISET is
    // deterministic even then — without the tiebreak, duplicate ids with
    // different lengths would make start_offset order-dependent, defeating
    // the cross-engine reproducibility guarantee
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("doc_id"), col("n_tokens"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"), tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum("n_tokens").over(w), lit(0L)).cast(LongType))
      .withColumn("chunk_start", expr(s"start_offset div $budget"))
      .withColumn("chunk_end", expr(
        s"if(n_tokens > 0, (start_offset + n_tokens - 1) div $budget, start_offset div $budget)"))
      .withColumn("spans_chunks", col("chunk_start") =!= col("chunk_end"))
  }

  /** PII patterns shared by [[piiScrub]] and its oracle mirror: simple
    * alternation-free regexes that parse identically under Java regex
    * (Spark) and RE2 (DuckDB) — no lookaround, no backrefs. Scrub ORDER
    * matters (emails contain dots/digits): email → phone → IPv4. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\d{3}[-.]\\d{3}[-.]\\d{4}", "<PHONE>"),
    ("ip", "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>"))

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before anything else ships: per document, the count of each PII class
    * (emails, phones, IPv4s) and the md5 of the text with every match
    * replaced by its sentinel token (`<EMAIL>`/`<PHONE>`/`<IP>`), classes
    * applied in [[PiiPatterns]] order. Counts + hash (not the scrubbed
    * text itself) keep the output flat and oracle-hashable while pinning
    * the exact redacted CONTENT cross-engine.
    *
    * Scale: pure column expressions (regexp_count + chained
    * regexp_replace) — one narrow codegen map over the corpus scan, zero
    * shuffles; at 100 TB this rides the same scan as the other quality
    * signals. */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame = {
    val scrubbed = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }
    docs.select(
      col("doc_id") +:
        PiiPatterns.map { case (name, pat, _) =>
          regexp_count(col(textCol), lit(pat)).as(s"n_$name") } :+
        md5(scrubbed.cast(BinaryType)).as("scrubbed_hash"): _*)
  }

  /** Fixed-size token-window document chunking with overlap — the
    * retrieval / teacher-data sibling of [[packSequences]]: where packing
    * concatenates documents ACROSS boundaries into fixed budgets, chunking
    * splits each document ALONE into overlapping `size`-token windows at
    * stride `size - overlap` (consecutive chunks share `overlap` tokens,
    * the standard RAG/context-window recipe — no chunk ever spans two
    * documents). Every token lands in at least one chunk; the final chunk
    * may be short (`n_chunk_tokens < size`). Zero-token documents yield no
    * chunks.
    *
    * Output per chunk: (doc_id, chunk_idx, tok_start, n_chunk_tokens,
    * chunk_hash) where chunk_hash = md5 of the chunk's tokens joined by a
    * single space — pinning exact chunk CONTENT cross-engine without
    * emitting nested arrays.
    *
    * Scale: narrow map + per-doc sequence explode — no shuffle, no window
    * functions, no per-corpus state; chunk count is O(corpus tokens /
    * stride). The token array is computed once per document at the
    * generator input (plain expression context — no HOF lambda captures;
    * see [[Dedup.shingles]]' PERF note for the trap this avoids). */
  def chunk(docs: DataFrame, textCol: String, size: Int,
      overlap: Int): DataFrame = {
    require(size > 0, "chunk size must be positive")
    require(overlap >= 0 && overlap < size,
      "overlap must be in [0, size) — stride = size - overlap must advance")
    val stride = size - overlap
    docs
      .select(col("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(col("toks")))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        posexplode(sequence(lit(0), col("n_tokens") - 1, lit(stride)))
          .as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        least(lit(size), col("n_tokens") - col("tok_start"))
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("tok_start") + 1, lit(size)))
          .cast(BinaryType)).as("chunk_hash"))
  }

  /** BPE merge-step pair statistics: the adjacent-symbol-pair counts that
    * drive byte-pair-encoding tokenizer training (each training round
    * merges the most frequent pair; this op computes that round's
    * frequency table from the initial character alphabet). Words are
    * lower-cased alphanumeric runs (the [[subwordCount]] segmentation);
    * each word carries a `_` end-of-word sentinel (Sennrich-style `</w>`,
    * one char so every pair is a 2-char substring), so word-final pairs
    * stay distinct from word-internal ones and a merged vocab can
    * reconstruct word boundaries.
    *
    * Scale: the pair explode runs over the DISTINCT-WORD vocab weighted by
    * word frequency — the standard BPE-trainer reduction. The corpus-sized
    * stage is one tokenize + hash aggregate (map-side partials); pair
    * counting then costs O(vocab · avg word length) regardless of corpus
    * row count, and the final aggregate is bounded by the symbol-pair
    * alphabet. Top-k via a total order (count desc, pair asc) keeps the
    * result deterministic under ties. */
  def bpePairs(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = docs
      .select(explode(
        filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
          t => length(t) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"), explode(
        expr("transform(sequence(1, length(word)), " +
          "i -> substr(concat(word, '_'), i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("pair_count"))
      .orderBy(desc("pair_count"), asc("pair")).limit(topK)
  }

  /** Per-document out-of-vocabulary statistics against the corpus' own
    * top-`vocabSize` word list (by total occurrences, ties to the
    * lexicographically smaller word — deterministic): token total and the
    * count NOT covered by the vocab. The coverage measurement behind
    * "train the tokenizer on N words" decisions; also the cheap
    * quality signal for corpus drift (rising OOV = domain shift).
    *
    * Scale: vocab = one corpus-wide hash aggregate + bounded top-k
    * (TopK-sized, broadcastable); coverage = explode + broadcast LEFT
    * SEMI-shaped mark join + per-doc aggregate — the wide shuffle carries
    * (doc, token) pairs only. */
  def oovStats(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("tok")).limit(vocabSize)
      .select(col("tok").as("vword"))
    toks
      .join(broadcast(vocab), col("tok") === col("vword"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("vword").isNull, 1)).as("n_oov"))
  }

  /** Batch-BPE tokenization — the APPLY side of the tokenizer loop that
    * [[bpePairs]] (train pair stats) and [[oovStats]] (coverage) bracket:
    * learn `mergesPerRound` ranked merges per round from the corpus' own
    * distinct-word vocab, apply them sequentially in priority order, then
    * recount pairs on the merged symbols and repeat. Returns the top
    * `topK` subword pieces by total occurrence (count desc, piece asc —
    * deterministic), i.e. the piece-frequency table of the learned
    * tokenizer applied to the whole corpus. Over its 2 rounds the merges
    * compose (round 2 merges pairs of round-1 pieces), so pieces grow
    * beyond 2 chars exactly as sequential BPE's do.
    *
    * Representation: each word's symbol sequence is a guarded string
    * `||s1||s2||…||sn||` (symbols are lower-case alphanumerics plus the
    * '_' end-of-word sentinel, so '|' never occurs inside a symbol).
    * Applying merge (x, y) is then ONE literal
    * `replace(s, "|x||y|", "|xy|")`: the doubled separator means the
    * pattern consumes just one '|' from each boundary, so back-to-back
    * occurrences all merge in a single left-to-right pass — the standard
    * BPE apply semantics — and a false match spanning a symbol boundary
    * is impossible (inside a symbol no char is adjacent to a bare '|').
    * Literal `replace` is left-to-right non-overlapping in both Spark
    * (UTF8String.replace) and DuckDB, so the oracle's recursive-CTE
    * mirror of this pass is bit-identical.
    *
    * Scale: the only corpus-sized stage is one tokenize + hash aggregate
    * down to the (word, freq) vocab (map-side partials); every merge
    * round after that is O(vocab · word length) narrow work regardless of
    * corpus row count — the same trainer reduction as [[bpePairs]]. Each
    * round's learned merge list is a bounded `mergesPerRound`-row driver
    * collect folded back in as literal expressions (the bounded-pin
    * pattern of [[Pq]]'s codebooks). Pair-count ties break on
    * (x asc, y asc) — a total order, so the merge list (and therefore
    * every downstream byte) is deterministic cross-engine. */
  def bpeApply(docs: DataFrame, mergesPerRound: Int = 16,
      topK: Int = 100): DataFrame = {
    require(mergesPerRound > 0, "mergesPerRound must be positive")
    require(topK > 0, "topK must be positive")
    // (word, freq) vocab — read by every round's pair count AND the final
    // piece aggregate, so it persists for the session
    val vocab = docs
      .select(explode(
        filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
          w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // initial symbol string: chars of word || '_', '||'-guarded
    val sym0 = concat(lit("||"),
      array_join(transform(sequence(lit(1), length(col("word")) + 1),
        i => concat(col("word"), lit("_")).substr(i, lit(1))), "||"),
      lit("||"))
    var cur = vocab.select(col("word"), col("freq"), sym0.as("s"))
    for (_ <- 1 to 2) {
      // adjacent-symbol pairs of the CURRENT segmentation, freq-weighted;
      // single-symbol words have no pairs (and sequence(1, 0) would count
      // DOWN — the filter keeps the generator total)
      val ranked = cur
        .select(col("freq"),
          filter(split(col("s"), "\\|\\|"), t => length(t) > 0).as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(col("a")) - 1),
            i => struct(element_at(col("a"), i).as("x"),
              element_at(col("a"), i + 1).as("y")))).as("p"))
        .select(col("freq"), col("p.x").as("x"), col("p.y").as("y"))
        .groupBy("x", "y").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("x"), asc("y"))
        .limit(mergesPerRound)
        .collect() // bounded: ≤ mergesPerRound rows
        .map(r => (r.getString(0), r.getString(1)))
      cur = cur.withColumn("s", ranked.foldLeft(col("s")) {
        case (c, (x, y)) =>
          replace(c, lit("|" + x + "||" + y + "|"), lit("|" + x + y + "|"))
      })
    }
    cur
      .select(col("freq"), explode(
        filter(split(col("s"), "\\|\\|"), t => length(t) > 0)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("piece_count"))
      .orderBy(desc("piece_count"), asc("piece"))
      .limit(topK)
  }

  /** Gopher-style duplicate-LINE statistics per document: line count,
    * duplicate-line count (occurrences beyond each line's first), and the
    * duplicate-character fraction — the within-document repetition signal
    * the line-level C4/Gopher filters threshold on. Lines are trimmed
    * newline splits; empty lines don't count.
    *
    * Scale: fully NARROW — the line array, its distinct form, and both
    * character sums are per-row HOF expressions riding the corpus scan;
    * there is no (doc, line) explode and no shuffle anywhere (contrast
    * [[graft.text.Dedup.paraDedup]], whose cross-document ownership
    * genuinely needs one). The one division per doc is exact-int-to-double
    * — bit-stable cross-engine. */
  def lineDups(docs: DataFrame): DataFrame = {
    val ls = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    val charSum = (a: Column) =>
      aggregate(a, lit(0L), (acc, l) => acc + length(l))
    docs
      .select(col("doc_id"), ls.as("ls"))
      .filter(size(col("ls")) > 0)
      .select(col("doc_id"),
        size(col("ls")).cast(LongType).as("n_lines"),
        (size(col("ls")) - size(array_distinct(col("ls"))))
          .cast(LongType).as("n_dup_lines"),
        charSum(col("ls")).as("chars_total"),
        charSum(array_distinct(col("ls"))).as("chars_distinct"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        col("chars_total"),
        ((col("chars_total") - col("chars_distinct")).cast(DoubleType) /
          col("chars_total").cast(DoubleType)).as("dup_char_frac"))
  }

  /** Heavy hitters (tokens with true count ≥ `threshold`) via a
    * Count-Min-Sketch prefilter + exact settle. Pass 1 builds the sketch
    * (one pass, mergeable counters, KB-scale result); pass 2 keeps only
    * tokens whose ESTIMATE reaches the threshold — since CMS never
    * undercounts, that set is a superset of the true heavy hitters — and
    * the exact recount of the survivors discards the over-counted rest.
    *
    * Scale: the full-corpus aggregation this replaces shuffles every
    * distinct (token, partial-count) pair; here the wide shuffle carries
    * only candidate-token rows (heavy hitters are few by definition —
    * the sketch's eps = 0.0005 bounds how few false candidates leak:
    * overestimate ≤ eps · N with probability 0.99). The same two-pass sketch-then-settle shape
    * as [[graft.ops.BloomJoin]]. */
  def heavyHitters(docs: DataFrame, textCol: String,
      threshold: Long): DataFrame = {
    val toks = docs.select(explode(tokens(col(textCol))).as("tok"))
    val sketch = toks.stat.countMinSketch("tok", 0.0005, 0.99, 42)
    toks
      .filter(graft.functions.CmsEstimate(col("tok"), sketch) >= threshold)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }

  /** Token co-occurrence pair counts within a ±2 POSITION window
    * (the GloVe/word2vec co-occurrence-matrix builder), with the
    * independence lift `p(x,y) / (p(x)·p(y))` from exact counts. Pairs
    * are unordered canonical (least, greatest); a repeated adjacent word
    * pairs with itself (that IS data — "very very").
    *
    * Scale: pair GENERATION is position-keyed — each token joins only the
    * 2 positions after it via exact (doc, pos+d) equi-joins — so
    * per-token work is O(window) and hub words cannot blow up generation
    * (unlike similarity self-joins keyed on the token). The aggregate is
    * keyed on pairs with map-side partials; marginals ride one more hash
    * aggregate; the two scalar totals broadcast as single rows. Top-k by
    * (count desc, x asc, y asc) — deterministic under ties.
    *
    * Lift arithmetic: all counts are exact longs; the double math is the
    * textually-pinned `(nxy/P) / ((nx/T)·(ny/T))` — divisions and one
    * multiply of correctly-rounded doubles, bit-stable cross-engine. */
  def cooccurPairs(docs: DataFrame, textCol: String,
      topK: Int = 50): DataFrame = {
    require(topK > 0, "topK must be positive")
    val toks = docs.select(col("doc_id").as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val b = toks.select(col("id").as("idb"), col("pos").as("posb"),
      col("tok").as("tokb"))
    val pairs = (1 to 2).map { d =>
      toks.join(b, col("id") === col("idb") && col("posb") === col("pos") + d)
        .select(least(col("tok"), col("tokb")).as("x"),
          greatest(col("tok"), col("tokb")).as("y"))
    }.reduce(_ unionByName _)
    val pairCounts = pairs.groupBy("x", "y").agg(count(lit(1)).as("n_pair"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val totals = toks.agg(count(lit(1)).as("t_toks"))
      .crossJoin(pairs.agg(count(lit(1)).as("t_pairs")))
    pairCounts
      .join(uni.select(col("tok").as("x"), col("n_tok").as("n_x")), "x")
      .join(uni.select(col("tok").as("y"), col("n_tok").as("n_y")), "y")
      .crossJoin(totals)
      .select(col("x"), col("y"), col("n_pair"), col("n_x"), col("n_y"),
        ((col("n_pair").cast(DoubleType) / col("t_pairs").cast(DoubleType)) /
          ((col("n_x").cast(DoubleType) / col("t_toks").cast(DoubleType)) *
            (col("n_y").cast(DoubleType) / col("t_toks").cast(DoubleType))))
          .as("lift"))
      .orderBy(desc("n_pair"), asc("x"), asc("y")).limit(topK)
  }

  /** Pointwise-mutual-information collocation ranking (Church & Hanks
    * 1990) over ADJACENT word bigrams — the published collocation
    * extractor [[cooccurPairs]]'s windowed lift stops short of: pairs are
    * RANKED by PMI = ln(N·c_xy / (c_x·c_y)) under a minimum-support floor
    * (`minCount` — without it PMI degenerates to a rare-pair detector),
    * surfacing "strongly associated" phrases rather than merely frequent
    * ones. The log rides [[graft.ops.Sampling.portableLn]] on the exact
    * integer counts — pmi_micro = ⌊(ln c_xy + ln N − ln c_x − ln c_y)·10⁶⌋,
    * a floor of a left-to-right sum of bit-identical doubles, so the
    * ranking integer is hash-exact cross-engine (the [[lmLogProb]]
    * micro-nat idiom).
    *
    * Scale: two token-keyed hash aggregates (bigram counts, unigram
    * counts) with map-side partials, the 1-row total broadcast, two
    * key-equi joins on the SUPPORT-FILTERED bigram table (≥ minCount rows
    * only — the floor is also the scale guard), and a bounded TakeOrdered
    * top-k. No self-joins, no windows. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1L, "pmiCollocations: minCount must be positive")
    val t0 = tokens(col("text"))
    val pairsArr = zip_with(slice(t0, lit(1), size(t0) - 1),
      slice(t0, lit(2), size(t0) - 1), (a, b) => struct(a.as("w1"), b.as("w2")))
    val bgp = docs.select(explode(when(size(t0) >= 2, pairsArr)
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = bgp.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    val uni = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("_c"))
    val tot = uni.agg(sum("_c").as("_n"))
    val ln = (c: Column) => graft.ops.Sampling.portableLn(c)
    big
      .join(uni.select(col("tok").as("w1"), col("_c").as("n_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("_c").as("n_y")), "w2")
      .crossJoin(broadcast(tot))
      // textually pinned order: ((ln c_xy + ln N) − ln c_x) − ln c_y
      .withColumn("pmi_micro", floor(
        (ln(col("n_xy")) + ln(col("_n")) - ln(col("n_x")) - ln(col("n_y")))
          * lit(1000000.0)).cast(LongType))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Top-`k` TF-IDF terms per document — the keyword-extraction /
    * retrieval-feature primitive. Rational idf `(N+1)/(df+1)` (the add-one
    * variant, no log) keeps every float op IEEE-exact cross-engine while
    * preserving the df-monotone ranking log-idf gives; score =
    * `tf · (N+1)/(df+1)` with the division FIRST (textually pinned both
    * engines).
    *
    * Scale: tf = one hash aggregate keyed (doc, term) — the shuffle
    * carries distinct pairs, never positions; df rides a second aggregate
    * keyed on term (tf rows are already doc-distinct, so `count(*)` IS
    * document frequency — no count-distinct expansion); N broadcasts as a
    * single row. Per-doc selection goes through the bounded-heap
    * [[graft.ops.TopK]] operator — no corpus-wide window sort; ties at
    * the k boundary are broken by the (score, term) struct order. */
  def tfidfTopTerms(docs: DataFrame, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(n)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast(DoubleType) *
          ((col("n_docs").cast(DoubleType) + lit(1.0d)) /
            (col("df").cast(DoubleType) + lit(1.0d)))).as("score"))
    graft.ops.TopK.perKey(scored, Seq("doc_id"),
      struct(col("score"), col("term")), k, descending = true)
  }

  /** Gopher-style duplicate n-gram fraction per document — the
    * within-doc repetition signal the Gopher cleaning rules threshold
    * (Rae et al. 2021 §A1.1): the fraction of the doc's word trigrams
    * that are repeats of an earlier trigram in the SAME doc
    * (`1 − distinct/total`, one exact-integer division). Docs with fewer
    * than 3 tokens drop (no trigram to measure). Complements
    * [[repetitionSignals]]' token-level type-token ratio with the
    * n-gram-level signal that catches looping/boilerplate generation.
    *
    * Scale: fully NARROW — window counting is the native one-pass
    * [[graft.functions.NgramDupStats]] expression riding the corpus
    * scan, zero shuffles. The HOF formulation (two zip_with concats +
    * array_distinct) measured ~4.4 ms/doc interpreted — ~7× the native
    * loop at the ×10 probe — the round-10 escalation rule applied at
    * design time. */
  def dupNgramFrac(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.NgramDupStats(tokens(col("text")), 3).as("_st"))
      .filter(col("_st.n_ngrams") > 0)
      .select(col("doc_id"),
        col("_st.n_ngrams").as("n_ngrams"),
        col("_st.n_distinct").as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_ngrams") - col("n_distinct")).cast(DoubleType) /
          col("n_ngrams").cast(DoubleType))

  /** Gopher-style repetition signals per document: token total, distinct
    * types, and the most-frequent token's count — the inputs to
    * type-token-ratio and top-token-share repetition filters. Empty
    * documents drop (no tokens). Scale: explode + two hash aggregates with
    * map-side partials keyed (id, token) then id — the shuffle carries
    * distinct (doc, token) pairs, never a per-document buffer. */
  def repetitionSignals(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        max("c").as("top_tok_n"))

  /** Gopher-style composite quality filter (the Rae et al. 2021 rule
    * family re-expressed as integer-only predicates): each rule is a
    * NAMED boolean column so a curation pipeline can report WHY a
    * document was dropped, not just that it was; `keep` is the
    * conjunction. All thresholds are multiplicative (division-free) so
    * the DuckDB oracle reproduces every flag exactly:
    *   - fail_short / fail_long — token count outside [minTokens, maxTokens]
    *   - fail_word_len — mean word length outside [3, 10] chars
    *     (`n_word_chars` vs `3·n_tokens` / `10·n_tokens`)
    *   - fail_digit — digits exceed 20% of word chars
    *   - fail_stopword — stopwords under 5% of tokens
    *   - fail_repeat — the single most frequent token exceeds 1/8 of
    *     all tokens (repetition-loop detector)
    *
    * Scale: [[qualitySignals]] is a narrow map over the scan;
    * [[repetitionSignals]] adds the one (doc, token)-keyed aggregate —
    * the join back is doc-keyed with map-side partials everywhere. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val sig = qualitySignals(docs.select(col("doc_id"), col("text")), "text")
      .withColumn("n_word_chars",
        length(regexp_replace(col("text"), "\\s", "")))
    val rep = repetitionSignals(docs, "text")
      .select(col("doc_id"), col("top_tok_n"))
    sig.join(rep, Seq("doc_id"), "left") // token-less docs have no rep row
      .select(col("doc_id"), col("n_tokens"), col("n_word_chars"),
        coalesce(col("top_tok_n"), lit(0L)).as("top_tok_n"),
        (col("n_tokens") < 25).as("fail_short"),
        (col("n_tokens") > 10000).as("fail_long"),
        (col("n_word_chars") < col("n_tokens") * 3 ||
          col("n_word_chars") > col("n_tokens") * 10).as("fail_word_len"),
        (col("n_digit") * 5 > col("n_word_chars")).as("fail_digit"),
        (col("n_stopword") * 20 < col("n_tokens")).as("fail_stopword"),
        (coalesce(col("top_tok_n"), lit(0L)) * 8 > col("n_tokens"))
          .as("fail_repeat"))
      .withColumn("keep", !(col("fail_short") || col("fail_long") ||
        col("fail_word_len") || col("fail_digit") ||
        col("fail_stopword") || col("fail_repeat")))
  }

  /** Vocabulary-RICHNESS estimate per language — how much vocabulary the
    * corpus has NOT seen yet, the coverage read [[vocabCoverage]]'s
    * top-N table can't give: Chao1's bias-corrected species-richness
    * estimate V̂ = V + F₁(F₁−1)/(2(F₂+1)) (Chao 1984 — singletons F₁ and
    * doubletons F₂ carry the unseen-mass signal; the +1 form is defined
    * at F₂ = 0) and the Good–Turing unseen-probability mass P₀ = F₁/N
    * (Good 1953). Exact integer N/V/F₁/F₂ plus two pinned IEEE
    * divisions — engine-exact.
    *
    * Scale: one (lang, token)-keyed count with map-side partials, one
    * lang-keyed rollup. Nothing corpus-sized moves after the first
    * aggregate. */
  def vocabRichness(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("_c"))
    counts.groupBy("lang").agg(
        sum("_c").as("n_tokens"),
        count(lit(1)).as("v_observed"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("_c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("v_observed"), col("f1"),
        col("f2"),
        (col("v_observed").cast(DoubleType) +
          (col("f1") * (col("f1") - 1L)).cast(DoubleType) /
            (lit(2L) * (col("f2") + 1L)).cast(DoubleType)).as("chao1_est"),
        when(col("n_tokens") > 0,
          col("f1").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("p_unseen"))
  }

  /** Tokenizer-vocabulary coverage curve: the `topN` corpus tokens by
    * frequency with rank, count, and the cumulative share of ALL token
    * occurrences they cover — the measurement behind "how big must the
    * vocab be to cover X% of the corpus". Shares are single divisions of
    * exact integer counts (bit-stable cross-engine); ties break lexically.
    *
    * Scale: the token-count aggregate is (token)-keyed with map-side
    * partials; top-N selection is TakeOrderedAndProject (never a global
    * sort); the cumulative window then runs over ≤ topN rows — a
    * deliberately bounded single-partition frame, like the reference's
    * report tails. */
  def vocabCoverage(docs: DataFrame, topN: Int = 50): DataFrame = {
    require(topN >= 1, "topN must be positive")
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("n_total"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    top.withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum("cnt").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(total)
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("cum_share"))
  }

  /** C4-style line-level quality filter (the Raffel et al. 2020 cleaning
    * family re-expressed as per-doc NAMED flags, like [[gopherRules]]):
    * a line is KEPT when it ends in terminal punctuation (`. ! ? "`) and
    * has at least 5 whitespace words; a doc fails on
    *   - fail_few_lines — fewer than 3 kept lines
    *   - fail_lorem / fail_js — boilerplate markers (`lorem ipsum`,
    *     `javascript`) anywhere in the lower-cased text
    *   - fail_brace — a `{` anywhere (code/templating leak)
    * `kept_char_frac` reports how much of the doc's line text survives
    * the line filter (exact-int single division; NULL for line-less
    * docs). `keep` is the conjunction of no-fails.
    *
    * Scale: fully NARROW — the line split, the kept-line filter (a
    * per-line HOF predicate), both char sums, and every marker test ride
    * the corpus scan as one codegen stage; no explode, no shuffle
    * (the same posture as [[lineDups]]). */
  def c4Rules(docs: DataFrame): DataFrame = {
    val ls = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    val keptLine = (l: Column) =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(l, "\\s+")) >= 5
    val charSum = (a: Column) =>
      aggregate(a, lit(0L), (acc, l) => acc + length(l))
    val low = lower(col("text"))
    docs
      .select(col("doc_id"), col("text"), ls.as("ls"))
      .select(col("doc_id"), col("text"), col("ls"),
        filter(col("ls"), keptLine).as("kept"))
      .select(col("doc_id"),
        size(col("ls")).cast(LongType).as("n_lines"),
        size(col("kept")).cast(LongType).as("n_kept_lines"),
        charSum(col("ls")).as("chars_total"),
        charSum(col("kept")).as("chars_kept"),
        low.like("%lorem ipsum%").as("fail_lorem"),
        low.like("%javascript%").as("fail_js"),
        col("text").contains("{").as("fail_brace"))
      .withColumn("fail_few_lines", col("n_kept_lines") < 3)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        when(col("chars_total") > 0,
          col("chars_kept").cast(DoubleType) /
            col("chars_total").cast(DoubleType)).as("kept_char_frac"),
        col("fail_few_lines"), col("fail_lorem"), col("fail_js"),
        col("fail_brace"),
        (!(col("fail_few_lines") || col("fail_lorem") || col("fail_js") ||
          col("fail_brace"))).as("keep"))
  }

  /** Character-distribution diversity per document — the log-free quality
    * signal family (a low-diversity doc is boilerplate, ASCII art, or a
    * repetition loop): distinct-char count, the most frequent char's
    * count, and `repeat_prob` = Σ cᵢ² / N² — the Simpson index
    * (probability two uniformly drawn characters match; 1/N² granular,
    * high for degenerate text). Shannon entropy is deliberately NOT
    * computed: `log` is not correctly rounded IEEE (libm-specific), so it
    * can't hash-match a foreign engine — Simpson's sum-of-squares needs
    * only integer math plus ONE exact-int division, the op_corr_stats
    * discipline. Empty docs are dropped (no distribution to measure).
    *
    * Scale: fully NARROW — the char histogram is ONE primitive codepoint
    * pass per row (the native [[graft.functions.CharDivStats]]
    * expression) riding the corpus scan; no explode, no shuffle. The HOF
    * formulation it replaced (kept in the tests to cross-validate the
    * kernel) evaluated ~6 interpreted lambda passes — measured
    * 3.97 s at sf0.1 vs ~0.3 s native (round-18 rewrite; CurationOpsSpec
    * pins native == HOF row-for-row). Contrast the oracle's
    * unnest-and-group formulation, which moves every (doc, char) pair
    * through an aggregate. */
  def charDiversity(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.CharDivStats(col("text")).as("_st"))
      .filter(col("_st.n_chars") > 0)
      .select(col("doc_id"),
        col("_st.n_chars").as("n_chars"),
        col("_st.n_distinct_chars").as("n_distinct_chars"),
        col("_st.top_char_n").as("top_char_n"),
        (col("_st.sum_sq").cast(DoubleType) /
          (col("_st.n_chars") * col("_st.n_chars")).cast(DoubleType))
          .as("repeat_prob"))

  /** Character-trigram language ID, Cavnar–Trenkle style, TRAINED AND
    * APPLIED in one plan: per-language profiles are the top 300
    * char trigrams by corpus count (ties lexically), and each doc is
    * classified to the language whose profile overlaps most of its own
    * distinct trigrams (ties to the lexically smallest language; docs
    * overlapping nothing get 'und' at score 0). Integer counts
    * throughout — deterministic and oracle-portable. The n-gram sibling
    * of the stopword/charset [[langId]] heuristic.
    *
    * Trigram extraction is the native [[graft.functions.CharNgrams]]
    * expression — the HOF formulation (char split → filter → slices →
    * zip_with concats → distinct) measured ~2.6 ms/doc interpreted,
    * 12.8 s at sf0.1; one primitive substring loop replaced it (the
    * round-10 escalation rule). The trigram frame is PERSISTED (session lifetime):
    * it feeds the profile build AND the probe stream, and caching it
    * keeps the downstream joins whole-stage-codegen (the op_knn_graph
    * lesson).
    *
    * Scale: trigram maps are narrow; the profile build is one
    * (lang, trigram)-keyed aggregate with map-side partials and a window
    * through the bounded-heap TopK (never a rank window over a
    * language's whole trigram vocabulary); the profile (≤ langs ·
    * profileK rows) BROADCASTS back onto the doc-trigram probe stream;
    * the final argmax window is per doc over ≤ |langs| rows. */
  def ngramLangId(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // Persisting the trigram frame measured 8× (1.4 s vs 11.2 s at
    // sf0.1): both the profile build and the probe stream consume it, and
    // the cached flat arrays keep the fan-out stages short
    val docTris = docs.select(col("doc_id"), col("lang"),
      graft.functions.CharNgrams(
        lower(regexp_replace(col("text"), "\\s+", " ")), 3).as("_tris"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = docTris
      .select(col("lang").as("_plang"), explode(col("_tris")).as("_tri"))
      .groupBy("_plang", "_tri").agg(count(lit(1)).as("_cnt"))
    // top-300 per language through the BOUNDED HEAP, not a rank
    // window: the partition would be each language's whole observed
    // trigram vocabulary (10⁶-10⁷ on a unicode corpus) sorted in one
    // task per language — the op_chi2_terms lesson. The profile is a
    // SET, so no rank needs recovering; tie-break (count desc, trigram
    // asc) rides the ascending (−count, trigram) struct.
    val profile = graft.ops.TopK.perKey(counts, Seq("_plang"),
      struct((lit(0L) - col("_cnt")).as("_nc"), col("_tri")), 300,
      descending = false)
      .select("_plang", "_tri")
    val scored = docTris
      .select(col("doc_id"), col("lang"), explode(col("_tris")).as("_tri"))
      .join(broadcast(profile), "_tri")
      .groupBy(col("doc_id"), col("lang"), col("_plang"))
      .agg(count(lit(1)).as("score"))
      .withColumn("_rk", row_number().over(w.partitionBy("doc_id")
        .orderBy(col("score").desc, col("_plang"))))
      .filter(col("_rk") === 1)
      .select(col("doc_id"), col("_plang"), col("score"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("_plang"), lit("und")).as("lang_pred"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Chi-square discriminative terms per class — supervised feature
    * selection for classifier training: for each (class, token) observed
    * pair, the 2×2 document-contingency chi² statistic
    * `N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))` where a = class docs with the
    * token, b = class docs without, c = other docs with, d = the rest;
    * top `k` tokens per class by (chi² desc, token). The counts are exact
    * integers; `ad−bc` stays in long range (≤ N²), and the finishing
    * math is multiplications/division of correctly-rounded doubles in a
    * FIXED textual order — bit-stable cross-engine (the op_corr_stats
    * discipline; a long-only formula would overflow at N ≥ ~50k since
    * the denominator reaches N⁴). Tokens with document frequency below
    * `minDf` or above `N − minDf` are excluded (ultra-rare terms are
    * noise; near-universal terms zero the (b+d) margin). A class that
    * covers the WHOLE corpus zeroes the (c+d) margin (0/0 = NaN with no
    * discriminative content to rank) — those rows drop too, so a
    * single-class corpus yields an empty result rather than NaN scores.
    *
    * Scale: one (doc, token)-distinct explode feeds a (class, token)
    * aggregate with map-side partials; the per-class and corpus totals
    * are tiny broadcast frames. Per-class top-k goes through the bounded
    * heap ([[graft.ops.TopK.perKey]]) — NEVER a rank window over the
    * class's whole vocabulary, which at corpus scale would sort 10⁷+ rows
    * in one task per class. The heap's single-direction order is the
    * ascending struct `(0.0 − chi2, token)`: chi² ≥ 0 always, and IEEE
    * `0.0 − 0.0 = +0.0`, so negation introduces no −0.0/+0.0 ordering
    * hazard, and the tie-break matches the declared (chi² desc, token
    * asc) contract exactly. The rank column is then recovered WITHOUT any
    * window: `sort_array(collect_list(...))` + `posexplode` over the ≤ k
    * surviving rows per class (bounded memory by construction). */
  def chi2Terms(docs: DataFrame, k: Int = 10, minDf: Int = 5): DataFrame = {
    require(k >= 1 && minDf >= 1, "k and minDf must be positive")
    val dt = docs.select(col("lang").as("_cls"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val nTot = docs.agg(count(lit(1)).as("_n"))
    val clsTot = docs.groupBy(col("lang").as("_cls"))
      .agg(count(lit(1)).as("_ncls"))
    val tokTot = dt.groupBy("token").agg(count(lit(1)).as("_ntok"))
    val aTab = dt.groupBy("_cls", "token").agg(count(lit(1)).as("_a"))
    val joined = aTab
      .join(tokTot, "token")
      .join(broadcast(clsTot), "_cls")
      .crossJoin(broadcast(nTot))
      .filter(col("_ntok") >= minDf && col("_ntok") <= col("_n") - minDf &&
        col("_ncls") < col("_n"))
    val a = col("_a"); val b = col("_ncls") - col("_a")
    val c = col("_ntok") - col("_a")
    val d = col("_n") - col("_ncls") - c
    val det = (a * d - b * c).cast(LongType)
    val dbl = (x: Column) => x.cast(DoubleType)
    val chi2 = dbl(det) * dbl(det) * dbl(col("_n")) /
      ((dbl(a + b) * dbl(c + d)) * (dbl(a + c) * dbl(b + d)))
    val scored = joined
      .select(col("_cls"), col("token"), a.cast(LongType).as("n_class_tok"),
        chi2.as("chi2"))
    val top = graft.ops.TopK.perKey(scored, Seq("_cls"),
      struct((lit(0.0d) - col("chi2")).as("_nchi"), col("token")), k,
      descending = false)
    top.groupBy("_cls")
      .agg(sort_array(collect_list(struct(
        (lit(0.0d) - col("chi2")).as("_nchi"), col("token"),
        col("n_class_tok"), col("chi2")))).as("_top"))
      .select(col("_cls"), posexplode(col("_top")))
      .select(col("_cls").as("lang"),
        (col("pos") + 1).as("rank"), col("col.token").as("token"),
        col("col.n_class_tok").as("n_class_tok"), col("col.chi2").as("chi2"))
  }

  /** Feature slots of the hashed linear model ([[linearScore]],
    * [[perceptronStep]]). */
  private val FeatureBuckets = 64

  /** The literal-folded weight vector shared by [[linearScore]] (apply)
    * and [[perceptronStep]] (train): a (bucket, weight) frame collected
    * into a [[FeatureBuckets]]-long array (bounded by construction — that
    * boundedness IS the hashing trick), or the fixed deterministic
    * stand-in when no table is given. */
  private def weightTable(weights: Option[DataFrame]): Array[Long] =
    weights match {
      case Some(w) =>
        val rows = w.select(col("bucket").cast(IntegerType),
          col("weight").cast(LongType)).collect()
        val arr = Array.fill(FeatureBuckets)(0L)
        rows.foreach { r =>
          val b = r.getInt(0)
          require(b >= 0 && b < FeatureBuckets,
            s"weight table: bucket $b outside [0, $FeatureBuckets)")
          arr(b) = r.getLong(1)
        }
        arr
      case None =>
        Array.tabulate(FeatureBuckets)(b => (b.toLong * 37 % 21) - 10)
    }

  /** Hashed bag-of-words linear classifier score — the fastText-style
    * "apply a trained quality model to every document" operator: each
    * token hashes into one of [[FeatureBuckets]] feature slots via the
    * engine-portable md5-60 ([[Dedup.portableHash]]), the slot's integer
    * weight accumulates, and `label_positive` thresholds the total at 0.
    *
    * The weight table is a REAL parameter: pass the trained model as a
    * (bucket, weight) DataFrame and it is LITERAL-FOLDED into the scoring
    * expression — collected (bounded: a hashed linear model has exactly
    * 64 weights, kilobytes by construction — that boundedness is
    * the entire point of the hashing trick) and embedded as an array
    * literal indexed by the token's bucket. No broadcast join, no
    * shuffle: the plan with a trained table is IDENTICAL to the default's.
    * Unlisted buckets weigh 0; out-of-range buckets fail loudly. With no
    * table, a fixed deterministic stand-in (`w(b) = (b·37 mod 21) − 10`)
    * keeps the operator runnable standalone. Integer-only → bit-stable
    * cross-engine.
    *
    * Scale: fully NARROW — tokenize, hash, weight-lookup, and sum are one
    * per-row HOF chain riding the corpus scan (no vocabulary broadcast,
    * no shuffle — the entire "model" lives in the expression), exactly
    * how a hashed linear model scores 100 TB in one map stage. */
  def linearScore(docs: DataFrame,
      weights: Option[DataFrame] = None): DataFrame = {
    val tableLit = typedLit(weightTable(weights).toSeq)
    val w = (t: Column) => element_at(tableLit,
      (pmod(Dedup.portableHash(t), lit(FeatureBuckets.toLong)) + 1L)
        .cast(IntegerType))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + w(t)).as("score"))
      .withColumn("label_positive", col("score") > 0)
  }

  /** Bucketed ranking AUC of a document score against a binary reference
    * label — the evaluator behind "does the cheap classifier actually
    * rank the good docs higher?": the probability a random positive
    * outranks a random negative (ties ½), computed over CLAMPED integer
    * score buckets so the plan stays bounded at any corpus size (the
    * standard streaming/bucketed-AUC trade: in-bucket ties count as ties,
    * and the clamp range is the declared score granularity).
    *
    * Exact integer math: per ascending bucket, each positive scores
    * 2·(negatives strictly below) + (negatives tied in-bucket);
    * `auc_num2` is that exact long sum and `auc` = num2 / (2·P·N) with a
    * double-product denominator. Range note: `auc_num2 ≤ 2·P·N`, so the
    * NUMERATOR saturates long at the same magnitude as an exact-long
    * denominator would — exact-integer AUC holds while P·N ≤ 2⁶² (≈4.6·10¹⁸,
    * e.g. 2·10⁹ positives × 2·10⁹ negatives); past that bound the op needs
    * a rescaled (per-shard or double-accumulated) numerator variant. The
    * double denominator buys nothing extra in range — it only avoids one
    * long multiply. Degenerate inputs (no positives or no negatives) yield
    * NULL auc.
    *
    * Scale: one id equi-join, one buckets-bounded keyed aggregate with
    * map-side partials, a cumulative window over ≤ 1000 bucket
    * rows (bounded by construction — the [[vocabCoverage]] pattern), one
    * 1-row rollup. Nothing corpus-sized is sorted or windowed. */
  def scoreAuc(scored: DataFrame, labels: DataFrame): DataFrame = {
    val joined = bucketedLabels(scored, labels)
    val perBucket = joined.groupBy("_b").agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_p"),
      sum(when(col("_pos"), 0L).otherwise(1L)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("_b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perBucket
      .withColumn("_cumneg", coalesce(sum("_n").over(w), lit(0L)))
      .agg(sum("_p").as("n_pos"), sum("_n").as("n_neg"),
        sum(col("_p") * (col("_cumneg") * 2 + col("_n"))).as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num2").cast(DoubleType) /
            (col("n_pos").cast(DoubleType) * col("n_neg").cast(DoubleType)
              * lit(2.0))).as("auc"))
  }

  /** `scored`'s `score` clamped to the integer buckets [−500, 499] as
    * `_b`, joined on `doc_id` to `labels`' boolean `keep` as `_pos`. */
  private def bucketedLabels(scored: DataFrame,
      labels: DataFrame): DataFrame =
    scored.select(col("doc_id"),
        greatest(lit(-500L), least(col("score").cast(LongType), lit(499L)))
          .as("_b"))
      .join(labels.select(col("doc_id"), col("keep").as("_pos")), "doc_id")

  /** Score-decile lift table — the reliability-diagram read beside
    * [[scoreAuc]]'s single-number ranking view: docs ordered by CLAMPED
    * integer score descending are split into `q` equal-count bins with
    * TIE GROUPS staying whole in the earlier bin (the [[ccnetBuckets]]
    * per-score-value rule — a bin boundary can't split one score value),
    * and each bin reports its positive-label fraction. A healthy ranker's
    * fractions fall monotonically; a flat table says the score carries no
    * signal at that granularity. Bin assignment is pure integer math
    * (⌊docs-before · q / N⌋ on exact counts), the fraction one int/int
    * IEEE division — engine-exact.
    *
    * Scale: the [[scoreAuc]] shape exactly — one id equi-join, one
    * buckets-bounded keyed aggregate, cumulative windows over
    * ≤ 1000 histogram rows, a ≤ q-row finish. Nothing corpus-sized
    * is sorted or windowed. */
  def scoreDeciles(scored: DataFrame, labels: DataFrame,
      q: Int = 10): DataFrame = {
    require(q >= 2 && q <= 1000, "scoreDeciles: q in [2, 1000]")
    val joined = bucketedLabels(scored, labels)
    val perBucket = joined.groupBy("_b").agg(count(lit(1)).as("_n"),
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_p"))
    val wBefore = org.apache.spark.sql.expressions.Window
      .orderBy(col("_b").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perBucket
      .withColumn("_before", coalesce(sum("_n").over(wBefore), lit(0L)))
      .withColumn("_tot", sum("_n").over(wAll))
      .withColumn("_d", least(lit((q - 1).toLong),
        expr(s"(_before * $q) div _tot")))
      .groupBy("_d")
      .agg(min("_b").as("lo_score"), max("_b").as("hi_score"),
        sum("_n").as("n_docs"), sum("_p").as("n_pos"))
      .select((col("_d") + 1L).as("bin"), col("lo_score"), col("hi_score"),
        col("n_docs"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("frac_pos"))
      .orderBy("bin")
  }

  /** One BATCH EPOCH of hashed-perceptron training — the train-side
    * counterpart of [[linearScore]]'s apply-side: score every labeled
    * document under the current weight vector, and for each document the
    * model misclassifies (label · score ≤ 0, zero-margin included), add
    * `label × token-count` into every feature slot its tokens hash to.
    * Output: one row per bucket — (bucket, w_old, grad, w_new) with
    * `w_new = w_old + grad` (learning rate 1) — i.e. the NEXT weight
    * table, feedable straight back into [[linearScore]] as the `weights`
    * frame: the train→apply loop closes over the same (bucket, weight)
    * contract. The epoch scores under the fixed stand-in table. Labels
    * come from `labelCol` (±1). Integer-only throughout → bit-stable
    * cross-engine.
    *
    * Scale — how a hashed linear model trains on 100 TB per epoch: the
    * scoring pass is the SAME fully-narrow map as linearScore (the
    * current model lives in the expression; no vocabulary broadcast);
    * misclassified docs explode to (bucket, label) and aggregate with
    * map-side partials into a [[FeatureBuckets]]-bounded gradient (the only
    * shuffle, kilobytes on the wire); the final frame is a broadcast
    * join against the [[FeatureBuckets]]-row id range. Compare a parameter-server
    * design: the aggregation tree IS the parameter server here. */
  def perceptronStep(docs: DataFrame, labelCol: String): DataFrame = {
    val tableLit = typedLit(weightTable(None).toSeq)
    val bucketOf = (t: Column) =>
      pmod(Dedup.portableHash(t), lit(FeatureBuckets.toLong))
    val w = (t: Column) =>
      element_at(tableLit, (bucketOf(t) + 1L).cast(IntegerType))
    val mis = docs
      .select(col(labelCol).cast(LongType).as("_lbl"),
        tokens(col("text")).as("toks"))
      .withColumn("_score",
        aggregate(col("toks"), lit(0L), (acc, t) => acc + w(t)))
      .filter(col("_lbl") * col("_score") <= 0)
    val grad = mis
      .select(col("_lbl"), explode(col("toks")).as("tok"))
      .groupBy(bucketOf(col("tok")).cast(IntegerType).as("bucket"))
      .agg(sum(col("_lbl")).as("grad"))
    docs.sparkSession.range(FeatureBuckets)
      .select(col("id").cast(IntegerType).as("bucket"))
      .join(grad, Seq("bucket"), "left")
      .select(col("bucket"),
        element_at(tableLit, col("bucket") + 1).as("w_old"),
        coalesce(col("grad"), lit(0L)).as("grad"))
      .withColumn("w_new", col("w_old") + col("grad"))
  }
}
