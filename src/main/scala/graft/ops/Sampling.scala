package graft.ops

import graft.text.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling for training-data pipelines.
  *
  * Both operators order/select by a uniform content hash instead of a RNG:
  * the sample is a pure function of the data, so reruns, retries, and
  * different partitionings all produce the SAME sample (and the DuckDB
  * oracle can reproduce it exactly). The hash should be the portable md5-60
  * ([[graft.text.Dedup.portableHash]]) when cross-engine parity matters.
  *
  * Scale: [[byHash]] is a pure filter (narrow, pushable); [[stratified]]
  * rides the bounded-heap [[TopK.perKey]] operator — ≤ k rows per
  * (stratum, partition) move in the shuffle, so "k docs per language over
  * 100 TB" never materializes a stratum.
  */
object Sampling {

  /** Keep ~`permille`/1000 of rows: hash-threshold (Bernoulli-by-content)
    * sampling. */
  def byHash(df: DataFrame, hash: Column, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000)
    df.filter(pmod(hash, lit(1000L)) < permille)
  }

  /** Deterministic per-group rates (source-weighted data mixing): keep a
    * row when its content hash clears the group's per-mille threshold —
    * `sampleBy` without an RNG. `rates` maps group value → permille kept;
    * groups absent from the map keep `defaultPermille`. A pure filter
    * against a broadcastable CASE, so it rides the scan at any scale and
    * reruns/engines reproduce the same mix. */
  def byRates(df: DataFrame, groupCol: Column, hash: Column,
      rates: Map[String, Int], defaultPermille: Int = 1000): DataFrame = {
    require((rates.values ++ Seq(defaultPermille)).forall(p => p >= 0 && p <= 1000))
    val threshold = rates.foldLeft(lit(defaultPermille)) { case (acc, (k, p)) =>
      when(groupCol === k, lit(p)).otherwise(acc)
    }
    df.filter(pmod(hash, lit(1000L)) < threshold)
  }

  /** Temperature-scaled group mixing — the standard multilingual-corpus
    * rebalancing recipe: target group shares ∝ count^α (α = 0.5
    * flattens the head), realized as deterministic per-group keep rates
    * `permille_g = ⌊1000 · √(c_min / c_g)⌋` — the SMALLEST group
    * keeps everything, larger groups downsample toward the tempered
    * distribution. Rates derive from the data itself (one bounded
    * group-count aggregate, broadcast back), then the keep decision is
    * the same pure content-hash filter as [[byRates]] — reproducible
    * across engines, reruns, and partitionings.
    *
    * α is fixed at 0.5 because that is what makes it oracle-portable: the
    * exponent computes via IEEE `sqrt`, correctly rounded in both engines,
    * where an arbitrary-α `pow` is libm-specific. */
  def byTemperature(df: DataFrame, groupCol: String,
      hash: Column): DataFrame = {
    require(!df.columns.exists(Set("__c", "__cmin", "__permille")),
      "byTemperature: input must not contain reserved __ columns")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__c"))
    val tempered =
      sqrt(col("__cmin").cast("double") / col("__c").cast("double"))
    val rates = counts
      .crossJoin(counts.agg(min(col("__c")).as("__cmin")))
      .select(col(groupCol),
        floor(lit(1000.0) * tempered).cast("int").as("__permille"))
    df.join(broadcast(rates), groupCol)
      .filter(pmod(hash, lit(1000L)) < col("__permille"))
      .drop("__permille")
  }

  /** Exactly `k` rows per stratum (fewer if the stratum is smaller),
    * chosen as the k SMALLEST hash values — a uniform, deterministic
    * per-group sample. Ties must not exist in the hash for the selected
    * set to be unique; pass a collision-free id-bearing struct otherwise. */
  def stratified(df: DataFrame, strataCols: Seq[String], hash: Column,
      k: Int): DataFrame = {
    require(!df.columns.contains("__h"),
      "stratified: input must not contain reserved column __h")
    TopK.perKey(df.withColumn("__h", hash), strataCols, col("__h"), k,
      descending = false).drop("__h")
  }

  /** Per-group volume cap — the "at most k pages per domain" rule every
    * web-scale corpus applies to stop mega-domains dominating the mix:
    * keep the k best rows per group, "best" = smallest `priority` (pass
    * e.g. `struct(-quality, id)` for quality-desc/id-asc). Unlike
    * [[stratified]]'s uniform hash draw, the cap is QUALITY-AWARE: the
    * retained subset is the group's top of a caller-chosen order, and the
    * order must be collision-free (carry the row id in the struct) so the
    * kept set is unique and engine-reproducible.
    *
    * Scale: rides the bounded-heap [[TopK.perKey]] operator — ≤ k rows
    * per (group, partition) move in the shuffle, so a 100M-page domain
    * costs what a 100-page domain costs after the map-side heaps. */
  def capPerKey(df: DataFrame, keyCols: Seq[String], priority: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!df.columns.contains("__p"),
      "capPerKey: input must not contain reserved column __p")
    TopK.perKey(df.withColumn("__p", priority), keyCols, col("__p"), k,
      descending = false).drop("__p")
  }

  /** EXACT weighted sampling without replacement, deterministic and
    * RNG-free: row i holds `w_i` independent 60-bit lottery tickets
    * (ticket r = `portableHash(id ":" r)`), its priority is its smallest
    * ticket, and the k smallest priorities overall win. The global
    * minimum ticket is uniform over all Σw tickets, so row i wins the
    * first draw with probability w_i/Σw; removing the winner repeats the
    * argument — this IS successive probability-proportional-to-weight
    * draws (the Efraimidis–Spirakis scheme with the exponential race
    * realized in integer hash space), yet it is a pure function of the
    * data: reruns, engines, and partitionings agree row-for-row.
    *
    * Weights clamp to [1, 64]: the ticket list is a bounded
    * in-row HOF (`sequence` → `transform` → `array_min`), so the pass
    * stays NARROW — no explode, no shuffle — and the global top-k is a
    * bounded `TakeOrdered` (k rows per partition), never a sort. */
  def weightedByHash(df: DataFrame, id: Column, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!df.columns.exists(Set("weight", "priority")),
      "weightedByHash: input must not contain the output columns weight/priority")
    val w = greatest(lit(1L), least(weight.cast("long"), lit(64L)))
    val priority = array_min(transform(sequence(lit(1L), w),
      r => Dedup.portableHash(
        concat(id.cast("string"), lit(":"), r.cast("string")))))
    df.withColumn("weight", w)
      .withColumn("priority", priority)
      .orderBy(col("priority"), id)
      .limit(k)
  }

  /** atanh-series depth for [[negLnU]]'s portable mantissa log: z ≤ 1/3 ⇒
    * truncation below z^35/35 ≈ 2·10⁻¹⁸ — under double rounding itself,
    * so the series is accurate to a few ulps everywhere (the residual
    * error vs libm is the benign subtractive cancellation at u → 1, where
    * the key → 0⁺). Exposed for the DuckDB oracle generator. */
  val RaceSeriesTerms = 17

  /** The correctly-rounded double for ln 2 — both engines parse this
    * decimal literal to the identical bit pattern. */
  val RaceLn2 = 0.6931471805599453

  /** Engine-portable −ln(u) for the hash-uniform u = (h+1)/2⁶⁰, h a 60-bit
    * content hash: the exponent comes out in INTEGER space (p =
    * length(bin(m))−1 = ⌊log₂ m⌋, 2^p via a 61-entry array literal — no
    * libm, no shifts-by-column), the mantissa log via the atanh series
    * ln(1+f) = 2z·Σ z²ᵏ/(2k+1), z = f/(2+f) ∈ [0, ⅓]. Every step is a
    * correctly-rounded IEEE-754 operation (+, −, ×, ÷, int→double), so ANY
    * IEEE engine — Spark's JVM and the DuckDB oracle — computes the
    * bit-identical double: no Math.log/libm, whose last-ulp behavior is
    * implementation-specific. */
  def negLnU(h: Column): Column = {
    val m = h + lit(1L) // [1, 2^60]
    val p = (length(bin(m)) - 1).cast("int") // floor(log2 m), exact
    val twoP = element_at(
      typedLit((0 to 60).map(1L << _)), p + 1) // 2^p, exact
    val f = (m - twoP).cast("double") / twoP.cast("double") // [0, 1)
    val z = f / (f + lit(2.0))
    val z2 = z * z
    val t = (0 until RaceSeriesTerms - 1).reverse.foldLeft(
      lit(1.0) / lit((2 * (RaceSeriesTerms - 1) + 1).toDouble)) {
      (acc, kk) => lit(1.0) / lit((2 * kk + 1).toDouble) + z2 * acc
    }
    (lit(60.0) - p.cast("double")) * lit(RaceLn2) - (lit(2.0) * z) * t
  }

  /** Engine-portable ln(m) for a POSITIVE INTEGER column m ∈ [1, 2⁶²] —
    * [[negLnU]]'s machinery pointed at an arbitrary count instead of the
    * 60-bit hash-uniform: p = ⌊log₂ m⌋ in integer space, 2^p from a
    * 63-entry power table, mantissa via the same atanh series, composed as
    * `p·ln2 + 2z·t`. Every step is a correctly-rounded IEEE op, so Spark
    * and the DuckDB oracle compute the bit-identical double — the portable
    * log that unblocks log-prob scoring ([[graft.text.TextOps.lmLogProb]]):
    * ln of any count ratio = portableLn(num) − portableLn(den), no libm.
    * (Deliberately NOT shared with [[negLnU]]'s tree: `(60−p)·ln2 − 2z·t`
    * and `60·ln2 − (p·ln2 + 2z·t)` round differently, and negLnU's oracle
    * mirrors its exact tree.) */
  def portableLn(m: Column): Column = {
    val p = (length(bin(m)) - 1).cast("int") // floor(log2 m), exact
    val twoP = element_at(
      typedLit((0 to 62).map(1L << _)), p + 1) // 2^p, exact
    val f = (m - twoP).cast("double") / twoP.cast("double") // [0, 1)
    val z = f / (f + lit(2.0))
    val z2 = z * z
    val t = (0 until RaceSeriesTerms - 1).reverse.foldLeft(
      lit(1.0) / lit((2 * (RaceSeriesTerms - 1) + 1).toDouble)) {
      (acc, kk) => lit(1.0) / lit((2 * kk + 1).toDouble) + z2 * acc
    }
    p.cast("double") * lit(RaceLn2) + (lit(2.0) * z) * t
  }

  /** A race weight clamped to [1, 10⁶]. */
  private def raceWeight(weight: Column): Column =
    greatest(lit(1L), least(weight.cast("long"), lit(1000000L)))

  /** Closed-form EXPONENTIAL-RACE weighted sampling — [[weightedByHash]]'s
    * distribution realized in O(1) per row for ANY weight magnitude: row
    * priority = −ln(u_i)/w_i from ONE content hash (the Efraimidis–Spirakis
    * key in log space), the k smallest win. P(row i wins the first draw) =
    * w_i/Σw exactly (the exponential race), successive minima repeat the
    * argument — the same without-replacement semantics as the ticket
    * scheme, but weight magnitude no longer costs per-row work, so real
    * importance weights (10³–10⁶) clamp at 10⁶ instead of 64.
    *
    * Deterministic and engine-reproducible like everything in this file:
    * the ln is [[negLnU]]'s portable series (bit-identical cross-engine),
    * u is a pure content hash, and the global top-k is a bounded
    * TakeOrdered (k rows per partition) — never a sort. */
  def weightedByRace(df: DataFrame, id: Column, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!df.columns.exists(Set("weight", "priority")),
      "weightedByRace: input must not contain the output columns weight/priority")
    val w = raceWeight(weight)
    // hash the STRING form of the id (like weightedByHash's tickets), so
    // the oracle's md5(CAST(id AS VARCHAR)) reproduces it for any id type
    df.withColumn("weight", w)
      .withColumn("priority",
        negLnU(Dedup.portableHash(id.cast("string"))) /
          w.cast("double"))
      .orderBy(col("priority"), id)
      .limit(k)
  }

  /** PER-GROUP exponential-race weighted sampling — [[weightedByRace]]'s
    * key ranked WITHIN each group: "k docs per language, probability ∝
    * weight, without replacement" as one operator. [[stratified]] draws
    * uniformly per group; this draws proportional-to-weight per group with
    * the same determinism (the race key is a pure function of the data).
    *
    * Scale: the key is the same O(1)-per-row portable computation, and the
    * per-group top-k rides the bounded-heap [[TopK.perKey]] operator — ≤ k
    * rows per (group, partition) move in the shuffle, so a 100 M-doc
    * language costs what a 100-doc language costs after the map-side
    * heaps. Ties cannot exist (the struct carries the id). */
  def weightedRacePerKey(df: DataFrame, keyCols: Seq[String], id: Column,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!df.columns.exists(Set("weight", "priority")),
      "weightedRacePerKey: input must not contain the output columns weight/priority")
    val keyed = df.withColumn("weight", raceWeight(weight))
      .withColumn("priority",
        negLnU(Dedup.portableHash(id.cast("string"))) /
          col("weight").cast("double"))
    TopK.perKey(keyed, keyCols, struct(col("priority"), id), k,
      descending = false)
  }

  /** TOKEN-budget mixture planner — [[byTemperature]] recomputed in the
    * unit training mixtures are actually specified in: per-group keep
    * rate = floor(1000·√(tok_min/tok_g)) (α = 0.5 temper over TOKEN
    * masses, not doc counts — a group of few huge docs downsamples like
    * the token mass it is), applied as the usual deterministic hash
    * filter. Output is the PLAN: per group, doc/token totals, the keep
    * rate, and the docs/tokens the rate would keep — the table a
    * mixture review signs off before the epoch runs.
    *
    * Determinism: tok_min/tok_g is one IEEE division of exact integer
    * sums, √ is correctly rounded in any IEEE engine, floor is exact —
    * the rate (and so the kept set) is engine-reproducible. Scale: one
    * narrow pass into a groups-bounded aggregate, rates broadcast back,
    * one bounded re-aggregate; the only corpus-sized work rides the
    * scan. */
  def tokenBudgetMix(df: DataFrame, groupCol: String, tokens: Column,
      hash: Column): DataFrame = {
    val rows = df.select(col(groupCol).as("_g"),
      tokens.cast("long").as("_t"), pmod(hash, lit(1000L)).as("_h"))
    val tot = rows.groupBy("_g").agg(sum("_t").as("n_tokens"))
    val rates = tot.crossJoin(tot.agg(min("n_tokens").as("_tmin")))
      .select(col("_g"),
        floor(lit(1000.0) * sqrt(col("_tmin").cast("double") /
          col("n_tokens").cast("double"))).cast("int")
          .as("keep_permille"))
    rows.join(broadcast(rates), "_g")
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum("_t").as("n_tokens"),
        first(col("keep_permille")).as("keep_permille"),
        sum(when(col("_h") < col("keep_permille"), 1L).otherwise(0L))
          .as("kept_docs"),
        sum(when(col("_h") < col("keep_permille"), col("_t")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** Deterministic, leakage-free dataset split: bucket = hash mod 1000
    * mapped through ascending `(upperBound, label)` cut points (rows at or
    * above the last bound get `defaultLabel`). The default cuts give the
    * standard 90/5/5 train/val/test. A pure narrow projection — the
    * assignment is a function of the hashed key alone, so reruns,
    * engines, and repartitionings agree, and downstream train/eval
    * separation cannot leak through nondeterminism. */
  def assignSplit(df: DataFrame, hash: Column,
      cuts: Seq[(Int, String)] = Seq(900 -> "train", 950 -> "val"),
      defaultLabel: String = "test"): DataFrame = {
    // strictly ascending: a duplicated bound (e.g. 900->train, 900->val)
    // would pass a sorted-equality check but make the later label
    // unreachable — reject it loudly instead
    require(cuts.map(_._1).sliding(2)
        .forall(p => p.length < 2 || p.head < p(1)) &&
      cuts.forall(c => c._1 > 0 && c._1 <= 1000),
      "cuts must STRICTLY ascend in (0, 1000]")
    val bucket = pmod(hash, lit(1000))
    val label = cuts.foldRight(lit(defaultLabel): Column) {
      case ((bound, lbl), acc) => when(bucket < bound, lbl).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Deterministic global shuffle for training-order assignment: every row
    * gets a `shard` (hash mod `shards` — one shard = one output file /
    * reader stream) and a dense `shard_pos` (its position within the shard
    * in hash order, ties broken by `tieCol`). Together they define a
    * reproducible corpus-wide random order without any RNG: reruns,
    * retries, and engines agree row-for-row, which is what makes a
    * 100 TB training shuffle auditable.
    *
    * Scale: the per-shard `row_number` window is the write path itself —
    * each shard is sorted and written by one task, so parallelism = shard
    * count. Size `shards` so a shard fits one writer (thousands at real
    * scale); the global order is recovered by readers interleaving shards.
    * Nothing here is a corpus-wide single-reducer sort. */
  def shardShuffle(df: DataFrame, hash: Column, tieCol: Column,
      shards: Int): DataFrame = {
    require(shards >= 1, "shards must be positive")
    require(!df.columns.contains("__h"),
      "shardShuffle: input must not contain reserved column __h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), tieCol)
    df.withColumn("__h", hash)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)).cast("int"))
      .withColumn("shard_pos", row_number().over(w))
      .drop("__h")
  }
}
