package graft.ops

import graft.text.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Engine-portable Bloom-filter false-positive calibration — the sizing
  * read for [[BloomJoin]], beside [[Cms]]'s frequency and [[Hll]]'s
  * cardinality calibrations: a Bloom filter is `m` bits with `k` salted
  * hash positions per key, membership = all k bits set, and the only
  * failure mode is a FALSE POSITIVE (a non-member whose k positions were
  * all set by members). The published sizing formula assumes ideal hashes;
  * this operator MEASURES the fill fraction and the actual false-positive
  * rate on a disjoint probe set, which is how you pick `fpp` for a
  * [[BloomJoin.semiJoin]] pre-filter before running it over 100 TB.
  *
  * Spark's `DataFrameStatFunctions.bloomFilter` (what [[BloomJoin]]
  * builds) hashes with JVM-internal Murmur seeds — uncheckable outside
  * the JVM. This surrogate is deterministic and engine-exact: position j
  * is the repo's md5-prefix 60-bit integer of `key:bf<j>` mod m, the
  * bit set / probe-hit counts are exact longs, and the two ratios are
  * single int/int IEEE divisions — the DuckDB oracle reproduces every
  * cell. */
object Bloom {

  /** One-row calibration table: m_bits, k_hashes, n_members, bits_set,
    * fill_frac, n_probes, n_false_pos, fpr. Probe keys that are actual
    * members are ANTI-JOINED away first, so every counted positive is a
    * real false positive; fpr is NULL when no probes remain.
    *
    * Scale: the member distinct and the anti-join are key-keyed hash
    * aggregates/joins (the work a real filter build pays anyway); the bit
    * table is bounded at ≤ m rows and broadcast to the probe side, so
    * probing is a narrow O(k)-per-key pass — no corpus-sized shuffle ever
    * carries more than distinct keys. */
  def fprCalibration(members: DataFrame, memberKey: Column,
      probes: DataFrame, probeKey: Column, mBits: Int = 16384,
      kHashes: Int = 3): DataFrame =
    fprFromBits(
      bitRows(members, memberKey, mBits, kHashes).distinct(),
      members, memberKey, probes, probeKey, mBits, kHashes)

  /** The STREAMABLE half of the filter build: one bucket row per key per
    * salt — a narrow in-row map with NO aggregation, so
    * `bitRows(...).groupBy(_b).count()` can be a Structured Streaming
    * query's single stateful aggregation (state bounded at ≤ m cells
    * FOREVER), and because a bit SET is union-merged (order-insensitive)
    * the streamed bit set equals the batch build exactly — the
    * stream == batch argument BloomCalSpec pins as a decomposition
    * equality. */
  def bitRows(keys: DataFrame, key: Column, mBits: Int = 16384,
      kHashes: Int = 3): DataFrame = {
    require(mBits >= 2 && mBits <= (1 << 26), "bitRows: mBits in [2, 2^26]")
    require(kHashes >= 1 && kHashes <= 16, "bitRows: kHashes in [1, 16]")
    keys.select(key.cast("string").as("_k"))
      .withColumn("_j", explode(typedLit((0 until kHashes).toList)))
      .select(bitCol(col("_k"), col("_j"), mBits).as("_b"))
  }

  private def bitCol(v: Column, j: Column, mBits: Int): Column =
    pmod(Dedup.portableHash(concat(v, lit(":bf"), j.cast("string"))),
      lit(mBits.toLong))

  /** Calibration FINISHER over an externally-built set-bit table `(_b)`
    * (distinct rows) — e.g. one a streaming aggregation maintained; the
    * member frame is still needed for the probe anti-join and the
    * n_members report. [[fprCalibration]] is this over a batch build. */
  def fprFromBits(bits: DataFrame, members: DataFrame, memberKey: Column,
      probes: DataFrame, probeKey: Column, mBits: Int = 16384,
      kHashes: Int = 3): DataFrame = {
    require(mBits >= 2 && mBits <= (1 << 26), "fprFromBits: mBits in [2, 2^26]")
    require(kHashes >= 1 && kHashes <= 16, "fprFromBits: kHashes in [1, 16]")
    // defensive distinct (r18 advice): the left-join formulation below
    // counts _have per matched row, so caller-supplied DUPLICATE _b rows
    // would silently inflate _have (and bits_set) where the old semi-join
    // was duplicate-proof. Bounded at ≤ m rows, so the aggregate is free;
    // for already-distinct inputs (the streaming groupBy(_b) finisher,
    // fprCalibration's own .distinct()) Catalyst's RemoveRedundantAggregates
    // folds it away entirely.
    val bitsDistinct = bits.distinct()
    val mem = members.select(memberKey.cast("string").as("_k")).distinct()
    val pr = probes.select(probeKey.cast("string").as("_p")).distinct()
      .join(mem, col("_p") === col("_k"), "left_anti")
    // distinct (probe, bit): two of a key's k salts can land on the same
    // bit — membership is over the distinct positions it needs covered
    val pb = pr
      .withColumn("_j", explode(typedLit((0 until kHashes).toList)))
      .select(col("_p"), bitCol(col("_p"), col("_j"), mBits).as("_b"))
      .distinct()
    // need + have in ONE per-probe aggregate off ONE broadcast left join
    // (hit = the bit is set), then n_probes + n_false_pos in ONE finishing
    // aggregate: every probe has >= 1 distinct bit, so the per-probe frame
    // has exactly one row per surviving probe and a separate n_probes
    // aggregate over `pr` is redundant. The round-18 rewrite: the previous
    // need/have formulation re-evaluated the pr -> pb chain (distinct,
    // anti-join, k-salt md5 explode, distinct) once per derived frame —
    // three evaluations of the most expensive subtree in the plan, ~3.7 s
    // of op_stream_bloom's 5.2 s warm probe; results are identical
    // (left-join count(_in) == semi-join count; a probe with zero set bits
    // had no `have` row and was dropped by the old inner join, here it
    // fails _need == _have the same way).
    val perProbe = pb
      .join(broadcast(bitsDistinct.withColumn("_in", lit(1))), Seq("_b"), "left")
      .groupBy("_p").agg(count(lit(1)).as("_need"), count(col("_in")).as("_have"))
    val fp = perProbe.agg(count(lit(1)).as("n_probes"),
      coalesce(sum(when(col("_need") === col("_have"), 1L).otherwise(0L)),
        lit(0L)).as("n_false_pos"))
    mem.agg(count(lit(1)).as("n_members"))
      .crossJoin(bitsDistinct.agg(count(lit(1)).as("bits_set")))
      .crossJoin(fp)
      .select(lit(mBits.toLong).as("m_bits"),
        lit(kHashes.toLong).as("k_hashes"),
        col("n_members"), col("bits_set"),
        (col("bits_set").cast(DoubleType) / lit(mBits.toDouble))
          .as("fill_frac"),
        col("n_probes"), col("n_false_pos"),
        when(col("n_probes") === 0, lit(null).cast(DoubleType))
          .otherwise(col("n_false_pos").cast(DoubleType) /
            col("n_probes").cast(DoubleType)).as("fpr"))
  }
}
