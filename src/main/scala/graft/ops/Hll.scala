package graft.ops

import graft.text.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Engine-portable HyperLogLog distinct-count sketch (Flajolet et al. 2007,
  * with the standard small-range linear-counting correction) — the
  * cardinality read a 100 TB profile pass runs where an exact
  * count-distinct would shuffle the whole column: per key, the sketch is
  * m = 4096 registers × one byte of state, merged by MAX — a bounded
  * aggregate whatever the corpus size.
  *
  * Spark's own `approx_count_distinct` is HLL++ with JVM-private hashing —
  * fine in production, UNCHECKABLE against a non-JVM oracle. This
  * implementation is deterministic and engine-exact instead: the hash is
  * the repo's md5-prefix 60-bit integer, the register index/rank are pure
  * integer ops (`pmod` / `div` / `length(bin(..))`), the harmonic-mean
  * denominator Σ 2^{−M} is an EXACT integer scaled by 2⁴⁹, and the two
  * estimate branches are short trees of correctly-rounded IEEE doubles
  * (the bias constant α and the linear-counting `m·(ln m − ln V)` via
  * [[Sampling.portableLn]]; ln m = 12·ln2 exactly at m = 4096) — so the
  * DuckDB oracle reproduces every output bit. Standard error ≈
  * 1.04/√4096 ≈ 1.6 %.
  */
object Hll {
  /** Register-count exponent: m = 2^P = 4096 registers. The hash's
    * remaining 60 − P = 48 bits feed the rank, so ranks lie in [1, 49]. */
  val P = 12
  val M = 1 << P // 4096

  /** The sketch's MAP STAGE: one (key..., `_idx`, `_rank`) row per input
    * row — a narrow projection (no shuffle), usable from batch AND from a
    * stream (the register MAX aggregate is then the stream's ONE stateful
    * aggregation, state bounded at keys × m). */
  def registers(df: DataFrame, keyCols: Seq[String],
      value: Column): DataFrame = {
    require(keyCols.nonEmpty, "registers: at least one key column")
    // register index = low P bits (h ≥ 0, so pmod == bitmask); rank = 1 +
    // leading zeros of the remaining 48-bit window = 49 − bitlength(w)
    df.select(keyCols.map(col) :+ value.as("_v"): _*)
      .withColumn("_h", Dedup.portableHash(col("_v")))
      .withColumn("_idx", pmod(col("_h"), lit(M.toLong)))
      .withColumn("_w", expr(s"_h div $M"))
      .withColumn("_rank",
        when(col("_w") === 0, lit(49))
          .otherwise(lit(49) - length(bin(col("_w")))).cast("int"))
      .select(keyCols.map(col) ++ Seq(col("_idx"), col("_rank")): _*)
  }

  /** The sketch's FINISHER over max-merged registers (key..., `_idx`,
    * `_M`): the per-key estimate. Output: keyCols..., v_zero, hll_est. */
  def estimateFromRegisters(regs: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // Σ 2^{−M} scaled by 2⁴⁹: each seen register contributes 2^{49−M}
    // (M ∈ [1,49] ⇒ table index 50−M ∈ [1,49]), each never-hit register
    // 2⁴⁹ — an exact long (≤ 4096·2⁴⁹ = 2⁶¹)
    val pow = typedLit((0 to 49).map(1L << _))
    val agg = regs.groupBy(keyCols.map(col): _*)
      .agg(sum(element_at(pow, lit(50) - col("_M"))).as("_s_seen"),
        count(lit(1)).as("_v_seen"))
      .withColumn("v_zero", lit(M.toLong) - col("_v_seen"))
      .withColumn("_s",
        col("_s_seen") + col("v_zero") * lit(1L << 49))
    // raw = α·m²·2⁴⁹ / S with α = 0.7213/(1 + 1.079/m): every constant a
    // decimal literal both engines parse to the same bits, every op
    // correctly rounded, S exact-long → one correctly-rounded cast
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0))
    val raw = alpha * lit(16777216.0) * lit(562949953421312.0) /
      col("_s").cast("double")
    // small-range correction (raw ≤ 2.5m, some register never hit):
    // linear counting m·ln(m/V) = 4096·(12·ln2 − ln V), portable series ln
    val linear = lit(4096.0) * (lit(12.0) * lit(Sampling.RaceLn2) -
      Sampling.portableLn(col("v_zero")))
    agg.withColumn("hll_est",
      when(raw <= lit(10240.0) && col("v_zero") > 0, linear).otherwise(raw))
      .select(keyCols.map(col) ++ Seq(col("v_zero"), col("hll_est")): _*)
  }

  /** Per-key HLL distinct estimate of `value`, WITH the exact distinct
    * count alongside (the calibration read — the exact side is the
    * expensive one and exists so the sketch's error is measured, not
    * assumed; a production profile pass would drop it).
    *
    * Output: keyCols..., n_exact, v_zero (never-hit registers — the
    * linear-counting signal), hll_est.
    *
    * Scale: the sketch side is one (key, register)-keyed MAX aggregate
    * (map-side partials; ≤ 4096 rows per key reach the reduce) plus one
    * key-keyed sum — state bounded by m per key regardless of corpus
    * size, and mergeable across any partitioning. The exact side is the
    * usual two-phase distinct aggregate. */
  def distinctPerKey(df: DataFrame, keyCols: Seq[String],
      value: Column): DataFrame = {
    require(keyCols.nonEmpty, "distinctPerKey: at least one key column")
    require(!keyCols.exists(Set("n_exact", "v_zero", "hll_est")),
      "distinctPerKey: n_exact/v_zero/hll_est are reserved output names")
    val src = df.select(keyCols.map(col) :+ value.as("_v"): _*)
    val regs = registers(src, keyCols, col("_v"))
      .groupBy(keyCols.map(col) :+ col("_idx"): _*)
      .agg(max("_rank").as("_M"))
    val est = estimateFromRegisters(regs, keyCols)
    val exact = src.groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("_v")).as("n_exact"))
    est.join(exact, keyCols)
      .select(keyCols.map(col) ++
        Seq(col("n_exact"), col("v_zero"), col("hll_est")): _*)
  }
}
