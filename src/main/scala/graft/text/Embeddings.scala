package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-column storage transforms for training-data pipelines.
  *
  * Everything is pure column expressions (codegen'd HOFs over the array
  * column — no UDFs), so at 100 TB these run as one narrow map stage over
  * the scan and the DuckDB oracle reproduces each element bit-exactly
  * (IEEE double arithmetic; `round` is half-away-from-zero in both
  * engines).
  */
object Embeddings {

  /** int8 max-abs quantization: per vector, `scale = 127 / max|x|` and
    * `q_i = round(x_i * scale)` (saturating the int8 range by
    * construction), plus the quantized array's sum and the max
    * reconstruction error `|x_i − q_i/scale|` (≤ half a quantization step)
    * for in-plan quality monitoring. Zero vectors are dropped — they have
    * no max-abs scale (store them as all-zero out of band).
    *
    * Output columns: input's ++ (max_abs, scale, q int8[], q_sum, max_err) —
    * these five names are RESERVED: an input frame that already carries any
    * of them is rejected (the unqualified internal references would
    * otherwise be ambiguous or silently shadow the caller's data).
    * ~4× storage reduction for float32 embeddings at a bounded, monitored
    * precision cost — the standard trade for ANN candidate stores. */
  def quantizeInt8(df: DataFrame): DataFrame = {
    val reserved = Seq("max_abs", "scale", "q", "q_sum", "max_err")
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"quantizeInt8: input must not contain reserved output column(s) " +
        clash.mkString(", "))
    df.withColumn("max_abs", expr(
      "array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .filter(col("max_abs") > 0)
      .withColumn("scale", lit(127.0) / col("max_abs"))
      .withColumn("q", expr(
        "transform(embedding, x -> cast(round(cast(x as double) * scale) as tinyint))"))
      .withColumn("q_sum", expr(
        "aggregate(q, cast(0 as bigint), (acc, v) -> acc + cast(v as bigint))"))
      .withColumn("max_err", expr(
        """array_max(transform(embedding,
            x -> abs(cast(x as double)
                     - round(cast(x as double) * scale) / scale)))"""))
  }

  /** Per-dimension z-standardization from EXACT integer sufficient
    * statistics — the deterministic distributed preprocessing for
    * clustering/ANN: components are quantized to `round(x · 10000)` longs,
    * per-dim n/S1/S2 accumulate as decimals (order-independent integer
    * sums — no float accumulation anywhere), and
    * `z = (q − mean) / stddev` finishes in correctly-rounded IEEE doubles,
    * so the result is bit-stable across engines and partitionings (the
    * op_corr_stats discipline applied to vectors).
    *
    * Stats come from the WHOLE `corpus`; normalized rows are emitted for
    * `subset` only (pass `corpus` itself to normalize everything). Scale:
    * one posexplode (narrow) + one dim-keyed aggregate bounded at the
    * dimensionality, whose tiny result broadcast-joins back onto the
    * subset stream. Zero-variance dims yield NULL z (0/0 guard), never a
    * fake 0. */
  def standardize(corpus: DataFrame, subset: DataFrame): DataFrame = {
    val d18 = DecimalType(18, 0)
    def qrows(df: DataFrame): DataFrame = df
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        round(col("x").cast(DoubleType) * 10000).cast(LongType).as("q"))
    val stats = qrows(corpus).groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(d18)).as("s1"),
        sum((col("q") * col("q")).cast(d18)).as("s2"))
      .select(col("dim"),
        (col("s1").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"),
        sqrt(col("s2").cast(DoubleType) / col("n").cast(DoubleType)
          - (col("s1").cast(DoubleType) / col("n").cast(DoubleType))
          * (col("s1").cast(DoubleType) / col("n").cast(DoubleType)))
          .as("sd"))
    qrows(subset).join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"), col("q"),
        when(col("sd") > 0.0,
          (col("q").cast(DoubleType) - col("mean")) / col("sd")).as("z"))
  }

  /** Signed random projection (Achlioptas/JL-style dimensionality
    * reduction) to `outDims` components — the standard cheap pre-ANN
    * compression: each output component is Σᵢ qᵢ·s(i,j) with s(i,j) ∈ {±1}
    * drawn from a DETERMINISTIC hash of the (input-dim, output-dim) pair,
    * over the int8-quantized vector ([[quantizeInt8]]) so the entire
    * projection is integer math — bit-stable cross-engine, no projection
    * MATRIX to store or broadcast (the "matrix" lives in the expression).
    * Output is exploded flat as (id, dim, proj_q) — long per component.
    * Vectors must have exactly `inDims` non-NULL components — anything
    * else fails LOUDLY (the tsAsNanos discipline); all-zero vectors drop
    * (no max-abs scale, the [[quantizeInt8]] contract).
    *
    * Scale: fully NARROW — quantization and all `outDims` signed sums are
    * one fused native-expression loop riding the scan; the posexplode
    * multiplies rows by `outDims` but stays pipeline-local (no shuffle).
    * At 100 TB this is the one-pass map you'd run before building an ANN
    * index at reduced dimensionality. */
  def randProj(df: DataFrame, outDims: Int = 16,
      inDims: Int = 64): DataFrame = {
    require(outDims >= 1 && inDims >= 1, "dims must be positive")
    // One fused native expression ([[graft.functions.SignedProj]]):
    // quantize + all outDims signed sums in a single primitive loop. The
    // HOF formulations measured ~10× slower (an outer-column `scale`
    // reference re-evaluates its subtree per element once CollapseProject
    // inlines it), and a flat 1024-term element_at chain paid ≥1.5 s of
    // fixed codegen-compilation per execution.
    df.select(col("vec_id"),
      graft.functions.SignedProj(col("embedding"), outDims, inDims).as("proj"))
      .filter(col("proj").isNotNull) // all-zero vectors drop (no scale)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "proj_q")))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"), col("proj_q"))
  }
}
