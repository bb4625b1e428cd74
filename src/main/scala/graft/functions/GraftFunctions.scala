package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration for the native expressions (`minhash_sig`,
  * `cosine_sim`, `lsh_sig`, `p_minhash_sig`, `p_simhash`, `kmv_sketch`):
  * [[GraftFunctions.register]] adds them to an existing session. The
  * bounded-heap top-k strategy is not registered here —
  * [[graft.ops.TopK.perKey]] adds it to its session on first use. */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  /** Integer parameter of a SQL builder: must be a foldable literal — a
    * column reference or subquery gets a clear analysis-time error instead
    * of an opaque NPE from eval(null). */
  private def litInt(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $param must be a literal integer, got ${e.sql}")
    val v = e.eval(null)
    if (v == null)
      throw new IllegalArgumentException(s"$fn: $param must not be NULL")
    v.toString.toInt
  }

  private val descriptors: Seq[(String, Builder)] = Seq(
    ("minhash_sig",
      (args: Seq[Expression]) => args match {
        case Seq(c) => MinHashSig(c, 64)
        case Seq(c, k) => MinHashSig(c,
          litInt("minhash_sig", "numHashes", k))
        case _ => throw new IllegalArgumentException(
          "minhash_sig(shingles[, numHashes])")
      }),
    ("cosine_sim",
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException("cosine_sim(a, b)")
      }),
    ("lsh_sig",
      (args: Seq[Expression]) => args match {
        case Seq(e) => LshSig(e, 4, 8)
        case Seq(e, t, p) => LshSig(e,
          litInt("lsh_sig", "nTables", t), litInt("lsh_sig", "planesPerTable", p))
        case _ => throw new IllegalArgumentException(
          "lsh_sig(embedding[, nTables, planesPerTable])")
      }),
    ("p_minhash_sig",
      (args: Seq[Expression]) => args match {
        case Seq(c) => PortableMinHashSig(c, 64)
        case Seq(c, k) => PortableMinHashSig(c, litInt("p_minhash_sig", "numHashes", k))
        case _ => throw new IllegalArgumentException(
          "p_minhash_sig(shingles[, numHashes])")
      }),
    ("p_simhash",
      (args: Seq[Expression]) => args match {
        case Seq(c) => PortableSimHash(c, 60)
        case _ => throw new IllegalArgumentException("p_simhash(shingles)")
      }),
    ("kmv_sketch",
      (args: Seq[Expression]) => args match {
        case Seq(h, k) => KmvSketch(h, litInt("kmv_sketch", "k", k))
        case _ => throw new IllegalArgumentException("kmv_sketch(hash, k)")
      }))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
