package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure-HOF constructions of the native codegen expressions — the
  * references the specs compare the native paths against, bit for bit.
  * HOFs never codegen, so these run interpreted lambda passes; the library
  * uses only the native forms. */
object ReferenceForms {
  /** Dequantizes [[Embeddings.quantizeInt8]]'s `q` back to doubles as
    * `emb_hat`, `x̂_i = q_i / scale` — the reconstruction its `max_err`
    * bounds. */
  def dequantize(df: DataFrame): DataFrame =
    df.withColumn("emb_hat",
      expr("transform(q, v -> cast(v as double) / scale)"))

  /** Left-to-right double dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine in three interpreted array passes; same left-to-right
    * accumulation order as [[graft.functions.CosineSim]]. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** Deterministic pseudo-random ±1 hyperplane component for (plane, dim):
    * parity of a splitmix-style integer mix — the family
    * [[graft.functions.LshSig]] documents. */
  private def planeSign(plane: Int, dim: Column): Column = {
    val mixed = (dim + lit(plane.toLong * 1000003L)) * lit(2654435761L) % lit(2147483647L)
    when(pmod(mixed, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
  }

  /** Sign-bit signature for one LSH table: `planesPerTable` hyperplane dots
    * (planes `table*planesPerTable ..` of the global family) → packed long;
    * one interpreted `aggregate(zip_with(...))` pass per plane, where
    * [[graft.functions.LshSig]] computes all tables in one fused loop. */
  def tableSignature(emb: Column, table: Int, planesPerTable: Int): Column =
    (0 until planesPerTable).map { p =>
      val s = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x.cast(DoubleType) * planeSign(table * planesPerTable + p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(s >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[TextOps.langId]] with split counts: each word's hits are the
    * split size − 1, compiled and re-converted per row. */
  def langIdHof(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def hits(words: Seq[String]): Column =
      words.map(w => size(split(t, s"\\s${w}\\s")) - 1).reduce(_ + _)
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

  /** [[TextOps.charDiversity]] from interpreted HOFs: chars via
    * split-empty-regex (codepoints; the length filter drops the trailing
    * empty string), per-distinct-char counts materialized once into `cn`. */
  def charDiversityHof(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cs = filter(split(col(textCol), ""), c => length(c) === 1)
    val cnt = (ch: Column, arr: Column) =>
      size(filter(arr, c => c === ch)).cast(LongType)
    docs
      .select(col(idCol), cs.as("cs"))
      .filter(size(col("cs")) > 0)
      .select(col(idCol), col("cs"), array_distinct(col("cs")).as("d"))
      .select(col(idCol), col("cs"), col("d"),
        transform(col("d"), ch => cnt(ch, col("cs"))).as("cn"))
      .select(col(idCol),
        size(col("cs")).cast(LongType).as("n_chars"),
        size(col("d")).cast(LongType).as("n_distinct_chars"),
        array_max(col("cn")).as("top_char_n"),
        aggregate(col("cn"), lit(0L), (acc, c) => acc + c * c)
          .as("sum_sq"))
      .select(col(idCol), col("n_chars"), col("n_distinct_chars"),
        col("top_char_n"),
        (col("sum_sq").cast(DoubleType) /
          (col("n_chars") * col("n_chars")).cast(DoubleType))
          .as("repeat_prob"))
  }

  /** [[Dedup.minhashSignaturePortable]] over folded md5 base hashes: one
    * `aggregate` pass with a 64-wide running-min accumulator (the hash
    * array sits in argument position, so it is evaluated once; lambdas
    * touch only bound vars and literals). */
  def minhashSignaturePortableHof(text: Column): Column = {
    import graft.functions.PortableTextSig.{NumHashes, P, coefA, coefB}
    val aLit = typedLit(coefA.toSeq)
    val bLit = typedLit(coefB.toSeq)
    val idx = typedLit((0 until NumHashes).toList)
    aggregate(transform(Dedup.shingles(text), s => pmod(Dedup.portableHash(s), lit(P))),
      array_repeat(lit(P), NumHashes),
      (acc, x) => zip_with(acc, idx, (m, i) =>
        least(m, pmod(element_at(aLit, i + 1) * x + element_at(bLit, i + 1),
          lit(P)))))
  }

  /** [[Dedup.withSimhash]] as a 60-bit ±1 vote accumulator over the md5
    * base hashes, then the sign bits packed. Built via expr(): the Scala
    * shiftleft/shiftright helpers only accept literal Ints. */
  def withSimhashHof(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("sh_h64", transform(Dedup.shingles(col(textCol)),
        s => Dedup.portableHash(s)))
      .withColumn("sh_votes", expr(
        """aggregate(sh_h64, array_repeat(0L, 60),
             (acc, h) -> zip_with(acc, sequence(0, 59),
               (v, j) -> v + if(((h >> j) & 1) = 1, 1L, -1L)))"""))
      .withColumn("simhash", expr(
        """aggregate(zip_with(sh_votes, sequence(0, 59),
             (v, j) -> if(v > 0, shiftleft(1L, j), 0L)),
           0L, (acc, b) -> acc + b)"""))
      .drop("sh_h64", "sh_votes")
}
