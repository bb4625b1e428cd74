package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure-HOF constructions of the native codegen expressions — the
  * references the specs compare the native paths against, bit for bit.
  * HOFs never codegen, so these run interpreted lambda passes; the library
  * uses only the native forms. */
object ReferenceForms {
  /** Cosine in three interpreted array passes; same left-to-right
    * accumulation order as [[graft.functions.CosineSim]]. */
  def cosineHof(a: Column, b: Column): Column =
    Similarity.dot(a, b) /
      sqrt(Similarity.norm2(a) * Similarity.norm2(b))

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

  /** The 64-wide MinHash signature over `base` hashes: one `aggregate`
    * pass with a running-min accumulator (the hash array sits in argument
    * position, so it is evaluated once; lambdas touch only bound vars and
    * literals). */
  private def minhashOf(base: Column): Column = {
    import Dedup.{NumHashes, P, coefA, coefB}
    val aLit = typedLit(coefA.toSeq)
    val bLit = typedLit(coefB.toSeq)
    val idx = typedLit((0 until NumHashes).toList)
    aggregate(base, array_repeat(lit(P), NumHashes),
      (acc, x) => zip_with(acc, idx, (m, i) =>
        least(m, pmod(element_at(aLit, i + 1) * x + element_at(bLit, i + 1),
          lit(P)))))
  }

  /** [[Dedup.minhashSignature]] over xxhash64 base hashes folded into
    * [0, 2^31). */
  def minhashSignatureHof(text: Column): Column =
    minhashOf(transform(Dedup.shingles(text),
      s => pmod(xxhash64(s), lit(Dedup.P))))

  /** [[Dedup.minhashSignaturePortable]] over folded md5 base hashes. */
  def minhashSignaturePortableHof(text: Column): Column =
    minhashOf(transform(Dedup.shingles(text),
      s => pmod(Dedup.portableHash(s), lit(Dedup.P))))

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
