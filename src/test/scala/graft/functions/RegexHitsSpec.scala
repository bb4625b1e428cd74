package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the native [[RegexHits]] expression to the split-count formulation
  * it replaces: value-identical (including the adjacent-word quirk, where
  * " the the " counts ONE `\sthe\s` hit because the second word lost its
  * leading space to the first match), NULL-preserving, and equal through
  * both the codegen and interpreted paths. The language family
  * (op_lang_id / op_lid_confusion / op_corpus_drift) rides this. */
class RegexHitsSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("the", "and", "of", "is", "with")
  private val pats = words.map(w => s"\\s${w}\\s")

  private def splitSum(t: org.apache.spark.sql.Column) =
    pats.map(p => size(split(t, p)) - 1).reduce(_ + _)

  test("RegexHits == split-count sum on adversarial strings") {
    val rows = Seq(
      " the and of is with ",
      " the the the ",            // adjacent words share separators
      "the",                       // no surrounding spaces -> 0
      "",                          // empty
      " the  and ",               // double space: second match keeps its lead
      "with is of and the",        // no trailing space
      " THE and ",                // case-sensitive here (langId lowers first)
      " the λ and ist mit ",      // multi-byte content
      "  the  ",                  // zero-width-adjacent spacing
      (" the and " * 50)           // long repeat
    ).toDF("t")
    val got = rows.select(
      RegexHits(col("t"), pats).as("n"), splitSum(col("t")).as("e"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("RegexHits: NULL in, NULL out") {
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(RegexHits(col("t"), pats).as("n")).collect().head
    assert(r.isNullAt(0))
  }

  test("interpreted eval equals the codegen path") {
    val expr = RegexHits(
      org.apache.spark.sql.catalyst.expressions.Literal(" the and the "),
      pats).asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
    // direct interpreted eval
    val interp = expr.eval(null)
    // dataframe path (whole-stage codegen)
    val viaDf = Seq(" the and the ").toDF("t")
      .select(RegexHits(col("t"), pats)).collect().head.getInt(0)
    assert(interp == viaDf)
  }

  test("langId native == langIdHof over the fixture corpus (and real languages hold)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs.select(
      graft.text.TextOps.langId(col("text")).as("native"),
      graft.text.ReferenceForms.langIdHof(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }
}
