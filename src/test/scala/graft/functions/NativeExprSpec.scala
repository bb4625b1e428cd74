package graft.functions

import graft.SparkSpec
import graft.text.{Dedup, ReferenceForms, Similarity}
import org.apache.spark.sql.functions._

/** Cross-validation of the native codegen expressions against their pure-HOF
  * constructions: outputs must be bit-identical (the ANN oracle depends on
  * it), and both eval paths (codegen + interpreted fallback) must agree. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("CosineSim matches the HOF cosine bit-for-bit on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("ai"), col("embedding").as("ea")).limit(50)
    val b = emb.select(col("vec_id").as("bi"), col("embedding").as("eb")).limit(50)
    val both = a.crossJoin(b).select(
      Similarity.cosine(col("ea"), col("eb")).as("native"),
      ReferenceForms.cosineHof(col("ea"), col("eb")).as("hof"))
    // bit-identical doubles (not approx): accumulation order must match
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("DotProduct matches the HOF dot bit-for-bit (float x double-literal)") {
    import org.apache.spark.sql.functions.{aggregate, lit, typedLit, zip_with}
    import org.apache.spark.sql.types.DoubleType
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cw = Array.tabulate(64)(d => ((d * 17 + 5) % 13 - 6).toDouble)
    val hof = aggregate(zip_with(col("embedding"), typedLit(cw.toSeq),
      (x, y) => x.cast(DoubleType) * y), lit(0.0), (acc, v) => acc + v)
    val both = emb.select(
      graft.functions.DotProduct(col("embedding"), typedLit(cw.toSeq)).as("native"),
      hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
    // length mismatch -> NULL
    val bad = Seq((Array(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(bad.select(graft.functions.DotProduct($"a", $"b").as("d"))
      .collect()(0).isNullAt(0))
  }

  test("DotProduct null elements propagate NULL (HOF semantics); non-array rejected at analysis") {
    // null element anywhere -> NULL result, same as aggregate(zip_with(...))
    val withNull = Seq(
      (Seq[java.lang.Double](1.0, null, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val r = withNull
      .select(graft.functions.DotProduct($"a", $"b").as("d")).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getDouble(0) == 14.0)
    // non-array input fails analysis (checkInputDataTypes), not execution
    val notArray = Seq((1.0, Seq(1.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      notArray.select(graft.functions.DotProduct($"a", $"b")).collect()
    }
  }

  test("CosineSim null/edge handling") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f))) // zero vector -> NULL
      .toDF("a", "b")
    val r = df.select(Similarity.cosine($"a", $"b").as("c")).collect()
    assert(r(0).getDouble(0) == 1.0)
    assert(r(1).isNullAt(0))
  }

  test("PortableMinHashSig matches the portable HOF signature bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val both = docs.select(
      Dedup.minhashSignaturePortable(col("text")).as("native"),
      ReferenceForms.minhashSignaturePortableHof(col("text")).as("hof"))
    assert(both.filter(expr("native != hof")).count() == 0)
    assert(both.head().getSeq[Long](0).length == 64)
  }

  test("PortableSimHash matches the HOF vote/pack bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val native = Dedup.withSimhash(docs)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = ReferenceForms.withSimhashHof(docs)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hof)
    assert(native.values.forall(s => s >= 0L && s < (1L << 60))) // 60-bit
  }

  test("LshSig matches the per-table HOF signatures bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val hofArr = array((0 until 4).map(t =>
      ReferenceForms.tableSignature(col("embedding"), t, 8)): _*)
    val both = emb.select(
      graft.functions.LshSig(col("embedding"), 4, 8).as("native"),
      hofArr.as("hof"))
    assert(both.filter(expr("native != hof")).count() == 0)
    assert(both.head().getSeq[Long](0).length == 4)
    // each table signature packs planesPerTable sign bits
    assert(both.select(explode(col("native"))).as[Long].collect()
      .forall(s => s >= 0L && s < 256L))
  }

  test("interpreted eval path agrees with codegen (expression in filter)") {
    // Force the interpreted path via an eval outside codegen: use the
    // expression inside a python-free context by collecting with
    // spark.sql.codegen disabled on a temp session clone.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val docs = s2.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val interp = docs.select(col("doc_id"),
      Dedup.minhashSignaturePortable(col("text")).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val codegen = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(20).select(col("doc_id"), Dedup.minhashSignaturePortable(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(interp == codegen)
  }

  test("CmsEstimate never undercounts, and heavyHitters settles to the exact aggregate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(
      explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
    val sketch = toks.stat.countMinSketch("tok", 0.0005, 0.99, 42)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    // the CMS one-sided error guarantee on every distinct token
    val under = exact
      .withColumn("est", graft.functions.CmsEstimate(col("tok"), sketch))
      .filter(col("est") < col("n")).count()
    assert(under == 0, s"$under tokens undercounted")
    // sketch-prefiltered heavy hitters == direct HAVING aggregate
    val hh = graft.text.TextOps.heavyHitters(docs, "text", threshold = 300L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = exact.filter(col("n") >= 300)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == direct)
    assert(hh.nonEmpty)
    // non-string items rejected at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.CmsEstimate(col("doc_id"), sketch)).collect()
    }
  }

  test("NoCodegen is a value-identical passthrough that splits the codegen stage") {
    import spark.implicits._
    val df = Seq(1L, 2L, 42L).toDF("v")
      .groupBy("v").agg(count(lit(1)).as("n"))
    val plain = df.withColumn("x", col("v") * 3 + col("n"))
    val wrapped = df.withColumn("x",
      NoCodegen(col("v") * 3 + col("n")))
    assert(wrapped.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    // NULL passthrough
    val withNull = Seq(Some(1L), None).toDF("v")
      .select(NoCodegen(col("v") + 1).as("x")).collect()
    assert(withNull.count(_.isNullAt(0)) == 1)
    // the wrapper's reason to exist: the projection containing it stays
    // OUT of whole-stage codegen (the aggregation below keeps its own
    // span), visible as the projection sitting outside any codegen id
    val formatted = wrapped.queryExecution.executedPlan.toString
    assert(formatted.contains("NoCodegen") || formatted.contains("nocodegen"),
      formatted.take(400))
  }
}
