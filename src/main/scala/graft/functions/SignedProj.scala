package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native fused int8-quantize + signed-random-projection: `array<float|
  * double>` of exactly `inDims` components → `array<long>` of `outDims`
  * signed sums Σᵢ qᵢ·s(i,j), with q = max-abs int8 quantization (the
  * [[graft.text.Embeddings.quantizeInt8]] semantics — `round` is Spark's
  * HALF_UP on the shortest-decimal representation, replicated here via
  * `BigDecimal.valueOf`) and s(i,j) ∈ {±1} from the deterministic
  * (i, j) hash in [[graft.text.Embeddings.randProj]].
  *
  * Why native: the HOF formulation re-evaluates the scale subtree per
  * element once CollapseProject inlines it, and a flat 1024-term
  * `element_at` chain compiles a monster method (measured ≥1.5 s of fixed
  * janino/codegen cost per execution). This is one primitive loop over
  * the vector with the ±1 matrix precomputed at plan time — the
  * [[DotProduct]]/[[PortableMinHashSig]] treatment. NativeExprSpec-style
  * parity is pinned in CurationOpsSpec (direct recompute).
  *
  * NULL for an all-zero vector (no max-abs scale — the quantizer's
  * drop-out-of-band contract); a wrong-length vector or a NULL component
  * fails LOUDLY (the tsAsNanos discipline) — silent zero-padding would
  * corrupt every downstream distance.
  */
case class SignedProj(child: Expression, outDims: Int, inDims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(
        s"SignedProj needs ARRAY<FLOAT|DOUBLE>, got ${t.sql}")
    }
  }

  /** ±1 matrix flattened row-major as signs(i * outDims + j); a pure
    * function of the dims, computed once at plan time. */
  private lazy val signs: Array[Long] = {
    val a = 2654435761L; val b = 1103515245L; val p = 1000000007L
    Array.tabulate(inDims * outDims) { k =>
      val (i, j) = (k / outDims, k % outDims)
      if ((a * i + b * j) % p % 2L == 0L) 1L else -1L
    }
  }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = SignedProj.project(arr, isFloat, inDims, outDims, signs)
    if (out == null) null else new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("signedProjSigns", signs, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val out = ctx.freshName("out")
      s"""
        long[] $out = graft.functions.SignedProj.project(
          $arr, $isFloat, $inDims, $outDims, $signsRef);
        if ($out == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignedProj =
    copy(child = newChild)
}

object SignedProj {
  /** Shared by interpreted eval and codegen (one tight loop, no per-call
    * compilation): returns the outDims sums, or null for a zero vector. */
  def project(arr: ArrayData, isFloat: Boolean, inDims: Int, outDims: Int,
      signs: Array[Long]): Array[Long] = {
    if (arr.numElements() != inDims)
      throw new IllegalArgumentException(
        s"SignedProj: vector has ${arr.numElements()} components, expected $inDims")
    var maxAbs = 0.0
    var i = 0
    while (i < inDims) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"SignedProj: NULL component at index $i")
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val ax = math.abs(x)
      if (ax > maxAbs) maxAbs = ax
      i += 1
    }
    if (maxAbs <= 0.0) return null
    val scale = 127.0 / maxAbs
    val acc = new Array[Long](outDims)
    i = 0
    while (i < inDims) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      // Spark round() parity: HALF_UP over the shortest-decimal repr
      val q = java.math.BigDecimal.valueOf(x * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      val base = i * outDims
      var j = 0
      while (j < outDims) {
        acc(j) += q * signs(base + j)
        j += 1
      }
      i += 1
    }
    acc
  }

  /** Column API: fused quantize+project of an embedding column. */
  def apply(emb: Column, outDims: Int, inDims: Int): Column =
    ColumnBridge.column(
      SignedProj(ColumnBridge.expression(emb), outDims, inDims))
}
