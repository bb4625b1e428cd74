package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native sign-LSH signature expression: `array<float>` embedding →
  * `array<long>` of `nTables` packed sign-bit signatures
  * (`planesPerTable` bits each).
  *
  * The hyperplane family is data-independent and seedless: plane p has
  * component +1 at dimension d when (d + p·1000003)·2654435761 mod
  * (2^31 − 1) is even and −1 otherwise — a splitmix-style parity that ANSI
  * SQL reproduces exactly. Table t owns planes t·planesPerTable until
  * (t+1)·planesPerTable, and its signature sets bit p when the dot of the
  * embedding with its plane p is ≥ 0.
  *
  * All nTables × planesPerTable dots run in ONE fused codegen loop: dims
  * outer, planes inner, per-plane left-to-right double accumulation —
  * bit-identical to evaluating each plane's dot independently, and to the
  * DuckDB oracle's `list_sum(list_transform(...))` mirror.
  *
  * NULL elements: this expression SKIPS null array elements (treats them as
  * absent), whereas a per-plane `aggregate(zip_with(...))` formulation
  * propagates them (nulling the whole signature). The bit-identical
  * equivalence therefore holds only for arrays with `containsNull = false`
  * — which every embedding producer in this library guarantees. Filter
  * nulls first if the input can contain them.
  */
case class LshSig(child: Expression, nTables: Int, planesPerTable: Int)
    extends UnaryExpression {

  private val nPlanes = nTables * planesPerTable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Double](nPlanes)
    val n = arr.numElements()
    var d = 0
    while (d < n) {
      if (!arr.isNullAt(d)) {
        val x = arr.getFloat(d).toDouble
        var p = 0
        while (p < nPlanes) {
          val mixed = (d + p * 1000003L) * 2654435761L % 2147483647L
          acc(p) += (if (mixed % 2 == 0) x else -x)
          p += 1
        }
      }
      d += 1
    }
    val sigs = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var p = 0
      while (p < planesPerTable) {
        if (acc(t * planesPerTable + p) >= 0) sig += (1L << p)
        p += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val acc = ctx.freshName("acc")
      val sigs = ctx.freshName("sigs")
      val d = ctx.freshName("d")
      val p = ctx.freshName("p")
      val t = ctx.freshName("t")
      val x = ctx.freshName("x")
      val mixed = ctx.freshName("mixed")
      val sig = ctx.freshName("sig")
      s"""
        double[] $acc = new double[$nPlanes];
        for (int $d = 0; $d < $arr.numElements(); $d++) {
          if (!$arr.isNullAt($d)) {
            double $x = (double) $arr.getFloat($d);
            for (int $p = 0; $p < $nPlanes; $p++) {
              long $mixed = ($d + $p * 1000003L) * 2654435761L % 2147483647L;
              $acc[$p] += ($mixed % 2 == 0) ? $x : -$x;
            }
          }
        }
        long[] $sigs = new long[$nTables];
        for (int $t = 0; $t < $nTables; $t++) {
          long $sig = 0L;
          for (int $p = 0; $p < $planesPerTable; $p++) {
            if ($acc[$t * $planesPerTable + $p] >= 0) $sig += (1L << $p);
          }
          $sigs[$t] = $sig;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LshSig =
    copy(child = newChild)
}

object LshSig {
  /** Column API: all `nTables` sign-LSH table signatures of a float-array
    * embedding column in one pass. */
  def apply(embedding: Column, nTables: Int, planesPerTable: Int): Column =
    ColumnBridge.column(
      LshSig(ColumnBridge.expression(embedding), nTables, planesPerTable))
}
