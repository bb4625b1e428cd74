package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row word-n-gram duplication stats — (total windows,
  * distinct windows) over a token array in ONE pass, for the Gopher
  * duplicate-n-gram-fraction repetition signal.
  *
  * Why native: the HOF formulation (two zip_with concats to build the
  * trigram strings + array_distinct) measured ~4.4 ms/doc interpreted —
  * ~7 s for the ×10 probe corpus where this loop is ~0.9 s. Same
  * escalation rule as [[CharNgrams]]/[[PortableMinHashSig]]: hot per-row
  * text kernels become one primitive loop. Distinctness is by exact string
  * equality of the space-joined window — identical to the HOF's
  * array_distinct and the oracle's list_distinct.
  *
  * NULL input stays NULL; fewer than `n` tokens yields (0, 0) — filter
  * on `n_ngrams > 0` to drop unmeasurable docs.
  */
case class NgramDupStats(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(s"NgramDupStats needs ARRAY<STRING>, got ${t.sql}")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    NgramDupStats.stats(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
        ${ev.value} = graft.functions.NgramDupStats.stats($s, $n);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): NgramDupStats =
    copy(child = newChild)
}

object NgramDupStats {
  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and codegen: one window pass, a hash set
    * of the space-joined windows for the distinct count. */
  def stats(toks: ArrayData, n: Int): InternalRow = {
    val len = toks.numElements()
    val total = math.max(0, len - n + 1).toLong
    if (total == 0L)
      return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](0L, 0L))
    val seen = new java.util.HashSet[UTF8String]()
    val window = new Array[UTF8String](2 * n - 1)
    var j = 1
    while (j < 2 * n - 1) { window(j) = Space; j += 2 }
    var i = 0
    while (i <= len - n) {
      var k = 0
      while (k < n) { window(2 * k) = toks.getUTF8String(i + k); k += 1 }
      seen.add(UTF8String.concat(window: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](total, seen.size.toLong))
  }

  /** Column API. */
  def apply(tokens: Column, n: Int): Column =
    ColumnBridge.column(NgramDupStats(ColumnBridge.expression(tokens), n))
}
