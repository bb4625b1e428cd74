package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native DISTINCT character n-grams of a string, in first-occurrence
  * order — `array<string>` of every length-`n` codepoint window
  * (SQL-substring semantics, so `substring(s, i, n)` mirrors it exactly).
  * Strings shorter than `n` yield an empty array; NULL stays NULL.
  *
  * Why native: the HOF formulation (char split → filter → 3 slices →
  * 2 zip_with concats → array_distinct) evaluates ~6 interpreted lambda
  * passes with per-char object churn — measured ~2.6 ms/doc inside
  * [[graft.text.TextOps.ngramLangId]], 12.8 s at sf0.1 for what is one
  * substring loop. Same escalation as [[PortableMinHashSig]]/[[SignedProj]]:
  * one primitive pass, codegen-friendly.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case StringType => TypeCheckSuccess
      case t => TypeCheckFailure(s"CharNgrams needs STRING, got ${t.sql}")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      CharNgrams.distinctNgrams(input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          graft.functions.CharNgrams.distinctNgrams($s, $n));
      """
    })

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  /** Shared by interpreted eval and codegen: distinct n-grams
    * (codepoint windows), first occurrence first.
    *
    * The window's start/end BYTE offsets advance one codepoint per
    * iteration (UTF-8 lead-byte widths), so the whole extraction is one
    * O(bytes) pass — substringSQL per window would rescan the string
    * from byte 0 to find each codepoint offset, O(len²) on MB-scale
    * docs. Slicing by byte range is exactly substring(s, i+1, n):
    * codepoint boundaries come from the same lead-byte table
    * (numBytesForFirstByte) substringSQL uses. */
  def distinctNgrams(s: UTF8String, n: Int): Array[AnyRef] = {
    val chars = s.numChars()
    if (chars < n) return Array.empty
    val bytes = s.getBytes
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var start = 0
    var end = 0
    var j = 0
    while (j < n) {
      end += UTF8String.numBytesForFirstByte(bytes(end)); j += 1
    }
    var i = 0
    val last = chars - n
    while (i <= last) {
      seen.add(UTF8String.fromBytes(bytes, start, end - start))
      if (i < last) {
        start += UTF8String.numBytesForFirstByte(bytes(start))
        end += UTF8String.numBytesForFirstByte(bytes(end))
      }
      i += 1
    }
    seen.toArray(new Array[AnyRef](seen.size))
  }

  /** Column API: distinct character n-grams of a string column. */
  def apply(str: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(str), n))
}
