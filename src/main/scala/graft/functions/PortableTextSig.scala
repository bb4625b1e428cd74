package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared base hash for the engine-portable (DuckDB-reproducible) text
  * signatures: the first 15 hex chars of md5 as a 60-bit integer —
  * identical to `conv(substring(md5(s), 1, 15), 16, 10)` in Spark SQL and
  * `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)` in DuckDB
  * (keep in sync with [[graft.text.Dedup.portableHash]]). The first 15 hex
  * chars are the big-endian first 8 digest bytes shifted right by one
  * nibble.
  *
  * NULL elements: the native expressions below SKIP null array elements,
  * while the HOF reference forms the specs compare them against (test-scope
  * `graft.text.ReferenceForms`) propagate them (nulling/zeroing the
  * signature) — bit-identity holds for `containsNull=false` inputs, which
  * [[graft.text.Dedup.shingles]] guarantees. Filter nulls first otherwise. */
object PortableTextSig {
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def md5h60(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val bytes = md.digest(s.getBytes)
    var b = 0L
    var i = 0
    while (i < 8) { b = (b << 8) | (bytes(i) & 0xffL); i += 1 }
    b >>> 4
  }

  /** The MinHash family: `NumHashes` affine permutations
    * x ↦ (coefA(j)·x + coefB(j)) mod P of the base hash folded into
    * [0, P). The 31-bit modulus keeps a·x + b inside a long under ANSI
    * overflow checks. Seeded and data-independent; the DuckDB oracle embeds
    * the coefficients as SQL list literals. */
  val P = 2147483647L
  val NumHashes = 64
  val coefA: Array[Long] =
    Array.tabulate(NumHashes)(i => 2654435761L * (i + 1) % P | 1L)
  val coefB: Array[Long] =
    Array.tabulate(NumHashes)(i => 40503L * (i + 7) * 2654435769L % P)
}

/** Native portable MinHash signature: `array<string>` shingles →
  * `array<long>` of the [[PortableTextSig.NumHashes]] affine-permuted
  * minima over the md5-60 base hash ([[PortableTextSig.coefA]]/`coefB`);
  * one fused codegen pass replaces an interpreted 64-wide `aggregate`
  * accumulator (the tests keep it as the reference). */
case class PortableMinHashSig(child: Expression) extends UnaryExpression {
  import PortableTextSig.{NumHashes, P, coefA, coefB}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = Array.fill(NumHashes)(P)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val x = PortableTextSig.md5h60(arr.getUTF8String(i)) % P
        var j = 0
        while (j < NumHashes) {
          val v = (coefA(j) * x + coefB(j)) % P
          if (v < acc(j)) acc(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("pMinhashCoefA", coefA, "long[]")
    val bRef = ctx.addReferenceObj("pMinhashCoefB", coefB, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""
        long[] $acc = new long[$NumHashes];
        java.util.Arrays.fill($acc, ${P}L);
        for (int $i = 0; $i < $arr.numElements(); $i++) {
          if (!$arr.isNullAt($i)) {
            long $x = graft.functions.PortableTextSig
              .md5h60($arr.getUTF8String($i)) % ${P}L;
            for (int $j = 0; $j < $NumHashes; $j++) {
              long $v = ($aRef[$j] * $x + $bRef[$j]) % ${P}L;
              if ($v < $acc[$j]) $acc[$j] = $v;
            }
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($acc);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PortableMinHashSig =
    copy(child = newChild)
}

object PortableMinHashSig {
  def apply(shingles: Column): Column =
    ColumnBridge.column(PortableMinHashSig(ColumnBridge.expression(shingles)))
}

/** Native portable SimHash: `array<string>` shingles → 60-bit simhash
  * long — per-bit ±1 majority vote over the md5-60 base hashes, sign bits
  * packed (vote > 0 → bit set). Replaces an interpreted two-stage
  * vote/pack HOF (the tests keep it as the reference); bit-identical by
  * construction. */
case class PortableSimHash(child: Expression, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Long](bits)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = PortableTextSig.md5h60(arr.getUTF8String(i))
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L)
          j += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) sim += (1L << j)
      j += 1
    }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sim = ctx.freshName("sim")
      s"""
        long[] $votes = new long[$bits];
        for (int $i = 0; $i < $arr.numElements(); $i++) {
          if (!$arr.isNullAt($i)) {
            long $h = graft.functions.PortableTextSig.md5h60($arr.getUTF8String($i));
            for (int $j = 0; $j < $bits; $j++) {
              $votes[$j] += ((($h >> $j) & 1L) == 1L) ? 1L : -1L;
            }
          }
        }
        long $sim = 0L;
        for (int $j = 0; $j < $bits; $j++) {
          if ($votes[$j] > 0) $sim += (1L << $j);
        }
        ${ev.value} = $sim;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash =
    copy(child = newChild)
}

object PortableSimHash {
  def apply(shingles: Column): Column =
    ColumnBridge.column(
      PortableSimHash(ColumnBridge.expression(shingles), 60))
}
