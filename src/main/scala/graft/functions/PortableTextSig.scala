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
  * while the HOF cross-validation formulations in [[graft.text.Dedup]]
  * propagate them (nulling/zeroing the signature) — bit-identity holds for
  * `containsNull=false` inputs, which [[graft.text.Dedup.shingles]]
  * guarantees. Filter nulls first otherwise. */
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
}

/** Native portable MinHash signature: `array<string>` shingles →
  * `array<long>` of `numHashes` affine-permuted minima over the md5-60
  * base hash. Same affine family as [[MinHashSig]] (keep in sync with
  * [[graft.text.Dedup]]); one fused codegen pass replaces the interpreted
  * 64-wide `aggregate` accumulator of
  * [[graft.text.Dedup.minhashSignaturePortable]]. */
case class PortableMinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private val P = 2147483647L

  private lazy val coefA: Array[Long] =
    Array.tabulate(numHashes)(i => 2654435761L * (i + 1) % P | 1L)
  private lazy val coefB: Array[Long] =
    Array.tabulate(numHashes)(i => 40503L * (i + 7) * 2654435769L % P)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = Array.fill(numHashes)(P)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val x = PortableTextSig.md5h60(arr.getUTF8String(i)) % P
        var j = 0
        while (j < numHashes) {
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
        long[] $acc = new long[$numHashes];
        java.util.Arrays.fill($acc, ${P}L);
        for (int $i = 0; $i < $arr.numElements(); $i++) {
          if (!$arr.isNullAt($i)) {
            long $x = graft.functions.PortableTextSig
              .md5h60($arr.getUTF8String($i)) % ${P}L;
            for (int $j = 0; $j < $numHashes; $j++) {
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
  def apply(shingles: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(
      PortableMinHashSig(ColumnBridge.expression(shingles), numHashes))
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
  def apply(shingles: Column, bits: Int = 60): Column =
    ColumnBridge.column(
      PortableSimHash(ColumnBridge.expression(shingles), bits))
}
