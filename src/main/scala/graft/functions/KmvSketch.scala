package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch as a custom Catalyst
  * aggregate (`TypedImperativeAggregate`).
  *
  * Keeps the k smallest DISTINCT values of a uniform hash column; the
  * classic estimator (k-1) · H / kth_min (H = hash-space size) then
  * approximates the distinct count. The buffer is a bounded sorted set, so
  * map-side partial aggregation ships ≤ k longs per partition and merges
  * associatively — the mergeability that makes sketches the right tool at
  * 100 TB (a one-pass, fixed-memory DISTINCT estimate with no global
  * shuffle of the keys).
  *
  * Determinism: given a deterministic hash (e.g. the portable md5-60 of
  * [[PortableTextSig]]), the k minima — and therefore the estimate — are
  * EXACTLY reproducible in any engine, unlike HLL whose register layout is
  * implementation-specific. The DuckDB oracle mirrors it with
  * `ORDER BY hash LIMIT k`.
  */
case class KmvSketch(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 1)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def trim(b: java.util.TreeSet[java.lang.Long]): Unit =
    while (b.size > k) b.pollLast()

  override def update(buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // only candidates below the current kth minimum can matter
      if (buffer.size < k || h < buffer.last()) { buffer.add(h); trim(buffer) }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buffer.addAll(other)
    trim(buffer)
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr) // ascending — arr(k-1) is the kth minimum
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new java.util.TreeSet[java.lang.Long]()
    val n = in.readInt()
    var i = 0
    while (i < n) { b.add(in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

object KmvSketch {
  /** Column API: ascending array of the k smallest distinct hash values. */
  def apply(hash: Column, k: Int): Column =
    ColumnBridge.column(
      KmvSketch(ColumnBridge.expression(hash), k).toAggregateExpression())

  /** Distinct-count estimate from the minima array: exact size when fewer
    * than k minima were seen, else (k-1) · 2^60 / kth_min (for 60-bit
    * hashes). IEEE double division — engine-reproducible. */
  def estimate(minima: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    when(size(minima) < k, size(minima).cast(DoubleType))
      .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) /
        element_at(minima, k).cast(DoubleType))
  }
}
