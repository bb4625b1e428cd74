package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Per-key top-k as a first-class operator.
  *
  * The built-in formulation — `row_number().over(Window.partitionBy(key)
  * .orderBy(ord))` then `filter(rn <= k)` — shuffles EVERY row and fully
  * sorts every key partition before discarding all but k rows. This operator
  * keeps a bounded heap per key on the map side, shuffles only ≤ k rows per
  * (key, input-partition), and merges heaps on the reduce side: for top-k
  * over n rows it moves O(k · partitions · keys) instead of O(n), with no
  * sort. At 100 TB this is the difference between shuffling terabytes and
  * shuffling megabytes.
  *
  * Pieces (SURVEY.md §9 roadmap item 2):
  *  - [[TopKPerKey]] — logical node
  *  - [[TopKPerKeyStrategy]] — plans logical → partial + final exec pair
  *    (the final's `requiredChildDistribution` makes Catalyst insert the
  *    key-clustered exchange between them)
  *  - [[TopKPerKeyExec]] — bounded-heap physical operator (both phases)
  *  - used through [[graft.ops.TopK.perKey]], which adds the strategy to
  *    its session's `experimental.extraStrategies` on first use
  */
case class TopKPerKey(k: Int, keys: Seq[Expression], order: Expression,
    descending: Boolean, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, desc, child) =>
      val partial = TopKPerKeyExec(k, keys, order, desc, partial = true,
        planLater(child))
      TopKPerKeyExec(k, keys, order, desc, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Bounded k-element heap over a PRIMITIVE (double, long, null-bits) order
  * triple with the kept rows in a parallel array — the round-19 fast path
  * of [[TopKPerKeyExec]]. The root holds the WORST kept element (first to
  * evict). Comparison mirrors Catalyst exactly:
  *  - doubles via `SQLOrderingUtil.compareDoubles` (NaN greatest,
  *    NaN == NaN, -0.0 == 0.0) — the comparator whole-stage codegen and
  *    `InterpretedOrdering` both use;
  *  - struct fields null-first ascending (`InterpretedOrdering`'s rule),
  *    carried in `nb` (bit 0 = first field null, bit 1 = second);
  *  - `mode` 0 = struct(double, long), 1 = bare double, 2 = bare long.
  * Zero allocation per offered row unless the row is actually kept. */
private[plans] final class PrimOrdHeap(k: Int, desc: Boolean, mode: Int) {
  private val ds = new Array[Double](k)
  private val ls = new Array[Long](k)
  private val nbs = new Array[Int](k)
  private val rws = new Array[UnsafeRow](k)
  private var n = 0

  /** Catalyst-ascending comparison of element i against (d, l, nb). */
  private def cmp(i: Int, d: Double, l: Long, nb: Int): Int = {
    var c = 0
    if (mode != 2) {
      val an = (nbs(i) & 1) != 0
      val bn = (nb & 1) != 0
      c = if (an && bn) 0 else if (an) -1 else if (bn) 1
      else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(ds(i), d)
    }
    if (c == 0 && mode != 1) {
      val an = (nbs(i) & 2) != 0
      val bn = (nb & 2) != 0
      c = if (an && bn) 0 else if (an) -1 else if (bn) 1
      else java.lang.Long.compare(ls(i), l)
    }
    c
  }

  /** True when element i should sit CLOSER TO THE ROOT than element j —
    * i.e. i is worse (evicted earlier) than j. */
  private def worse(i: Int, j: Int): Boolean = {
    val c = cmp(i, ds(j), ls(j), nbs(j))
    if (desc) c < 0 else c > 0
  }

  private def swap(i: Int, j: Int): Unit = {
    val d = ds(i); ds(i) = ds(j); ds(j) = d
    val l = ls(i); ls(i) = ls(j); ls(j) = l
    val b = nbs(i); nbs(i) = nbs(j); nbs(j) = b
    val r = rws(i); rws(i) = rws(j); rws(j) = r
  }

  def offer(d: Double, l: Long, nb: Int, row: InternalRow,
      proj: UnsafeProjection): Unit = {
    if (n < k) {
      ds(n) = d; ls(n) = l; nbs(n) = nb
      rws(n) = proj(row).copy()
      var i = n
      n += 1
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else {
      // replace the root iff strictly better than the current worst —
      // ties keep the incumbent, like the generic path
      val c = cmp(0, d, l, nb) // root vs candidate, ascending
      if ((desc && c < 0) || (!desc && c > 0)) {
        ds(0) = d; ls(0) = l; nbs(0) = nb
        rws(0) = proj(row).copy()
        var i = 0
        var continue = true
        while (continue) {
          val lc = 2 * i + 1
          val rc = 2 * i + 2
          var m = i
          if (lc < n && worse(lc, m)) m = lc
          if (rc < n && worse(rc, m)) m = rc
          if (m == i) continue = false
          else { swap(i, m); i = m }
        }
      }
    }
  }

  def rows: Iterator[UnsafeRow] = rws.iterator.take(n)
}

/** Bounded-heap per-key top-k. `partial = true` runs before the exchange
  * (any distribution); the final phase requires key-clustered input, which
  * the planner satisfies with a hash exchange on the keys. */
case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Expression,
    descending: Boolean, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val ordExpr = order
    val desc = descending
    val limit = k
    val childOutput = child.output
    // PRIMITIVE fast path selection (round 19): the hot callers order by
    // struct(score: double, id: long) — the eval family's deterministic
    // tie-break — or by a bare double/long (hash samples, race keys). The
    // generic path pays, PER ROW, an order-value defensive copy (struct
    // rows alias the reused UnsafeRow buffer), a boxed tuple2, and a
    // PriorityQueue node; [[PrimOrdHeap]] stores the order in parallel
    // primitive arrays with zero per-row allocation and identical
    // Catalyst comparison semantics. TopKPerKeySpec pins fast == window
    // results including NaN, ±0.0 and null struct fields.
    val fastMode = ordExpr.dataType match {
      case s: org.apache.spark.sql.types.StructType if s.length == 2 &&
        s.fields(0).dataType == org.apache.spark.sql.types.DoubleType &&
        s.fields(1).dataType == org.apache.spark.sql.types.LongType => 0
      case org.apache.spark.sql.types.DoubleType => 1
      case org.apache.spark.sql.types.LongType => 2
      case _ => -1
    }
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val boundOrd = org.apache.spark.sql.catalyst.expressions
        .BindReferences.bindReference(ordExpr, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      import scala.jdk.CollectionConverters._
      if (fastMode >= 0) {
        val heaps = new java.util.HashMap[UnsafeRow, PrimOrdHeap]()
        iter.foreach { row =>
          val ordVal = boundOrd.eval(row)
          if (ordVal != null) {
            var d = 0.0
            var l = 0L
            var nb = 0
            if (fastMode == 0) {
              val r = ordVal.asInstanceOf[InternalRow]
              if (r.isNullAt(0)) nb |= 1 else d = r.getDouble(0)
              if (r.isNullAt(1)) nb |= 2 else l = r.getLong(1)
            } else if (fastMode == 1) d = ordVal.asInstanceOf[Double]
            else l = ordVal.asInstanceOf[Long]
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              heap = new PrimOrdHeap(limit, desc, fastMode)
              heaps.put(key.copy(), heap)
            }
            heap.offer(d, l, nb, row, rowProj)
          }
        }
        heaps.values().iterator().asScala.flatMap(_.rows)
      } else {
        // generic path: interpreted ordering over any order type
        val ordering = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(ordExpr.dataType)
        // Evaluated order values for buffer-backed types (strings, structs,
        // arrays) alias the reused UnsafeRow buffer and would be silently
        // mutated as the iterator advances — copy before storing in the heap.
        val copyOrd: Any => Any = {
          case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
          case r: InternalRow => r.copy()
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
          case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
          case v => v
        }
        // heap keeps the WORST element on top so it can be evicted
        implicit val heapOrd: Ordering[(Any, UnsafeRow)] = new Ordering[(Any, UnsafeRow)] {
          override def compare(a: (Any, UnsafeRow), b: (Any, UnsafeRow)): Int = {
            val c = ordering.compare(a._1, b._1)
            if (desc) -c else c
          }
        }
        val heaps = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.PriorityQueue[(Any, UnsafeRow)]]()
        iter.foreach { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = scala.collection.mutable.PriorityQueue.empty[(Any, UnsafeRow)]
            heaps.put(key.copy(), heap)
          }
          val ordVal = boundOrd.eval(row)
          if (ordVal != null) {
            if (heap.size < limit) heap.enqueue((copyOrd(ordVal), rowProj(row).copy()))
            else {
              val worst = heap.head
              val c = ordering.compare(ordVal, worst._1)
              if ((desc && c > 0) || (!desc && c < 0)) {
                heap.dequeue()
                heap.enqueue((copyOrd(ordVal), rowProj(row).copy()))
              }
            }
          }
        }
        heaps.values().iterator().asScala.flatMap(_.iterator.map(_._2))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
