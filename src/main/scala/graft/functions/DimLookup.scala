package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One value column of a small static dimension, frozen on the driver into
  * a `java.util.HashMap` keyed by one or two `UTF8String` levels (two
  * levels nest: outer key → inner map → value). Values are held in
  * Catalyst's internal form for `dataType`, so a probe hands them to the
  * row without conversion.
  *
  * A duplicate key fails the build: the left join this table replaces
  * would have duplicated the fact row instead. */
final class DimTable private (val name: String, val dataType: DataType,
    val levels: Int, val root: java.util.HashMap[UTF8String, AnyRef])
    extends Serializable {

  /** The value under the non-NULL key path (`k1` is ignored at one
    * level), or null on a miss. */
  def get(k0: UTF8String, k1: UTF8String): AnyRef =
    if (levels == 1) root.get(k0)
    else root.get(k0) match {
      case null => null
      case inner => inner.asInstanceOf[java.util.HashMap[UTF8String, AnyRef]].get(k1)
    }

  override def toString: String = name
}

object DimTable {
  /** `rows` pairs a key path (one or two strings) with an external value
    * of `dataType` (`String`, `java.math.BigDecimal`, `Int`, `Boolean`;
    * null stores a NULL value). */
  def apply(name: String, dataType: DataType,
      rows: Seq[(Seq[String], Any)]): DimTable = {
    val levels = rows.headOption.map(_._1.length).getOrElse(1)
    require(levels == 1 || levels == 2, s"dimension $name: 1 or 2 key levels")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dataType)
    val root = new java.util.HashMap[UTF8String, AnyRef]()
    rows.foreach { case (key, value) =>
      require(key.length == levels && key.forall(_ != null),
        s"dimension $name: key ${key.mkString("/")} is not $levels non-NULL strings")
      val path = key.map(UTF8String.fromString)
      val leaf =
        if (levels == 1) root
        else root.computeIfAbsent(path.head, _ => new java.util.HashMap[UTF8String, AnyRef]())
          .asInstanceOf[java.util.HashMap[UTF8String, AnyRef]]
      if (leaf.containsKey(path.last))
        throw new IllegalArgumentException(
          s"dimension $name: duplicate key ${key.mkString("/")}")
      leaf.put(path.last, toCatalyst(value).asInstanceOf[AnyRef])
    }
    new DimTable(name, dataType, levels, root)
  }
}

/** Native in-stage lookup of a [[DimTable]] value: the row-level form of a
  * left join against a static dimension, as the reference resolves rates
  * and thresholds with an in-process dict lookup.
  *
  * A broadcast hash join against a `LocalRelation` costs one Spark job per
  * dimension for the broadcast, and a join operator in the plan; this is a
  * projection. The table rides the expression (and so the plan) to the
  * executors and is bound into generated code with `addReferenceObj`, the
  * [[BloomMightContain]] pattern. Each row does one O(1) `HashMap` probe
  * per key level, in codegen and in `eval` alike.
  *
  * Semantics are the left join's: a NULL key or a miss gives NULL. Keys
  * must be binary-collated strings (the table hashes raw UTF-8 bytes). */
case class DimLookup(keys: Seq[Expression], table: DimTable) extends Expression {

  override def children: Seq[Expression] = keys
  override def dataType: DataType = table.dataType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (keys.length != table.levels)
      TypeCheckResult.TypeCheckFailure(
        s"dim_lookup(${table.name}) needs ${table.levels} key(s), got ${keys.length}")
    else keys.find(_.dataType != StringType) match {
      case Some(k) => TypeCheckResult.TypeCheckFailure(
        s"dim_lookup(${table.name}) needs STRING keys, got ${k.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val ks = keys.map(_.eval(input).asInstanceOf[UTF8String])
    if (ks.contains(null)) null else table.get(ks.head, ks.last)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val root = ctx.addReferenceObj("dimTable", table.root, "java.util.HashMap")
    val ks = keys.map(_.genCode(ctx))
    val hit = ctx.freshName("dimHit")
    val probe = ks match {
      case Seq(k0) =>
        s"if (!${k0.isNull}) $hit = $root.get(${k0.value});"
      case Seq(k0, k1) =>
        val inner = ctx.freshName("dimInner")
        s"""if (!${k0.isNull} && !${k1.isNull}) {
           |  Object $inner = $root.get(${k0.value});
           |  if ($inner != null) $hit = ((java.util.HashMap) $inner).get(${k1.value});
           |}""".stripMargin
    }
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val unbox =
      if (CodeGenerator.isPrimitiveType(dataType)) s"(($boxed) $hit).${javaType}Value()"
      else s"($javaType) $hit"
    ev.copy(code = code"""
      ${ks.map(_.code).reduce(_ + _)}
      Object $hit = null;
      $probe
      boolean ${ev.isNull} = $hit == null;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) ${ev.value} = $unbox;
    """)
  }

  override def prettyName: String = "dim_lookup"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DimLookup = copy(keys = newChildren)
}

object DimLookup {
  /** Column API: `keys` are the table's key levels, outermost first. */
  def apply(table: DimTable, keys: Column*): Column =
    ColumnBridge.column(DimLookup(keys.map(ColumnBridge.expression), table))
}
