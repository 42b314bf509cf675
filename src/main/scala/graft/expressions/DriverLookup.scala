package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.DataType

/** A hash table built in the driver from a small index table, keyed by one
  * or more columns and holding Catalyst values. Equal only to itself, and
  * printed as its size: a plan that carries it stays as small to print,
  * compare and keep as one with a literal, whatever the table holds. */
final class DriverTable private (entries: java.util.HashMap[AnyRef, AnyRef])
    extends Serializable {
  def size: Int = entries.size

  /** The value under `key` (one entry per key column), null when there is
    * none or a key part is null. */
  def get(key: Array[AnyRef]): AnyRef =
    if (key.contains(null)) null else entries.get(DriverTable.hashKey(key))

  override def toString: String = s"$size entries"
}

object DriverTable {
  /** `rows` as (key parts, value) in their external (Row) form, converted
    * to Catalyst values; `valueType` is the type a lookup returns. A key
    * that repeats keeps its last value. */
  def apply(rows: Iterable[(Seq[Any], Any)], valueType: DataType): DriverTable = {
    val toValue = CatalystTypeConverters.createToCatalystConverter(valueType)
    val m = new java.util.HashMap[AnyRef, AnyRef](math.max(16, rows.size * 2))
    rows.foreach { case (k, v) =>
      m.put(hashKey(k.map(CatalystTypeConverters.convertToCatalyst(_).asInstanceOf[AnyRef]).toArray),
        toValue(v).asInstanceOf[AnyRef])
    }
    new DriverTable(m)
  }

  private def hashKey(key: Array[AnyRef]): AnyRef =
    if (key.length == 1) key(0) else java.util.Arrays.asList(key: _*)
}

/** `table`'s value under the row's `keys`, null when it has none — the
  * per-row half of a join whose other side is small, changes only at a
  * commit, and so is built once in the driver instead of in a broadcast
  * job per query. A hash probe per row (constant time, whatever the table
  * size); the table travels with the task like any other expression. */
case class DriverLookup(keys: Seq[Expression], table: DriverTable, dataType: DataType)
    extends Expression {
  override def children: Seq[Expression] = keys
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    table.get(keys.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("driverTable", table, classOf[DriverTable].getName)
    val key = ctx.freshName("key")
    val found = ctx.freshName("found")
    val parts = keys.zipWithIndex.map { case (k, i) =>
      val c = k.genCode(ctx)
      val boxed =
        if (CodeGenerator.isPrimitiveType(k.dataType))
          s"${CodeGenerator.boxedType(k.dataType)}.valueOf(${c.value})"
        else c.value.toString
      s"""${c.code}
         |$key[$i] = ${c.isNull} ? null : (Object) $boxed;""".stripMargin
    }
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      Object[] $key = new Object[${keys.size}];
      ${parts.mkString("\n")}
      Object $found = $t.get($key);
      boolean ${ev.isNull} = $found == null;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) ${ev.value} = ($javaType) $found;
    """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DriverLookup =
    copy(keys = newChildren)

  override def prettyName: String = "driver_lookup"
  override def toString: String = s"$prettyName(${keys.mkString(", ")}, $table)"
  override def sql: String = s"$prettyName(${keys.map(_.sql).mkString(", ")}, $table)"
}

object DriverLookup {
  /** The column `table(keys)`, typed `table`'s value type `dataType`. */
  def column(table: DriverTable, dataType: DataType, keys: Column*): Column =
    GraftShim.column(DriverLookup(keys.map(GraftShim.expression), table, dataType))
}
