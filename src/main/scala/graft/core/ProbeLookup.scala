package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** The row of a per-list vector table for a list number: a list's
  * centroid (or a spectral hash's per-list thresholds) attached by
  * projection instead of a broadcast join on list_no. The table is
  * embedded in the plan like [[NearestCentroid]]'s and held by the
  * generated code as a reference object, so the class is the same for
  * every table. Null for a null or out-of-range list number (the join
  * it replaces dropped such rows, and none reach it: every list number
  * comes from the table's own quantizer). */
case class CentroidLookup(child: Expression, table: Array[Array[Float]])
    extends UnaryExpression {

  @transient private lazy val rows: Array[ArrayData] =
    table.map(UnsafeArrayData.fromPrimitiveArray(_))

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "centroid_lookup"
  override def toString: String = s"$prettyName($child, ${table.length} rows)"

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any): Any = {
    val i = l.asInstanceOf[Int]
    if (i >= 0 && i < rows.length) rows(i) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rs = ctx.addReferenceObj("listRows", rows, "org.apache.spark.sql.catalyst.util.ArrayData[]")
    val l = child.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      boolean ${ev.isNull} = ${l.isNull} || ${l.value} < 0 || ${l.value} >= $rs.length;
      ArrayData ${ev.value} = ${ev.isNull} ? null : $rs[${l.value}];""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A driver-built table of a search's probe rows by list number: for
  * each probed list, the rows that scan it, as one array of structs of
  * the probe columns other than the key. Arrays are unsafe, so the
  * table serializes as bytes with the plan. */
final class ProbeTable private (keys: Array[Int], values: Array[ArrayData],
    val rows: Int) extends Serializable {

  /** The probe rows of list `k`, or none. */
  def get(k: Int): ArrayData = {
    val i = java.util.Arrays.binarySearch(keys, k)
    if (i >= 0) values(i) else ProbeTable.Empty
  }

  override def toString: String = s"$rows probe rows over ${keys.length} lists"
}

object ProbeTable {
  val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The table of `data` (rows of `schema`) keyed on its int column
    * `key`, and the struct type of its values; a row with a null key is
    * dropped, as an equi-join drops it. None, with the rest of `data`
    * unread, once the probe rows pass `maxBytes`. */
  def apply(data: Iterator[InternalRow], schema: StructType, key: String,
      maxBytes: Long): Option[(ProbeTable, StructType)] = {
    val k = schema.fieldIndex(key)
    val rest = schema.fields.indices.filter(_ != k)
    val st = StructType(rest.map(schema.fields(_)))
    val toStruct = InterpretedUnsafeProjection.createProjection(
      rest.map(i => BoundReference(i, schema.fields(i).dataType, schema.fields(i).nullable)))
    val byKey = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Any]]
    var (bytes, n) = (0L, 0)
    while (bytes <= maxBytes && data.hasNext) {
      val r = data.next()
      if (!r.isNullAt(k)) {
        val s = toStruct(r).copy()
        bytes += s.getSizeInBytes
        n += 1
        byKey.getOrElseUpdate(r.getInt(k), ArrayBuffer.empty) += s
      }
    }
    Option.when(bytes <= maxBytes) {
      val toArray = InterpretedUnsafeProjection.createProjection(
        Seq(BoundReference(0, ArrayType(st, containsNull = false), nullable = false)))
      val keys = byKey.keys.toArray.sorted
      val values = keys.map[ArrayData](l =>
        toArray(InternalRow(new GenericArrayData(byKey(l).toArray))).getArray(0).copy())
      (new ProbeTable(keys, values, n), st)
    }
  }
}

/** The probe rows of the list numbered `child`: the lookup side of a
  * small-batch IVF scan, `inline`d into one output row per (list row,
  * probe row) pair, as the broadcast equi-join on list_no it replaces
  * emitted them (a null list number has none). The generated code
  * holds the table as a reference object, so one compiled class serves
  * every probe set. */
case class ProbeLookup(child: Expression, table: ProbeTable, valueType: StructType)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(valueType, containsNull = false)
  override def prettyName: String = "probe_lookup"
  override def toString: String = s"$prettyName($child, $table)"

  override def nullSafeEval(k: Any): Any = table.get(k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("probeTable", table, classOf[ProbeTable].getName)
    defineCodeGen(ctx, ev, k => s"$t.get($k)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
