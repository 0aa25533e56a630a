package graft.streaming

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** A row as one record payload: its `UnsafeRow` image, so every value
  * (microsecond timestamps, float arrays) comes back bit for bit and
  * nothing is formatted or parsed. An image is read back only under the
  * schema it was written with. */
object RowBytes {
  def encode(cols: Column*): Column =
    GraftSqlBridge.column(Encode(GraftSqlBridge.expression(struct(cols: _*))))

  def decode(bytes: Column, schema: StructType): Column =
    GraftSqlBridge.column(Decode(GraftSqlBridge.expression(bytes), schema))

  private case class Encode(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    @transient private lazy val unsafe =
      UnsafeProjection.create(child.dataType.asInstanceOf[StructType])
    override protected def nullSafeEval(row: Any): Any = // the projection reuses its row
      unsafe(row.asInstanceOf[InternalRow]).copy().getBytes
    override protected def withNewChildInternal(c: Expression): Encode = copy(child = c)
  }

  private case class Decode(child: Expression, schema: StructType)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = schema
    override protected def nullSafeEval(bytes: Any): Any = {
      val b = bytes.asInstanceOf[Array[Byte]]
      val row = new UnsafeRow(schema.length)
      row.pointTo(b, b.length)
      row
    }
    override protected def withNewChildInternal(c: Expression): Decode = copy(child = c)
  }
}
