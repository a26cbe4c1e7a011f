package graft.avro

import java.nio.ByteBuffer

import scala.collection.JavaConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst ⇄ Avro generic-datum value conversion, driven by the Spark
  * schema (the Avro schema is derived, so shapes always agree). Used by
  * the [[ToAvro]]/[[FromAvro]] expressions and [[AvroFiles]].
  */
object AvroCodec {

  /** Catalyst internal value → Avro datum, for `dt`. */
  def catalystToAvro(value: Any, dt: DataType, avro: Schema): Any = {
    if (value == null) return null
    val nonNull = unwrapUnion(avro)
    dt match {
      case StringType => value.asInstanceOf[UTF8String].toString
      case BinaryType => ByteBuffer.wrap(value.asInstanceOf[Array[Byte]])
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
          TimestampType | DateType | ShortType | ByteType =>
        value match {
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => other
        }
      case ArrayType(elem, _) =>
        val arr = value.asInstanceOf[ArrayData]
        val out = new java.util.ArrayList[Any](arr.numElements())
        var i = 0
        while (i < arr.numElements()) {
          out.add(catalystToAvro(arr.get(i, elem), elem, nonNull.getElementType))
          i += 1
        }
        out
      case MapType(StringType, v, _) =>
        val m = value.asInstanceOf[MapData]
        val out = new java.util.HashMap[String, Any](m.numElements())
        val keys = m.keyArray()
        val vals = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          out.put(
            keys.getUTF8String(i).toString,
            catalystToAvro(vals.get(i, v), v, nonNull.getValueType))
          i += 1
        }
        out
      case st: StructType =>
        val row = value.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(nonNull)
        var i = 0
        while (i < st.length) {
          val f = st(i)
          val fieldSchema = nonNull.getFields.get(i).schema()
          val v =
            if (row.isNullAt(i)) null
            else catalystToAvro(row.get(i, f.dataType), f.dataType, fieldSchema)
          rec.put(i, v)
          i += 1
        }
        rec
      case other =>
        throw new IllegalArgumentException(s"unsupported type: $other")
    }
  }

  /** Avro datum → Catalyst internal value, for `dt`. */
  def avroToCatalyst(value: Any, dt: DataType): Any = {
    if (value == null) return null
    dt match {
      case StringType => UTF8String.fromString(value.toString)
      case BinaryType =>
        value match {
          case bb: ByteBuffer =>
            val out = new Array[Byte](bb.remaining())
            bb.duplicate().get(out)
            out
          case f: org.apache.avro.generic.GenericFixed => f.bytes()
          case arr: Array[Byte] => arr
        }
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
          TimestampType | DateType =>
        value
      case ArrayType(elem, _) =>
        val in = value.asInstanceOf[java.util.Collection[Any]].asScala
        new GenericArrayData(in.map(avroToCatalyst(_, elem)).toArray)
      case MapType(StringType, v, _) =>
        val in = value.asInstanceOf[java.util.Map[Any, Any]]
        val keys = new Array[Any](in.size)
        val vals = new Array[Any](in.size)
        var i = 0
        in.forEach { (k, x) =>
          keys(i) = UTF8String.fromString(k.toString)
          vals(i) = avroToCatalyst(x, v)
          i += 1
        }
        ArrayBasedMapData(keys, vals)
      case st: StructType =>
        val rec = value.asInstanceOf[GenericRecord]
        val out = new GenericInternalRow(st.length)
        var i = 0
        while (i < st.length) {
          out.update(i, avroToCatalyst(rec.get(i), st(i).dataType))
          i += 1
        }
        out
      case other =>
        throw new IllegalArgumentException(s"unsupported type: $other")
    }
  }

  private[avro] def unwrapUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}
