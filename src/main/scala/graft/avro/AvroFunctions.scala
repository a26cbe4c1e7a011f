package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** E1/E2: `from_avro`/`to_avro` as Catalyst expressions over avro-core
  * (spark-avro is not on this classpath — the wire format is identical:
  * a raw Avro binary body, schema known out-of-band).
  *
  * Generated code calls the serde kernel through a reference object:
  * the per-row cost is the Avro encoder itself, but the surrounding
  * projection (row-key synthesis, flatten, framing concat) stays inside
  * one whole-stage span instead of splitting at the serde boundary.
  * Writer/reader and scratch buffers are reused per task via lazy
  * fields — the expression instance is per-task in both the
  * interpreted and generated paths.
  *
  * `schemaJson` fixes the writer schema. Without it the schema is
  * derived from the BOUND child type, whose nullability the physical
  * plan may tighten (a filter on a nullable column makes it
  * non-nullable) — so the bytes can follow a narrower schema than the
  * analyzed frame's. A writer that publishes its schema beside the
  * bytes (a Kafka key) passes that same schema here.
  */
case class ToAvro(child: Expression, schemaJson: Option[String] = None)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_to_avro"

  private lazy val sparkType = child.dataType
  @transient private lazy val avroSchema = schemaJson
    .map(new Schema.Parser().parse(_))
    .getOrElse(AvroSchemaConverter.toAvro(sparkType))
  @transient private lazy val writer =
    new GenericDatumWriter[Any](AvroCodec.unwrapUnion(avroSchema))
  @transient private lazy val out = new ByteArrayOutputStream()
  @transient private var encoder: BinaryEncoder = _

  /** The serde kernel, shared by eval and generated code. */
  def encode(input: Any): Array[Byte] = {
    val datum = AvroCodec.catalystToAvro(input, sparkType, avroSchema)
    out.reset()
    encoder = EncoderFactory.get().directBinaryEncoder(out, encoder)
    writer.write(datum, encoder)
    encoder.flush()
    out.toByteArray
  }

  override protected def nullSafeEval(input: Any): Any = encode(input)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("toAvro", this, classOf[ToAvro].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Decode a binary Avro body into a struct given the writer schema JSON.
  * `skipBytes` supports framed wire formats (e.g. the Confluent wire
  * format's magic byte + 4-byte schema id = 5 bytes) — the reference
  * needs a custom decode for its production framing (E3, ref:
  * bin/ztf/stream2raw.py:112-115).
  *
  * `permissive = true` yields NULL for undecodable payloads instead of
  * failing the task — on a long-running ingest stream one corrupt Kafka
  * message must quarantine (filter `isNull` to a dead-letter sink), not
  * kill the query. Default is strict (FAILFAST), matching spark-avro.
  */
case class FromAvro(
    child: Expression,
    schemaJson: String,
    skipBytes: Int = 0,
    permissive: Boolean = false)
    extends UnaryExpression {

  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  override lazy val dataType: DataType = AvroSchemaConverter.toSql(avroSchema)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_from_avro"

  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](AvroCodec.unwrapUnion(avroSchema))
  @transient private var decoder: BinaryDecoder = _

  /** The decode kernel, shared by eval and generated code; null on a
    * quarantined payload (permissive mode). */
  def decode(bytes: Array[Byte]): Any = {
    try {
      decoder = DecoderFactory.get()
        .binaryDecoder(bytes, skipBytes, bytes.length - skipBytes, decoder)
      val rec = reader.read(null, decoder)
      AvroCodec.avroToCatalyst(rec, dataType)
    } catch {
      // quarantine only the failure classes corrupt PAYLOADS produce
      // (truncation → IOException/EOF, mangled length prefixes →
      // out-of-bounds/negative-size, malformed unions/enums →
      // AvroRuntimeException). A deterministic codec or schema bug
      // (ClassCastException, NPE, ...) still surfaces instead of
      // silently nulling 100% of rows.
      case e @ (_: java.io.IOException
          | _: org.apache.avro.AvroRuntimeException
          | _: IndexOutOfBoundsException
          | _: NegativeArraySizeException) if permissive =>
        // scratch decoder state is unspecified after a failed read —
        // drop it so the next row starts clean
        decoder = null
        null
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("fromAvro", this, classOf[FromAvro].getName)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    // permissive decode yields null → propagate through isNull
    nullSafeCodeGen(ctx, ev, c =>
      s"""
        ${ev.value} = ($javaType) $self.decode($c);
        ${ev.isNull} = (${ev.value} == null);
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AvroFunctions {

  /** E2: encode a (struct) column to Avro binary. */
  def toAvro(c: Column): Column = shims.column(ToAvro(shims.expression(c)))

  /** E1: decode Avro binary with the given writer schema. */
  def fromAvro(c: Column, schemaJson: String): Column =
    shims.column(FromAvro(shims.expression(c), schemaJson))

  /** E3: decode with framed wire formats (skip a fixed-size header). */
  def fromAvroFramed(c: Column, schemaJson: String, skipBytes: Int): Column =
    shims.column(FromAvro(shims.expression(c), schemaJson, skipBytes))

  /** E1 PERMISSIVE mode: NULL for corrupt payloads instead of task
    * failure — quarantine with `.filter(col.isNull)` to a dead-letter
    * sink on the ingest stream.
    */
  def fromAvroPermissive(c: Column, schemaJson: String, skipBytes: Int = 0): Column =
    shims.column(FromAvro(shims.expression(c), schemaJson, skipBytes,
      permissive = true))

  /** E4: the Avro reader-schema JSON for a Spark schema (published as
    * the Kafka message key by the reference).
    */
  def avroSchemaJson(st: StructType, recordName: String = "topLevelRecord"): String =
    AvroSchemaConverter.toAvro(st, recordName).toString
}
