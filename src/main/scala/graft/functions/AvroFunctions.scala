package graft.functions

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Avro binary decode/encode as Catalyst expressions (SURVEY.md §2
  * rows 2 and 10). The reference decodes per record with a cached
  * `GenericDatumReader` (`AbstractAvroDeserializeService.java:46-60`,
  * binary decoder, no header/magic byte) and encodes the inverse way in
  * its producer (`KafkaAvroEventSerializer.java:30-49`).
  *
  * This is the hand-built equivalent of spark-avro's `from_avro`/`to_avro`
  * (that module's jar isn't on this classpath): schema is a plan-time
  * literal (driver-resolved via SchemaRegistry, embedded per SURVEY §1.3),
  * and reader/decoder instances are reused per task (transient lazy). The
  * Catalyst type and the per-value converters come from one walk of the
  * schema (`AvroCatalyst`), built once per task, so a row pays only for
  * the conversion, never for a type decision. Decode cost is per-record
  * CPU with zero shuffles — the scan parallelism of the source (e.g. one
  * Spark partition per Kafka partition) carries through.
  */
object AvroFunctions {

  /** byte[] column (binary Avro, no magic byte) → struct column. */
  def from_avro_bytes(data: Column, schemaJson: String): Column =
    GraftColumnBridge.column(AvroDecode(GraftColumnBridge.expression(data), schemaJson))

  /** struct column → byte[] column (binary Avro, no magic byte). */
  def to_avro_bytes(data: Column, schemaJson: String): Column =
    GraftColumnBridge.column(AvroEncode(GraftColumnBridge.expression(data), schemaJson))

  /** Register `avro_decode(col, 'schema-json')` / `avro_encode` for SQL. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def lit(e: Expression): String = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"schema argument must be a string literal, got $other")
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "avro_decode", es => AvroDecode(es.head, lit(es(1))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "avro_encode", es => AvroEncode(es.head, lit(es(1))), "scala_udf")
  }
}

/** Binary-Avro → Catalyst struct. CodegenFallback: the body is Avro-runtime
  * IO, not expressible as Java fragments; the surrounding projection still
  * codegens and the per-task reader/decoder are reused across rows.
  */
case class AvroDecode(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val node = AvroCatalyst(avroSchema)
  @transient private lazy val reader = new GenericDatumReader[Any](avroSchema)
  @transient private var decoder: BinaryDecoder = _
  @transient private var reuse: Any = _

  override def dataType: DataType = node.dataType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    decoder = DecoderFactory.get.binaryDecoder(bytes, 0, bytes.length, decoder)
    reuse = reader.read(reuse, decoder)
    node.read(reuse)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst value → binary Avro (inverse of AvroDecode); the converters
  * follow the Avro schema and read values in the child's actual type. */
case class AvroEncode(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val write = AvroCatalyst(avroSchema, Some(child.dataType)).write
  @transient private lazy val writer = new GenericDatumWriter[Any](avroSchema)
  @transient private lazy val out = new java.io.ByteArrayOutputStream()
  @transient private var encoder: BinaryEncoder = _

  override def dataType: DataType = BinaryType

  override def nullSafeEval(input: Any): Any = {
    out.reset()
    encoder = EncoderFactory.get.binaryEncoder(out, encoder)
    writer.write(write(input), encoder)
    encoder.flush()
    out.toByteArray
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
