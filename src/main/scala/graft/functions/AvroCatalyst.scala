package graft.functions

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The one Avro ↔ Catalyst mapping (SURVEY.md §1.2). A single walk over an
  * Avro schema gives, for every node, the Catalyst type, its nullability
  * and the converters in both directions, so each type is decided once per
  * schema: `AvroDecode`/`AvroEncode` build the converters once per task and
  * `SchemaRegistry.sparkSchema` takes its type from the same walk.
  *
  * Covers the constructs the reference's pass-through pipeline supports
  * (the full Avro spec via `GenericDatumReader`, of which the shipped
  * schema `item-view-event.avsc` exercises record / nested record /
  * union["null",T] / string / long): primitives, records, arrays, maps,
  * enums (→ string), fixed (→ binary), the null type, nullable unions, and
  * the common logical types (date, timestamp-millis/micros, decimal on
  * bytes/fixed).
  *
  * Unions other than ["null", T] are rejected by the walk, i.e. at plan
  * time — the reference never produces them and their Catalyst encoding
  * (a struct of branches) would leak into user schemas.
  */
private[graft] object AvroCatalyst {

  /** One Avro node: `read` turns an Avro runtime value into its Catalyst
    * value, `write` the reverse. Both take non-null values; the enclosing
    * record, array or map tests for null. */
  final case class Node(dataType: DataType, nullable: Boolean,
                        read: Any => Any, write: Any => Any)

  /** Walk `schema`. `actual` is the Catalyst type `write` receives values
    * in (an encoder's child type); None means the type the walk derives. */
  def apply(schema: Schema, actual: Option[DataType] = None): Node = {
    def same(dt: DataType) = Node(dt, nullable = false, identity, identity)
    def mismatch(dt: DataType) = throw new UnsupportedOperationException(
      s"cannot encode Spark $dt as Avro ${schema.getType}")
    schema.getType match {
      case Schema.Type.NULL => Node(NullType, nullable = true, _ => null, _ => null)
      case Schema.Type.BOOLEAN => same(BooleanType)
      case Schema.Type.INT => schema.getLogicalType match {
        case _: LogicalTypes.Date => same(DateType) // days since epoch on both sides
        case _ => same(IntegerType)
      }
      case Schema.Type.LONG => schema.getLogicalType match {
        case _: LogicalTypes.TimestampMillis =>
          // Catalyst timestamps are micros; a LongType input already holds millis
          Node(TimestampType, nullable = false, v => v.asInstanceOf[Long] * 1000L,
            if (actual.forall(_ == TimestampType)) v => v.asInstanceOf[Long] / 1000L
            else identity)
        case _: LogicalTypes.TimestampMicros => same(TimestampType)
        case _ => same(LongType)
      }
      case Schema.Type.FLOAT => same(FloatType)
      case Schema.Type.DOUBLE => same(DoubleType)
      case Schema.Type.STRING =>
        Node(StringType, nullable = false,
          v => UTF8String.fromString(v.toString), v => new Utf8(v.toString))
      case Schema.Type.ENUM =>
        Node(StringType, nullable = false,
          v => UTF8String.fromString(v.toString),
          v => new GenericData.EnumSymbol(schema, v.toString))
      case Schema.Type.BYTES | Schema.Type.FIXED =>
        val fixedSize = if (schema.getType == Schema.Type.FIXED) schema.getFixedSize else 0
        // copies: the datum reader reuses its fixed and ByteBuffer instances
        val bytesOf: Any => Array[Byte] =
          if (fixedSize > 0) _.asInstanceOf[GenericFixed].bytes().clone()
          else { v =>
            val bb = v.asInstanceOf[java.nio.ByteBuffer]
            val arr = new Array[Byte](bb.remaining())
            bb.duplicate().get(arr)
            arr
          }
        val wrap: Array[Byte] => Any =
          if (fixedSize > 0) new GenericData.Fixed(schema, _) else java.nio.ByteBuffer.wrap(_)
        schema.getLogicalType match {
          case d: LogicalTypes.Decimal =>
            Node(DecimalType(d.getPrecision, d.getScale), nullable = false,
              v => Decimal(new java.math.BigDecimal(new java.math.BigInteger(bytesOf(v)),
                d.getScale), d.getPrecision, d.getScale),
              if (actual.forall(_.isInstanceOf[DecimalType]))
                v => wrap(decimalBytes(v.asInstanceOf[Decimal], d.getScale, fixedSize))
              else v => wrap(v.asInstanceOf[Array[Byte]]))
          case _ => Node(BinaryType, nullable = false, bytesOf,
            v => wrap(v.asInstanceOf[Array[Byte]]))
        }
      case Schema.Type.RECORD =>
        val fields = schema.getFields.asScala.toArray
        val actuals: Array[Option[DataType]] = actual match {
          case None => fields.map(_ => None)
          case Some(st: StructType) if st.length == fields.length =>
            st.fields.map(f => Some(f.dataType))
          case Some(other) => mismatch(other)
        }
        val nodes = fields.indices.map(i => AvroCatalyst(fields(i).schema(), actuals(i))).toArray
        val types = nodes.indices.map(i => actuals(i).getOrElse(nodes(i).dataType)).toArray
        Node(StructType(fields.indices.map(i =>
            StructField(fields(i).name(), nodes(i).dataType, nodes(i).nullable))),
          nullable = false,
          { v =>
            val rec = v.asInstanceOf[GenericRecord]
            val out = new Array[Any](nodes.length)
            var i = 0
            while (i < nodes.length) {
              val x = rec.get(i)
              if (x != null) out(i) = nodes(i).read(x)
              i += 1
            }
            new GenericInternalRow(out)
          },
          { v =>
            val row = v.asInstanceOf[InternalRow]
            val rec = new GenericData.Record(schema)
            var i = 0
            while (i < nodes.length) {
              if (!row.isNullAt(i)) rec.put(i, nodes(i).write(row.get(i, types(i))))
              i += 1
            }
            rec
          })
      case Schema.Type.ARRAY =>
        val actualEl = actual.map {
          case at: ArrayType => at.elementType
          case other => mismatch(other)
        }
        val el = AvroCatalyst(schema.getElementType, actualEl)
        val elType = actualEl.getOrElse(el.dataType)
        Node(ArrayType(el.dataType, el.nullable), nullable = false,
          { v =>
            val items = v.asInstanceOf[java.util.Collection[Any]]
            val out = new Array[Any](items.size())
            val it = items.iterator()
            var i = 0
            while (it.hasNext) {
              val x = it.next()
              if (x != null) out(i) = el.read(x)
              i += 1
            }
            new GenericArrayData(out)
          },
          { v =>
            val arr = v.asInstanceOf[ArrayData]
            val out = new java.util.ArrayList[Any](arr.numElements())
            var i = 0
            while (i < arr.numElements()) {
              out.add(if (arr.isNullAt(i)) null else el.write(arr.get(i, elType)))
              i += 1
            }
            out
          })
      case Schema.Type.MAP =>
        val actualValue = actual.map {
          case mt: MapType => mt.valueType
          case other => mismatch(other)
        }
        val value = AvroCatalyst(schema.getValueType, actualValue)
        val valueType = actualValue.getOrElse(value.dataType)
        Node(MapType(StringType, value.dataType, value.nullable), nullable = false,
          { v =>
            val m = v.asInstanceOf[java.util.Map[Any, Any]]
            val keys = new Array[Any](m.size())
            val vals = new Array[Any](m.size())
            var i = 0
            m.forEach { (k, x) =>
              keys(i) = UTF8String.fromString(k.toString)
              if (x != null) vals(i) = value.read(x)
              i += 1
            }
            ArrayBasedMapData(keys, vals)
          },
          { v =>
            val m = v.asInstanceOf[MapData]
            val out = new java.util.HashMap[Any, Any](m.numElements())
            val keys = m.keyArray()
            val vals = m.valueArray()
            var i = 0
            while (i < m.numElements()) {
              out.put(keys.get(i, StringType).toString,
                if (vals.isNullAt(i)) null else value.write(vals.get(i, valueType)))
              i += 1
            }
            out
          })
      case Schema.Type.UNION =>
        schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toList match {
          case branch :: Nil if schema.getTypes.size == 2 =>
            AvroCatalyst(branch, actual).copy(nullable = true)
          case _ => throw new UnsupportedOperationException(
            s"only [\"null\", T] Avro unions map to Catalyst, got $schema")
        }
    }
  }

  /** Spark Decimal → Avro decimal wire form: the big-endian two's-complement
    * unscaled value at the schema's scale, sign-extended to `fixedSize`
    * bytes when that is > 0 (Avro fixed decimals are exact-width). */
  private def decimalBytes(dec: Decimal, scale: Int, fixedSize: Int): Array[Byte] = {
    val unscaled = dec.toJavaBigDecimal.setScale(scale).unscaledValue().toByteArray
    if (fixedSize == 0) return unscaled
    if (unscaled.length > fixedSize) throw new ArithmeticException(
      s"decimal unscaled value needs ${unscaled.length} bytes, fixed($fixedSize) too small")
    val padded = new Array[Byte](fixedSize)
    val sign: Byte = if (unscaled(0) < 0) -1 else 0
    java.util.Arrays.fill(padded, 0, fixedSize - unscaled.length, sign)
    System.arraycopy(unscaled, 0, padded, fixedSize - unscaled.length, unscaled.length)
    padded
  }
}
