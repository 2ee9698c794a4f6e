package graft

import graft.functions.{AvroCatalyst, AvroFunctions}
import graft.sources.{ClasspathSchemaRegistry, InMemorySchemaRegistry}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Round-trip tests for the hand-built Avro decode/encode path — the
  * reference's rows 2/3/10 (binary Avro, no magic byte, schema from a
  * topic-keyed registry; values mirror the reference producer, see
  * FIXTURES.md A).
  */
class AvroSpec extends SparkTestBase {

  private val registry = ClasspathSchemaRegistry.forTopics(Seq("item-view-event"))
  private val schemaJson = registry.schemaJson("item-view-event")
  private val avroSchema = registry.avroSchema("item-view-event")

  /** Test-harness serializer (plays the reference producer's role). */
  private def serialize(rec: GenericRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](avroSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def deserialize(bytes: Array[Byte]): GenericRecord = {
    val dec = DecoderFactory.get.binaryDecoder(bytes, null)
    new GenericDatumReader[GenericRecord](avroSchema).read(null, dec)
  }

  private def mkRecord(i: Int): GenericRecord = {
    val base = new GenericData.Record(avroSchema.getField("baseProperties").schema())
    base.put("eventType", "item-view-event")
    base.put("timestamp", 1470000000000L + i)
    base.put("url", s"http://any-url$i")
    base.put("uid", s"uid-$i")
    base.put("deviceType", "MOBILE")
    base.put("domain", "kafka.com")
    // referer/pcid/serviceId/version/site left null (nullable unions)
    val rec = new GenericData.Record(avroSchema)
    rec.put("baseProperties", base)
    rec.put("itemId", s"any-item-id$i")
    rec.put("price", 168000L + i)
    rec.put("tags", java.util.List.of("a", s"tag$i"))
    rec.put("attrs", java.util.Map.of("k", i.toLong))
    rec
  }

  test("schema converter maps the registry schema to the documented StructType") {
    val st = registry.sparkSchema("item-view-event")
    assert(st("baseProperties").dataType.isInstanceOf[StructType])
    val base = st("baseProperties").dataType.asInstanceOf[StructType]
    assert(!base("eventType").nullable)       // plain string
    assert(base("timestamp").nullable)        // union ["null","long"]
    assert(base("timestamp").dataType == LongType)
    assert(st("price").dataType == LongType && st("price").nullable)
    assert(st("tags").dataType == ArrayType(StringType, containsNull = false))
    assert(st("attrs").dataType == MapType(StringType, LongType, valueContainsNull = false))
  }

  test("from_avro_bytes decodes reference-producer-shaped records") {
    import spark.implicits._
    val rows = (0 until 10).map(i => (i, serialize(mkRecord(i))))
    val df = rows.toDF("key", "value")
      .select(col("key"), AvroFunctions.from_avro_bytes(col("value"), schemaJson).as("event"))
      .select(col("key"), col("event.baseProperties.eventType").as("et"),
              col("event.baseProperties.timestamp").as("ts"),
              col("event.baseProperties.referer").as("ref"),
              col("event.itemId"), col("event.price"), col("event.tags"),
              col("event.attrs"))
      .orderBy("key")
    val got = df.collect()
    assert(got.length == 10)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("et") == "item-view-event")
      assert(r.getAs[Long]("ts") == 1470000000000L + i)
      assert(r.isNullAt(r.fieldIndex("ref")), "null union field must decode to null")
      assert(r.getAs[String]("itemId") == s"any-item-id$i")
      assert(r.getAs[Long]("price") == 168000L + i)
      assert(r.getAs[scala.collection.Seq[String]]("tags").toList == List("a", s"tag$i"))
      assert(r.getAs[scala.collection.Map[String, Long]]("attrs").toMap == Map("k" -> i.toLong))
    }
  }

  test("to_avro_bytes inverts from_avro_bytes (engine-side round trip)") {
    import spark.implicits._
    val rows = (0 until 10).map(i => (i, serialize(mkRecord(i))))
    val back = rows.toDF("key", "value")
      .select(col("key"),
        AvroFunctions.to_avro_bytes(
          AvroFunctions.from_avro_bytes(col("value"), schemaJson), schemaJson).as("re"))
      .orderBy("key").collect()
    back.zipWithIndex.foreach { case (r, i) =>
      val rec = deserialize(r.getAs[Array[Byte]]("re"))
      assert(rec.get("itemId").toString == s"any-item-id$i")
      val base = rec.get("baseProperties").asInstanceOf[GenericRecord]
      assert(base.get("timestamp") == (1470000000000L + i))
      assert(base.get("referer") == null)
    }
  }

  test("SQL surface: avro_decode registered and usable from spark.sql") {
    import spark.implicits._
    AvroFunctions.register(spark)
    Seq((1, serialize(mkRecord(7)))).toDF("key", "value")
      .createOrReplaceTempView("avro_wire")
    val esc = schemaJson.replace("'", "''")
    val r = spark.sql(
      s"SELECT avro_decode(value, '$esc').itemId AS item FROM avro_wire").collect()
    assert(r.head.getString(0) == "any-item-id7")
  }

  test("decimal logical type on bytes/fixed round-trips as Spark Decimal") {
    import spark.implicits._
    val decSchemaJson =
      """{"type":"record","name":"Priced","fields":[
        |{"name":"id","type":"long"},
        |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |{"name":"fixedAmt","type":{"type":"fixed","name":"Amt","size":8,
        |  "logicalType":"decimal","precision":12,"scale":3}}]}""".stripMargin
    val decSchema = new org.apache.avro.Schema.Parser().parse(decSchemaJson)
    val st = AvroCatalyst(decSchema).dataType.asInstanceOf[StructType]
    assert(st("amount").dataType == DecimalType(10, 2))
    assert(st("fixedAmt").dataType == DecimalType(12, 3))

    def mk(id: Long, amt: java.math.BigDecimal, fx: java.math.BigDecimal): Array[Byte] = {
      val rec = new GenericData.Record(decSchema)
      rec.put("id", id)
      rec.put("amount", java.nio.ByteBuffer.wrap(amt.unscaledValue().toByteArray))
      val unscaled = fx.unscaledValue().toByteArray
      val padded = new Array[Byte](8)
      val sign: Byte = if (unscaled(0) < 0) -1 else 0
      java.util.Arrays.fill(padded, 0, 8 - unscaled.length, sign)
      System.arraycopy(unscaled, 0, padded, 8 - unscaled.length, unscaled.length)
      rec.put("fixedAmt", new GenericData.Fixed(
        decSchema.getField("fixedAmt").schema(), padded))
      val out = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get.binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](decSchema).write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    val a1 = new java.math.BigDecimal("12345.67")
    val f1 = new java.math.BigDecimal("-98765.432")
    val df = Seq((1L, mk(1L, a1, f1))).toDF("key", "value")
      .select(AvroFunctions.from_avro_bytes(col("value"), decSchemaJson).as("e"))
      .select(col("e.id"), col("e.amount"), col("e.fixedAmt"), col("e").as("whole"))
    val r = df.collect().head
    assert(r.getAs[java.math.BigDecimal]("amount").compareTo(a1) == 0)
    assert(r.getAs[java.math.BigDecimal]("fixedAmt").compareTo(f1) == 0)

    // encode back and decode with plain Avro: byte-level round trip
    val back = df.select(AvroFunctions.to_avro_bytes(col("whole"), decSchemaJson).as("re"))
      .collect().head.getAs[Array[Byte]]("re")
    val dec2 = DecoderFactory.get.binaryDecoder(back, null)
    val rec2 = new GenericDatumReader[GenericRecord](decSchema).read(null, dec2)
    val amtBytes = rec2.get("amount").asInstanceOf[java.nio.ByteBuffer]
    val arr = new Array[Byte](amtBytes.remaining()); amtBytes.duplicate().get(arr)
    assert(new java.math.BigDecimal(new java.math.BigInteger(arr), 2).compareTo(a1) == 0)
    val fxBytes = rec2.get("fixedAmt").asInstanceOf[org.apache.avro.generic.GenericFixed].bytes()
    assert(fxBytes.length == 8)
    assert(new java.math.BigDecimal(new java.math.BigInteger(fxBytes), 3).compareTo(f1) == 0)
  }

  test("registry failure modes: unknown topic fails fast") {
    intercept[NoSuchElementException](registry.schemaJson("nope"))
    val missing = intercept[IllegalArgumentException](
      new ClasspathSchemaRegistry(Map("t" -> "missing/path.avsc")).schemaJson("t"))
    assert(missing.getMessage.contains("missing/path.avsc"), missing.getMessage)
    val inMem = new InMemorySchemaRegistry(Map("t" -> schemaJson))
    assert(inMem.sparkSchema("t").fieldNames.contains("itemId"))
    // a top-level schema that is not a record has no row type
    val notRecord = intercept[IllegalArgumentException](
      new InMemorySchemaRegistry(Map("plain" -> "\"string\"")).sparkSchema("plain"))
    assert(notRecord.getMessage.contains("topic plain"), notRecord.getMessage)
  }

  test("Avro container files read back through the shared decode path") {
    import org.apache.avro.file.DataFileWriter
    val dir = java.nio.file.Files.createTempDirectory("graft-ocf")
    // two containers (two scan tasks), deflate-coded second file
    def writeOcf(name: String, is: Range, codec: Option[org.apache.avro.file.CodecFactory]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
      codec.foreach(w.setCodec)
      w.create(avroSchema, dir.resolve(name).toFile)
      is.foreach(i => w.append(mkRecord(i)))
      w.close()
    }
    writeOcf("a.avro", 0 until 7, None)
    writeOcf("b.avro", 7 until 12, Some(org.apache.avro.file.CodecFactory.deflateCodec(6)))
    java.nio.file.Files.writeString(dir.resolve("ignored.txt"), "not avro")

    val df = graft.sources.AvroOcf.read(spark, dir.toString, schemaJson)
    val rows = df.select(col("itemId"), col("price"), col("baseProperties.timestamp").as("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == (0 until 12).map(i =>
      (s"any-item-id$i", 168000L + i, 1470000000000L + i)).toSet)
    // nested nullable unions survive container framing too
    assert(df.select("baseProperties.referer").collect().forall(_.isNullAt(0)))
  }

  test("OCF read resolves old-writer containers against a newer reader schema") {
    import org.apache.avro.file.DataFileWriter
    val writerJson =
      """{"type":"record","name":"ev","fields":[
         {"name":"id","type":"long"},{"name":"name","type":"string"}]}"""
    // reader adds a defaulted field and reorders — classic evolution
    val readerJson =
      """{"type":"record","name":"ev","fields":[
         {"name":"name","type":"string"},
         {"name":"id","type":"long"},
         {"name":"score","type":"double","default":1.5}]}"""
    val writerSchema = new org.apache.avro.Schema.Parser().parse(writerJson)
    val dir = java.nio.file.Files.createTempDirectory("graft-ocf-evo")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](writerSchema))
    w.create(writerSchema, dir.resolve("old.avro").toFile)
    (0 until 3).foreach { i =>
      val r = new GenericData.Record(writerSchema)
      r.put("id", i.toLong); r.put("name", s"n$i")
      w.append(r)
    }
    w.close()
    val rows = graft.sources.AvroOcf.read(spark, dir.toString, readerJson)
      .select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == (0 until 3).map(i => (i.toLong, s"n$i", 1.5)).toSet,
      "Avro resolution must fill the defaulted field and handle reordering")
  }

  /** One Avro field type under test: the Catalyst field it maps to, sample
    * values as Avro runtime objects (built from the field's schema), and
    * the projections that make the decoded Catalyst value and Avro's own
    * reader value comparable (e.g. timestamps as epoch micros). */
  private case class TypeCase(name: String, avroType: String, sparkType: DataType,
                              nullable: Boolean, values: Schema => Seq[Any],
                              project: Column => Column = identity,
                              fromAvro: Any => Any = identity)

  private val typeCases = Seq(
    TypeCase("boolean", "\"boolean\"", BooleanType, false, _ => Seq(true, false)),
    TypeCase("int", "\"int\"", IntegerType, false, _ => Seq(0, -7, Int.MaxValue)),
    TypeCase("float", "\"float\"", FloatType, false, _ => Seq(1.5f, -0.25f, Float.MaxValue)),
    TypeCase("double", "\"double\"", DoubleType, false, _ => Seq(3.25, -1e300, 0.1)),
    TypeCase("enum", """{"type":"enum","name":"Color","symbols":["RED","GREEN"]}""",
      StringType, false, s => Seq("RED", "GREEN").map(new GenericData.EnumSymbol(s, _))),
    TypeCase("date", """{"type":"int","logicalType":"date"}""", DateType, false,
      _ => Seq(0, 17013, -1), project = c => unix_date(c)),
    TypeCase("timestamp-millis", """{"type":"long","logicalType":"timestamp-millis"}""",
      TimestampType, false, _ => Seq(1470000000123L, 0L, -1L),
      project = c => unix_micros(c), fromAvro = v => v.asInstanceOf[Long] * 1000L),
    TypeCase("timestamp-micros", """{"type":"long","logicalType":"timestamp-micros"}""",
      TimestampType, false, _ => Seq(1470000000123456L, 0L, -1L),
      project = c => unix_micros(c)),
    TypeCase("fixed", """{"type":"fixed","name":"Md4","size":4}""", BinaryType, false,
      s => Seq(Array[Byte](1, 2, 3, -4), Array[Byte](0, 0, 0, 0))
        .map(b => new GenericData.Fixed(s, b))),
    TypeCase("array of nullable items", """{"type":"array","items":["null","string"]}""",
      ArrayType(StringType, containsNull = true), false,
      _ => Seq(java.util.Arrays.asList("a", null, "b"), java.util.List.of(),
               java.util.Collections.singletonList(null))),
    // one entry per map: Avro's map encoding follows hash-map iteration
    // order, so a byte-exact round trip is only defined for ≤ 1 entry
    TypeCase("map of nullable values", """{"type":"map","values":["null","long"]}""",
      MapType(StringType, LongType, valueContainsNull = true), false,
      _ => Seq(java.util.Map.of("k", 5L), java.util.Collections.singletonMap("n", null),
               java.util.Map.of())),
    TypeCase("null", "\"null\"", NullType, true, _ => Seq(null)))

  private def recordJson(avroType: String): String =
    s"""{"type":"record","name":"typed","fields":[
       |{"name":"id","type":"int"},{"name":"v","type":$avroType}]}""".stripMargin

  /** Avro reader values and collected Spark values in one comparable form. */
  private def norm(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toList
    case f: GenericFixed => f.bytes().toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case l: java.util.List[_] => l.asScala.map(norm).toList
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case s: CharSequence => s.toString
    case e: GenericData.EnumSymbol => e.toString
    case other => other
  }

  typeCases.foreach { tc =>
    test(s"type coverage: ${tc.name} maps, decodes like GenericDatumReader, re-encodes byte-exact") {
      import spark.implicits._
      val json = recordJson(tc.avroType)
      val schema = new Schema.Parser().parse(json)
      val expected = StructType(Seq(StructField("id", IntegerType, nullable = false),
                                    StructField("v", tc.sparkType, tc.nullable)))
      assert(new InMemorySchemaRegistry(Map("t" -> json)).sparkSchema("t") == expected)

      val wire = tc.values(schema.getField("v").schema()).zipWithIndex.map { case (v, i) =>
        val rec = new GenericData.Record(schema)
        rec.put("id", i)
        rec.put("v", v)
        val out = new java.io.ByteArrayOutputStream()
        val enc = EncoderFactory.get.binaryEncoder(out, null)
        new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
        enc.flush()
        out.toByteArray
      }
      val decoded = wire.zipWithIndex.map(_.swap).toDF("key", "value")
        .select(col("key"), AvroFunctions.from_avro_bytes(col("value"), json).as("e"))
      assert(decoded.schema("e").dataType == expected)
      val got = decoded
        .select(col("key"), tc.project(col("e.v")).as("v"),
                AvroFunctions.to_avro_bytes(col("e"), json).as("re"))
        .orderBy("key").collect()
      assert(got.length == wire.length)
      wire.zip(got).foreach { case (bytes, row) =>
        val reference = new GenericDatumReader[GenericRecord](schema)
          .read(null, DecoderFactory.get.binaryDecoder(bytes, null)).get("v")
        assert(norm(row.get(1)) == norm(Option(reference).map(tc.fromAvro).orNull),
          s"${tc.name}: decoded value differs from Avro's reader")
        assert(row.getAs[Array[Byte]]("re").toSeq == bytes.toSeq,
          s"${tc.name}: to_avro_bytes must reproduce the original bytes")
      }
    }
  }

  test("multi-branch and non-null unions are rejected at plan time") {
    import spark.implicits._
    Seq("""["null","int","string"]""", """["int","string"]""").foreach { union =>
      val json = recordJson(union)
      intercept[UnsupportedOperationException](
        new InMemorySchemaRegistry(Map("t" -> json)).sparkSchema("t"))
      val wire = Seq(Array[Byte]()).toDF("value")
      val e = intercept[Exception](
        wire.select(AvroFunctions.from_avro_bytes(col("value"), json)).schema)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[UnsupportedOperationException]), s"$union: $e")
    }
  }
}
