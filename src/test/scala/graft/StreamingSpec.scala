package graft

import graft.sources.{ClasspathSchemaRegistry, InMemorySchemaRegistry}
import graft.streaming.{EtlConfig, EtlSource, KafkaEtlPipeline, StreamOps}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end streaming parity tests (SURVEY.md §5): the full reference
  * dataflow — wire bytes → per-topic Avro decode → time-bucketed Snappy
  * parquet with transactional commit — driven by MemoryStream instead of
  * live brokers, exactly as the reference keeps Kafka-dependent tests out
  * of CI.
  */
class StreamingSpec extends SparkTestBase {

  private val topic = "item-view-event"
  private val registry = ClasspathSchemaRegistry.forTopics(Seq(topic))
  private lazy val avroSchema = registry.avroSchema(topic)

  private def serialize(rec: GenericRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](rec.getSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def wireBytes(i: Int): Array[Byte] = {
    val base = new GenericData.Record(avroSchema.getField("baseProperties").schema())
    base.put("eventType", topic)
    base.put("timestamp", 1470000000000L + i * 1000L)
    val rec = new GenericData.Record(avroSchema)
    rec.put("baseProperties", base)
    rec.put("itemId", s"item-$i")
    rec.put("price", 100L + i)
    rec.put("tags", java.util.List.of[String]())
    rec.put("attrs", java.util.Map.of[String, java.lang.Long]())
    serialize(rec)
  }

  test("pipeline e2e: decode, bucket, snappy parquet, trigger rolling, recovery") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    val mem = MemoryStream[(String, Array[Byte])]
    val wire = mem.toDF().toDF("topic", "value")
    val cfg = EtlConfig(Seq(topic), EtlSource.Stream(wire), out, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    val pipe = new KafkaEtlPipeline(spark, registry, cfg)

    // batch 1 + batch 2 → two micro-batches = two file-roll cycles
    val Seq(q) = pipe.start()
    mem.addData((0 until 5).map(i => (topic, wireBytes(i))))
    q.processAllAvailable()
    mem.addData((5 until 10).map(i => (topic, wireBytes(i))))
    q.processAllAvailable()
    pipe.stop()

    val files = new java.io.File(s"$out/$topic").listFiles()
    assert(files != null, "per-topic output dir must exist")
    val back1 = spark.read.parquet(s"$out/$topic")
    assert(back1.count() == 10)
    assert(back1.select("itemId").collect().map(_.getString(0)).toSet ==
      (0 until 10).map(i => s"item-$i").toSet)
    assert(back1.columns.contains("dt") && back1.columns.contains("hour"))
    // two commits → at least two data files (per-trigger rolling)
    val parts = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_spark_metadata"))
    assert(parts.length >= 2, s"expected >=2 rolled files, got ${parts.length}")
    // snappy codec actually used
    assert(parts.exists(_.contains("snappy")))

    // recovery: same stream + same checkpoint → continues, no duplicates
    val pipe2 = new KafkaEtlPipeline(spark, registry, cfg)
    val Seq(q2) = pipe2.start()
    mem.addData((10 until 15).map(i => (topic, wireBytes(i))))
    q2.processAllAvailable()
    pipe2.stop()
    val back2 = spark.read.parquet(s"$out/$topic")
    assert(back2.count() == 15, "restart must not duplicate or lose rows")
  }

  test("event-time bucketing mode stamps dt/hour from the payload field") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = Files.createTempDirectory("graft-et-out").toString
    val ckpt = Files.createTempDirectory("graft-et-ckpt").toString
    val mem = MemoryStream[(String, Array[Byte])]
    val cfg = EtlConfig(Seq(topic), EtlSource.Stream(mem.toDF().toDF("topic", "value")),
      out, ckpt, eventTimeColumn = Some("baseProperties.timestamp"))
    val pipe = new KafkaEtlPipeline(spark, registry, cfg)
    val Seq(q) = pipe.start()
    mem.addData(Seq((topic, wireBytes(0))))
    q.processAllAvailable()
    pipe.stop()
    val r = spark.read.parquet(s"$out/$topic").select("dt", "hour").collect()(0)
    // 1470000000000 ms = 2016-07-31 21:20:00 UTC
    assert(r.get(0).toString == "2016-07-31")
    assert(r.get(1).toString.toInt == 21)
  }

  test("event-time bucketing uses an Avro timestamp-millis field as decoded") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t = "ts-event"
    val json =
      """{"type":"record","name":"ts_event","fields":[
         {"name":"id","type":"long"},
         {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}"""
    val rec = new GenericData.Record(new org.apache.avro.Schema.Parser().parse(json))
    rec.put("id", 1L)
    rec.put("ts", 1470000000000L) // 2016-07-31 21:20:00 UTC
    val out = Files.createTempDirectory("graft-tsm-out").toString
    val ckpt = Files.createTempDirectory("graft-tsm-ckpt").toString
    val mem = MemoryStream[(String, Array[Byte])]
    val pipe = new KafkaEtlPipeline(spark, new InMemorySchemaRegistry(Map(t -> json)),
      EtlConfig(Seq(t), EtlSource.Stream(mem.toDF().toDF("topic", "value")), out, ckpt,
        eventTimeColumn = Some("ts")))
    val Seq(q) = pipe.start()
    mem.addData(Seq((t, serialize(rec))))
    q.processAllAvailable()
    pipe.stop()
    val dirs = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
    assert(dirs.exists(_.endsWith(s"$t/dt=2016-07-31/hour=21")),
      s"expected the payload's event-time layout, got ${dirs.filter(_.contains("dt=")).toSeq}")
  }

  test("minute-grain date.format writes dt/hour/minute layout with tuned sink") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = Files.createTempDirectory("graft-min-out").toString
    val ckpt = Files.createTempDirectory("graft-min-ckpt").toString
    val mem = MemoryStream[(String, Array[Byte])]
    val cfg = EtlConfig(Seq(topic), EtlSource.Stream(mem.toDF().toDF("topic", "value")),
      out, ckpt,
      eventTimeColumn = Some("baseProperties.timestamp"),
      dateFormat = "yyyy-MM-dd/HH/mm",
      blockSize = Some(16L * 1024 * 1024), pageSize = Some(512L * 1024))
    val pipe = new KafkaEtlPipeline(spark, registry, cfg)
    val Seq(q) = pipe.start()
    mem.addData(Seq((topic, wireBytes(0)))) // 1470000000000 ms = 2016-07-31 21:20:00 UTC
    q.processAllAvailable()
    pipe.stop()
    val dirs = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
    assert(dirs.exists(_.contains("dt=2016-07-31/hour=21/minute=20")),
      s"expected minute-grain hive layout, got ${dirs.filter(_.contains("dt=")).toSeq}")
    val back = spark.read.parquet(s"$out/$topic")
    assert(back.count() == 1)
    assert(back.columns.toSet.intersect(Set("dt", "hour", "minute")).size == 3)
  }

  test("producer path: wireFrame round-trips through the consumer pipeline") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t2 = "bench-order"
    val schemaJson =
      """{"type":"record","name":"bench_order","fields":[
         {"name":"id","type":"long"},{"name":"ts","type":"long"},
         {"name":"name","type":"string"}]}"""
    val reg = new graft.sources.InMemorySchemaRegistry(Map(t2 -> schemaJson))
    val out = Files.createTempDirectory("graft-prod-out").toString
    val ckpt = Files.createTempDirectory("graft-prod-ckpt").toString
    // typed rows → registered-schema Avro wire bytes (the reference's
    // producer+serializer), then fed straight into the consumer pipeline
    val mem = MemoryStream[(Long, Long, String)]
    val wire = graft.streaming.KafkaAvroProducer.wireFrame(
      mem.toDF().toDF("id", "ts", "name"), t2, reg)
    assert(wire.columns.toSeq == Seq("topic", "value"))
    val pipe = new KafkaEtlPipeline(spark, reg,
      EtlConfig(Seq(t2), EtlSource.Stream(wire), out, ckpt,
        eventTimeColumn = Some("ts")))
    val Seq(q) = pipe.start()
    mem.addData(Seq((1L, 1470000000000L, "a"), (2L, 1470003600000L, "b")))
    q.processAllAvailable()
    pipe.stop()
    val back = spark.read.parquet(s"$out/$t2")
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b")),
      "produce → wire bytes → decode → parquet must preserve the rows")
  }

  test("hadoop.conf.dir property merges site files into the Hadoop conf") {
    val dir = Files.createTempDirectory("graft-hconf")
    Files.write(dir.resolve("core-site.xml"),
      """<?xml version="1.0"?><configuration>
         <property><name>graft.test.marker</name><value>via-core-site</value></property>
         </configuration>""".getBytes("UTF-8"))
    KafkaEtlPipeline.fromProperties(spark, Map(), Seq(topic),
      Map(KafkaEtlPipeline.ConfOutput -> "/tmp/unused-out",
          KafkaEtlPipeline.ConfHadoopConfDir -> dir.toString),
      registry, "/tmp/unused-ckpt")
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.marker") == "via-core-site")
  }

  test("multi-topic fan-out: one query per topic, rows routed by topic") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val topics = Seq("item-view-event", "item-click-event")
    // both topics share the same schema resource (per-topic registry keys)
    val reg2 = new graft.sources.ClasspathSchemaRegistry(
      topics.map(_ -> "avro/item-view-event.avsc").toMap)
    val out = Files.createTempDirectory("graft-mt-out").toString
    val ckpt = Files.createTempDirectory("graft-mt-ckpt").toString
    val mem = MemoryStream[(String, Array[Byte])]
    val cfg = EtlConfig(topics, EtlSource.Stream(mem.toDF().toDF("topic", "value")),
      out, ckpt)
    val pipe = new KafkaEtlPipeline(spark, reg2, cfg)
    val qs = pipe.start()
    assert(qs.length == 2, "one StreamingQuery per topic")
    mem.addData(Seq(
      (topics(0), wireBytes(1)), (topics(0), wireBytes(2)),
      (topics(1), wireBytes(3))))
    qs.foreach(_.processAllAvailable())
    pipe.stop()
    assert(spark.read.parquet(s"$out/${topics(0)}").count() == 2)
    val clicks = spark.read.parquet(s"$out/${topics(1)}")
    assert(clicks.count() == 1)
    assert(clicks.select("itemId").collect()(0).getString(0) == "item-3")
  }

  test("a failed start leaves no topic's query running") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def etlActive = spark.streams.active.filter(_.name.startsWith("graft-etl-"))
    val reg = new InMemorySchemaRegistry(Map("a" -> registry.schemaJson(topic)))
    def pipeline(topics: Seq[String]) = new KafkaEtlPipeline(spark, reg,
      EtlConfig(topics, EtlSource.Stream(MemoryStream[(String, Array[Byte])]
                  .toDF().toDF("topic", "value")),
                Files.createTempDirectory("graft-fail-out").toString,
                Files.createTempDirectory("graft-fail-ckpt").toString))
    try {
      // 'b' is unregistered: the lookup fails before 'a' starts
      val missing = pipeline(Seq("a", "b"))
      val e = intercept[NoSuchElementException](missing.start())
      assert(e.getMessage.contains("'b'"))
      missing.stop()
      assert(etlActive.isEmpty)
      // the second 'a' query's start throws (duplicate query name) after
      // the first one started: the first is stopped again
      val dup = pipeline(Seq("a", "a"))
      intercept[IllegalArgumentException](dup.start())
      assert(etlActive.isEmpty)
      // with nothing left running, a fresh start on 'a' succeeds
      val ok = pipeline(Seq("a"))
      assert(ok.start().map(_.name) == Seq("graft-etl-a"))
      ok.stop()
    } finally etlActive.foreach(_.stop())
  }

  test("streaming dedup runs on the RocksDB state store provider") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp, Double)]
      val df = mem.toDF().toDF("event_id", "ts", "value")
      val q = StreamOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
        .writeStream.format("memory").queryName("rocks_out").outputMode("append").start()
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(Seq((1L, t0, 1.0), (1L, t0, 1.0), (2L, t0, 2.0)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("rocks_out").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(1L, 2L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming near-dup pairs match the batch LSH answer within the watermark") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val inWindow = Seq(
      (0L, ts(0), base),
      (1L, ts(1), base + " extra"), // near-dup of 0 (and of 3)
      (2L, ts(2), "completely different content words that do not match anything here at all"),
      (3L, ts(3), base))            // exact dup of 0, near-dup of 1

    // expected = the batch exact answer (jaccard >= 0.8 on 3-gram shingle
    // sets) over the in-watermark docs — what q42 computes
    def shingles(t: String): Set[String] =
      t.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val expected = (for {
      (a, _, ta) <- inWindow; (b, _, tb) <- inWindow if a < b
      sa = shingles(ta); sb = shingles(tb)
      common = (sa & sb).size
      if common.toDouble / (sa.size + sb.size - common) >= 0.8
    } yield (a, b)).toSet
    assert(expected == Set((0L, 1L), (0L, 3L), (1L, 3L)))

    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val df = mem.toDF().toDF("doc_id", "ts", "text")
      val q = StreamOps.nearDupPairsStream(df, "ts", "10 minutes")
        .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
      mem.addData(inWindow)
      q.processAllAvailable()
      // advance the watermark far past the first docs...
      mem.addData(Seq((20L, ts(295), "watermark advancing filler text nothing like the others")))
      q.processAllAvailable()
      // ...then replay the base text: its former near-dups are older than
      // the watermark, so no pair may be emitted for it
      mem.addData(Seq((10L, ts(300), base)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_out").select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"streaming pairs must equal the batch answer within the watermark: $got vs $expected")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming SimHash near-dup equals the brute-force Hamming answer within the watermark") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val inWindow = Seq(
      (0L, ts(0), base),
      (1L, ts(1), base + " extra"),
      (2L, ts(2), "completely different content words that do not match anything here at all"),
      (3L, ts(3), base))
    // expected = brute-force Hamming <= 3 over the in-window signatures
    // (what batch q81 verifies after banded retrieval)
    val sigs = inWindow.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.NativeExprs.simhash_sig(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = (for {
      (a, _, _) <- inWindow; (b, _, _) <- inWindow if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)).toSet
    assert(expected.contains((0L, 3L)), "identical docs must be Hamming-0")

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val df = mem.toDF().toDF("doc_id", "ts", "text")
      val q = StreamOps.simhashNearDupStream(df, "ts", "10 minutes")
        .writeStream.format("memory").queryName("simhash_stream_out")
        .outputMode("append").start()
      mem.addData(inWindow)
      q.processAllAvailable()
      // advance the watermark past the first docs, then replay the base:
      // its former near-dups are older than the horizon — no new pairs
      mem.addData(Seq((20L, ts(295), "watermark advancing filler text nothing like the others")))
      q.processAllAvailable()
      mem.addData(Seq((10L, ts(300), base)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("simhash_stream_out").select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"streaming SimHash pairs must equal the Hamming answer within the watermark: $got vs $expected")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming near-dup hot-bucket cap rotates oldest residents out") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val df = mem.toDF().toDF("doc_id", "ts", "text")
      val q = StreamOps.nearDupPairsStream(df, "ts", "10 minutes",
          maxResidents = 3)
        .writeStream.format("memory").queryName("neardup_cap_out")
        .outputMode("append").start()
      // ten identical docs flood every band bucket; with the cap each
      // arrival is verified against at most its 3 most recent bucket-mates
      mem.addData((0 until 10).map(i => (i.toLong, ts(i), base)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_cap_out").select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        b <- 0L until 10L; a <- math.max(0L, b - 3) until b
      } yield (a, b)).toSet
      assert(expected.size == 24) // uncapped would be 45
      assert(got == expected,
        s"capped bucket must pair each arrival with its 3 newest residents: $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming incremental dedup vs a static corpus: plain and bloom paths agree") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val existing = Seq("a", "b", "c").toDF("sig")
    def run(name: String, bloomExpected: Long): Set[Long] = {
      val mem = MemoryStream[(Long, String)]
      val df = mem.toDF().toDF("doc_id", "sig")
      val q = StreamOps.incrementalDedupStream(df, existing,
          bloomExpected = bloomExpected)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      mem.addData(Seq((1L, "a"), (2L, "x"), (3L, "b"), (4L, "y")))
      q.processAllAvailable()
      // a second micro-batch keeps flowing (stateless stream-static join)
      mem.addData(Seq((5L, "c"), (6L, "z")))
      q.processAllAvailable()
      q.stop()
      spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val plain = run("incdedup_plain", bloomExpected = 0L)
    assert(plain == Set(2L, 4L, 6L), s"anti-join must drop corpus dups: $plain")
    val bloomed = run("incdedup_bloom", bloomExpected = 100L)
    assert(bloomed == plain, "bloom fast path must equal the plain anti-join")
  }

  test("file-stream wire source: pipeline consumes newly arriving files") {
    import spark.implicits._
    val wireDir = Files.createTempDirectory("graft-wire").toString
    val out = Files.createTempDirectory("graft-fs-out").toString
    val ckpt = Files.createTempDirectory("graft-fs-ckpt").toString
    // first wire batch lands before the query starts
    Seq((topic, wireBytes(1)), (topic, wireBytes(2)))
      .toDF("topic", "value").write.parquet(s"$wireDir/b1")
    val wire = spark.readStream
      .schema("topic STRING, value BINARY")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$wireDir/*")
    val pipe = new KafkaEtlPipeline(spark, registry,
      EtlConfig(Seq(topic), EtlSource.Stream(wire), out, ckpt))
    val Seq(q) = pipe.start()
    q.processAllAvailable()
    assert(spark.read.parquet(s"$out/$topic").count() == 2)
    // new files arriving while running are discovered and appended
    Seq((topic, wireBytes(3))).toDF("topic", "value")
      .write.parquet(s"$wireDir/b2")
    q.processAllAvailable()
    pipe.stop()
    assert(spark.read.parquet(s"$out/$topic").count() == 3)
  }

  test("fromProperties: reference config keys map to trigger/output/sink options") {
    val pipe = KafkaEtlPipeline.fromProperties(spark,
      kafkaConsumerProps = Map("kafka.bootstrap.servers" -> "broker:9092",
                               "kafka.group.id" -> "g1"),
      topics = Seq(topic),
      parquetProps = Map(
        KafkaEtlPipeline.ConfOutput -> "/tmp/unused-out",
        KafkaEtlPipeline.ConfInterval -> "5",
        KafkaEtlPipeline.ConfIntervalUnit -> "MINUTE",
        KafkaEtlPipeline.ConfBlockSize -> "33554432",
        KafkaEtlPipeline.ConfPageSize -> "1048576",
        KafkaEtlPipeline.ConfDateFormat -> "yyyy-MM-dd/HH/mm"),
      registry = registry,
      checkpointLocation = "/tmp/unused-ckpt")
    assert(pipe != null)
    // the reference's parquet tuning keys reach the sink's option map
    val opts = pipe.sinkOptions(topic)
    assert(opts("parquet.block.size") == "33554432")
    assert(opts("parquet.page.size") == "1048576")
    assert(opts("compression") == "snappy")
    assert(opts("path") == s"/tmp/unused-out/$topic")
    // date.format segments become partition columns (minute grain)
    assert(pipe.partitionSpec == Seq("dt" -> "yyyy-MM-dd", "hour" -> "HH", "minute" -> "mm"))
    // defaults mirror the reference: minute-grain date.format, 256 MiB
    // block, 64 KiB page (ETLTask.java:147-148)
    val pipeDefault = KafkaEtlPipeline.fromProperties(spark, Map(), Seq(topic),
      Map(KafkaEtlPipeline.ConfOutput -> "/tmp/unused-out"), registry, "/tmp/unused-ckpt")
    assert(pipeDefault.partitionSpec.map(_._1) == Seq("dt", "hour", "minute"))
    assert(pipeDefault.sinkOptions(topic)("parquet.block.size") == "268435456")
    assert(pipeDefault.sinkOptions(topic)("parquet.page.size") == "65536")
    intercept[IllegalArgumentException] {
      KafkaEtlPipeline.fromProperties(spark, Map(), Seq(topic),
        Map(KafkaEtlPipeline.ConfIntervalUnit -> "FORTNIGHT",
            KafkaEtlPipeline.ConfOutput -> "x"), registry, "y")
    }
    intercept[IllegalArgumentException] {
      KafkaEtlPipeline.fromProperties(spark, Map(), Seq(topic),
        Map.empty, registry, "y")
    }
  }

  test("streaming exact dedup within watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = StreamOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData(Seq((1L, t0, 1.0), (1L, t0, 1.0), (2L, t0, 2.0)))
    q.processAllAvailable()
    mem.addData(Seq((1L, Timestamp.valueOf("2024-01-01 00:05:00"), 1.0))) // dup, within watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L)), s"got ${got.toSeq}")
  }

  test("streaming quota cap admits at most cap rows per key per window") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long, Timestamp)]
      val df = mem.toDF().toDF("source", "doc_id", "ts")
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
      val q = StreamOps.quotaPerKeyStream(df, "ts", "10 minutes",
          windowMs = 3600000L, keyCol = "source", idCol = "doc_id", cap = 2)
        .writeStream.format("memory").queryName("quota_out").outputMode("append").start()
      // window 0: srcA sends 3 (two admitted — smallest ts), srcB sends 1
      mem.addData(Seq(("srcA", 1L, ts(5)), ("srcA", 2L, ts(1)),
                      ("srcA", 3L, ts(3)), ("srcB", 4L, ts(2))))
      q.processAllAvailable()
      // window 0 again, later batch: srcA is full (reject), srcB has room
      mem.addData(Seq(("srcA", 5L, ts(7)), ("srcB", 6L, ts(8))))
      q.processAllAvailable()
      // window 1 (next hour): srcA's quota resets
      mem.addData(Seq(("srcA", 7L, ts(65))))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("quota_out").select("key", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // batch-1 srcA admits its 2 event-time-earliest (ids 2, 3); id 1 and
      // the later id 5 are over quota; srcB admits 4 then 6; window 1 resets
      assert(got == Set(("srcA", 2L), ("srcA", 3L), ("srcB", 4L),
                        ("srcB", 6L), ("srcA", 7L)), s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming contamination gate drops overlapping docs statelessly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.contaminationGateStream(df, bench, threshold = 0.5)
      .writeStream.format("memory").queryName("contam_out").outputMode("append").start()
    mem.addData(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // near-full overlap: drop
      (11L, "totally unrelated words nothing shared here at all"), // keep
      (12L, "alpha beta gamma then diverges into unrelated content entirely"), // partial: keep
      (13L, "too short"))) // no shingle possible: keep with score 0.0, never dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("contam_out").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(11L, 12L, 13L)), s"got ${got.toSeq}")
    // the kept rows carry their score; a zero-shingle doc cannot be
    // contaminated and must pass through with 0.0 rather than vanish
    val scores = spark.table("contam_out").select("doc_id", "contamination")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(11L) == 0.0 && scores(12L) > 0.0 && scores(12L) < 0.5)
    assert(scores(13L) == 0.0)
  }

  test("streaming sessionization: gap closes sessions via event-time timeout") {
    import spark.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.TlEvent]
    val q = StreamOps.userTimelineStream(mem.toDS(), stages = Nil,
        gapMs = 30 * 60 * 1000, horizonMs = 0L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    def ev(t: String, v: Double) =
      StreamOps.TlEvent("sess", 1L, Timestamp.valueOf(t), 0L, "", v)
    mem.addData(Seq(ev("2024-01-01 00:00:00", 1.0), ev("2024-01-01 00:10:00", 2.0)))
    q.processAllAvailable()
    // 2h later: watermark passes session_end+gap → session times out + emits
    mem.addData(Seq(ev("2024-01-01 02:00:00", 5.0)))
    q.processAllAvailable()
    mem.addData(Seq(ev("2024-01-01 06:00:00", 7.0)))
    q.processAllAvailable()
    q.stop()
    // sess rows: l1/l2 = session start/end (epoch ms), l3 = n, d1 = sum
    val rows = spark.table("sess_out").orderBy("l1").collect()
    assert(rows.length >= 1, s"first session must have closed, got ${rows.toSeq}")
    val first = rows(0)
    assert(first.getAs[Long]("l3") == 2)
    assert(first.getAs[Double]("d1") == 3.0)
    assert(first.getAs[Long]("l1") == Timestamp.valueOf("2024-01-01 00:00:00").getTime)
    assert(first.getAs[Long]("l2") == Timestamp.valueOf("2024-01-01 00:10:00").getTime)
  }

  test("streaming funnel: a late early view re-qualifies an earlier signup") {
    import spark.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.TlEvent]
    val q = StreamOps.userTimelineStream(mem.toDS(),
        stages = Seq("view", "signup", "purchase"),
        gapMs = 0L, horizonMs = 60000L, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    def ev(u: Long, t: String, ty: String) =
      StreamOps.TlEvent("funl", u, Timestamp.valueOf(t), 0L, ty, 0.0)
    // user 1 batch 1: signup BEFORE the only view → chain stalls at stage 1
    mem.addData(Seq(ev(1L, "2024-01-01 00:10:00", "signup"),
                    ev(1L, "2024-01-01 00:20:00", "purchase"),
                    ev(1L, "2024-01-01 00:15:00", "view"),
                    ev(2L, "2024-01-01 00:01:00", "view"),
                    ev(3L, "2024-01-01 00:02:00", "click")))
    q.processAllAvailable()
    // batch 2, late-but-in-watermark view at 00:05: t1 drops below the
    // signup, so the FULL chain completes — a naive (t1,t2,t3) fold
    // frozen from batch 1 would still report stage 1
    mem.addData(Seq(ev(1L, "2024-01-01 00:05:00", "view")))
    q.processAllAvailable()
    // advance the watermark past every user's last activity + horizon,
    // then tick once more so the fired timers' batch runs
    mem.addData(Seq(ev(99L, "2024-01-01 02:00:00", "click")))
    q.processAllAvailable()
    mem.addData(Seq(ev(99L, "2024-01-01 03:00:00", "click")))
    q.processAllAvailable()
    q.stop()
    // funl rows: the reached stage is l1
    val got = spark.table("funnel_out").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("l1")).toMap
    assert(got.get(1L).contains(3L),
      s"late view must complete user 1's chain, got $got")
    assert(got.get(2L).contains(1L), s"view-only user is stage 1, got $got")
    assert(got.get(3L).contains(0L),
      s"no-stage-event user finalizes at stage 0, got $got")
  }

  test("consolidated timeline whale key: the userTimelineStream branch " +
       "compactions trigger mid-stream and answers match batch semantics") {
    // the gate fixtures replay one data micro-batch (wm = 0 while keys
    // have data), so the funl/path compaction blocks never run there —
    // this drives multi-batch activity per key with an advancing
    // watermark (10 s) so earlier events settle and fold mid-stream,
    // and pins the three branch answers to buffer-all semantics
    import spark.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.TlEvent]
    val q = StreamOps.userTimelineStream(mem.toDS(),
        stages = Seq("view", "cart", "buy"),
        gapMs = 1800000L, horizonMs = 60000L, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("whale_tl")
      .outputMode("append").start()
    def ev(tag: String, u: Long, t: String, id: Long, ty: String, v: Double) =
      StreamOps.TlEvent(tag, u, Timestamp.valueOf(t), id, ty, v)
    // user 1 stays active every batch on all three tags; user 9's
    // ticks advance the watermark
    mem.addData(Seq(
      ev("funl", 1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      ev("path", 1L, "2024-01-01 10:00:00", 1L, "a", 0.0),
      ev("path", 1L, "2024-01-01 10:00:02", 2L, "b", 0.0),
      ev("path", 1L, "2024-01-01 10:00:04", 3L, "c", 0.0),
      ev("sess", 1L, "2024-01-01 10:00:00", 1L, "x", 2.0),
      ev("sess", 9L, "2024-01-01 10:00:30", 90L, "tick", 0.0)))
    q.processAllAvailable() // wm -> 10:00:20
    mem.addData(Seq(
      ev("funl", 1L, "2024-01-01 10:00:25", 4L, "cart", 0.0),
      ev("path", 1L, "2024-01-01 10:00:25", 4L, "d", 0.0),
      ev("sess", 1L, "2024-01-01 10:00:25", 4L, "x", 3.0),
      ev("sess", 9L, "2024-01-01 10:01:00", 91L, "tick", 0.0)))
    q.processAllAvailable() // settled prefixes fold/emit
    mem.addData(Seq(
      ev("funl", 1L, "2024-01-01 10:00:55", 5L, "buy", 0.0),
      ev("path", 1L, "2024-01-01 10:00:55", 5L, "e", 0.0),
      ev("sess", 9L, "2024-01-01 10:05:00", 92L, "tick", 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(ev("sess", 9L, "2024-01-01 10:30:00", 93L, "tick", 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(ev("sess", 9L, "2024-01-01 12:30:00", 94L, "tick", 0.0)))
    q.processAllAvailable() // everything finalizes
    q.stop()
    val rows = spark.table("whale_tl").collect()
    val funl = rows.filter(r => r.getString(0) == "funl" && r.getLong(1) == 1L)
      .map(_.getLong(2))
    assert(funl.toSeq == Seq(3L),
      s"consolidated funnel must reach stage 3 via the folded prefix, got ${funl.toSeq}")
    val path = rows.filter(r => r.getString(0) == "path" && r.getLong(1) == 1L)
      .map(r => (r.getString(6), r.getString(7), r.getString(8))).toSet
    assert(path == Set(("a", "b", "c"), ("b", "c", "d"), ("c", "d", "e")),
      s"consolidated path emission must equal sliding(3), got $path")
    val sess = rows.filter(r => r.getString(0) == "sess" && r.getLong(1) == 1L)
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(sess.length == 1 && sess(0)._3 == 2L && sess(0)._4 == 5.0,
      s"one closed session with 2 events totaling 5.0 expected, got ${sess.toSeq}")
  }

  test("compaction folds: randomized equivalence with buffer-all over " +
       "200 arrival/watermark schedules (the settled-prefix proofs, " +
       "exercised)") {
    // Pure-function pin for the r15 settled-prefix compaction: for ANY
    // event set, ANY batch assignment and ANY non-decreasing watermark
    // schedule consistent with the late filter (an event absorbed at
    // batch b has us >= w_b), folding each batch's settled prefix must
    // give the same final answer as buffering everything. Deterministic
    // seed; 200 schedules x (funnel + paths).
    val rnd = new scala.util.Random(1515)
    val stages = 4
    for (iter <- 0 until 200) {
      val nEv = rnd.nextInt(40)
      val nBatches = 1 + rnd.nextInt(6)
      // non-decreasing watermark per batch, starting at MinValue-ish 0
      val wms = Iterator.iterate(0L)(w => w + rnd.nextInt(30))
        .take(nBatches).toVector
      // events: us in [0, 100); assign each to a batch whose wm <= us
      // (drop events no batch can legally carry — the late filter)
      val evs = (0 until nEv).flatMap { i =>
        val us = rnd.nextInt(100).toLong
        val ok = wms.zipWithIndex.filter(_._1 <= us)
        if (ok.isEmpty) None
        else Some((us, i.toLong, "t" + rnd.nextInt(5),
                   rnd.nextInt(stages), ok(rnd.nextInt(ok.size))._2))
      }
      // ---- funnel: incremental settled fold vs buffer-all ----
      var fBuf = List.empty[(Long, Int)]
      var fReached = 0L
      var fPrev = Long.MinValue
      for (b <- 0 until nBatches) {
        fBuf = evs.filter(_._5 == b).map(e => (e._1, e._4)).toList ::: fBuf
        val (settled, tail) = fBuf.partition(_._1 < wms(b))
        if (settled.nonEmpty) {
          val (r2, p2) = StreamOps.funnelChainFold(settled, stages,
                                                   fReached, fPrev)
          fReached = r2; fPrev = p2
        }
        fBuf = tail
      }
      val gotF = StreamOps.funnelChainFold(fBuf, stages, fReached, fPrev)._1
      val expF = StreamOps.funnelReached(
        evs.map(e => (e._1, e._4)).toList, stages)
      assert(gotF == expF, s"iter $iter: funnel $gotF != $expF " +
        s"(wms=$wms evs=$evs)")
      // ---- paths: emitted-at-compaction ++ finalize == sliding(3) ----
      var pBuf = List.empty[(Long, Long, String)]
      var boundary = List.empty[String]
      val emitted = Seq.newBuilder[(String, String, String)]
      for (b <- 0 until nBatches) {
        pBuf = evs.filter(_._5 == b).map(e => (e._1, e._2, e._3)).toList ::: pBuf
        val (settled, tail) = pBuf.partition(_._1 < wms(b))
        val (trigrams, next) = StreamOps.pathSettle(boundary, settled)
        emitted ++= trigrams
        boundary = next
        pBuf = tail
      }
      emitted ++= StreamOps.pathSettle(boundary, pBuf)._1
      val expP = StreamOps.pathTrigrams(
        evs.map(e => (e._1, e._2, e._3)).toList).toList
      assert(emitted.result() == expP,
        s"iter $iter: path emission order/content diverged (wms=$wms)")
    }
  }

  test("q218 stream decay equals batch q214 row-for-row") {
    val stream = SparkEntry.queries("q218_decay_stream")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q214_decayed_counts")(spark, sfDir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("q194 stream anomaly equals batch q191 row-for-row") {
    // the closed 1-hour windows of the watermarked stream aggregation,
    // scored by the same EventOps.scoreHourly as the batch hour buckets
    val stream = SparkEntry.queries("q194_anomaly_stream")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q191_rate_anomaly")(spark, sfDir)
      .collect().toSeq
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("q168 gate equals the batch window-function top-3") {
    // each closed 1-hour window's bounded-heap top-3 vs row_number over
    // the batch hour (value desc, event_id asc: TopKAgg's total order)
    val got = SparkEntry.queries("q168_window_topk_stream")(spark, sfDir)
      .collect().toSeq
    val hour = expr("date_trunc('hour', ts)")
    val want = Tables.events(spark, sfDir)
      .select(hour.as("ws"), col("event_id"), col("value"),
              row_number().over(Window.partitionBy(hour)
                .orderBy(col("value").desc, col("event_id"))).as("rnk"))
      .filter(col("rnk") <= 3)
      .select(date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("rnk").cast("long").as("rnk"), col("event_id"),
              col("value"))
      .orderBy("window_start", "rnk")
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("q219 stream-stream interval join matches a timeline replay") {
    val got = SparkEntry.queries("q219_attribution_stream")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    val ev = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts)", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getString(3)))
    val twoH = 2L * 3600 * 1000000
    val want = (for {
      c <- ev if c._4 == "click"
      p <- ev if p._4 == "purchase" && p._1 == c._1 &&
                 p._3 > c._3 && p._3 <= c._3 + twoH
    } yield (c._1, c._2, p._2, p._3 - c._3))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == want.toSeq)
    // every attribution inside the (0, 2h] window
    assert(got.forall(t => t._4 > 0 && t._4 <= twoH))
  }

  test("q293 eviction gate: the watermark actually REMOVES state rows " +
       "mid-run, and out-of-horizon true pairs are absent") {
    // the oracle certifies the emitted set; this pins the MECHANISM —
    // per-batch StateOperatorProgress must report numRowsRemoved > 0
    // (the eviction observation, now a suite invariant). Fresh
    // memo so the stream runs under the listener.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val removed = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(so =>
          removed.addAndGet(so.numRowsRemoved))
    }
    // keyed removal (ADVICE r14): force only the evict stream to re-run
    // under the listener — the staged input files and every unrelated
    // write-once artifact (indexes, checkpointed cores) stay memoized
    SessionMemo.remove(spark, "stream.evictGate", sfDir)
    spark.streams.addListener(listener)
    val rows = try {
      SparkEntry.queries("q293_minhash_evict")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.streams.removeListener(listener)
    // async listener: the query terminated inside the gate, so all its
    // progress events precede removal of the listener except possibly
    // the last — poll briefly for the nonzero count
    val deadline = System.nanoTime() + 30000000000L
    while (removed.get() == 0 && System.nanoTime() < deadline)
      Thread.sleep(200)
    assert(removed.get() > 0,
      "the advancing watermark must evict state rows during the replay")
    // cross-check the horizon on the emitted set itself
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b) => math.abs(a % 6 - b % 6) <= 3 },
      s"pairs beyond the 3-slice horizon leaked: $rows")
  }

  test("q293 capped eviction — the production maxResidents shape: " +
       "emitted ⊆ exact horizon set, sub-cap-bucket pairs all present, " +
       "state bounded by cap × buckets, at two scales") {
    // The declared gate runs UNCAPPED (exactness vs the horizon SQL is
    // its contract); this pin executes the CAPPED form — the actual
    // 100 TB configuration — every round (VERDICT r14 task 4). The
    // recall trade is structural and asserted structurally: the cap
    // only ever DROPS pairs (subset), and only in buckets that exceed
    // the cap (every pair sharing a never-above-cap bucket survives).
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val cap = 2
    // sf0.01 and sf0.1 are the two DISTINCT document corpora (500 and
    // 5000 docs — sf0.001's documents table is sf0.01's, fixture fact)
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val uncapped = SparkEntry.queries("q293_minhash_evict")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val maxRows = new java.util.concurrent.atomic.AtomicLong()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          e.progress.stateOperators
            .filter(_.operatorName.contains("transformWithState"))
            .foreach(so => maxRows.updateAndGet(r => math.max(r, so.numRowsTotal)))
      }
      spark.streams.addListener(listener)
      val capped = try {
        graft.operators.StreamGate.evictPairsRun(spark, d, cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally spark.streams.removeListener(listener)
      assert(capped.subsetOf(uncapped),
        s"$d: the cap must only DROP pairs, found extras: ${capped -- uncapped}")
      // batch twin of the stream's banding: bucket occupancy
      val occ = Tables.documents(spark, d)
        .select(col("doc_id"),
          graft.functions.NativeExprs.word_shingles(col("text")).as("shs"))
        .filter(size(col("shs")) > 0)
        .select(col("doc_id"),
          explode(graft.functions.NativeExprs.minhash_band_keys(col("shs")))
            .as("bucket"))
      val bsz = occ.groupBy("bucket").agg(count(lit(1)).as("n"))
      val nBuckets = bsz.count()
      val nHot = bsz.filter(col("n") > cap).count()
      // a pair sharing a bucket that NEVER exceeds the cap cannot lose
      // to rotation — all such in-horizon true pairs must be present
      val cold = occ.join(bsz.filter(col("n") <= cap), "bucket")
      val coldPairs = cold.select(col("bucket"), col("doc_id").as("a_id"))
        .join(cold.select(col("bucket"), col("doc_id").as("b_id")), Seq("bucket"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mustHave = uncapped.intersect(coldPairs)
      assert(mustHave.subsetOf(capped),
        s"$d: pairs in sub-cap buckets must survive the cap, " +
          s"missing: ${mustHave -- capped}")
      assert(nHot > 0,
        s"$d: fixture must contain a hot bucket so the cap executes")
      // the state-bound certificate: residents ≤ cap per bucket (timer
      // rows ≤ 1 per bucket ride the same key space — 2× slack)
      // drain async listener delivery before reading the max
      val deadline = System.nanoTime() + 10000000000L
      while (maxRows.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(maxRows.get() > 0 && maxRows.get() <= (cap + 1) * nBuckets,
        s"$d: capped state rows ${maxRows.get()} must stay within " +
          s"(cap+1) × $nBuckets buckets")
      info(s"$d: uncapped=${uncapped.size} capped=${capped.size} " +
           s"mustHave=${mustHave.size} hotBuckets=$nHot " +
           s"maxStateRows=${maxRows.get()} buckets=$nBuckets")
    }
  }

  test("q223 streaming paths: a late middle event reorders the trigrams") {
    import spark.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.TlEvent]
    val q = StreamOps.userTimelineStream(mem.toDS(), stages = Nil,
        gapMs = 0L, horizonMs = 60000L, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("paths_out")
      .outputMode("append").start()
    def ev(u: Long, t: String, id: Long, ty: String) =
      StreamOps.TlEvent("path", u, Timestamp.valueOf(t), id, ty, 0.0)
    // batch 1 arrives a > c > d (by ts); the in-between b comes later
    mem.addData(Seq(ev(1L, "2024-01-01 00:01:00", 1L, "a"),
                    ev(1L, "2024-01-01 00:03:00", 3L, "c"),
                    ev(1L, "2024-01-01 00:04:00", 4L, "d")))
    q.processAllAvailable()
    // late-but-in-watermark middle event: every trigram spanning the
    // gap changes — a fold frozen from batch 1 would emit (a,c,d)
    mem.addData(Seq(ev(1L, "2024-01-01 00:02:00", 2L, "b")))
    q.processAllAvailable()
    mem.addData(Seq(ev(99L, "2024-01-01 02:00:00", 90L, "z")))
    q.processAllAvailable()
    mem.addData(Seq(ev(99L, "2024-01-01 03:00:00", 91L, "z")))
    q.processAllAvailable()
    q.stop()
    // path rows: the trigram is s1..s3
    val got = spark.table("paths_out").collect()
      .filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[String]("s1"), r.getAs[String]("s2"),
                 r.getAs[String]("s3"))).toSet
    assert(got == Set(("a", "b", "c"), ("b", "c", "d")),
      s"late insertion must rebuild the trigram chain, got $got")
  }

  test("q223 gate equals batch q213 row-for-row") {
    val stream = SparkEntry.queries("q223_paths_stream")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q213_event_paths")(spark, sfDir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("q227 left-outer interval join: null rows exactly for unattributed clicks") {
    val got = SparkEntry.queries("q227_attribution_outer")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 if (r.isNullAt(2)) None else Some(r.getLong(2)),
                 if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val inner = SparkEntry.queries("q219_attribution_stream")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    // matched subset ≡ the inner join's rows
    val matched = got.collect { case (u, c, Some(p), Some(g)) => (u, c, p, g) }
    assert(matched.toSeq.sorted == inner.toSeq.sorted)
    // null rows: exactly one per click absent from the inner join's
    // click set, and every click appears
    val innerClicks = inner.map(_._2).toSet
    val nullRows = got.collect { case (_, c, None, None) => c }
    assert(nullRows.toSet.intersect(innerClicks).isEmpty)
    assert(nullRows.distinct.length == nullRows.length)
    val allClicks = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(nullRows.toSet ++ innerClicks == allClicks)
    // no half-null rows
    assert(!got.exists(t => t._3.isDefined != t._4.isDefined))
  }

  test("q229 streaming growth registers equal batch q226 row-for-row") {
    val stream = SparkEntry.queries("q229_growth_stream")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q226_user_growth")(spark, sfDir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("q240 streaming KS registers equal batch q215 row-for-row") {
    val stream = SparkEntry.queries("q240_ks_stream")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q215_length_ks")(spark, sfDir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("q104's bloom-split plan carries NO state store; q177's keyed " +
       "state does (the state-operator instrumentation finding, pinned)") {
    // q104's scale story is that dedup state lives in the broadcast
    // bloom + the static side, NOT a streaming state store — a plan
    // change that reintroduces one (e.g. dropDuplicates on the stream)
    // would silently change the gate's 100 TB cost model. Observed via
    // a StreamingQueryListener keyed BY RUN ID: the old
    // shared-accumulator form raced q177's async progress events
    // against the q104 emptiness assert (ADVICE r13). Attributing
    // state ops to the runId each event carries, and asserting on the
    // runIds each gate's build actually started, is race-free by
    // construction. The gates ride memoized consolidated feeds
    // (docFeed / userTimeline), so the memo is cleared first to force
    // both streams to RUN here.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val started = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Unit]
    val terminated = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Unit]
    val opsByRun =
      scala.collection.concurrent.TrieMap.empty[java.util.UUID, Set[String]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.put(e.runId, ())
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.put(e.runId, ())
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(so =>
          opsByRun.updateWith(e.progress.runId)(
            v => Some(v.getOrElse(Set.empty) + so.operatorName)))
    }
    // listener delivery is async: poll with a bounded deadline
    def awaitOrTimeout(cond: => Boolean, ms: Long = 30000): Boolean = {
      val deadline = System.nanoTime() + ms * 1000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
      cond
    }
    // keyed removal (ADVICE r14): only the two feeds this test must
    // observe re-run; unrelated session artifacts stay memoized
    SessionMemo.remove(spark, "stream.docFeed", sfDir)
    SessionMemo.remove(spark, "stream.userTimeline", sfDir)
    spark.streams.addListener(listener)
    try {
      // positive control FIRST: q177's keyed state must arrive — this
      // also proves the listener bus is live. The bus is FIFO per
      // listener, so once the control's fMGWS progress is visible its
      // started event already arrived, and the snapshot taken AFTER the
      // assertion is complete.
      SparkEntry.queries("q177_funnel_stream")(spark, sfDir).count()
      assert(awaitOrTimeout(started.keySet.exists(r =>
          opsByRun.getOrElse(r, Set.empty)
            .exists(_.contains("flatMapGroupsWithState")))),
        s"positive control: q177 must report its keyed state, got $opsByRun")
      val afterControl = started.keySet.toSet
      SparkEntry.queries("q104_incdedup_stream")(spark, sfDir).count()
      // the q104 build's own run(s): started after the control snapshot.
      // Wait for their TERMINATED events — FIFO delivery means every
      // progress event of a run precedes its termination, so once
      // terminated arrives the run's state record is complete.
      assert(awaitOrTimeout((started.keySet.toSet -- afterControl).nonEmpty),
        "q104 cleared-memo build must have started a streaming query")
      val q104Runs = started.keySet.toSet -- afterControl
      assert(awaitOrTimeout(q104Runs.forall(terminated.contains)),
        "q104's streaming run must terminate")
      val q104Ops = q104Runs.flatMap(r => opsByRun.getOrElse(r, Set.empty))
      assert(q104Ops.isEmpty,
        s"q104 must stay stateless, found state operators: $q104Ops")
    } finally {
      spark.streams.removeListener(listener)
      // the feeds built under the listener are complete, valid runs —
      // leave them memoized for later consumers (keyed discipline)
    }
  }

  test("the gate runner picks RocksDB exactly for transformWithState " +
       "plans and restores the confs it sets") {
    // q169 runs a transformWithState processor, which needs RocksDB's
    // column families; q170's dropDuplicatesWithinWatermark stays on the
    // default provider. Custom metrics are attributed by run id, and
    // QueryStartedEvent is delivered synchronously, so the runs each
    // gate started are exactly the new ids after it returns.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.jdk.CollectionConverters._
    val keys = Seq("spark.sql.shuffle.partitions",
                   "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(spark.conf.getOption)
    val started = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Unit]
    val terminated = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Unit]
    val metricsByRun =
      scala.collection.concurrent.TrieMap.empty[java.util.UUID, Set[String]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.put(e.runId, ())
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.put(e.runId, ())
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(so =>
          metricsByRun.updateWith(e.progress.runId)(
            v => Some(v.getOrElse(Set.empty) ++ so.customMetrics.keySet.asScala)))
    }
    def awaitOrTimeout(cond: => Boolean, ms: Long = 30000): Boolean = {
      val deadline = System.nanoTime() + ms * 1000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
      cond
    }
    // the custom-metric names every state operator of a gate's runs reported
    def stateMetricsOf(q: String): Set[String] = {
      val prior = started.keySet.toSet
      graft.operators.StreamGate.queries(q)(spark, sfDir).count()
      val runs = started.keySet.toSet -- prior
      assert(runs.nonEmpty, s"$q must start a streaming query")
      // FIFO delivery: a run's progress events precede its termination
      assert(awaitOrTimeout(runs.forall(terminated.contains)),
        s"$q's streaming run must terminate")
      runs.flatMap(r => metricsByRun.getOrElse(r, Set.empty))
    }
    spark.streams.addListener(listener)
    try {
      val q169 = stateMetricsOf("q169_quota_stream")
      val q170 = stateMetricsOf("q170_dedup_stream")
      assert(q169.exists(_.startsWith("rocksdb")),
        s"q169 (transformWithState) must run on RocksDB, got $q169")
      assert(q170.nonEmpty, "q170 must report its dedup state operator")
      assert(!q170.exists(_.startsWith("rocksdb")),
        s"q170 must stay on the default provider, got $q170")
    } finally spark.streams.removeListener(listener)
    assert(keys.map(spark.conf.getOption) == before)
  }
}
