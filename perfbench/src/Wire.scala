package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser


/** Seeded wire-record generator.
  *
  * Records are encoded with Avro's own `GenericDatumWriter` — never with
  * the program's encoder, so a defect shared by the program's encode and
  * decode paths cannot hide — and staged as Parquet files of `value
  * BINARY` under `topic=<topic>/` directories, which the pipeline's file
  * source reads as `(value, topic)` in place of a broker. Each topic's
  * query reads only its own directory (the topic filter prunes the
  * partition), but, unlike a per-topic subscription, it still lists and
  * logs every topic's files. A file's bytes depend only on (seed, schema,
  * file index, row count).
  *
  * Alongside each file the generator keeps its own tally per output
  * partition directory (row count and the sum of one numeric field), which
  * the output check compares against what the pipeline wrote.
  */
object Wire {
  val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  val HourMs = 3600000L

  def schema(resource: String): Schema = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"schema resource $resource not on classpath")
    try new Schema.Parser().parse(in) finally in.close()
  }
  lazy val itemView: Schema = schema("avro/item-view-event.avsc")
  lazy val benchEvent: Schema = schema("avro/bench-event.avsc")

  /** Per partition directory: (rows, sum of the tallied field). */
  type Tally = Map[String, (Long, Long)]

  def merge(a: Tally, b: Tally): Tally =
    (a.keySet ++ b.keySet).iterator.map { k =>
      val (r1, s1) = a.getOrElse(k, (0L, 0L)); val (r2, s2) = b.getOrElse(k, (0L, 0L))
      k -> (r1 + r2, s1 + s2)
    }.toMap

  private val fmtHour = java.time.format.DateTimeFormatter
    .ofPattern("'dt='yyyy-MM-dd'/hour='HH").withZone(java.time.ZoneOffset.UTC)
  private val fmtMinute = java.time.format.DateTimeFormatter
    .ofPattern("'dt='yyyy-MM-dd'/hour='HH'/minute='mm").withZone(java.time.ZoneOffset.UTC)
  def hourDir(tsMs: Long): String = fmtHour.format(java.time.Instant.ofEpochMilli(tsMs))
  def minuteDir(tsMs: Long): String = fmtMinute.format(java.time.Instant.ofEpochMilli(tsMs))

  private val words = ("red blue green fast slim pro max mini smart home kitchen " +
    "garden sport outdoor classic modern wireless portable steel cotton").split(' ')
  private val eventTypes = Array("view", "click", "cart", "buy")
  private val devices = Array("mobile", "desktop", "tablet")

  private def phrase(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(words(r.nextInt(words.length))).mkString(" ")
  private def orNull[T](r: SplittableRandom, pNull: Double)(v: => T): Any =
    if (r.nextDouble() < pNull) null else v

  /** One item-view event; `eventId` is unique and carried in
    * `attrs["event_id"]`, `price` is the tallied field. Event time spans
    * 24 hour buckets. */
  def itemViewRecord(r: SplittableRandom, eventId: Long): (GenericRecord, Long, Long) = {
    val s = itemView
    val base = new GenericData.Record(s.getField("baseProperties").schema())
    val ts = T0Ms + r.nextLong(24 * HourMs)
    val item = r.nextInt(200000)
    base.put("eventType", eventTypes(r.nextInt(eventTypes.length)))
    base.put("timestamp", ts)
    base.put("url", s"https://shop.example.com/item/$item")
    base.put("referer", orNull(r, 0.3)(s"https://search.example.com/?q=${words(r.nextInt(words.length))}"))
    base.put("uid", orNull(r, 0.1)(s"u${r.nextInt(1000000)}"))
    base.put("pcid", orNull(r, 0.2)(java.lang.Long.toHexString(r.nextLong())))
    base.put("serviceId", s"svc${r.nextInt(8)}")
    base.put("version", "1.4.2")
    base.put("deviceType", devices(r.nextInt(devices.length)))
    base.put("domain", orNull(r, 0.05)("shop.example.com"))
    base.put("site", orNull(r, 0.05)(s"site${r.nextInt(4)}"))
    val rec = new GenericData.Record(s)
    val price = if (r.nextDouble() < 0.1) -1L else 100L + r.nextInt(500000)
    rec.put("baseProperties", base)
    rec.put("itemId", s"i$item")
    rec.put("categoryId", orNull(r, 0.1)(s"c${item % 500}"))
    rec.put("brandId", orNull(r, 0.2)(s"b${item % 1200}"))
    rec.put("itemType", orNull(r, 0.1)(if (item % 3 == 0) "bundle" else "single"))
    rec.put("promotionId", orNull(r, 0.7)(s"p${r.nextInt(50)}"))
    rec.put("price", if (price < 0) null else java.lang.Long.valueOf(price))
    rec.put("itemTitle", orNull(r, 0.02)(phrase(r, 3 + r.nextInt(5))))
    rec.put("itemDescription", orNull(r, 0.2)(phrase(r, 8 + r.nextInt(16))))
    rec.put("thumbnailUrl", orNull(r, 0.1)(s"https://img.example.com/$item.jpg"))
    rec.put("tags", java.util.Arrays.asList(Array.fill(r.nextInt(5))(words(r.nextInt(words.length))): _*))
    val attrs = new java.util.HashMap[String, java.lang.Long]()
    attrs.put("event_id", eventId)
    (0 until r.nextInt(3)).foreach(i => attrs.put(s"a$i", r.nextLong(1000)))
    rec.put("attrs", attrs)
    (rec, ts, math.max(price, 0L))
  }

  /** One narrow event due at `dueMs` after [[T0Ms]]; about 10% carry an
    * event time up to two minutes late. `value` has two decimals and its
    * cents are the tallied field. */
  def benchRecord(r: SplittableRandom, eventId: Long, dueMs: Long): (GenericRecord, Long, Long) = {
    val rec = new GenericData.Record(benchEvent)
    val late = if (r.nextDouble() < 0.1) r.nextLong(120000L) else 0L
    val ts = T0Ms + dueMs - late
    val cents = r.nextLong(100000L)
    rec.put("event_id", eventId)
    rec.put("ts", ts)
    rec.put("event_type", eventTypes(r.nextInt(eventTypes.length)))
    rec.put("value", cents / 100.0)
    rec.put("payload", java.lang.Long.toHexString(r.nextLong()) + java.lang.Long.toHexString(r.nextLong()))
    (rec, ts, cents)
  }

  private val wireSchema = MessageTypeParser.parseMessageType(
    "message wire { required binary value; }")

  def topicDir(root: Path, topic: String): Path = root.resolve(s"topic=$topic")

  /** Encode `rows` records and write them as one wire file; returns the
    * file's tally. `record(random, i)` yields (record, event time ms,
    * tallied value); `dir(ts)` names the record's partition directory. */
  def writeFile(path: Path, schema: Schema, seed: Long, rows: Int)(
      record: (SplittableRandom, Int) => (GenericRecord, Long, Long),
      dir: Long => String): Tally = {
    val r = new SplittableRandom(seed)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val bytes = new java.io.ByteArrayOutputStream(512)
    val enc = EncoderFactory.get().directBinaryEncoder(bytes, null)
    val groups = new SimpleGroupFactory(wireSchema)
    val out = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(new Configuration(false))
      .withType(wireSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      // one encoding per column chunk: parquet-mr lists a chunk's encodings
      // in hash-set order, which differs between JVMs, so a chunk with two
      // (a v1 page's level encoding, or a dictionary) breaks byte identity
      .withWriterVersion(ParquetProperties.WriterVersion.PARQUET_2_0)
      .withDictionaryEncoding(false)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val tally = scala.collection.mutable.Map.empty[String, (Long, Long)]
    try {
      var i = 0
      while (i < rows) {
        val (rec, ts, v) = record(r, i)
        bytes.reset()
        writer.write(rec, enc)
        enc.flush()
        out.write(groups.newGroup().append("value", Binary.fromConstantByteArray(bytes.toByteArray)))
        val d = dir(ts)
        val (n, s) = tally.getOrElse(d, (0L, 0L))
        tally(d) = (n + 1, s + v)
        i += 1
      }
    } finally out.close()
    tally.toMap
  }

  /** Run `n` independent file jobs on `threads` threads, in index order of
    * results. */
  def parallel[T](n: Int, threads: Int)(job: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = job(i)
      }))
      fs.map(_.get())
    } finally pool.shutdownNow()
  }

  /** Stage `files` item-view wire files of `rowsPerFile` rows for `topic`
    * under `root`; event ids are unique across the files of one call. */
  def stageItemView(root: Path, topic: String, seed: Long, files: Int, rowsPerFile: Int,
                    threads: Int, prefix: String = "bulk"): (Seq[Path], Tally) = {
    val dir = Files.createDirectories(topicDir(root, topic))
    val out = parallel(files, threads) { f =>
      val p = dir.resolve(f"$prefix-$f%05d.parquet")
      p -> writeFile(p, itemView, mix(seed, 1, f), rowsPerFile)(
        (r, i) => itemViewRecord(r, f.toLong * rowsPerFile + i), hourDir)
    }
    (out.map(_._1), out.map(_._2).foldLeft(Map.empty: Tally)(merge))
  }

  /** Deterministic per-file seed. */
  def mix(seed: Long, stream: Long, index: Long): Long =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E5L + index).nextLong()

  def main(args: Array[String]): Unit = {
    // Standalone staging, used by the determinism test:
    // Wire <out dir> <seed> — two item-view files and one narrow file.
    val dir = java.nio.file.Paths.get(args(0)); val seed = args(1).toLong
    stageItemView(dir, "item-view-event", seed, 2, 2000, 2)
    writeFile(dir.resolve("live-00000.parquet"), benchEvent, mix(seed, 2, 0), 2000)(
      (r, i) => benchRecord(r, i, 250L * i), minuteDir)
    ()
  }
}
