package graft.streaming

import graft.functions.AvroFunctions
import graft.sources.SchemaRegistry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.TimestampType

/** The reference's whole product, Spark-first: a streaming Avro→Parquet
  * ETL pipeline (SURVEY.md §3 "Spark mapping of the lifecycle").
  *
  * Reference API (`KafkaETLParquetConsumer.java:44-69`):
  * `new KafkaETLParquetConsumer(kafkaProps, topics, pollTimeout,
  * parquetProps, registry).run()`. Mapping here:
  *
  *  - kafkaProps → `EtlSource.Kafka(options)` passed through verbatim to
  *    `readStream.format("kafka")` (bootstrap servers, groupId, …);
  *  - topics → one StreamingQuery per topic (schemas differ per topic;
  *    the reference likewise keys writers by topic, `ETLTask.java:42`);
  *  - pollTimeout / roll interval (`CONF_INTERVAL`,
  *    `KafkaETLParquetConsumer.java:21-22`) → `Trigger.ProcessingTime`:
  *    one file set per micro-batch IS the reference's time-based file
  *    rolling (`ETLTask.java:285-296`), with no custom writer state;
  *  - per-record Avro decode (`AbstractAvroDeserializeService.java:46-60`)
  *    → the native `AvroDecode` expression, schema embedded at plan time;
  *  - path layout `<out>/<topic>/<date>/...` + Snappy + block/page sizes
  *    (`ETLTask.java:144-219`) → per-topic output dir + partition columns
  *    derived from `date.format` (day/hour default, minute grain as in the
  *    reference's README) + fixed Snappy and block.size/page.size options
  *    on the sink. The companion's `withPartitions` is the one place the
  *    landed layout is decided;
  *  - hand-rolled close-then-commitSync offset transactionality
  *    (`ETLTask.java:332-382`, at-least-once with the off-by-one noted in
  *    SURVEY §2 row 7) → `checkpointLocation`: Structured Streaming's
  *    offset WAL + `_spark_metadata` file-sink commit log give
  *    exactly-once file output — strictly stronger, zero code;
  *  - rebalance listener (`PartitionRebalancer.java:33-62`) → nothing:
  *    the Kafka source manages assignment; scale-out is executor-level;
  *  - shutdown hook drain (`KafkaETLParquetConsumer.java:78-104`) →
  *    `stop()` (graceful per-query stop) + optional `registerShutdownHook()`.
  *
  * Scale: decode is stateless per-record map work (one Spark partition per
  * Kafka partition, no shuffle anywhere in the plan); the sink writes one
  * file per partition per micro-batch. At 1000 executors the plan is
  * unchanged — parallelism follows the topic's partition count.
  */
final class KafkaEtlPipeline(
    spark: SparkSession,
    registry: SchemaRegistry,
    private[graft] val config: EtlConfig) {

  @volatile private var queries: Seq[StreamingQuery] = Nil

  private[graft] val partitionSpec: Seq[(String, String)] =
    KafkaEtlPipeline.partitionSpec(config.dateFormat)

  /** Exactly the option map handed to the streaming writer — the
    * reference's parquet tuning keys (`ETLTask.java:144-148`: Snappy,
    * hard-coded there and here; block.size, page.size) ride the same
    * per-write options channel Spark copies into the sink's Hadoop conf. */
  private[graft] def sinkOptions(topic: String): Map[String, String] =
    Map("path" -> s"${config.outputPath}/$topic",
        "checkpointLocation" -> s"${config.checkpointLocation}/$topic",
        "compression" -> "snappy") ++
      config.blockSize.map(v => "parquet.block.size" -> v.toString) ++
      config.pageSize.map(v => "parquet.page.size" -> v.toString)

  /** Wire-format stream for one topic: columns (topic string, value binary
    * [, ...]). Kafka gets a per-topic subscription so each StreamingQuery
    * reads only its own topic's records — N queries over N topics read each
    * record once, not N times (one source instance per query either way;
    * subscribing all N topics from every query would multiply broker reads
    * by N). A shared test Stream still needs the topic filter below.
    */
  private def wireStream(topic: String): DataFrame = config.source match {
    case EtlSource.Kafka(options) =>
      options.foldLeft(
        spark.readStream.format("kafka").option("subscribe", topic)
      ) { case (r, (k, v)) => r.option(k, v) }.load()
    case EtlSource.Stream(df) => df.filter(col("topic") === topic)
  }

  /** Decode one topic's records and stamp event/processing-time buckets
    * (one partition column per `date.format` segment). */
  private[streaming] def decoded(wire: DataFrame, topic: String): DataFrame = {
    val json = registry.schemaJson(topic)
    val flat = wire
      .select(AvroFunctions.from_avro_bytes(col("value"), json).as("event"))
      .select("event.*")
    val ts = config.eventTimeColumn match {
      case Some(c) if flat.select(c).schema.head.dataType == TimestampType =>
        col(c)                                      // Avro timestamp logical type
      case Some(c) => to_timestamp(col(c) / 1000.0) // epoch-millis payload field
      case None    => current_timestamp()           // reference parity: processing time
    }
    KafkaEtlPipeline.withPartitions(flat, ts, config.dateFormat)
  }

  /** Start one query per topic; returns the running queries. Every
    * topic's plan (and so its registry lookup) is built before any query
    * starts; if a later start throws, the queries already started are
    * stopped and the pipeline stays unstarted. */
  def start(): Seq[StreamingQuery] = synchronized {
    require(queries.isEmpty, "pipeline already started")
    val plans = config.topics.map(topic => topic -> decoded(wireStream(topic), topic))
    val started = Seq.newBuilder[StreamingQuery]
    try plans.foreach { case (topic, df) =>
      started += df.writeStream
        .format("parquet")
        .outputMode("append")
        .options(sinkOptions(topic))
        .partitionBy(partitionSpec.map(_._1): _*)
        .trigger(config.trigger)
        .queryName(s"graft-etl-$topic")
        .start()
    } catch {
      case e: Throwable =>
        started.result().foreach(q => scala.util.Try(q.stop()))
        throw e
    }
    queries = started.result()
    queries
  }

  /** Graceful drain (reference: wakeup → flush → commitSync → close,
    * `ETLTask.java:301-312`): stop each query; in-flight micro-batches
    * complete and commit before stop returns. */
  def stop(): Unit = synchronized {
    queries.foreach(_.stop())
    queries = Nil
  }

  /** Reference's ShutdownHookThread (`KafkaETLParquetConsumer.java:78-104`). */
  def registerShutdownHook(): Unit =
    sys.addShutdownHook { stop() }

  def awaitAnyTermination(): Unit = spark.streams.awaitAnyTermination()
}

object KafkaEtlPipeline {

  /** The reference's public config keys (`KafkaETLParquetConsumer.java:16-22`)
    * — the drop-in property surface a migrating user already has. */
  val ConfOutput = "output"
  val ConfInterval = "interval"
  val ConfIntervalUnit = "interval.unit" // DAY | HOUR | MINUTE (enum `:33-42`)
  val ConfBlockSize = "block.size"
  val ConfPageSize = "page.size"
  val ConfDateFormat = "date.format"
  val ConfHadoopConfDir = "hadoop.conf.dir" // `KafkaETLParquetConsumer.java:16`

  /** Day/hour: the layout `EtlConfig` lands unless `date.format` says otherwise. */
  private[graft] val DefaultDateFormat = "yyyy-MM-dd/HH"

  /** Partition columns derived from the reference's `date.format` path
    * pattern (`ETLTask.java:160`, `:213-219` — slash-separated segments,
    * default day/hour, minute-grain supported): each segment becomes one
    * Hive-style partition column (`dt=…/hour=…[/minute=…]`), the Spark
    * idiom for the reference's formatted directory tree. */
  private[graft] def partitionSpec(dateFormat: String): Seq[(String, String)] = {
    val segs = dateFormat.split("/").toSeq
    require(segs.nonEmpty && segs.forall(_.nonEmpty), s"bad date format '$dateFormat'")
    val names = Seq("dt", "hour", "minute").take(segs.length) ++
      (3 until segs.length).map(i => s"p$i")
    names.zip(segs)
  }

  /** Stamp `df` with one string partition column per `date.format`
    * segment, formatted from the timestamp `ts` — the landed layout's
    * single owner: the streaming sink and q173's batch gate both write
    * what this returns, partitioned by `partitionSpec(dateFormat)`'s
    * names. */
  private[graft] def withPartitions(df: DataFrame, ts: Column,
                                    dateFormat: String): DataFrame =
    partitionSpec(dateFormat).foldLeft(df) { case (d, (name, fmt)) =>
      d.withColumn(name, date_format(ts, fmt))
    }

  /** Drop-in adapter for the reference's constructor shape
    * (`KafkaETLParquetConsumer.java:44-56`): Kafka consumer properties +
    * topics + parquet sink properties + registry → a configured pipeline.
    * The roll interval (`interval` × `interval.unit`, ms math at
    * `ETLTask.java:121-137`) becomes the processing-time trigger; Kafka
    * props pass through as source options (auto-commit is irrelevant —
    * offsets live in the checkpoint, `:49`'s force-disable comes free).
    * `block.size`/`page.size` (`ETLTask.java:147-148`) become parquet
    * writer options; `date.format` (`ETLTask.java:160`, `:213-219`;
    * reference default is minute grain, `README.md:14-26`) sets the
    * partition-directory layout.
    */
  def fromProperties(spark: SparkSession,
                     kafkaConsumerProps: Map[String, String],
                     topics: Seq[String],
                     parquetProps: Map[String, String],
                     registry: SchemaRegistry,
                     checkpointLocation: String): KafkaEtlPipeline = {
    val interval = parquetProps.getOrElse(ConfInterval, "1").toInt
    val unitMs = parquetProps.getOrElse(ConfIntervalUnit, "MINUTE") match {
      case "DAY"    => 24L * 60 * 60 * 1000
      case "HOUR"   => 60L * 60 * 1000
      case "MINUTE" => 60L * 1000
      case other => throw new IllegalArgumentException(
        s"unknown $ConfIntervalUnit: $other (expected DAY|HOUR|MINUTE)")
    }
    // reference `hadoop.conf.dir` (`ETLTask.java:150-155`: loads
    // core-site/hdfs-site from the property): merge those resources into
    // the session's Hadoop conf so sink paths resolve identically.
    // (Cluster deployments usually set HADOOP_CONF_DIR instead — this is
    // the drop-in-property equivalent.)
    parquetProps.get(ConfHadoopConfDir).foreach { dir =>
      val hconf = spark.sparkContext.hadoopConfiguration
      Seq("core-site.xml", "hdfs-site.xml").foreach { f =>
        val file = new java.io.File(dir, f)
        if (file.isFile) hconf.addResource(new org.apache.hadoop.fs.Path(file.toURI))
      }
    }
    val cfg = EtlConfig(
      topics = topics,
      source = EtlSource.Kafka(kafkaConsumerProps),
      outputPath = parquetProps.getOrElse(ConfOutput,
        throw new IllegalArgumentException(s"missing required '$ConfOutput'")),
      checkpointLocation = checkpointLocation,
      trigger = Trigger.ProcessingTime(interval * unitMs),
      dateFormat = parquetProps.getOrElse(ConfDateFormat, "yyyy-MM-dd/HH/mm"),
      // reference defaults: 256 MiB block, 64 KiB page (`ETLTask.java:147-148`)
      blockSize = Some(parquetProps.getOrElse(ConfBlockSize, "268435456").toLong),
      pageSize = Some(parquetProps.getOrElse(ConfPageSize, "65536").toLong))
    new KafkaEtlPipeline(spark, registry, cfg)
  }
}

/** Source selector: live Kafka (options passed through untouched, so
  * broker parity holds) or any pre-built streaming DataFrame with the wire
  * schema (MemoryStream / file source) for broker-free tests — mirroring
  * the reference's choice to keep broker-dependent tests out of CI
  * (SURVEY.md §5).
  */
sealed trait EtlSource
object EtlSource {
  final case class Kafka(options: Map[String, String]) extends EtlSource
  final case class Stream(df: DataFrame) extends EtlSource
}

/** @param eventTimeColumn payload field holding epoch millis (long) or an
  *   Avro timestamp logical type; None = processing-time bucketing (exact
  *   reference parity, `ETLTask.java:164-167`).
  * @param dateFormat slash-separated time-bucket path pattern (reference
  *   `date.format`; segments become dt/hour/minute partition columns —
  *   `"yyyy-MM-dd/HH/mm"` gives the reference's minute-grain layout).
  * @param blockSize parquet row-group size in bytes (reference `block.size`);
  *   None leaves the Parquet writer default (128 MiB) in force.
  *   [[KafkaEtlPipeline.fromProperties]] always sets it, to the
  *   reference's 256 MiB when `block.size` is absent, so the two entry
  *   points land different row-group sizes by default.
  * @param pageSize parquet page size in bytes (reference `page.size`);
  *   None leaves the Parquet writer default (1 MiB) in force, while
  *   `fromProperties` always sets it (reference default 64 KiB).
  */
final case class EtlConfig(
    topics: Seq[String],
    source: EtlSource,
    outputPath: String,
    checkpointLocation: String,
    trigger: Trigger = Trigger.ProcessingTime("1 minute"),
    eventTimeColumn: Option[String] = None,
    dateFormat: String = KafkaEtlPipeline.DefaultDateFormat,
    blockSize: Option[Long] = None,
    pageSize: Option[Long] = None)
