package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.functions.{AvroFunctions, NativeExprs}
import graft.sources.{ClasspathSchemaRegistry, SchemaRegistry}
import graft.streaming.{EtlConfig, EtlSource, KafkaEtlPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload per JVM.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores> [corpus dir]
  * with `-Dperfbench.deadline=<epoch ms>` bounding the optional probes.
  *
  * Writes `<work dir>/result.json`: the end-to-end metrics, the per-layer
  * metrics (traced runs), operation counts and the output-check verdict.
  * Inputs are staged before any timed section; output checks run after.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cores: Int, corpus: Option[String], deadlineMs: Double)

  /** Set-up rounds per run. The first is JVM-cold, so `setup_s`, their
    * median, is the third-fastest of four warm rounds: one slow round
    * under host load does not move it. */
  val SetupRounds = 5
  val CurateQueries: Seq[String] = Seq(
    "q42_minhash_lsh", "q81_simhash_neardup", "q100_incremental_neardup",
    "q40_cosine_topk", "q80_embedding_clusters", "q86_ann_ivfpq",
    "q39_tfidf", "q97_bm25", "q174_containment", "q233_skipgram_counts",
    "q106_simhash_stream", "q107_minhash_stream", "q170_dedup_stream")

  // ---- results ----------------------------------------------------------
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  val warnings = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

  // ---- statistics -------------------------------------------------------
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted; val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  /** Highest percentile (at most 99) with at least ten samples beyond it. */
  def tailPct(n: Int): Double = math.max(50.0, math.min(99.0, math.floor(100.0 * (1 - 10.0 / n))))

  def latencies(name: String, ms: Seq[Double]): Unit = {
    val p = tailPct(ms.size)
    e2e("latency_p50_ms") = median(ms)
    e2e("latency_p99_ms") = pct(ms, p)
    notes(s"$name.samples") = ms.size.toString
    notes(s"$name.tail_percentile") = p.toString
  }

  // ---- JVM --------------------------------------------------------------
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def retainedHeapMiB(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Data files (not metadata or checksums) under an output directory:
    * (files, bytes, partition directories holding them). */
  def sinkFiles(dir: Path): (Long, Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L, 0L)
    val s = Files.walk(dir)
    val files = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") && !p.toString.contains("_spark_metadata")
    }.toList finally s.close()
    (files.size.toLong, files.map(Files.size).sum, files.map(_.getParent).distinct.size.toLong)
  }

  /** Time one section of a run into the notes (and the trace). */
  def phase[T](tracer: Tracer, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally notes(s"phase.$name") = f"${(System.nanoTime() - t0) / 1e9}%.2f"
  }

  // ---- session ----------------------------------------------------------
  def session(c: Conf, tracer: Tracer): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) s.streams.addListener(tracer.listener)
    s
  }

  /** The wire files under `root` as a stream of (value, topic); `topic`
    * comes from the `topic=<name>` directories, which must hold a file
    * when the stream is created. */
  def wireStream(s: SparkSession, root: Path): DataFrame =
    s.readStream.schema("value BINARY, topic STRING").parquet(root.toString)

  def awaitAll(qs: Seq[StreamingQuery]): Unit = qs.foreach { q =>
    try q.awaitTermination()
    catch { case e: Throwable => failed += 1; errors += s"query ${q.name} failed: ${e.getMessage}" }
  }

  /** Build a session, resolve the registry and start a pipeline, the
    * ingest set-up sequence. Round 0 also times a JVM-cold start() to the
    * first commit on every topic. Each round drains its own small wire
    * directory; all but the last round stop their session. */
  def ingestSetup(c: Conf, tracer: Tracer, registryOf: () => SchemaRegistry,
                  cfgOf: (SparkSession, Int) => EtlConfig): SparkSession = {
    val setups = mutable.ArrayBuffer.empty[Double]
    val resolves = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 0 until SetupRounds) tracer.span("setup.round") {
      val t0 = System.nanoTime()
      spark = tracer.span("setup.session")(session(c, tracer))
      val t1 = System.nanoTime()
      val registry = tracer.span("sources.schema_resolve") {
        val r = registryOf(); r.topics.foreach(t => r.sparkSchema(t)); r
      }
      val t2 = System.nanoTime()
      val cfg = cfgOf(spark, round)
      val startWall = tracer.nowMs
      val qs = tracer.span("streaming.start")(new KafkaEtlPipeline(spark, registry, cfg).start())
      val t3 = System.nanoTime()
      setups += (t3 - t0) / 1e9; resolves += (t2 - t1) / 1e6; starts += (t3 - t2) / 1e6
      // round 0 is the untimed warm-up pipeline and drains its backlog;
      // later rounds only measure set-up and stop at once
      if (round > 0) qs.foreach(_.stop())
      awaitAll(qs)
      if (round == 0) {
        val firsts = cfg.topics.map(t => Ckpt.commits(Paths.get(cfg.checkpointLocation, t)).get(0L))
        check(firsts.forall(_.isDefined), "set-up pipeline committed no batch")
        if (firsts.forall(_.isDefined)) e2e("first_result_s") = (firsts.flatten.max - startWall) / 1000.0
      }
      if (round < SetupRounds - 1) spark.stop()
    }
    e2e("setup_s") = median(setups.toSeq)
    layer("sources.schema_resolve_ms") = median(resolves.toSeq)
    layer("streaming.start_ms") = median(starts.toSeq)
    notes("setup_s.samples") = setups.mkString(",")
    spark
  }

  // ---- ingest_bulk ------------------------------------------------------
  val BulkTopic = "item-view-event"
  /** Backlog rows per measured second: the drain of the backlog takes
    * about `--seconds` on 4 cores at the seed's speed. */
  val BulkRowsPerSecond = 120000

  def bulkRegistry(): SchemaRegistry =
    new ClasspathSchemaRegistry(Map(BulkTopic -> "avro/item-view-event.avsc"))

  def ingestBulk(c: Conf, tracer: Tracer): SparkSession = {
    val w = c.work
    val files = math.max(c.cores, 8)
    val rowsPerFile = BulkRowsPerSecond * c.seconds / files
    // staging (untimed): set-up rounds' small backlogs, then the timed one
    val (staged, tally) = phase(tracer, "stage") {
      Wire.stageItemView(w.resolve("warm"), BulkTopic, Wire.mix(c.seed, 10, 0), c.cores, 5000,
        c.cores, prefix = "warm")
      Wire.stageItemView(w.resolve("wire"), BulkTopic, c.seed, files, rowsPerFile, c.cores)
    }
    val rows = files.toLong * rowsPerFile
    notes("backlog_rows") = rows.toString
    notes("backlog_files") = files.toString

    def cfg(s: SparkSession, wire: Path, tag: String) = EtlConfig(Seq(BulkTopic),
      EtlSource.Stream(wireStream(s, wire)), w.resolve(s"out-$tag").toString,
      w.resolve(s"ckpt-$tag").toString, trigger = Trigger.AvailableNow(),
      eventTimeColumn = Some("baseProperties.timestamp"))
    val spark = phase(tracer, "setup")(ingestSetup(c, tracer, bulkRegistry,
      (s, i) => cfg(s, w.resolve("warm"), s"warm$i")))

    val conf = cfg(spark, w.resolve("wire"), "bulk")
    val gc0 = gcMs()
    val t0 = tracer.nowMs
    val qs = phase(tracer, "ingest.drain") {
      val q = new KafkaEtlPipeline(spark, bulkRegistry(), conf).start()
      awaitAll(q); q
    }
    layer("jvm.gc_ms") = gcMs() - gc0
    e2e("retained_heap_mb") = retainedHeapMiB()

    val ckpt = Paths.get(conf.checkpointLocation, BulkTopic)
    val commits = Ckpt.fileCommits(ckpt)
    val batches = Ckpt.commits(ckpt)
    attempted += files + math.max(batches.size, 1)
    val lat = staged.flatMap(p => commits.get(p.getFileName.toString)).map(_ - t0)
    failed += files - lat.size
    check(lat.size == files, s"${files - lat.size} of $files backlog files never committed")
    if (lat.nonEmpty) {
      val drainS = lat.max / 1000.0
      e2e("throughput_per_s") = rows / drainS
      latencies("latency", lat)
      notes("drain_s") = drainS.toString
    }
    val out = Paths.get(conf.outputPath, BulkTopic)
    val (nFiles, bytes, dirs) = sinkFiles(out)
    e2e("out_bytes_per_row") = bytes.toDouble / rows
    layer("sink.files_written") = nFiles.toDouble
    layer("sink.bytes_written") = bytes.toDouble
    layer("sink.partition_dirs") = dirs.toDouble
    layer("live.backlog_rows_max") = rows.toDouble
    layer("live.gen_late_p99_ms") = 0.0
    streamingLayers(tracer, "ingest.drain")
    phase(tracer, "check")(checkIngest(spark, Seq("" -> out), tally, rows,
      "attrs['event_id']", "price", Seq("dt", "hour")))
    if (tracer.enabled) decodeProbe(spark, tracer, c)
    spark
  }

  // ---- ingest_live ------------------------------------------------------
  val LiveTopics: Seq[(String, Double)] =
    Seq("live-a" -> 0.50, "live-b" -> 0.25, "live-c" -> 0.15, "live-d" -> 0.10)
  /** Offered load, rows per second over all topics. */
  val LiveRowsPerSecond = 8000
  val SlotMs = 250L
  /** The four queries need about half of a 4-core host per batch round
    * even when idle, so a 1 s trigger runs near saturation and the lag
    * swings with host load; 2 s leaves headroom. */
  val TriggerMs = 2000L
  val WarmSlots = 16

  def liveRegistry(): SchemaRegistry =
    new ClasspathSchemaRegistry(LiveTopics.map(_._1 -> "avro/bench-event.avsc").toMap)

  /** Stage one narrow file per topic per slot; returns (file, topic, slot, rows). */
  def stageLive(c: Conf, dir: Path, slots: Int, stream: Long): (Seq[(Path, String, Int, Int)], Wire.Tally) = {
    val jobs = for (k <- 0 until slots; ((t, share), ti) <- LiveTopics.zipWithIndex) yield (k, t, ti, share)
    val idStride = (LiveRowsPerSecond * SlotMs / 1000).toLong
    val made = Wire.parallel(jobs.size, c.cores) { j =>
      val (k, t, ti, share) = jobs(j)
      val n = math.round(LiveRowsPerSecond * SlotMs / 1000.0 * share).toInt
      val p = Files.createDirectories(Wire.topicDir(dir, t)).resolve(f"$t-$k%05d.parquet")
      val idBase = k * idStride + LiveTopics.take(ti).map(x => math.round(idStride * x._2)).sum
      val tally = Wire.writeFile(p, Wire.benchEvent, Wire.mix(c.seed, stream, j), n)(
        (r, i) => Wire.benchRecord(r, idBase + i, k * SlotMs), Wire.minuteDir)
      ((p, t, k, n), tally.map { case (d, v) => s"$t/$d" -> v })
    }
    (made.map(_._1), made.map(_._2).foldLeft(Map.empty: Wire.Tally)(Wire.merge))
  }

  def ingestLive(c: Conf, tracer: Tracer): SparkSession = {
    val w = c.work
    val timedSlots = (c.seconds * 1000 / SlotMs).toInt
    val slots = WarmSlots + timedSlots
    val (staged, tally) = phase(tracer, "stage") {
      stageLive(c, w.resolve("warm"), 1, 20)
      stageLive(c, w.resolve("staged"), slots, 2)
    }
    val src = Files.createDirectories(w.resolve("source"))
    val rows = staged.map(_._4.toLong).sum

    def cfg(s: SparkSession, wire: Path, tag: String, trigger: Trigger) = EtlConfig(
      LiveTopics.map(_._1), EtlSource.Stream(wireStream(s, wire)),
      w.resolve(s"out-$tag").toString, w.resolve(s"ckpt-$tag").toString,
      trigger = trigger, eventTimeColumn = Some("ts"), dateFormat = "yyyy-MM-dd/HH/mm")
    val spark = phase(tracer, "setup")(ingestSetup(c, tracer, liveRegistry,
      (s, i) => cfg(s, w.resolve("warm"), s"warm$i", Trigger.AvailableNow())))

    // releaser: a file's mtime is set to its release time and it is
    // renamed into its topic's source directory
    val released = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def release(group: Seq[(Path, String, Int, Int)]): Unit = group.foreach { case (p, t, _, _) =>
      val now = tracer.nowMs
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(now.toLong))
      Files.move(p, Wire.topicDir(src, t).resolve(p.getFileName))
      released.put(p.getFileName.toString, now)
    }
    val bySlot = staged.groupBy(_._3).toSeq.sortBy(_._1).map(_._2)
    LiveTopics.foreach(t => Files.createDirectories(Wire.topicDir(src, t._1)))
    // the first (warm-up) slot goes out before the stream exists, so every
    // topic directory holds a file for partition discovery
    release(bySlot.head)
    val conf = cfg(spark, src, "live", Trigger.ProcessingTime(TriggerMs))
    val pipe = new KafkaEtlPipeline(spark, liveRegistry(), conf)
    val qs = pipe.start()
    val gc0 = gcMs()
    // slot k is due at base + k * SlotMs. The processing-time trigger
    // fires on multiples of its interval, so the schedule starts at a
    // fixed phase (125 ms past one): a file's wait for the next trigger
    // then depends on its slot, not on when the run began.
    val base = (math.floor(tracer.nowMs / TriggerMs) + 1) * TriggerMs + 125.0
    def due(k: Int) = base + k * SlotMs
    val ckpts = LiveTopics.map(t => t._1 -> Paths.get(conf.checkpointLocation, t._1)).toMap
    phase(tracer, "ingest.live") {
      for ((group, k) <- bySlot.zipWithIndex.tail) {
        val waitMs = due(k) - tracer.nowMs
        if (waitMs > 0) java.util.concurrent.locks.LockSupport.parkNanos((waitMs * 1e6).toLong)
        release(group)
      }
      // drain: wait until every released file's batch has committed
      val deadline = System.nanoTime() + 60e9.toLong
      def ownCommitted(): Int = {
        val done = ckpts.map { case (t, ck) => t -> Ckpt.fileCommits(ck) }
        staged.count { case (p, t, _, _) => done(t).contains(p.getFileName.toString) }
      }
      while (ownCommitted() < staged.size && System.nanoTime() < deadline) Thread.sleep(100)
    }
    pipe.stop()
    awaitAll(qs)
    layer("jvm.gc_ms") = gcMs() - gc0
    e2e("retained_heap_mb") = retainedHeapMiB()

    val byTopic = LiveTopics.map { case (t, _) => t -> Ckpt.fileCommits(ckpts(t)) }.toMap
    val commitOf = staged.flatMap { case (p, t, k, n) =>
      byTopic(t).get(p.getFileName.toString).map(ct => (p, t, k, n, ct)) }
    attempted += staged.size + LiveTopics.map(t => Ckpt.commits(ckpts(t._1)).size).sum
    failed += staged.size - commitOf.size
    check(commitOf.size == staged.size, s"${staged.size - commitOf.size} of ${staged.size} released files never committed")
    val timed = commitOf.filter(_._3 >= WarmSlots)
    if (timed.nonEmpty) {
      latencies("latency", timed.map { case (_, _, k, _, ct) => ct - due(k) })
      // rows of the timed files over the time from the first timed due
      // time to the last of their commits
      e2e("throughput_per_s") = timed.map(_._4.toLong).sum / ((timed.map(_._5).max - due(WarmSlots)) / 1000.0)
    }
    val late = staged.flatMap { case (p, _, k, _) =>
      Option(released.get(p.getFileName.toString)).map(_ - due(k)) }
    layer("live.gen_late_p99_ms") = pct(late, tailPct(late.size))
    // backlog: rows released but not yet committed, at every release/commit instant
    val events = (commitOf.map(x => (released.get(x._1.getFileName.toString), x._4.toLong)) ++
      commitOf.map(x => (x._5, -x._4.toLong))).sortBy(_._1)
    val backlog = events.scanLeft(0L)(_ + _._2)
    layer("live.backlog_rows_max") = backlog.max.toDouble
    val half = events.size / 2
    val (early, lateHalf) = backlog.splitAt(half)
    // validity of the open loop: a late generator or a growing backlog
    // means the lag no longer describes a steady state at this rate; the
    // outputs are still checked, so this is a warning, not a failure
    if (late.nonEmpty && pct(late, tailPct(late.size)) >= SlotMs)
      warnings += s"generator released files late (p${tailPct(late.size)} ${pct(late, tailPct(late.size))} ms)"
    if (early.nonEmpty && lateHalf.max > 2 * early.max + LiveRowsPerSecond)
      warnings += s"backlog grew over the window (${early.max} -> ${lateHalf.max} rows)"

    val out = Paths.get(conf.outputPath)
    val (nFiles, bytes, dirs) = sinkFiles(out)
    e2e("out_bytes_per_row") = bytes.toDouble / rows
    layer("sink.files_written") = nFiles.toDouble
    layer("sink.bytes_written") = bytes.toDouble
    layer("sink.partition_dirs") = dirs.toDouble
    streamingLayers(tracer, "ingest.live")
    phase(tracer, "check")(checkIngest(spark, LiveTopics.map(t => s"${t._1}/" -> out.resolve(t._1)),
      tally, rows, "event_id", "round(value * 100)", Seq("dt", "hour", "minute")))
    if (tracer.enabled) decodeProbe(spark, tracer, c)
    spark
  }

  // ---- output checks (untimed) -------------------------------------------
  /** Every generated row was written exactly once (by `idExpr`), and per
    * topic and partition directory the row count and the sum of
    * `sumExpr` equal the generator's tally. `topicDirs` maps the tally's
    * key prefix ("" for one topic, "<topic>/" for several) to the topic's
    * output directory. */
  def checkIngest(spark: SparkSession, topicDirs: Seq[(String, Path)], tally: Wire.Tally,
                  rows: Long, idExpr: String, sumExpr: String, parts: Seq[String]): Unit = {
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val df = topicDirs.map { case (prefix, dir) =>
      spark.read.parquet(dir.toString).select(lit(prefix).as("prefix"),
        expr(idExpr).as("id"), expr(sumExpr).cast("long").as("v"), col("*"))
    }.reduce(_ unionByName _)
    // an event's directory follows from its event time, so a repeated
    // event id repeats within one directory: distinct ids per directory
    // plus the directory counts cover "each id exactly once"
    val dirCol = concat(col("prefix"), concat_ws("/", parts.map(p => concat(lit(s"$p="), col(p))): _*))
    val perDir = df.groupBy(dirCol.as("d"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("ids"),
        coalesce(sum(col("v")), lit(0L)).as("s"))
      .collect()
    val written = perDir.map(_.getLong(1)).sum
    val ids = perDir.map(_.getLong(2)).sum
    check(written == rows, s"$written rows written, $rows generated")
    check(ids == written, s"$ids distinct event ids over $written rows (want each of $rows once)")
    val got = perDir.map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    check(got == tally, "per-partition counts/sums differ from the generator tally " +
      s"(${(got.toSet diff tally.toSet).take(3)} vs ${(tally.toSet diff got.toSet).take(3)})")
  }

  // ---- per-layer: streaming progress ------------------------------------
  def streamingLayers(tracer: Tracer, within: String): Unit = if (tracer.enabled) {
    val ps = tracer.progressWithin(within).filter(_.numInputRows > 0)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else median(ps.map(f))
    layer("streaming.batches") = ps.size.toDouble
    layer("streaming.rows_per_batch") = med(_.numInputRows.toDouble)
    layer("streaming.add_batch_ms") = med(d(_, "addBatch"))
    layer("streaming.batch_overhead_ms") = med(p => d(p, "triggerExecution") - d(p, "addBatch"))
    layer("streaming.latest_offset_ms") = med(d(_, "latestOffset"))
    layer("streaming.query_planning_ms") = med(d(_, "queryPlanning"))
    layer("streaming.wal_commit_ms") = med(d(_, "walCommit"))
    layer("streaming.commit_offsets_ms") = med(d(_, "commitOffsets"))
  }

  /** State-store totals of the stateful queries in a section: commit time
    * over all their batches; rows and memory as of each query's last batch. */
  def stateLayers(tracer: Tracer, within: String): Unit = {
    val ps = tracer.progressWithin(within).filter(_.stateOperators.nonEmpty)
    val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    layer("state.commit_ms") = ps.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum
    layer("state.rows_total") = last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum
    layer("state.memory_bytes") = last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum
  }

  // ---- per-layer: function probes ----------------------------------------
  val DecodeProbeRows = 25000

  /** `from_avro_bytes` over freshly staged wire files (4 × 25 000 rows per
    * schema, both schemas) into the noop sink: ns per row, averaged over
    * the schemas, from the second of two passes. */
  def decodeProbe(spark: SparkSession, tracer: Tracer, c: Conf): Unit = {
    val dir = c.work.resolve("probe")
    val wide = Wire.stageItemView(dir, BulkTopic, Wire.mix(c.seed, 31, 0), 4, DecodeProbeRows, c.cores)._1
    val narrow = Wire.parallel(4, c.cores) { f =>
      val p = dir.resolve(f"narrow-$f%05d.parquet")
      Wire.writeFile(p, Wire.benchEvent, Wire.mix(c.seed, 30, f), DecodeProbeRows)(
        (r, i) => Wire.benchRecord(r, i, 0L), Wire.minuteDir)
      p
    }
    val perSchema = Seq(wide -> Wire.itemView, narrow -> Wire.benchEvent).map { case (files, schema) =>
      val df = spark.read.parquet(files.map(_.toString): _*).select(
        AvroFunctions.from_avro_bytes(col("value"), schema.toString).as("e")).select("e.*")
      def pass(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      pass()
      tracer.span("functions.avro_decode")(pass()) / (files.size.toDouble * DecodeProbeRows)
    }
    layer("functions.avro_decode_ns_per_row") = perSchema.sum / perSchema.size
    notes("avro_decode_ns_per_row.by_schema") = perSchema.mkString(",")
  }

  /** MinHash band keys over word shingles, and cosine over a fixed
    * embeddings cross product, into the noop sink (warm pass). */
  def kernelProbes(spark: SparkSession, tracer: Tracer, corpus: String): Unit = {
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
      .crossJoin(spark.range(10).withColumnRenamed("id", "rep"))
      .select(concat(col("text"), lit(" r"), col("rep").cast("string")).as("text"))
    val nDocs = docs.count()
    val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
    val left = emb.orderBy("vec_id").limit(200).select(col("embedding").as("a"))
    val pairs = left.crossJoin(emb.select(col("embedding").as("b")))
    val nPairs = pairs.count()
    def timed(df: DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    layer("functions.minhash_ns_per_doc") = tracer.span("functions.minhash")(
      timed(docs.select(NativeExprs.minhash_band_keys(NativeExprs.word_shingles(col("text"))).as("k")))) / nDocs
    layer("functions.cosine_ns_per_pair") = tracer.span("functions.cosine")(
      timed(pairs.select(NativeExprs.cosine_sim(col("a"), col("b")).as("c")))) / nPairs
  }

  // ---- curate -------------------------------------------------------------
  /** One pass over the query set, each result written as Parquet under
    * `out`; query → seconds for the queries that succeeded. */
  def curatePass(spark: SparkSession, tracer: Tracer, corpus: String, out: Path,
                 name: String): Map[String, Double] = tracer.span(name) {
    val qs = graft.SparkEntry.queries
    CurateQueries.flatMap { q =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        tracer.span(s"curate.$q") {
          qs(q)(spark, corpus).write.mode("overwrite").parquet(out.resolve(q).toString)
        }
        Some(q -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          failed += 1; errors += s"$q failed: ${e.getMessage}"; None
      }
    }.toMap
  }

  /** Cold pass, then warm passes for `seconds` (at least `minWarm`);
    * returns (cold, warm passes). */
  def curatePasses(spark: SparkSession, tracer: Tracer, corpus: String, out: Path,
                   seconds: Int, minWarm: Int): (Map[String, Double], Seq[Map[String, Double]]) = {
    val cold = curatePass(spark, tracer, corpus, out, "curate.cold")
    val warm = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (warm.size < minWarm || (System.nanoTime() - t0) / 1e9 < seconds)
      warm += curatePass(spark, tracer, corpus, out, "curate.warm")
    (cold, warm.toSeq)
  }

  /** Per-query cold time and median warm time, and `memo.build_s` =
    * Σ(cold − warm), over the queries with both samples. A query without
    * them (failed, or its pass skipped) leaves its layers unset, so the
    * run reports them as not measured instead of as a time. */
  def curateLayers(cold: Map[String, Double], warm: Seq[Map[String, Double]]): Unit = {
    val both = CurateQueries.flatMap { q =>
      val ws = warm.flatMap(_.get(q))
      cold.get(q).filter(_ => ws.nonEmpty).map(c => (q, c, median(ws)))
    }
    both.foreach { case (q, c, w) =>
      layer(s"curate.$q.cold_s") = c
      layer(s"curate.$q.warm_s") = w
    }
    if (both.nonEmpty) layer("memo.build_s") = both.map { case (_, c, w) => c - w }.sum
  }

  /** The DuckDB oracle SQL of the query set, as `oracle_sql.json` in the
    * results directory, where `tools/check_oracle.py` reads it. */
  def writeOracles(corpus: String, out: Path): Unit = {
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    val all = graft.SparkEntry.oracleSqlFor(corpus)
    val missing = CurateQueries.filterNot(all.contains)
    check(missing.isEmpty, s"no DuckDB oracle for ${missing.mkString(", ")}")
    val sel = CurateQueries.flatMap(q => all.get(q).map(q -> _))
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      sel.map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ",\n", "}"))
  }

  def curate(c: Conf, tracer: Tracer): SparkSession = {
    val corpus = c.corpus.getOrElse(sys.error("curate needs a corpus dir"))
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 0 until SetupRounds) tracer.span("setup.round") {
      val t0 = System.nanoTime()
      spark = session(c, tracer)
      graft.Tables.documents(spark, corpus).schema
      graft.Tables.embeddings(spark, corpus).schema
      graft.Tables.events(spark, corpus).schema
      setups += (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds - 1) spark.stop()
    }
    e2e("setup_s") = median(setups.toSeq)
    notes("setup_s.samples") = setups.mkString(",")
    val out = c.work.resolve("curate_out")
    val gc0 = gcMs()
    val (cold, warm) = phase(tracer, "passes")(curatePasses(spark, tracer, corpus, out, c.seconds, 1))
    layer("jvm.gc_ms") = gcMs() - gc0
    e2e("retained_heap_mb") = retainedHeapMiB()
    e2e("first_result_s") = cold.values.sum
    val passes = warm.map(_.values.sum)
    e2e("throughput_per_s") = CurateQueries.size / median(passes)
    latencies("latency", warm.flatMap(_.values).map(_ * 1000.0))
    notes("curate_cold_s") = cold.values.sum.toString
    notes("curate_warm_s") = median(passes).toString
    notes("warm_passes") = warm.size.toString
    val (nFiles, bytes, dirs) = sinkFiles(out)
    val resultRows = CurateQueries.map(q =>
      if (Files.exists(out.resolve(q))) spark.read.parquet(out.resolve(q).toString).count() else 0L).sum
    e2e("out_bytes_per_row") = bytes.toDouble / math.max(resultRows, 1L)
    notes("result_rows") = resultRows.toString
    layer("sink.files_written") = nFiles.toDouble
    layer("sink.bytes_written") = bytes.toDouble
    layer("sink.partition_dirs") = dirs.toDouble
    curateLayers(cold, warm)
    // the ingest-only layers have nothing to measure here
    Seq("live.backlog_rows_max", "live.gen_late_p99_ms", "sources.schema_resolve_ms",
      "streaming.start_ms", "functions.avro_decode_ns_per_row").foreach(layer(_) = 0.0)
    if (tracer.enabled) {
      streamingLayers(tracer, "curate.cold")
      stateLayers(tracer, "curate.cold")
      kernelProbes(spark, tracer, corpus)
    }
    writeOracles(corpus, out)
    spark
  }

  /** Curate-side layers on an ingest workload's traced run: one cold and
    * one warm pass of the query set over the corpus (results go to the
    * oracle check like the curate workload's), then the kernel probes.
    * The passes take about 40–50 s and 25–35 s on a loaded 4-core host. A pass
    * that would overrun the run's time limit is skipped and its layers
    * stay unset, which fails the traced run as not measured. */
  def curateProbe(c: Conf, spark: SparkSession, tracer: Tracer): Unit = c.corpus.foreach { corpus =>
    val out = c.work.resolve("curate_out")
    def leftS = (c.deadlineMs - tracer.nowMs) / 1000.0
    val (cold, warm) = phase(tracer, "probe.curate") {
      if (leftS < 75) (Map.empty[String, Double], Nil)
      else {
        val cold = curatePass(spark, tracer, corpus, out, "curate.cold")
        // a warm pass takes 0.5–0.75 × the cold one; the kernel probes
        // and the result file need about 8 s after it
        (cold, if (leftS > 0.75 * cold.values.sum + 8) Seq(curatePass(spark, tracer, corpus, out, "curate.warm")) else Nil)
      }
    }
    notes("curate_probe") = s"${cold.size} cold and ${warm.map(_.size).sum} warm queries" +
      (if (warm.isEmpty) f", skipped with ${leftS}%.0f s left" else "")
    curateLayers(cold, warm)
    stateLayers(tracer, "curate.cold")
    kernelProbes(spark, tracer, corpus)
    if (cold.nonEmpty) writeOracles(corpus, out)
  }

  // ---- entry --------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val c = Conf(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      Paths.get(args(4)).toAbsolutePath, args(5).toInt, args.lift(6),
      sys.props.get("perfbench.deadline").map(_.toDouble).getOrElse(Double.MaxValue))
    val tracer = new Tracer(c.trace)
    val spark = try c.workload match {
      case "ingest_bulk" => ingestBulk(c, tracer)
      case "ingest_live" => ingestLive(c, tracer)
      case "curate"      => curate(c, tracer)
      case other         => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        errors += s"workload aborted: $e"
        null
    }
    if (spark != null && c.trace && c.workload != "curate") {
      try curateProbe(c, spark, tracer)
      catch { case e: Throwable => errors += s"curate probe failed: $e" }
    }
    def num(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ", ", "}")
    def str(m: collection.Map[String, String]) =
      m.map { case (k, v) => s""""$k": "${v.replace("\"", "'")}"""" }.mkString("{", ", ", "}")
    def quoted(xs: collection.Seq[String]) =
      xs.map(e => "\"" + e.replace("\\", "/").replace("\"", "'").replace("\n", " ") + "\"").mkString("[", ", ", "]")
    val json =
      s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed,
         |"end_to_end": ${num(e2e)}, "per_layer": ${num(layer)}, "notes": ${str(notes)},
         |"errors": ${quoted(errors)}, "warnings": ${quoted(warnings)}}""".stripMargin
    Files.writeString(c.work.resolve("result.json"), json)
    if (c.trace) tracer.writeJson(c.work.resolve("spans.json"), json)
    if (spark != null) spark.stop()
    System.exit(0)
  }
}
