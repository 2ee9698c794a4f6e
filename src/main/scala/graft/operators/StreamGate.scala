package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.TextExprs
import graft.streaming.StreamOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming operators promoted under the DuckDB oracle gate (round-5
  * verdict task 6): each declared query drives the REAL Structured
  * Streaming operator — the same code path production uses, state store,
  * watermarks and all — over the test table as a FILE STREAM with an
  * AvailableNow trigger, collects the sink, and hands the result to the
  * same cross-engine hash compare every batch query faces. The oracles
  * are the corresponding batch queries' SQL (the streaming twins are
  * value-equivalent to their batch forms when every row is within the
  * watermark horizon — exactly what a bounded AvailableNow pass over a
  * static table guarantees), so a pass certifies BATCH-EQUIVALENCE of
  * the streaming implementations, not just "rows came out":
  *
  *  - q104 = [[StreamOps.incrementalDedupStream]] (bloom-split path) vs
  *    batch q76's anti-join SQL,
  *  - q105 = [[StreamOps.contaminationGateStream]] vs a decontaminated-
  *    stream oracle (q48's shingle CTE, complement side + zero-shingle
  *    pass-through),
  *  - q106 = [[StreamOps.simhashNearDupStream]] (transformWithState
  *    bucket processor) vs batch q81's banded-signature SQL.
  *
  * Scale notes: the gate harness ([[runToBatch]]: an AvailableNow pass
  * into a memory or parquet sink) is test scaffolding; the OPERATORS
  * under it are the production paths whose scale arguments live at
  * their definitions — stateless stream-static joins for q104/q105,
  * watermark-bounded ListState per band bucket for q106.
  */
object StreamGate extends QueryPack {

  private val sinkId = new java.util.concurrent.atomic.AtomicInteger()

  /** Shuffle/state partition count for the bounded gate passes: a
    * bounded single-table pass instantiates one state store per
    * partition per stateful operator, and the r16 sweep (4/8/16/32 on
    * the RocksDB near-dup gates) re-confirmed 8 as the knee on this
    * corpus; production sizes this to throughput. */
  private val gateParts = "8"

  /** The one bounded-stream runner behind every gate: run `out` to
    * completion under an AvailableNow trigger (every available file is
    * processed, then the query stops) and return what it wrote as a
    * batch DataFrame.
    *
    * It sets the pass's session confs and restores them after:
    *  - `spark.sql.shuffle.partitions` = [[gateParts]]: streaming state
    *    instantiates one state store per shuffle partition per stateful
    *    operator, and a bounded single-table pass gains nothing from 32
    *    of them (the operators are partition-count-agnostic; production
    *    sizes this to throughput);
    *  - the RocksDB state-store provider, only when the plan holds a
    *    `transformWithState` operator: it needs multiple column
    *    families, which the default HDFS-backed provider lacks
    *    (`STATE_STORE_MULTIPLE_COLUMN_FAMILIES`). Every other stateful
    *    gate runs on the default provider. Changelog checkpointing was
    *    TRIED on top of RocksDB in r16 (delta upload instead of a full
    *    snapshot zip per store per commit — the production setting for
    *    long-lived streams) and measured a NEGATIVE on the bounded
    *    two-batch gate runs: paired isolated A/B read neutral-to-noise,
    *    and the in-suite draw regressed q169 +0.64 s / q107 +0.28 s
    *    while untouched neighbors held — for a 2-micro-batch ephemeral
    *    checkpoint the changelog writes are pure extra work (there is no
    *    third batch to amortize them) and the snapshot upload they defer
    *    still happens at query stop. Recorded in OPTIMIZATION_r16.md;
    *    revisit only for a long-lived multi-batch gate.
    *
    * The sink is the memory sink unless `fileSink` names a parquet sink
    * directory. Both are needed: a file sink cannot take `complete`
    * output mode, which the register aggregations use, and the memory
    * sink collects every row into the driver, which the corpus-sized
    * consolidated feeds cannot afford (the ×100 feed study OOM'd the
    * 16 GiB bench driver exactly there — `maxResultSize` on ~50 M q118
    * window rows). The file sink streams through the executors,
    * partitions by `tag` when the column is present (each gate's slice
    * reads back with partition pruning), and reads back under the KNOWN
    * schema: a feed that produced zero rows leaves no files, and schema
    * inference would throw where an empty relation is the correct
    * answer. */
  private def runToBatch(s: SparkSession, out: DataFrame,
                         outputMode: String = "append",
                         fileSink: Option[String] = None): DataFrame = {
    val tws = out.queryExecution.logical.exists(_.isInstanceOf[TransformWithState])
    val confs = Seq("spark.sql.shuffle.partitions" -> gateParts) ++
      (if (tws) Seq("spark.sql.streaming.stateStore.providerClass" ->
         "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
       else Nil)
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val dir = fileSink.map(n => graft.TempDirs.create(s"graft_sink_$n"))
    val name = s"graft_stream_gate_${sinkId.incrementAndGet()}"
    try {
      val w = out.writeStream.outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
      val q = dir match {
        case Some(p) =>
          val fw = w.format("parquet")
            .option("path", s"$p/data")
            .option("checkpointLocation", s"$p/ckpt")
          (if (out.columns.contains("tag")) fw.partitionBy("tag") else fw).start()
        case None => w.format("memory").queryName(name).start()
      }
      q.awaitTermination()
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    dir.fold(s.table(name))(p => s.read.schema(out.schema).parquet(s"$p/data"))
  }

  private val stageMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The file stream source requires a DIRECTORY; the driver-generated
    * tables are single parquet files. Stage a symlink to the file in a
    * temp dir, once per (dataset, table). */
  private def stagedDir(d: String, table: String): String =
    stageMemo.getOrElseUpdate(s"$d/$table", {
      val dir = java.nio.file.Paths.get(graft.TempDirs.create(s"graft_stream_$table"))
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(s"$table.parquet"),
        java.nio.file.Paths.get(s"$d/$table.parquet"))
      dir.toString
    })

  /** The documents table as a file-source STREAM (schema from the batch
    * loader). */
  private def docStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(Tables.documents(s, d).schema)
      .parquet(stagedDir(d, "documents"))


  /** The events table staged for the file-stream source: NORMALIZED
    * through the batch loader (so the nanos-vs-micros physical-encoding
    * dispatch of `Tables.events` applies — streaming the raw file with a
    * guessed schema would re-create the round-6 loader bug) and with one
    * far-future SENTINEL row appended (event_id/user_id = -1, 35 days
    * past max(ts)).
    *
    * The sentinel is the watermark-flush contract, not a test hack: an
    * unbounded production stream always has a next event to advance the
    * watermark, but a bounded AvailableNow pass ends at max(ts), leaving
    * every append-mode window and event-time timer whose horizon lies
    * beyond `max(ts) − delay` unfired. The sentinel plays that next
    * event: after the data batch the watermark jumps past every real
    * row's (window end + gap + delay) and the closing no-data
    * micro-batch flushes all of them. Every gate drops the sentinel's
    * own rows: most filter its key (< 0) from the sink, and q194 relies
    * on [[EventOps.scoreHourly]]'s inner join to the corpus baseline,
    * which has no sentinel event type. Staged once per (session,
    * dataset). */
  private def eventsStaged(s: SparkSession, d: String): (String, org.apache.spark.sql.types.StructType) =
    graft.SessionMemo.getOrElseUpdate[(String, org.apache.spark.sql.types.StructType)](s, "stream.evStage", d)({
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
                col("ts"), col("value"))
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 35L * 24 * 3600 * 1000)
      val sentinel = Seq((-1L, "zzz_sentinel", -1L, sentinelTs, 0.0))
        .toDF("event_id", "event_type", "user_id", "ts", "value")
      val dir = graft.TempDirs.create("graft_stream_events")
      ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(dir)
      (dir, ev.schema)
    })

  /** The normalized events table (+ watermark sentinel) as a file-source
    * STREAM. */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val (dir, schema) = eventsStaged(s, d)
    s.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)
  }

  // ---- consolidated STATELESS ingest feed (one stream, all per-row /
  // stream-static branches over the documents + embeddings feeds) ----
  //
  // q104/q105/q112/q118/q150/q162/q182 are all STATELESS streaming
  // transforms — per-row scoring projections or stream-static joins; no
  // watermark, no state store, any trigger. A production ingest pipeline
  // computes every per-document score/flag in ONE pass over the feed
  // (score-at-ingest fans out per-row work, not per-metric queries), so
  // the gate suite runs them the same way: each branch is built by the
  // SAME operator function its standalone form uses, projected into a
  // tagged superset schema, unioned, and run through one bounded pass;
  // every declared gate reads its tag slice from the one sink and stays
  // individually oracle-certified (the register-consolidation
  // discipline — PERF.md's per-gate fixed-cost ledger is the budget
  // argument: ~0.4–0.7 s of query-start/source floor per standalone
  // stateless gate, paid once here instead of seven times).
  private def docFeed(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.docFeed", d)( {
      val nullL = lit(null).cast("long")
      val nullD = lit(null).cast("double")
      val nullS = lit(null).cast("string")
      val ds = docStream(s, d)
      val docsAll = Tables.documents(s, d)
      // q104: incremental exact dedup, bloom-split path (map-side
      // definitive negatives + exact anti-join for positives)
      val existing = docsAll.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("sig"))
      val b104 = StreamOps.incrementalDedupStream(
        ds.filter(col("doc_id") >= 250)
          .select(col("doc_id"), md5(col("text")).as("sig")),
        existing, bloomExpected = 1000L, fpp = 0.03)
      // q105: contamination gate (benchmark = docs < 20, q48's split)
      val b105 = StreamOps.contaminationGateStream(
        ds.filter(col("doc_id") >= 20), docsAll.filter(col("doc_id") < 20),
        threshold = 0.2)
      // q112: quality-model scoring (the q93 core)
      val b112 = Curation2.qualityScoreCore(ds)
      // q118: span-containment annotator vs the static window index
      val corpus = WindowDedup.positionalWindows(
          docsAll.filter(col("doc_id") < 250))
        .select("wh").distinct().withColumn("hit", lit(1L))
      val b118 = WindowDedup.positionalWindows(ds.filter(col("doc_id") >= 250))
        .join(corpus, Seq("wh"), "left")
        .select(col("doc_id"), col("pos"),
                coalesce(col("hit"), lit(0L)).as("in_corpus"))
      // q150: token-entropy score (bit-matches batch q142's fold)
      val b150 = StreamOps.entropyScoreStream(ds)
      // q162: Gopher-style repetition scoring (the q161 core)
      val b162 = TextAnalysis.repetitionOn(ds)
      // q182: embedding outlier flags vs the static corpus stats (the
      // q175 core) — the embeddings feed rides the same bounded pass
      // (a streaming query may union several file sources)
      val b182 = Projection.outlierFlagOn(
        vecStream(s, d).select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v")),
        Projection.dimStatsRow(s, d))
      def shape(tag: String, df: DataFrame, id: Column, sig: Column,
                l1: Column, l2: Column, l3: Column, d1: Column): DataFrame =
        df.select(lit(tag).as("tag"), id.as("id"), sig.as("sig"),
                  l1.cast("long").as("l1"), l2.cast("long").as("l2"),
                  l3.cast("long").as("l3"), d1.cast("double").as("d1"))
      val u = shape("q104", b104, col("doc_id"), col("sig"),
                    nullL, nullL, nullL, nullD)
        .unionByName(shape("q105", b105, col("doc_id"), nullS,
                    nullL, nullL, nullL, col("contamination")))
        .unionByName(shape("q112", b112, col("doc_id"), nullS,
                    col("n_tokens"), col("keep"), nullL, col("score")))
        .unionByName(shape("q118", b118, col("doc_id"), nullS,
                    col("pos"), col("in_corpus"), nullL, nullD))
        .unionByName(shape("q150", b150, col("doc_id"), nullS,
                    col("n_tokens"), col("distinct_tokens"),
                    col("low_entropy"), col("entropy")))
        .unionByName(shape("q162", b162, col("doc_id"), nullS,
                    col("n_2grams"), col("top2_n"), col("dup2_mass"),
                    col("rep_ratio")))
        .unionByName(shape("q182", b182, col("vec_id"), nullS,
                    col("n_extreme"), col("z4max"), nullL, nullD))
      runToBatch(s, u, fileSink = Some("docFeed"))
    })

  /** Streaming incremental exact dedup vs the static existing corpus,
    * through the BLOOM-split path (map-side definitive negatives + exact
    * anti-join for positives) — output is exact regardless of fpp, which
    * is what the batch q76 oracle certifies. Rides the consolidated
    * stateless ingest pass ([[docFeed]]). */
  private def q104IncDedupStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q104")
      .select(col("id").as("doc_id"), col("sig"))
      .orderBy("doc_id")

  /** Streaming contamination gate: benchmark = docs < 20 (q48's split),
    * stream = docs >= 20; keeps rows BELOW the threshold with their
    * score (zero-shingle docs pass with 0.0 — the round-5 ADVICE
    * contract fix, now under the cross-engine gate). Rides [[docFeed]]. */
  private def q105ContaminationStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q105")
      .select(col("id").as("doc_id"),
              (floor(col("d1") * 1000) / 1000).as("contamination"))
      .orderBy("doc_id")

  /** Streaming simhash near-dup through the transformWithState bucket
    * processor. Constant event time + a 1-hour watermark keep every row
    * inside the horizon and maxResidents above any bucket, so the
    * emitted pair set must equal batch q81's exactly. */
  private def q106SimhashStream(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val stream = docStream(s, d)
      .withColumn("ts", timestamp_seconds(lit(1704067200L))) // 2024-01-01
    val out = StreamOps.simhashNearDupStream(stream, "ts", "1 hour",
      maxResidents = 1000000)
    runToBatch(s, out)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** Streaming MinHash-LSH near-dup (watermarked per-bucket ListState +
    * exact-Jaccard verify) — same equivalence argument as q106: every
    * row inside the horizon, residents uncapped, so the emitted pair set
    * must equal batch q42's, whose oracle is the exact inverted-index
    * SQL (LSH recall 1 at the 0.8 threshold). */
  private def q107MinhashStream(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val stream = docStream(s, d)
      .withColumn("ts", timestamp_seconds(lit(1704067200L))) // 2024-01-01
    val out = StreamOps.nearDupPairsStream(stream, "ts", "1 hour",
      maxResidents = 1000000)
    runToBatch(s, out)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Hour-sliced staging for the WATERMARK-EVICTION gate ([[q293]]): the
    * documents table rewritten as one parquet file per synthetic hour
    * (hour h = docs with doc_id ≡ h mod 6, event time T0 + h hours),
    * with EXPLICIT ascending modification times so the file source
    * replays the slices in event-time order under
    * `maxFilesPerTrigger = 1` — one micro-batch per hour, which is what
    * makes the watermark ADVANCE between batches (mtimes are set with
    * setLastModifiedTime, not by sleeping between writes). Staged once
    * per (session, dataset). */
  private def evictStaged(s: SparkSession, d: String): String =
    graft.SessionMemo.getOrElseUpdate[String](s, "stream.evictStage", d)( {
      import scala.jdk.CollectionConverters._
      val H = 6
      val dir = graft.TempDirs.create("graft_stream_evict")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      for (h <- 0 until H) {
        val tmp = java.nio.file.Files.createTempDirectory("graft_evict_slice")
        docs.filter(pmod(col("doc_id"), lit(H)) === h)
          .withColumn("ts", timestamp_seconds(lit(1704067200L + h * 3600L)))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .next()
        val dest = java.nio.file.Paths.get(dir, f"hour_$h%02d.parquet")
        java.nio.file.Files.move(part, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime
            .fromMillis(1704067200000L + h * 1000L))
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      dir
    })

  /** q293: WATERMARK EVICTION under ADVANCING event time — the piece the
    * q107 gate cannot exercise: q107 pins constant event time (so its
    * output equals batch q42's, the oracle contract), which means the
    * suite never runs the eviction the real operator performs, and the
    * 100 TB state story would go untested. This gate replays the corpus
    * as six hourly micro-batches through the SAME
    * [[StreamOps.nearDupPairsStream]] operator (RocksDB state, 1-hour
    * delay): between batches the watermark advances and
    * the bucket processor PRUNES residents older than the horizon, so
    * pairs more than three hour-slices apart are structurally
    * unfindable — the earlier doc is evicted before the later arrives.
    *
    * The 3-slice bound is the exact composition of the engine's
    * watermark mechanics, derived once and pinned by the oracle: at
    * batch h the watermark is max-event-time THROUGH BATCH h−1 minus
    * the 1 h delay = T0 + (h−2)·3600 s, and the processor keeps
    * residents with ts ≥ watermark − delay = T0 + (h−3)·3600 s — so
    * hour g survives into batch h iff h − g ≤ 3 (one slice of watermark
    * lag + delay counted in the watermark + delay counted in the
    * prune). The oracle is batch q42's exact inverted-index SQL with
    * that horizon as a WHERE clause — SQL-expressible, so the
    * cross-engine gate certifies BOTH sides of eviction: every
    * in-horizon pair emits (at sf0.01: 22), every out-of-horizon pair
    * is evicted (3 true near-dup pairs at gap 4–5 exist and must NOT
    * appear). Emission is at the later doc's arrival, so no sentinel
    * or flush is needed; a multi-band pair emits once
    * (dropDuplicatesWithinWatermark inside the operator, all emissions
    * in the later doc's batch). */
  private def q293MinhashEvictStream(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.evictGate", d)(
      evictPairsRun(s, d, maxResidents = 1000000)).orderBy("a_id", "b_id")

  /** One hourly-sliced eviction replay at a given `maxResidents` cap —
    * the un-memoized runner behind [[q293MinhashEvictStream]]. The
    * declared gate runs it UNCAPPED (1 M — exactness against the
    * horizon SQL is its contract; under a Zipf corpus the uncapped
    * arrival-vs-residents verify is quadratic in hot buckets, the
    * PERF.md r14 fixture caveat). The CAPPED form is the production
    * 100 TB configuration — per-bucket state/work bounded at the cap,
    * trading recall exactly in degenerate hot buckets where the oldest
    * residents rotate out before a true partner arrives (the
    * [[StreamOps]] BucketPairProcessor contract) — and is executed and
    * asserted every round by StreamingSpec's capped-eviction pin at two
    * scales: emitted ⊆ the exact horizon set, every pair sharing a
    * sub-cap bucket present, state rows bounded by cap × buckets. */
  private[graft] def evictPairsRun(s: SparkSession, d: String,
                                   maxResidents: Int): DataFrame = {
    implicit val sp: SparkSession = s
    val staged = evictStaged(s, d)
    val stream = s.readStream
      .schema(s.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
    val out = StreamOps.nearDupPairsStream(stream, "ts", "1 hour",
      maxResidents = maxResidents)
    runToBatch(s, out, fileSink = Some("evict"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Streaming QUALITY-MODEL scoring gate — the q93 classifier running
    * as a stream transform. The scoring core is the SAME function object
    * the batch query uses ([[Curation2.qualityScoreCore]] — stateless
    * projection, so it lifts to Structured Streaming unchanged); the
    * oracle is batch q93's SQL verbatim. The production shape for
    * score-at-ingest: no state store, any trigger, per-row map work. */
  private def q112QualityStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q112")
      .select(col("id").as("doc_id"), col("l1").as("n_tokens"),
              col("d1").as("score"), col("l2").as("keep"))
      .orderBy("doc_id")

  /** Streaming SPAN-CONTAINMENT annotator — the ingest-time form of the
    * window-dedup family (q111's definition via the SHARED
    * [[WindowDedup.positionalWindows]]): each arriving document's token
    * windows are flagged against the static corpus window index, so the
    * ingest pipeline knows per span whether it is already in the corpus.
    * Stateless stream-static LEFT join (no state store, arrival-
    * emitting, any trigger); the per-doc rollup is the downstream batch
    * report, which is how production splits it — annotate in-stream,
    * aggregate in the warehouse. At corpus scale the static side is the
    * persisted distinct-hash index, and q104's sharded-bloom split
    * composes in front as the map-side definitive-negative filter so
    * the join only sees probable hits. */
  private def q118WindowStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q118")
      .select(col("id").as("doc_id"), col("l1").as("pos"),
              col("l2").as("in_corpus"))
      .orderBy("doc_id", "pos")

  /** The embeddings table as a file-source STREAM (schema from the batch
    * loader; same symlink staging as [[docStream]]). */
  private def vecStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(Tables.embeddings(s, d).schema)
      .parquet(stagedDir(d, "embeddings"))

  /** Streaming EMBEDDING OUTLIER gate — q175's row-level z-score audit
    * at INGEST time: arriving vectors are flagged against the STATIC
    * corpus's per-dimension stats (the [[Projection.dimStatsRow]]
    * one-row aggregate, broadcast) through the SAME
    * [[Projection.outlierFlagOn]] core the batch query runs — stateless
    * stream-static broadcast join, no state store, any trigger; the
    * shape that rejects a glitched encoder batch before it poisons the
    * corpus store. Streaming the whole table against its own stats
    * makes the output ≡ batch q175, so q175's oracle gates it
    * verbatim (the q112/q150/q162 shared-core pattern). */
  private def q182OutlierStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q182")
      .select(col("id").as("vec_id"), col("l1").as("n_extreme"),
              col("l2").as("z4max"))
      .orderBy("vec_id")

  /** The events-feed WINDOWED-AGGREGATION stream (q168 per-window top-k
    * heaps, q194 per-(type, window) counts), run once per (session,
    * dataset): both gates are append-mode 1-hour tumbling-window
    * aggregations under the same 1-minute watermark, so they ride ONE
    * tagged aggregation — groupBy(tag, window, k1) with the count and
    * bounded-heap registers side by side (the register-consolidation
    * discipline at the windowed tier; TopKAgg skips the count branch's
    * null score/id, count ignores the heap branch — a disjoint union of
    * key spaces, each gate reading its tag slice against its own
    * unchanged oracle). Each closed window emits once the watermark
    * passes its end; the sentinel closes the tail windows. */
  private def eventWindowAggs(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.evWindows", d)( {
      val ev = eventStream(s, d)
      val heapIn = ev.select(lit("q168").as("tag"), col("ts"),
        lit("").as("k1"), col("value").as("score"),
        col("event_id").as("id"))
      val cntIn = ev.select(lit("q194").as("tag"), col("ts"),
        col("event_type").as("k1"), lit(null).cast("double").as("score"),
        lit(null).cast("long").as("id"))
      val agg = heapIn.unionByName(cntIn)
        .withWatermark("ts", "1 minute")
        .groupBy(col("tag"), window(col("ts"), "1 hour"), col("k1"))
        .agg(count(lit(1)).as("c"),
             graft.functions.TopKAgg
               .top_k_by_score(col("score"), col("id"), 3).as("top"))
        .select(col("tag"), col("k1"),
                col("window.start").as("ws"), col("c"), col("top"))
      runToBatch(s, agg).localCheckpoint()
    })

  /** Streaming EVENT-RATE ANOMALY — q191's volume monitor as the live
    * alarm it exists to be: arriving events aggregate into append-mode
    * 1-hour tumbling windows (a real watermarked streaming aggregation;
    * each hour emits once the watermark passes its end — the sentinel
    * closes the tail), and the closed hours score against the
    * per-type baseline broadcast from the static corpus (the
    * trained-on-history shape; [[EventOps.hourlyStats]] is the SAME
    * derivation batch q191 uses, and [[EventOps.scoreHourly]] the same
    * 2σ scorer, so streaming the full table against its own baseline
    * serves q191's oracle verbatim). Epoch-aligned windows make the
    * streaming hour bucket ≡ the batch `unix_micros div 3600000000`
    * bucket by construction. The sentinel's closed hour needs no
    * filter: the scorer's inner join to the baseline drops it. */
  private def q194AnomalyStream(s: SparkSession, d: String): DataFrame = {
    val closed = eventWindowAggs(s, d).filter(col("tag") === "q194")
      .select(col("k1").as("event_type"),
              expr("unix_micros(ws) div 3600000000").as("hr"), col("c"))
    EventOps.scoreHourly(closed, EventOps.hourlyStats(s, d))
  }

  /** Streaming entropy score over the whole documents table — the
    * stateless per-row fold must bit-match batch q142's token-sorted
    * aggregation, so q142's oracle gates the streamed output verbatim
    * (see [[StreamOps.entropyScoreStream]]). */
  private def q150EntropyStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q150")
      .select(col("id").as("doc_id"), col("l1").as("n_tokens"),
              col("l2").as("distinct_tokens"), col("d1").as("entropy"),
              col("l3").as("low_entropy"))
      .orderBy("doc_id")

  /** Streaming REPETITION scoring — q161's Gopher-style 2-gram filters
    * as an ingest-time gate: the scoring core is the SAME function
    * object the batch query runs ([[TextAnalysis.repetitionOn]] — a
    * stateless per-doc run-length fold, no state store, any trigger),
    * so batch q161's oracle covers the streamed output verbatim. The
    * score-at-ingest shape for the filter most pretraining pipelines
    * apply first: degenerate docs never reach the corpus store. */
  private def q162RepetitionStream(s: SparkSession, d: String): DataFrame =
    docFeed(s, d).filter(col("tag") === "q162")
      .select(col("id").as("doc_id"), col("l1").as("n_2grams"),
              col("l2").as("top2_n"), col("l3").as("dup2_mass"),
              col("d1").as("rep_ratio"))
      .orderBy("doc_id")

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  /** The events-feed per-user KEYED-STATE stream (q167 sessionization,
    * q177 funnel attribution, q223 path assembly), run once per
    * (session, dataset): all three are flatMapGroupsWithState machines
    * keyed by user under the same 1-minute watermark, so they ride ONE
    * consolidated pass keyed by (tag, user_id) — each key runs exactly
    * one branch's state machine
    * ([[graft.streaming.StreamOps.userTimelineStream]]), with its own
    * per-key event-time timer. One shuffle by user, one state store,
    * three machines — the production shape for per-user feed analytics,
    * and the register-consolidation discipline at the keyed-state tier
    * (PERF.md ledger: ~1.3 s query-start + state-store floor per
    * standalone stateful gate, paid once here instead of three times).
    * Session values are exact integer cents (`floor(value·100 + 0.5)`,
    * the q167 parity contract); the sentinel's +35-day jump fires every
    * timer, so the bounded pass finalizes every key. */
  private def userTimeline(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.userTimeline", d)( {
      implicit val sp: SparkSession = s
      import s.implicits._
      val ev = eventStream(s, d)
      def branch(tag: String, withValue: Boolean): DataFrame =
        ev.select(lit(tag).as("tag"), col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          (if (withValue) expr("floor(value * 100 + 0.5)") // exact cents
           else lit(0.0)).as("value"))
      val tagged = branch("sess", withValue = true)
        .unionByName(branch("funl", withValue = false))
        .unionByName(branch("path", withValue = false))
        .as[graft.streaming.StreamOps.TlEvent]
      val out = graft.streaming.StreamOps.userTimelineStream(tagged,
        stages = Seq("view", "signup", "purchase"), gapMs = 3600000L,
        horizonMs = 30L * 24 * 3600 * 1000, watermarkDelay = "1 minute")
      // file sink: the tagged output is corpus-sized (the path branch
      // emits ~one trigram fact per event) — see runToBatch
      runToBatch(s, out.toDF(), fileSink = Some("userTimeline"))
    })

  /** Streaming GAP-BASED SESSIONIZATION — the `sess` branch of
    * [[graft.streaming.StreamOps.userTimelineStream]]
    * (flatMapGroupsWithState, event-time timeout) under the oracle gate:
    * the event-time upgrade of the reference's processing-time file roll
    * (`ETLTask.java:285-296`), certified batch-equivalent against q24's
    * lag/running-sum session SQL extended with the per-session value sum.
    * Two cross-engine parity choices make the equivalence exact: gap
    * arithmetic runs on epoch MILLIS on both sides (`Timestamp.getTime`
    * is ms; the oracle compares `epoch_ms` diffs), and the value sum is
    * integer-cent arithmetic (`floor(value·100 + 0.5)` is one IEEE
    * multiply+floor on the same double both sides; integer-valued double
    * sums are order-independent) — no float-sum-order hazard.
    * Mid-stream sessions emit when their successor opens; each user's
    * LAST session emits via the event-time timeout once the sentinel
    * advances the watermark past session_end + gap. */
  private def q167SessionizeStream(s: SparkSession, d: String): DataFrame =
    userTimeline(s, d)
      .filter(col("tag") === "sess" && col("user_id") >= 0)
      .select(col("user_id"),
              date_format(expr("timestamp_millis(l1)"), tsFmt).as("session_start"),
              date_format(expr("timestamp_millis(l2)"), tsFmt).as("session_end"),
              col("l3").as("n_events"),
              (col("d1") / 100).as("total_value"))
      .orderBy("user_id", "session_start")

  /** Streaming PER-WINDOW TOP-K — the `q168` slice of
    * [[eventWindowAggs]] (the bounded-heap [[graft.functions.TopKAgg]]
    * inside an append-mode windowed aggregation — possible precisely
    * because top-k is an AGGREGATE here; rank windows don't run on
    * streams) under the oracle gate. Each closed 1-hour window emits its
    * value-ranked top-3 events once the watermark passes the window end
    * (the sentinel closes the tail windows); the oracle is the
    * window-function formulation (score desc, id asc — TopKAgg's total
    * order, q77's precedent). No committed corpus has a tie in `value`
    * within an hour's top 3 (0 tied groups at sf0.001 and sf0.01), so
    * the oracle cannot see TopKAgg's tie order; NativeExprSpec
    * "top_k_by_score: ties, k > group, nulls, partitioning-independent"
    * is what pins it. */
  private def q168WindowTopkStream(s: SparkSession, d: String): DataFrame =
    eventWindowAggs(s, d).filter(col("tag") === "q168")
      .select(col("ws").as("window_start"),
              posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("window_start"), (col("rnk0") + 1).cast("long").as("rnk"),
              col("t.id").as("event_id"), col("t.score").as("value"))
      .filter(col("event_id") >= 0)
      .select(date_format(col("window_start"), tsFmt).as("window_start"),
              col("rnk"), col("event_id"), col("value"))
      .orderBy("window_start", "rnk")

  /** Streaming PER-KEY QUOTA — [[StreamOps.quotaPerKeyStream]]
    * (transformWithState, one admitted-counter per open (key, window))
    * under the oracle gate: admit at most 5 events per (event_type,
    * 1-hour window). Admission order inside the single AvailableNow
    * batch is (epoch-ms, event_id) — deterministic — so the oracle is
    * the row_number formulation over the same ms-granularity window id
    * and ordering. Emission is at arrival (no watermark flush needed);
    * the sentinel just rides along and is filtered by key. */
  private def q169QuotaStream(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val out = graft.streaming.StreamOps.quotaPerKeyStream(
      eventStream(s, d), "ts", delay = "1 minute",
      windowMs = 3600000L, keyCol = "event_type", idCol = "event_id", cap = 5)
    runToBatch(s, out)
      .filter(col("doc_id") >= 0)
      .select(col("key").as("event_type"), col("doc_id").as("event_id"))
      .orderBy("event_type", "event_id")
  }

  // ---- combined register maintenance (one stream per source table) ----
  //
  // The complete-mode register gates are all the same streaming shape —
  // ONE stateless map fan-out into ONE grouped register aggregation
  // whose state is value-domain-sized — and a production pipeline runs
  // them as one stream per feed, not one stream per metric: each extra
  // streaming query pays the full query-start + state-store floor
  // (~0.8–2 s here, PERF.md) to maintain registers the same micro-batch
  // could have carried. So the register families over each source table
  // union into a single tagged relation aggregated ONCE —
  // groupBy(tag, k1, k2) with count/sum/max/min registers — and every
  // declared gate reads its tag slice from the one sink and runs its
  // own deterministic tail against its own unchanged batch oracle.
  // Semantics are untouched: the branches were already independent
  // single-aggregation registers; tagging them is a disjoint union of
  // key spaces, and each gate stays individually oracle-certified.


  /** The documents-feed register stream (q211 HLL max-registers, q240
    * distribution count-registers), run once per (session, dataset). */
  private def docRegisters(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.docRegisters", d)( {
      val ds = docStream(s, d)
      val hll = Stats.hllRegisterRows(ds
          .select(col("source"),
                  explode(graft.functions.NativeExprs.word_shingles(col("text")))
                    .as("sg"))
          .select(col("source"),
                  expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)")
                    .as("h")))
        .select(lit("q211").as("tag"), col("source").as("k1"),
                col("b").cast("long").as("k2"), col("rho").cast("long").as("mval"))
      val ks = ds.select(lit("q240").as("tag"), col("source").as("k1"),
                         col("n_chars").cast("long").as("k2"),
                         lit(0L).as("mval"))
      runToBatch(s, hll.unionByName(ks)
          .groupBy("tag", "k1", "k2")
          .agg(count(lit(1)).as("c"), max("mval").as("mx")),
        outputMode = "complete")
        .localCheckpoint()
    })


  /** The events-feed register stream (q218 decayed sums, q229 min/count
    * registers, q248 quantile counts, q263 bloom position set), run once
    * per (session, dataset). */
  private def eventRegisters(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.evRegisters", d)( {
      val maxd = Tables.events(s, d).agg(max(to_date(col("ts")))).head().getDate(0)
      val cd = Behavior.clampDays
      val ev = eventStream(s, d).filter(col("event_id") >= 0)
      val nullD = lit(null).cast("date")
      val q248b = ev
        .select(lit("q248").as("tag"), col("event_type").as("k1"),
                expr("cast(floor(value * 100 + 0.5) as bigint)").as("k2"),
                lit(0L).as("w"), nullD.as("dv"))
        .filter(col("k2") >= 1)
      val q263b = ev
        .where(pmod(col("user_id"), lit(10)) === 3)
        .select(explode(expr(Skew.bloomPositionsExpr("user_id"))).as("pos"))
        .select(lit("q263").as("tag"), lit("").as("k1"),
                col("pos").cast("long").as("k2"), lit(0L).as("w"), nullD.as("dv"))
      val q218b = ev
        .select(col("event_type"), to_date(col("ts")).as("dt"))
        .select(lit("q218").as("tag"), col("event_type").as("k1"),
                lit(0L).as("k2"),
                expr(s"""CASE WHEN datediff(date'$maxd', dt) <= $cd
                         THEN shiftleft(cast(1 as bigint),
                                        $cd - datediff(date'$maxd', dt))
                         ELSE cast(0 as bigint) END""").as("w"),
                nullD.as("dv"))
      val q229f = ev
        .select(lit("q229f").as("tag"), lit("").as("k1"),
                col("user_id").as("k2"), lit(0L).as("w"),
                to_date(col("ts")).as("dv"))
      val q229a = ev
        .select(lit("q229a").as("tag"),
                date_format(to_date(col("ts")), "yyyy-MM-dd").as("k1"),
                col("user_id").as("k2"), lit(0L).as("w"), nullD.as("dv"))
      runToBatch(s, q248b.unionByName(q263b).unionByName(q218b)
          .unionByName(q229f).unionByName(q229a)
          .groupBy("tag", "k1", "k2")
          .agg(count(lit(1)).as("c"), sum("w").as("sw"), min("dv").as("mnd")),
        outputMode = "complete")
        .localCheckpoint()
    })

  /** q211: STREAMING HLL REGISTER MAINTENANCE — the q208 cardinality
    * sketch kept current BY THE STREAM: per-source max-registers as a
    * streaming aggregation (complete mode — the register table is the
    * state, 64 rows per source), closed into the same estimator and
    * served against the FULL-CORPUS rebuild oracle (q209's), so a pass
    * certifies incremental register maintenance ≡ batch rebuild. The
    * structural point this gate pins: HLL registers are MAX-aggregates,
    * so the stream side needs NO dedup state at all — duplicate
    * shingles cannot change a max — where the bottom-k sketch (q195)
    * would need per-source distinct tracking. That duplicate-blindness
    * is exactly why HLL is the sketch streams run. Registers ride the
    * combined documents-feed stream ([[docRegisters]]). */
  private def q211HllStream(s: SparkSession, d: String): DataFrame =
    Stats.hllEstimate(docRegisters(s, d).filter(col("tag") === "q211")
        .select(col("k1").as("source"), col("k2").as("b"), col("mx").as("m")))
      .orderBy("source")

  /** Streaming EXACT DEDUP WITHIN WATERMARK —
    * [[StreamOps.dedupWithinWatermark]] (`dropDuplicatesWithinWatermark`)
    * under the oracle gate: first-seen row per (user_id, event_type)
    * key. The gate projects the KEY COLUMNS ONLY, so the output is
    * value-deterministic regardless of which physical row survives —
    * what the oracle can then state as SELECT DISTINCT: the certified
    * contract is "exactly the distinct key set, each key once". */
  private def q170DedupStream(s: SparkSession, d: String): DataFrame = {
    val out = graft.streaming.StreamOps.dedupWithinWatermark(
      eventStream(s, d).select(col("user_id"), col("event_type"), col("ts")),
      "ts", delay = "40 days", keys = Seq("user_id", "event_type"))
    runToBatch(s, out)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  /** Streaming CONVERSION FUNNEL — the `funl` branch of
    * [[graft.streaming.StreamOps.userTimelineStream]] (per-user buffered
    * attribution finalized by event-time timer) under the oracle gate:
    * each user emits a final reached-stage row once the watermark
    * passes last activity + the 30-day attribution horizon (the
    * sentinel's +35-day jump fires every timer), then the per-user rows
    * aggregate through the SAME
    * `EventOps.funnelRows` formatter batch q176 uses, so the stream
    * serves q176's oracle verbatim — finalized attribution ≡ the batch
    * strict-order min-chain, certified cross-engine. */
  private def q177FunnelStream(s: SparkSession, d: String): DataFrame = {
    val users = userTimeline(s, d)
      .filter(col("tag") === "funl" && col("user_id") >= 0)
      .select(col("user_id"), col("l1").as("stage"))
    EventOps.funnelRows(users.agg(
      count(lit(1)).as("n0"),
      sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n3")))
  }

  /** q218: STREAMING TIME-DECAYED COUNTS — q214's trending mass kept
    * current by the stream. The structural point (the q211 argument at
    * the COUNTED rather than distinct tier): the decayed sum is a
    * plain SUM of exact power-of-two integer weights, so the streaming
    * aggregation needs no ordering, no dedup and no float care — any
    * arrival order replays the batch BIGINT sum bit-exactly, and the
    * state is one (count, sum) pair per event type (complete mode,
    * T rows). The reference date is resolved from the static batch
    * loader at gate build (in production it is a config/broadcast
    * constant — a stream cannot know its own future max); the share
    * and the 2^-clamp mantissa-shift division are the downstream
    * batch rollup over the T-row sink, the q118 split. Serves batch
    * q214's oracle verbatim. */
  private def q218DecayStream(s: SparkSession, d: String): DataFrame = {
    val cd = Behavior.clampDays
    val sink = eventRegisters(s, d).filter(col("tag") === "q218")
      .select(col("k1").as("event_type"), col("c").as("n_events"),
              col("sw").as("decayed_scaled"))
    val tot = sink.agg(sum("decayed_scaled").as("tw"))
    sink.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_events"), col("decayed_scaled"),
        expr(s"""floor(cast(decayed_scaled as double)
                       / ${1L << cd} * 1000000) / 1000000""").as("decayed"),
        expr("""floor(cast(decayed_scaled as double)
                      / cast(tw as double) * 1000000) / 1000000""").as("share"))
      .orderBy("event_type")
  }

  /** q219: STREAM-STREAM INTERVAL JOIN — in-flight purchase
    * attribution: every purchase joined to the clicks that preceded it
    * by at most two hours for the same user, while BOTH sides are
    * still streams. The one streaming-join class the gate set lacked —
    * every other gated stream is stream-static or a stateful
    * aggregation; this drives Spark's watermarked symmetric hash join:
    * each side buffers rows in keyed state, matches emit as the
    * opposite side arrives, and state is GC'd once the watermark
    * passes ts + the range bound — so state is bounded by (arrival
    * rate × 3 h), not the stream's history, which is what makes the
    * operator viable on an unbounded feed. Inner-join emission is a
    * set, so the bounded pass equals the batch interval join row-for-
    * row and the oracle is the plain batch SQL. At 100 TB both sides
    * hash-partition on user_id — the key the events landing zone is
    * already bucketed by (q20), so the state shuffle co-locates with
    * ingest. Gap reported in exact integer microseconds. */
  private def q219AttributionStream(s: SparkSession, d: String): DataFrame =
    // the matched slice of the shared left-outer attribution stream
    // ([[attributionJoined]]): a left-outer symmetric hash join's
    // matched emission IS the inner join — same keyed state stores,
    // same watermark GC, matches emitted as the opposite side arrives —
    // so the attributed view derives by filter, and the one stream
    // serves both reports (the register-consolidation discipline; the
    // production dashboard never runs the join twice). The oracle stays
    // the plain batch inner-interval-join SQL, certifying the
    // equivalence cross-engine every round.
    attributionJoined(s, d)
      .filter(col("user_id") >= 0 && col("purchase_id").isNotNull)
      .orderBy("user_id", "click_id", "purchase_id")

  /** q223: STREAMING PATH MINING — the `path` branch of
    * [[graft.streaming.StreamOps.userTimelineStream]] (per-user
    * event-time timeline assembly finalized by timer — ordering under
    * out-of-order arrival is the part a stream must earn; see the
    * operator doc) under the oracle
    * gate: the emitted per-user trigram facts aggregate through the
    * same top-20 count batch q213 runs (the q118 in-stream/
    * in-warehouse split), and the sentinel's +35-day jump fires every
    * timer, so the bounded pass finalizes every user and serves batch
    * q213's oracle verbatim. */
  private def q223PathsStream(s: SparkSession, d: String): DataFrame =
    userTimeline(s, d)
      .filter(col("tag") === "path" && col("user_id") >= 0)
      .select(col("s1").as("t1"), col("s2").as("t2"), col("s3").as("t3"))
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3")).limit(20)

  /** q227: STREAM-STREAM LEFT OUTER INTERVAL JOIN — the UNATTRIBUTED
    * side q219 cannot express: every click, paired with its
    * within-2h purchases when they exist and emitted ONCE WITH NULLS
    * when they don't. Mechanically a different operator than inner
    * join: the null-side row cannot be emitted when the click arrives
    * (a matching purchase may still come), so Spark emits it at STATE
    * EVICTION — when the watermark proves no in-horizon purchase can
    * arrive, the evicted click emits with nulls. The sentinel's
    * +35-day jump drives the watermark past every click's horizon, so
    * the bounded pass finalizes every click and equals the batch LEFT
    * JOIN row-for-row (within one click the output is either matched
    * rows or the single null row, never both — so the deterministic
    * (user, click, purchase) order never compares NULL against
    * non-NULL inside a key and the engines' opposite null-sort
    * defaults cannot diverge). The conversion dashboard runs on
    * exactly this: attributed vs unattributed click mass in one
    * relation. */
  private def q227AttributionOuter(s: SparkSession, d: String): DataFrame =
    attributionJoined(s, d)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "click_id", "purchase_id")


  /** The LEFT-OUTER interval-join attribution stream, run ONCE per
    * (session, dataset) — the production dashboard relation both
    * declared gates read: every click with its within-2h purchases
    * when they exist, one null row at state eviction when they don't
    * (q227 reads it whole; q219's attributed view is its matched
    * slice). The SENTINEL must survive the pre-join filters: null-side
    * rows emit only at state EVICTION, and eviction needs the
    * watermark to advance past the last real click's horizon — filter
    * the sentinel before `withWatermark` and the tail clicks'
    * unmatched rows never emit. Both sides keep it (type filter OR
    * event_id < 0); the consumers drop its key (< 0), the gate's
    * standard sentinel contract. */
  private def attributionJoined(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "stream.attribution", d)( {
      val ev = eventStream(s, d)
      val clicks = ev
        .filter(col("event_type") === "click" || col("event_id") < 0)
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
                col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = ev
        .filter(col("event_type") === "purchase" || col("event_id") < 0)
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
                col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"),
        "left_outer")
      runToBatch(s, joined.select(col("c_user").as("user_id"), col("click_id"),
          col("purchase_id"),
          expr("unix_micros(p_ts) - unix_micros(c_ts)").as("gap_us")))
        .localCheckpoint()
    })

  /** q229: STREAMING USER-GROWTH REGISTERS — q226's acquisition curve
    * kept current by the stream, completing the register trilogy the
    * gate set now states explicitly: q211 maintains MAX registers
    * (HLL), q218 a weighted SUM, and this one MIN registers — each
    * user's first-seen day is a MIN-aggregate, so like the max it is
    * DUPLICATE-BLIND and arrival-order-free (a re-delivered or
    * out-of-order event can never lower a true minimum it doesn't
    * precede), which is the structural reason acquisition metrics
    * stream exactly without dedup state. Two bounded complete-mode
    * aggregations run the streams (per-user min(day); the distinct
    * (day, user) active set), state = one date per user + one row per
    * active pair; the day-grain rollup (counts, cumulative) is the
    * warehouse side, and batch q226's oracle gates the composition
    * verbatim. */
  private def q229GrowthStream(s: SparkSession, d: String): DataFrame = {
    val reg = eventRegisters(s, d)
    val firstSeen = reg.filter(col("tag") === "q229f")
      .select(col("k2").as("user_id"), col("mnd").as("dt"))
    val actives = reg.filter(col("tag") === "q229a")
      .select(to_date(col("k1")).as("dt"), col("k2").as("user_id"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("dt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    actives.groupBy("dt").agg(count(lit(1)).as("active_users"))
      .join(firstSeen.groupBy("dt").agg(count(lit(1)).as("new_users")),
            Seq("dt"), "left")
      .select(col("dt"), col("active_users"),
              coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
              col("active_users"), col("new_users"), col("cum_users"))
      .orderBy("dt")
  }

  /** q240: STREAMING DISTRIBUTION REGISTERS — q215's KS drift dashboard
    * kept current by the stream: the per-(source, length) COUNTERS are
    * plain sum registers (one complete-mode aggregation, |V|·S rows of
    * state — value-domain-sized, the q215 argument), and the whole
    * grid/ECDF/pair tail runs on the sink relation, which never grows
    * with the stream. The register trilogy (q211 max / q218 weighted
    * sum / q229 min) plus this one covers every aggregate class the
    * sketch tier uses; counting is the only one that is duplicate-
    * SENSITIVE, which is fine here because the drift statistic is
    * defined over the delivered corpus. Serves batch q215's oracle
    * verbatim. */
  private def q240KsStream(s: SparkSession, d: String): DataFrame =
    // the combined sink is already a localCheckpoint snapshot — the KS
    // tail's three-way self-join needs it (the memory-sink VIEW resolves
    // all branches to one set of attribute ids, [INTERNAL_ERROR]
    // conflicting references), and it is the honest dashboard semantics
    // (read a consistent snapshot of live registers)
    Stats.lengthKsFromCounts(docRegisters(s, d).filter(col("tag") === "q240")
      .select(col("k1").as("source"), col("k2").as("v"), col("c")))

  /** q248: STREAMING QUANTILE REGISTERS — q247's percentile dashboard
    * kept current by the stream. The streamed state is per-(event_type,
    * cents) COUNT registers (value-domain-sized, the q240 argument:
    * state never grows with the stream, only with the value domain);
    * the whole register/envelope/certificate tail — log-bin fold,
    * cumulative walk to rank ⌈p·n⌉, exact k-th from the same counts —
    * runs on the sink relation via the shared q247 core. Counting is
    * duplicate-sensitive (the q240 caveat), which is the correct
    * semantics for a percentile over the delivered corpus. Serves
    * batch q247's oracle verbatim. */
  private def q248QuantileStream(s: SparkSession, d: String): DataFrame =
    EventOps.quantileFromCounts(eventRegisters(s, d)
      .filter(col("tag") === "q248")
      .select(col("k1").as("event_type"), col("k2").as("cents"), col("c")))

  /** q263: STREAMING BLOOM-FILTER MAINTENANCE — the q252 semi-join
    * bit-set kept current BY THE STREAM: the dimension cohort's
    * occupied positions are a DISTINCT set, i.e. duplicate-blind
    * "exists" registers (the q211-HLL argument in its simplest form —
    * re-delivery cannot flip a bit that is already set), so one
    * complete-mode distinct aggregation maintains the filter with
    * ≤ m rows of state and NO dedup bookkeeping. The probe/audit tail
    * (membership joins, FP tax, soundness certificate) runs on the
    * sink relation via the shared q252 core and serves the batch
    * oracle verbatim — a streamed filter that certifies identical to
    * the batch-built one is exactly the property that lets a pipeline
    * ship the filter continuously instead of rebuilding it nightly. */
  private def q263BloomStream(s: SparkSession, d: String): DataFrame =
    Skew.bloomSemijoinAudit(s, d,
      eventRegisters(s, d).filter(col("tag") === "q263")
        .select(col("k2").as("pos")))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q293_minhash_evict" -> q293MinhashEvictStream _,
    "q263_bloom_stream" -> q263BloomStream _,
    "q248_quantile_stream" -> q248QuantileStream _,
    "q240_ks_stream" -> q240KsStream _,
    "q229_growth_stream" -> q229GrowthStream _,
    "q227_attribution_outer" -> q227AttributionOuter _,
    "q223_paths_stream" -> q223PathsStream _,
    "q218_decay_stream" -> q218DecayStream _,
    "q219_attribution_stream" -> q219AttributionStream _,
    "q177_funnel_stream" -> q177FunnelStream _,
    "q182_outlier_stream" -> q182OutlierStream _,
    "q194_anomaly_stream" -> q194AnomalyStream _,
    "q167_sessionize_stream" -> q167SessionizeStream _,
    "q168_window_topk_stream" -> q168WindowTopkStream _,
    "q169_quota_stream" -> q169QuotaStream _,
    "q170_dedup_stream" -> q170DedupStream _,
    "q211_hll_stream" -> q211HllStream _,
    "q162_repetition_stream" -> q162RepetitionStream _,
    "q150_entropy_stream" -> q150EntropyStream _,
    "q104_incdedup_stream" -> q104IncDedupStream _,
    "q112_quality_stream" -> q112QualityStream _,
    "q118_window_stream" -> q118WindowStream _,
    "q105_contamination_stream" -> q105ContaminationStream _,
    "q106_simhash_stream" -> q106SimhashStream _,
    "q107_minhash_stream" -> q107MinhashStream _,
  )

  override val oracles: Map[String, String] = Map(
    // q42's exact inverted-index pair SQL (recall-1 at the 0.8
    // threshold) restricted to the watermark horizon: hour = doc_id mod
    // 6, and a pair is findable iff its slices are ≤ 3 apart (watermark
    // lag + delay + prune — the derivation at the gate definition).
    // Both eviction directions are certified: in-horizon pairs must
    // all emit, out-of-horizon true pairs must all be evicted.
    "q293_minhash_evict" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")}
         SELECT a_id, b_id,
                floor(common / (asz + bsz - common) * 1000) / 1000 AS jaccard
         FROM pairs
         WHERE common / (asz + bsz - common) >= 0.8
           AND abs((a_id % 6) - (b_id % 6)) <= 3
         ORDER BY a_id, b_id""",
    // batch-equivalence: per-(source, value) sum registers replay the
    // batch counts exactly; the KS tail is deterministic arithmetic
    "q240_ks_stream" -> Stats.oracles("q215_length_ks"),
    // batch-equivalence: value-grain count registers replay the batch
    // counts; the quantile walk and certificate are deterministic
    // integer arithmetic over the sink relation
    "q248_quantile_stream" -> EventOps.oracles("q247_quantile_sketch"),
    // batch-equivalence: the position set is duplicate-blind (distinct
    // registers), so the streamed filter serves the batch audit oracle
    "q263_bloom_stream" -> Skew.oracles("q252_bloom_semijoin"),
    // batch-equivalence: min-register maintenance (first-seen) and the
    // distinct active set are duplicate-blind, so the streamed rollup
    // serves batch q226's oracle verbatim
    "q229_growth_stream" -> Behavior.oracles("q226_user_growth"),
    // the batch left interval join: matched rows ∪ one null row per
    // unmatched click — eviction-time emission must reproduce it
    "q227_attribution_outer" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
         ORDER BY c.user_id, click_id, purchase_id""",
    // batch-equivalence: finalized timeline assembly must reproduce the
    // batch (ts, event_id)-ordered trigram counts verbatim
    "q223_paths_stream" -> Behavior.oracles("q213_event_paths"),
    // batch-equivalence: exact power-of-two integer weights make the
    // streaming sum replay batch q214's BIGINT sums in any arrival
    // order — its oracle covers the streamed output verbatim
    "q218_decay_stream" -> Behavior.oracles("q214_decayed_counts"),
    // the batch interval join: inner-join emission is a set, so the
    // bounded streaming pass must equal it row-for-row
    "q219_attribution_stream" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP) AS gap_us
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
         ORDER BY c.user_id, click_id, purchase_id""",
    // batch-equivalence: finalized streaming attribution must serve the
    // batch funnel's oracle verbatim (same funnelRows formatter)
    "q177_funnel_stream" -> EventOps.oracles("q176_funnel"),
    // batch-equivalence: same flagging core as batch q175, so its
    // oracle covers the streamed output verbatim
    "q182_outlier_stream" -> Projection.oracles("q175_outlier_audit"),
    // batch-equivalence: same baseline derivation + same scorer, so
    // batch q191's oracle covers the streamed closed-hour output
    "q194_anomaly_stream" -> EventOps.oracles("q191_rate_anomaly"),
    // q24's session segmentation on epoch-MILLIS gaps (Timestamp.getTime
    // parity) + integer-cent value sums (order-independent, bit-exact)
    "q167_sessionize_stream" ->
      """WITH flagged AS (
           SELECT user_id, ts, "value",
             CASE WHEN lag(epoch_ms(ts::TIMESTAMP)) OVER w IS NULL
                    OR epoch_ms(ts::TIMESTAMP) - lag(epoch_ms(ts::TIMESTAMP)) OVER w > 3600000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), numbered AS (
           SELECT user_id, ts, "value",
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged
         )
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           sum(floor("value" * 100 + 0.5)) / 100 AS total_value
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",
    // the window formulation of the bounded-heap aggregate's total order
    // (score desc, id asc — q77's precedent), per 1-hour tumbling window
    "q168_window_topk_stream" ->
      """WITH r AS (SELECT date_trunc('hour', ts) AS ws, event_id, "value",
                    row_number() OVER (PARTITION BY date_trunc('hour', ts)
                      ORDER BY "value" DESC, event_id) AS rnk
             FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                CAST(rnk AS BIGINT) AS rnk, event_id, "value"
         FROM r WHERE rnk <= 3 ORDER BY window_start, rnk""",
    // admission = first 5 per (key, epoch-ms hour window) in
    // q211: the batch FULL-CORPUS HLL rebuild (q209's SQL verbatim) —
    // a pass certifies streaming register maintenance ≡ batch rebuild
    "q211_hll_stream" -> Stats.oracles("q209_hll_merge"),
    // (epoch-ms, id) order — the processor's in-batch admission order
    "q169_quota_stream" ->
      """WITH r AS (SELECT event_type, event_id,
                    row_number() OVER (
                      PARTITION BY event_type, epoch_ms(ts::TIMESTAMP) // 3600000
                      ORDER BY epoch_ms(ts::TIMESTAMP), event_id) AS rn
             FROM events)
         SELECT event_type, event_id FROM r WHERE rn <= 5
         ORDER BY event_type, event_id""",
    // key-projection contract: exactly the distinct key set, each once
    "q170_dedup_stream" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // batch-equivalence: the per-row sorted fold is bit-identical to the
    // batch aggregation, so q142's oracle covers the stream verbatim
    "q150_entropy_stream" -> Stats.oracles("q142_token_entropy"),
    // batch-equivalence: one shared scoring core (TextAnalysis
    // .repetitionOn), so batch q161's oracle covers the stream verbatim
    "q162_repetition_stream" -> TextAnalysis.oracles("q161_repetition"),
    // batch-equivalence: the streaming twin must hash-match the batch
    // q76 oracle verbatim
    "q104_incdedup_stream" -> Dedup.oracles("q76_incremental_dedup"),
    // q48's shingle CTE, DECONTAMINATED side: all stream docs below the
    // threshold, zero-shingle docs kept at 0.0. The raw score is one
    // int/int division in both engines (bit-exact), floored only for
    // output.
    "q105_contamination_stream" ->
      s"""WITH sh AS (${TextExprs.duckShingleSet("doc_id")}),
         bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 20),
         corpus AS (SELECT doc_id, len(shingles) AS nsh FROM sh WHERE doc_id >= 20),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
                        WHERE doc_id >= 20) c
                  JOIN bench USING (s) GROUP BY c.doc_id),
         sc AS (SELECT corpus.doc_id,
                       coalesce(n_hit / CAST(nullif(nsh, 0) AS DOUBLE), 0e0) AS cont
                FROM corpus LEFT JOIN hits USING (doc_id))
         SELECT doc_id, floor(cont * 1000) / 1000 AS contamination
         FROM sc WHERE cont < 0.2 ORDER BY doc_id""",
    // batch-equivalence: one shared scoring core, so the batch oracle
    // covers the streaming execution verbatim
    "q112_quality_stream" -> Curation2.oracles("q93_quality_model"),
    // the shared window definition (W = 8, md5 of the joined tokens)
    // replicated positionally; corpus = doc_id < 250, stream the rest
    "q118_window_stream" ->
      s"""WITH ${WindowDedup.windowHashCtes},
         corpus AS (SELECT DISTINCT wh FROM win WHERE doc_id < 250)
         SELECT s.doc_id, CAST(s.pos AS BIGINT) AS pos,
                CAST(CASE WHEN c.wh IS NULL THEN 0 ELSE 1 END AS BIGINT)
                  AS in_corpus
         FROM (SELECT * FROM win WHERE doc_id >= 250) s
         LEFT JOIN corpus c USING (wh)
         ORDER BY doc_id, pos""",
    // batch-equivalence vs q81's banded-signature SQL verbatim
    "q106_simhash_stream" -> Dedup.oracles("q81_simhash_neardup"),
    // batch-equivalence vs q42's oracle (the exact inverted-index pair
    // SQL — LSH + exact verification has recall 1 at this threshold)
    "q107_minhash_stream" -> Dedup.oracles("q42_minhash_lsh"),
  )
}
