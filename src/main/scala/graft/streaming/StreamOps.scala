package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming-native operators layered on the ETL pipeline — the event-time
  * semantics the reference lacks (SURVEY.md §2 "Explicit absences": no
  * watermarks, no event-time windows, no keyed state) plus streaming
  * exact-dedup (§2 row 11 [extension]).
  *
  * All state is watermark-bounded: at 100 TB/day the state store holds
  * only `watermark × key-cardinality` entries, and eviction is automatic.
  */
object StreamOps extends Serializable {

  /** Streaming exact dedup by key within a watermark window — the
    * streaming form of EventOps.q22/q23. State size is bounded by the
    * delay; duplicates arriving later than the watermark are dropped by
    * definition of the bound (documented at-least-once → effectively-once
    * upgrade over the reference, which never dedups).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** A watermark delay string ("1 hour") in millis, parsed exactly as
    * `withWatermark` parses it — the state processors' eviction and
    * timer arithmetic runs in millis. */
  private def delayMillis(delay: String): Long =
    EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(delay))

  /** Streaming incremental exact dedup against a STATIC existing corpus —
    * the streaming twin of the batch q76 (today's crawl stream checked
    * against yesterday's indexed corpus). A stream-static left_anti join
    * is stateless on the stream side (each micro-batch joins the static
    * relation; no streaming state at all), so this composes with the
    * watermarked in-stream dedup above for the full "new vs corpus AND
    * new within stream" contract; both sides carry the digest in a `sig`
    * column. With `bloomExpected > 0` a bloom
    * filter over the existing digests splits each micro-batch MAP-SIDE
    * first (the `Dedup.incrementalDedupBloom` plan): definitive
    * negatives skip the join entirely, so per-batch join input shrinks
    * to dup-rate + fpp of the batch.
    */
  def incrementalDedupStream(fresh: DataFrame, existing: DataFrame,
                             bloomExpected: Long = 0L,
                             fpp: Double = 0.01): DataFrame = {
    val ex = existing.select(col("sig")).distinct()
    if (bloomExpected <= 0L) {
      fresh.join(ex, Seq("sig"), "left_anti")
    } else {
      val bloom = ex.select(xxhash64(col("sig")).as("h"))
        .stat.bloomFilter("h", bloomExpected, fpp)
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      val hit = graft.functions.NativeExprs
        .bloom_contains(xxhash64(col("sig")), out.toByteArray)
      val clean = fresh.filter(!hit)
      val verified = fresh.filter(hit).join(ex, Seq("sig"), "left_anti")
      clean.unionByName(verified.select(fresh.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** Streaming CONTAMINATION GATE — the streaming twin of batch q48:
    * drop stream documents whose shingle overlap with a benchmark corpus
    * reaches `threshold`. The benchmark's distinct shingle set collapses
    * to a ONE-ROW static aggregate (benchmarks are KB-MB at any corpus
    * scale) cross-joined in as a broadcast scalar, so the gate is a
    * STATELESS per-row array intersection — no watermark, no state
    * store, works under any trigger; the micro-batch plan is identical
    * to the batch q48 probe. Passes through ALL rows below the threshold
    * (the decontaminated stream) with their contamination score — a doc
    * too short to produce a shingle cannot overlap the benchmark and
    * passes with contamination 0.0 (rather than being dropped, which
    * would silently lose data from the output stream).
    */
  def contaminationGateStream(docs: DataFrame, bench: DataFrame,
                              threshold: Double): DataFrame = {
    val benchSet = bench
      .select(explode(graft.functions.NativeExprs.word_shingles(col("text"))).as("s"))
      .distinct()
      .agg(coalesce(collect_list(col("s")), expr("array()")).as("bench_sh"))
    docs
      .withColumn("sh", graft.functions.NativeExprs.word_shingles(col("text")))
      .crossJoin(broadcast(benchSet))
      .withColumn("contamination",
        coalesce(
          size(array_intersect(col("sh"), col("bench_sh"))) /
            nullif(size(col("sh")), lit(0)).cast("double"),
          lit(0.0)))
      .filter(col("contamination") < threshold)
      .drop("sh", "bench_sh")
  }

  /** Streaming TOKEN-ENTROPY SCORE — batch q142 as a pure projection:
    * per-row Shannon entropy of the document's own token distribution
    * (the statistic needs nothing beyond the row, so the stream form is
    * STATELESS map work — no state store, no watermark, any trigger; at
    * ingest this is the cheapest gibberish gate that can run). The per-
    * row fold visits distinct tokens in SORTED order (`array_distinct`
    * of the sorted token array preserves that order), so the float sum
    * adds the exact same terms in the exact same order as the batch
    * aggregation's token-sorted fold — the two forms are bit-identical
    * and the batch DuckDB oracle covers the streamed output verbatim
    * (q150's gate). Per-row cost is O(tokens · distinct) from the
    * count-by-filter; documents bound both factors. */
  def entropyScoreStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs.let1
    val raw = let1("sort_array(split(trim(text), '\\\\s+'))", "t",
      let1("cast(size(t) as double)", "n",
        """named_struct(
             'n_tokens', cast(size(t) as bigint),
             'distinct_tokens', cast(size(array_distinct(t)) as bigint),
             'raw', ln(n) - aggregate(
                 transform(array_distinct(t), x -> """ +
          let1("cast(size(filter(t, y -> y = x)) as double)", "c",
               "c * ln(c)") + """),
                 cast(0 as double), (acc, x) -> acc + x) / n)"""))
    docs.select(col("doc_id"), expr(raw).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
              col("e.distinct_tokens").as("distinct_tokens"),
              (floor(col("e.raw") * 1000000) / 1000000).as("entropy"))
      .withColumn("low_entropy",
        when(col("entropy") < graft.operators.Stats.entThreshold, 1L)
          .otherwise(0L))
  }

  final case class BucketDoc(bucket: Long, doc_id: Long,
                             ts: java.sql.Timestamp, sh: Array[Long])
  final case class NearDupPair(a_id: Long, b_id: Long, jaccard: Double,
                               ts: java.sql.Timestamp)
  final case class BucketEntry(doc_id: Long, tsMs: Long, sh: Array[Long])

  /** Shared scaffolding for the per-bucket streaming pair verifiers
    * (transformWithState): state is the bucket's recent residents
    * (ListState of `E`), pruned to the watermark horizon on every access
    * and garbage-collected outright by an event-time timer when the
    * bucket goes idle. Every arrival is verified against the residents;
    * an emitted pair carries the ARRIVING doc's event time, which is >=
    * the current watermark by construction (late rows never reach a
    * stateful op), so declaring it as the output event-time column is
    * sound and downstream stateful dedup is legal.
    *
    * `maxResidents` bounds per-bucket state and work — the streaming twin
    * of the batch path's `Dedup.capBuckets` df-cut: a boilerplate-heavy
    * bucket would otherwise grow its ListState with every in-watermark
    * arrival and verify each newcomer against all of them (quadratic
    * in-bucket). Past the cap the OLDEST residents rotate out, so an
    * arrival is verified against at most the cap's worth of most-recent
    * bucket-mates. The recall cost is real and should be stated
    * honestly: eviction order is arrival order in EVERY bucket a doc
    * posts to, so a true pair separated by >= cap same-bucket arrivals
    * in all of its shared buckets is missed entirely (the bands do NOT
    * independently rescue it — their rotations are correlated). The cap
    * therefore trades recall specifically in degenerate hot buckets —
    * near-boilerplate content where pairing is dominated by noise — for
    * bounded state; size it to the worst organic bucket, not to typical
    * occupancy.
    */
  private abstract class BucketPairProcessor[I, E <: Product, P](
      delayMs: Long, maxResidents: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, I, P] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.streaming

    /** Per-incoming-doc precomputation shared across resident checks
      * (e.g. the arriving doc's shingle SET built once, not per
      * resident). */
    protected type Prepared
    protected def entryEncoder: org.apache.spark.sql.Encoder[E]
    protected def entryClassTag: scala.reflect.ClassTag[E]
    protected def eventTs(i: I): java.sql.Timestamp
    protected def toEntry(i: I): E
    protected def entryTs(e: E): Long
    protected def prepare(i: I): Prepared
    protected def verify(resident: E, incoming: I, p: Prepared): Option[P]

    @transient private var entries: ListState[E] = _
    @transient private var gcTimer: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      entries = getHandle.getListState[E]("entries", entryEncoder, TTLConfig.NONE)
      gcTimer = getHandle.getValueState[Long](
        "gcTimer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    /** One live GC timer per bucket: delete the previously registered
      * one (if any) before arming the new horizon, so outstanding timers
      * don't accumulate with arrival count. */
    private def armTimer(at: Long): Unit = {
      if (gcTimer.exists()) getHandle.deleteTimer(gcTimer.get())
      getHandle.registerTimer(at)
      gcTimer.update(at)
    }

    /** Persisted list order is OLDEST-FIRST (arrival order): the common
      * no-expiry/no-rotation batch then writes ONE `appendList` of just
      * the NEW entries instead of the old clear + re-append of every
      * resident (r17, guide §5 — steady-state state writes proportional
      * to ARRIVALS, not residents; the r16 form rewrote every hot
      * bucket's full resident list every batch). The in-memory protocol
      * below stays newest-first, so verify/rotation semantics are
      * bit-identical. */
    private def pruned(wm: Long): List[E] =
      entries.get().toList.filter(entryTs(_) >= wm - delayMs)

    override def handleInputRows(bucket: Long, in: Iterator[I],
                                 timers: TimerValues): Iterator[P] = {
      val wm = timers.getCurrentWatermarkInMs()
      val persisted = entries.get().toList            // oldest-first
      val live = persisted.filter(entryTs(_) >= wm - delayMs)
      val expired = live.lengthCompare(persisted.length) != 0
      var kept = live.reverse                         // newest-first
      val newEntries = List.newBuilder[E]             // arrival order
      var nNew = 0
      val out = Seq.newBuilder[P]
      var maxTs = Long.MinValue
      in.toSeq.sortBy(eventTs(_).getTime).foreach { d =>
        val p = prepare(d)
        maxTs = math.max(maxTs, eventTs(d).getTime)
        kept.foreach(e => verify(e, d, p).foreach(out += _))
        // newest-first prepend + take = rotate out the oldest past the cap
        val entry = toEntry(d)
        newEntries += entry; nNew += 1
        kept = (entry :: kept).take(maxResidents)
      }
      implicit val ct: scala.reflect.ClassTag[E] = entryClassTag
      if (!expired && kept.lengthCompare(live.length + nNew) == 0)
        entries.appendList(newEntries.result().toArray)
      else
        entries.put(kept.reverse.toArray)             // back to oldest-first
      if (maxTs != Long.MinValue) armTimer(maxTs + 2 * delayMs)
      out.result().iterator
    }

    override def handleExpiredTimer(bucket: Long, timers: TimerValues,
        info: streaming.ExpiredTimerInfo): Iterator[P] = {
      val kept = pruned(timers.getCurrentWatermarkInMs()) // oldest-first
      if (kept.isEmpty) {
        entries.clear()
        gcTimer.clear()
      } else {
        implicit val ct: scala.reflect.ClassTag[E] = entryClassTag
        entries.put(kept.toArray)                     // order preserved
        // residents remain inside the horizon: re-arm for their tail.
        // The timer that just fired is already consumed, so register
        // directly rather than via armTimer (no stale timer to delete).
        val at = kept.map(entryTs).max + 2 * delayMs
        getHandle.registerTimer(at)
        gcTimer.update(at)
      }
      Iterator.empty
    }
  }

  /** Exact-Jaccard verifier over HASHED shingle-set residents — the
    * [[nearDupPairsStream]] instantiation of [[BucketPairProcessor]].
    * Residents hold each document's shingle set as a SORTED array of
    * 64-bit xxhash64 values, not the shingle strings: state and shuffle
    * bytes drop ~3× (8 B per shingle vs the 3-word string), and the
    * per-pair verify is a primitive-long merge-intersection instead of
    * a string hash-set probe — the per-(pair, band) verify is the hot
    * loop here, because unlike batch q42 a streaming bucket cannot see
    * other bands to pre-dedup candidates. Jaccard over the hashed sets
    * equals Jaccard over the string sets unless two DISTINCT shingles
    * in the same compared pair collide in 64 bits (probability ~n²/2⁶⁴
    * per pair — vanishing; the batch/stream equivalence gate q107 would
    * surface it as a hash mismatch). */
  private final class NearDupBucketProcessor(delayMs: Long, maxResidents: Int)
      extends BucketPairProcessor[BucketDoc, BucketEntry, NearDupPair](delayMs, maxResidents) {
    protected type Prepared = Array[Long]
    protected def entryEncoder = org.apache.spark.sql.Encoders.product[BucketEntry]
    protected def entryClassTag = scala.reflect.classTag[BucketEntry]
    protected def eventTs(d: BucketDoc) = d.ts
    protected def toEntry(d: BucketDoc) = BucketEntry(d.doc_id, d.ts.getTime, d.sh)
    protected def entryTs(e: BucketEntry) = e.tsMs
    protected def prepare(d: BucketDoc): Array[Long] = d.sh
    /** |a ∩ b| for two sorted long arrays, branchless two-pointer merge. */
    private def intersectSorted(a: Array[Long], b: Array[Long]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { n += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      n
    }
    protected def verify(e: BucketEntry, d: BucketDoc, dsh: Array[Long]): Option[NearDupPair] = {
      if (e.doc_id == d.doc_id) return None
      val common = intersectSorted(e.sh, dsh)
      val jac = common.toDouble / (e.sh.length + dsh.length - common)
      if (jac < 0.8) None
      else {
        val (a, b) = if (e.doc_id < d.doc_id) (e.doc_id, d.doc_id)
                     else (d.doc_id, e.doc_id)
        Some(NearDupPair(a, b, math.floor(jac * 1000) / 1000, d.ts))
      }
    }
  }

  /** Streaming near-duplicate PAIR detection — the streaming twin of the
    * batch q42 MinHash+LSH operator. Each document's shingle set is
    * banded into the same native minhash band keys as the batch path
    * (the band index is folded into the key, so the bucket id alone is
    * the LSH key); state is keyed by bucket and holds the recent
    * documents' shingle sets, and every arrival is EXACT-Jaccard-verified
    * against its bucket's residents — identical candidate generation +
    * exact verification semantics to batch q42, restricted to pairs
    * whose arrivals fall within the watermark of each other (older
    * residents are evicted: a dup of something older than the delay is
    * out of scope by definition of the bound).
    *
    * A pair colliding in several bands is emitted once:
    * `dropDuplicatesWithinWatermark` on (a_id, b_id) dedups in-stream —
    * a legal stateful→stateful chain because transformWithState declares
    * the output event-time column (the arriving doc's timestamp, never
    * behind the watermark).
    *
    * Pairs at Jaccard ≥ 0.8 are emitted (batch q42's threshold).
    * `maxResidents` caps per-bucket state/work (see
    * [[NearDupBucketProcessor]]).
    */
  def nearDupPairsStream(docs: DataFrame, tsCol: String, delay: String,
                         maxResidents: Int = 256)
                        (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._

    val banded = docs
      .select(col("doc_id"), col(tsCol).as("ts"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      // hash the shingle set to sorted 64-bit keys BEFORE the band
      // explode, so the per-band duplication and the bucket state carry
      // 8 B per shingle, not the string (see NearDupBucketProcessor)
      .select(col("doc_id"), col("ts"),
              array_sort(array_distinct(expr("transform(shs, s -> xxhash64(s))")))
                .as("sh"),
              graft.functions.NativeExprs.minhash_band_keys(col("shs")).as("bks"))
      .select(explode(col("bks")).as("bucket"),
              col("doc_id"), col("ts"), col("sh"))
      .withWatermark("ts", delay)
      .as[BucketDoc]

    banded
      .groupByKey(_.bucket)
      .transformWithState(new NearDupBucketProcessor(delayMillis(delay), maxResidents),
        "ts", OutputMode.Append())
      .dropDuplicatesWithinWatermark("a_id", "b_id")
      .toDF()
  }

  final case class SigBucketDoc(bucket: Long, doc_id: Long,
                                ts: java.sql.Timestamp, sig: Long)
  final case class HammingPair(a_id: Long, b_id: Long, hamming: Long,
                               ts: java.sql.Timestamp)
  final case class SigEntry(doc_id: Long, tsMs: Long, sig: Long)

  /** Per-bucket Hamming verifier for [[simhashNearDupStream]] — the
    * [[BucketPairProcessor]] instantiation with a 24-byte resident
    * (doc_id + ts + signature) instead of a shingle set, and a
    * one-instruction verify (XOR + popcount) instead of a set
    * intersection. The state-cheap streaming near-dup: per-bucket memory
    * is residents × 24 B regardless of document size. */
  private final class SimhashBucketProcessor(delayMs: Long, maxResidents: Int)
      extends BucketPairProcessor[SigBucketDoc, SigEntry, HammingPair](delayMs, maxResidents) {
    // read once when the processor is built; tasks receive the value
    private val maxHamming = graft.operators.Dedup.simhashMaxHamming
    protected type Prepared = Unit
    protected def entryEncoder = org.apache.spark.sql.Encoders.product[SigEntry]
    protected def entryClassTag = scala.reflect.classTag[SigEntry]
    protected def eventTs(d: SigBucketDoc) = d.ts
    protected def toEntry(d: SigBucketDoc) = SigEntry(d.doc_id, d.ts.getTime, d.sig)
    protected def entryTs(e: SigEntry) = e.tsMs
    protected def prepare(d: SigBucketDoc): Unit = ()
    protected def verify(e: SigEntry, d: SigBucketDoc, p: Unit): Option[HammingPair] = {
      if (e.doc_id == d.doc_id) return None
      val h = java.lang.Long.bitCount(e.sig ^ d.sig)
      if (h > maxHamming) None
      else {
        val (a, b) = if (e.doc_id < d.doc_id) (e.doc_id, d.doc_id)
                     else (d.doc_id, e.doc_id)
        Some(HammingPair(a, b, h.toLong, d.ts))
      }
    }
  }

  /** Streaming banded-SimHash near-dup pairs — the streaming twin of the
    * batch q81 and the STATE-CHEAP alternative to
    * [[nearDupPairsStream]]: a resident is (doc_id, ts, 60-bit sig) — 24
    * bytes regardless of document length — and verification is one
    * XOR+popcount. The signature is banded exactly like batch q81
    * (`Dedup.simhashBands` × `Dedup.simhashBandBits`; band index folded
    * into the bucket key), so within the watermark the recall guarantee
    * carries over: a pair at Hamming ≤ `Dedup.simhashMaxHamming` <
    * `Dedup.simhashBands` shares at least one band bucket by
    * pigeonhole. Emitted once per pair via
    * `dropDuplicatesWithinWatermark` (same stateful→stateful chain as
    * the MinHash form). */
  def simhashNearDupStream(docs: DataFrame, tsCol: String, delay: String,
                           maxResidents: Int = 4096)
                          (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.operators.Dedup.{simhashBands, simhashBandBits}
    val mask = (1L << simhashBandBits) - 1
    val banded = docs
      .select(col("doc_id"), col(tsCol).as("ts"),
              graft.functions.NativeExprs.simhash_sig(col("text")).as("sig"))
      .select(explode(expr(s"transform(sequence(0, ${simhashBands - 1}), b -> " +
          s"shiftleft(cast(b as bigint), $simhashBandBits) | (shiftright(sig, b * $simhashBandBits) & $mask))"))
          .as("bucket"),
        col("doc_id"), col("ts"), col("sig"))
      .withWatermark("ts", delay)
      .as[SigBucketDoc]
    banded
      .groupByKey(_.bucket)
      .transformWithState(new SimhashBucketProcessor(delayMillis(delay), maxResidents),
        "ts", OutputMode.Append())
      .dropDuplicatesWithinWatermark("a_id", "b_id")
      .toDF()
  }

  final case class SessionAgg(start: Long, end: Long, n: Long, total: Double)

  // ---- per-user state machines ----
  //
  // The transition/finalize logic of the three per-user keyed-state
  // machines (gap sessionization, funnel attribution, path assembly)
  // that [[userTimelineStream]] runs, kept as pure functions so the
  // specs can also check the settled-prefix folds against buffer-all
  // semantics without running a stream.

  /** Fold a batch of (epochMs, value) events into an open session.
    * Events are absorbed in event-time order; a gap > `gapMs` closes the
    * open session and starts a new one. Returns (closed-in-order, open).
    */
  private[graft] def sessionAbsorb(open: Option[SessionAgg],
      events: Seq[(Long, Double)],
      gapMs: Long): (List[SessionAgg], Option[SessionAgg]) = {
    var cur = open
    val closed = List.newBuilder[SessionAgg]
    events.sortBy(_._1).foreach { case (t, v) =>
      cur match {
        case Some(s) if t - s.end <= gapMs =>
          cur = Some(SessionAgg(s.start, math.max(s.end, t), s.n + 1,
                                s.total + v))
        case Some(s) =>
          closed += s
          cur = Some(SessionAgg(t, t, 1, v))
        case None =>
          cur = Some(SessionAgg(t, t, 1, v))
      }
    }
    (closed.result(), cur)
  }

  /** The funnel min-chain finalize over buffered (epochUs, stageIdx)
    * facts: t_k = min ts of stage k with ts strictly after t_{k−1};
    * returns the deepest stage reached (1-based; 0 = none). */
  private[graft] def funnelReached(buf: List[(Long, Int)], nStages: Int): Long =
    funnelChainFold(buf, nStages, 0L, Long.MinValue)._1

  /** The min-chain CONTINUATION fold behind [[funnelReached]] and the
    * whale-key compaction: run the chain over `buf` starting from stage
    * `startStage` with the previous step's timestamp `prev0`, returning
    * the final (reached, prev). WHY the (reached, prev) pair is a
    * sufficient compact prefix for SETTLED events (ts below the current
    * watermark — every event absorbed later is ≥ the watermark, because
    * the late filter drops the rest): t_j values established by the
    * settled-only fold are FINAL — a later arrival has a larger ts than
    * every settled candidate, so it can never lower an established
    * stage minimum; and a settled event at a stage the settled chain
    * did NOT reach can never qualify later, because the chain's prev at
    * that stage will be ≥ the watermark > its ts, failing the strict
    * `ts > prev`. So folding settled events here and keeping only the
    * unsettled tail computes exactly the finalize-over-everything
    * answer (StreamingSpec pins it against the buffer-all form). */
  private[graft] def funnelChainFold(buf: List[(Long, Int)], nStages: Int,
                                     startStage: Long, prev0: Long)
      : (Long, Long) = {
    var prev = prev0
    var reached = startStage
    var k = startStage.toInt
    var open = true
    while (open && k < nStages) {
      val cands = buf.collect {
        case (us, c) if c == k && us > prev => us }
      if (cands.isEmpty) open = false
      else { prev = cands.min; reached = k + 1 }
      k += 1
    }
    (reached, prev)
  }

  /** Timeline trigram assembly over buffered (epochUs, event_id,
    * event_type) facts: sort by the (ts, event_id) total order, slide a
    * width-3 window over the type sequence. */
  private[graft] def pathTrigrams(buf: List[(Long, Long, String)])
      : Iterator[(String, String, String)] =
    pathSettle(Nil, buf)._1

  /** One SETTLE step of the path state machine: the trigrams of
    * `boundary ++ sorted(buf)` and the new boundary (its last ≤ 2
    * types). `boundary` is the ≤ 2-element type suffix of the
    * already-emitted (settled) timeline prefix, `buf` the events settled
    * now. Sound because settled events (ts below the watermark) sort
    * strictly before every event absorbed later (late rows are dropped,
    * so later ts ≥ watermark > settled ts): the timeline is
    * frozen-prefix ++ sorted(buf), and every width-3 window not yet
    * emitted contains ≥ 1 element beyond the prefix — i.e. it starts
    * within the last 2 prefix elements or later, exactly what
    * `boundary` preserves. */
  private[graft] def pathSettle(boundary: List[String],
                                buf: List[(Long, Long, String)])
      : (Iterator[(String, String, String)], List[String]) = {
    val seq = boundary ++ buf.sortBy(e => (e._1, e._2)).map(_._3)
    val trigrams =
      if (seq.lengthCompare(3) < 0) Iterator.empty
      else seq.sliding(3).map(s => (s(0), s(1), s(2)))
    (trigrams, seq.takeRight(2))
  }

  final case class TlEvent(tag: String, user_id: Long, ts: java.sql.Timestamp,
                           event_id: Long, event_type: String, value: Double)
  /** One key's state in [[userTimelineStream]]; a key uses only its
    * branch's fields.
    *
    * CHECKPOINT COMPATIBILITY (ADVICE r15): the round-15 settled-prefix
    * compaction ADDED the `fReached`/`fPrevUs`/`boundary` registers,
    * which changes the flatMapGroupsWithState state encoding — a
    * long-lived deployment restarting a pre-r15 streaming checkpoint
    * against this code fails Spark's state schema check and must
    * discard the checkpoint (re-ingest from the source's retained
    * offsets). The repo's gate runs use ephemeral checkpoints, so the
    * break is latent here; it is stated so an upgrade across this
    * change is planned as a state reset, not a rolling restart. */
  final case class TlState(evs: List[(Long, Long, String)],
                           sStart: Long, sEnd: Long, sN: Long, sTotal: Double,
                           lastUs: Long,
                           // settled-prefix compaction registers: the
                           // funnel's folded (reached, prev) and the
                           // path's ≤ 2-type boundary (evs then holds
                           // only the unsettled tail — whale-key bound)
                           fReached: Long, fPrevUs: Long,
                           boundary: List[String])
  final case class TlOut(tag: String, user_id: Long, l1: Long, l2: Long,
                         l3: Long, d1: Double, s1: String, s2: String,
                         s3: String)

  /** Consolidated per-user TIMELINE stream — the three keyed-state
    * analytics of the events feed (gap sessionization, funnel
    * attribution, path assembly) maintained by ONE flatMapGroupsWithState
    * pass keyed by (tag, user_id). Each key runs exactly one branch's
    * state machine ([[sessionAbsorb]], [[funnelChainFold]],
    * [[pathSettle]]), with its own event-time timeout — timers
    * are per key, so the three finalization disciplines coexist without
    * interference. A production events feed runs its per-user
    * analytics exactly this way: one shuffle by user, one state store,
    * N state machines — not N streaming queries each re-paying query
    * start + source + state-store floor (PERF.md's per-gate ledger; the
    * register streams' consolidation argument at the keyed tier).
    *
    * Output is the tagged union of the branch outputs (`sess`: session
    * rows in l1/l2=start/end ms, l3=n, d1=value sum; `funl`: reached
    * stage in l1; `path`: trigram in s1..s3). State per key is one
    * branch's buffer.
    *
    * Why the `funl` and `path` branches buffer events instead of
    * folding each arrival: the strict funnel min-chain (t_k = min ts of
    * stage k with ts > t_{k−1}) is NOT incrementally foldable under
    * out-of-order arrival — a late early-ts stage-0 event lowers t_1
    * and can re-qualify earlier stage-1 events, so keeping only
    * (t1..tk) is wrong; and trigrams depend on the (ts, event_id) TOTAL
    * ORDER of the timeline — a late event can land BETWEEN two
    * already-seen neighbors and change every trigram spanning the gap.
    * Both branches therefore buffer only the REORDERABLE events: each
    * batch, events below the watermark are settled (late rows are
    * dropped, so no later arrival sorts before them), the funnel folds
    * them into the compact (reached, prev) pair and the path emits
    * their trigrams keeping a 2-type boundary (proofs on
    * [[funnelChainFold]] and [[pathSettle]]). State per user is
    * the watermark-delay window's events plus two registers — bounded
    * for an always-active whale key too — and the event-time timer
    * finalizes the key once it goes quiet past `horizonMs`. */
  def userTimelineStream(ds: Dataset[TlEvent], stages: Seq[String],
                         gapMs: Long, horizonMs: Long, watermarkDelay: String)
                        (implicit spark: SparkSession): Dataset[TlOut] = {
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    def sessOut(uid: Long, s: SessionAgg): TlOut =
      TlOut("sess", uid, s.start, s.end, s.n, s.total, null, null, null)

    def update(key: (String, Long), events: Iterator[TlEvent],
               state: GroupState[TlState]): Iterator[TlOut] = {
      val (tag, uid) = key
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        tag match {
          case "sess" =>
            Iterator.single(sessOut(uid,
              SessionAgg(st.sStart, st.sEnd, st.sN, st.sTotal)))
          case "funl" =>
            Iterator.single(TlOut("funl", uid,
              funnelChainFold(st.evs.map(e => (e._1, e._2.toInt)),
                stages.length, st.fReached, st.fPrevUs)._1,
              0L, 0L, 0.0, null, null, null))
          case _ =>
            pathSettle(st.boundary, st.evs)._1.map { case (a, b, c) =>
              TlOut("path", uid, 0L, 0L, 0L, 0.0, a, b, c) }
        }
      } else tag match {
        case "sess" =>
          val open0 = state.getOption.map(s =>
            SessionAgg(s.sStart, s.sEnd, s.sN, s.sTotal))
          val (closed, open) = sessionAbsorb(open0,
            events.map(e => (e.ts.getTime, e.value)).toSeq, gapMs)
          open.foreach { s =>
            state.update(TlState(Nil, s.start, s.end, s.n, s.total, 0L,
                                 0L, Long.MinValue, Nil))
            state.setTimeoutTimestamp(s.end + gapMs)
          }
          closed.iterator.map(sessOut(uid, _))
        case "funl" =>
          val prev = state.getOption.getOrElse(
            TlState(Nil, 0L, 0L, 0L, 0.0, Long.MinValue,
                    0L, Long.MinValue, Nil))
          var evs = prev.evs
          var last = prev.lastUs
          events.foreach { e =>
            val us = micros(e.ts)
            stageIdx.get(e.event_type).foreach(c => evs = (us, c.toLong, "") :: evs)
            last = math.max(last, us)
          }
          // fold the settled prefix into (reached, prev); buffer the tail
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (settled, tail) = evs.partition(_._1 < wmUs)
          val (r2, p2) =
            if (settled.isEmpty) (prev.fReached, prev.fPrevUs)
            else funnelChainFold(settled.map(e => (e._1, e._2.toInt)),
                                 stages.length, prev.fReached, prev.fPrevUs)
          state.update(TlState(tail, 0L, 0L, 0L, 0.0, last, r2, p2, Nil))
          state.setTimeoutTimestamp(last / 1000 + horizonMs)
          Iterator.empty
        case _ =>
          val prev = state.getOption.getOrElse(
            TlState(Nil, 0L, 0L, 0L, 0.0, Long.MinValue,
                    0L, Long.MinValue, Nil))
          var evs = prev.evs
          var last = prev.lastUs
          events.foreach { e =>
            val us = micros(e.ts)
            evs = (us, e.event_id, e.event_type) :: evs
            last = math.max(last, us)
          }
          // emit the settled prefix's trigrams now; buffer the tail
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (settled, tail) = evs.partition(_._1 < wmUs)
          val (trigrams, boundary) = pathSettle(prev.boundary, settled)
          state.update(TlState(tail, 0L, 0L, 0L, 0.0, last,
                               0L, Long.MinValue, boundary))
          state.setTimeoutTimestamp(last / 1000 + horizonMs)
          trigrams.map { case (a, b, c) =>
            TlOut("path", uid, 0L, 0L, 0L, 0.0, a, b, c) }
      }
    }

    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.tag, e.user_id))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  final case class QuotaDoc(key: String, doc_id: Long, ts: java.sql.Timestamp)

  /** Per-(key, window) admission counter for [[quotaPerKeyStream]]
    * (transformWithState): state is ONE long per open (key, window) —
    * admitted-so-far — GC'd by an event-time timer once the watermark
    * passes window end + delay (no more in-watermark arrivals can touch
    * the window). Within a micro-batch arrivals are admitted in event-
    * time order (ties: doc_id) so a batch's admissions are deterministic;
    * across batches, admission is arrival order — the streaming quota
    * semantic (a batch replay of the same data admits the same rows).
    */
  private final class QuotaProcessor(cap: Int, windowMs: Long, delayMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(String, Long), QuotaDoc, QuotaDoc] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var admitted: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long](
        "admitted", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (String, Long), in: Iterator[QuotaDoc],
                                 timers: TimerValues): Iterator[QuotaDoc] = {
      val fresh = !admitted.exists()
      var c = if (fresh) 0L else admitted.get()
      if (fresh)
        // one timer per (key, window), armed on first touch: fire when
        // the watermark is past every possible in-watermark arrival
        getHandle.registerTimer(key._2 * windowMs + windowMs + 2 * delayMs)
      val out = Seq.newBuilder[QuotaDoc]
      in.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
        if (c < cap) { out += d; c += 1 }
      }
      admitted.update(c)
      out.result().iterator
    }

    override def handleExpiredTimer(key: (String, Long), timers: TimerValues,
        info: streaming.ExpiredTimerInfo): Iterator[QuotaDoc] = {
      admitted.clear()
      Iterator.empty
    }
  }

  /** Streaming QUOTA CAP — the streaming twin of the batch domain-mix /
    * per-source sampling operators (q94/q92): admit at most `cap` rows
    * per (key, tumbling event-time window), dropping the overflow. The
    * shape of every per-source rate limiter in a live ingest pipeline
    * (cap a crawl source's contribution per hour, bound a tenant's
    * share per window).
    *
    * State per open (key, window) is ONE counter, event-time-GC'd; with
    * K active keys and W open windows the store holds K·W longs — no
    * row payloads, no growth with traffic. Emitted rows keep their own
    * event time (>= watermark by construction), so downstream stateful
    * stages remain legal.
    */
  def quotaPerKeyStream(df: DataFrame, tsCol: String, delay: String,
                        windowMs: Long, keyCol: String,
                        idCol: String, cap: Int)
                       (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(keyCol).cast("string").as("key"),
              col(idCol).cast("long").as("doc_id"),
              col(tsCol).as("ts"))
      .withWatermark("ts", delay)
      .as[QuotaDoc]
      .groupByKey(d => (d.key, d.ts.getTime / windowMs))
      .transformWithState(new QuotaProcessor(cap, windowMs, delayMillis(delay)),
        "ts", OutputMode.Append())
      .toDF()
  }
}
