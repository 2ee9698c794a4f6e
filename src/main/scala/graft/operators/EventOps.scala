package graft.operators

import graft.{QueryPack, Tables}
import graft.streaming.KafkaEtlPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table — the batch-verifiable
  * form of the reference's ingest dataflow plus the event-time semantics
  * the reference lacks.
  *
  * Reference mapping (SURVEY.md §2):
  *  - q20_ingest_bucket ≙ rows 2/4/6: the per-record projection and the
  *    `<topic>/<yyyy-MM-dd/HH>` path bucketing of `ETLTask.getPath`
  *    (reference `ETLTask.java:213-219`), computed declaratively. The
  *    reference buckets by *processing* time (`ETLTask.java:164-167`); we
  *    bucket by *event* time — the semantic upgrade called out in §1.1.
  *  - q21_event_window ≙ row 5 upgraded: tumbling window on event time
  *    instead of wall-clock file rolling.
  *  - q22/q23 ≙ row 11 [extension]: exact dedup with deterministic
  *    survivor (groupBy + min — the only dedup whose output is stable
  *    under re-partitioning, unlike dropDuplicates' arbitrary row pick).
  *  - q24_sessionize: gap-based session windows via lag + running sum —
  *    the batch equivalent of streaming session windows.
  *
  * Scale notes: every query is a single shuffle on its natural key
  * (hour×type for q21, content-hash for q22, user for q24 — user_id is
  * the partition key a 100 TB event log would already be bucketed by);
  * aggregations are partial-agg friendly; no driver-side collection.
  */
object EventOps extends QueryPack {

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  // Reference-parity ingest projection: route key (event_type ≙ topic) +
  // time-bucket columns, exactly the columns the partitioned sink writes.
  private def q20IngestBucket(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        col("event_type").as("topic"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        date_format(col("ts"), "HH").as("hour"),
        col("user_id"),
        round(col("value"), 2).as("value"))
      .orderBy("event_id")

  // Tumbling 1-hour event-time window aggregation (window() aligns to the
  // epoch, so it equals date_trunc('hour') for hour-width windows).
  private def q21EventWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), tsFmt).as("window_start"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  // Exact content dedup over documents: hash-groupBy on md5(text), keep the
  // smallest doc_id. One shuffle keyed by the hash — at 100 TB this is the
  // canonical "exact dedup" plan (no sort, no window, partial agg applies).
  private def q22DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("doc_id")

  // Keep-first dedup over events: deterministic dropDuplicates(user, type)
  // — survivor is the earliest event, expressed as an aggregate so the
  // result is stable under any partitioning.
  private def q23DedupFirst(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(date_format(min("ts"), tsFmt).as("first_ts"),
           count(lit(1)).as("n_dups"))
      .orderBy("user_id", "event_type")

  // Gap-based sessionization (1-hour inactivity gap): lag → new-session
  // flag → running sum = session id → per-session aggregate. Two window
  // passes over the same (user_id, ts) partitioning, then one aggregation —
  // Catalyst reuses the single sort+shuffle for both windows.
  private def q24Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = 3600L * 1000000L
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           date_format(min("ts"), tsFmt).as("session_start"),
           date_format(max("ts"), tsFmt).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  // Latest-event-per-key (CDC "current state" materialization): one
  // partial-aggregatable max over (ts, event_id, value) structs — struct
  // ordering is lexicographic, so this is argmax by (ts, event_id) with a
  // unique tie-break. Deliberately NOT a row_number window: the agg form
  // combines map-side, so the shuffle carries one row per live key
  // instead of the full history.
  private def q72LatestPerKey(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("event_type"),
              col("last.event_id").as("latest_event_id"),
              date_format(col("last.ts"), tsFmt).as("latest_ts"),
              round(col("last.value"), 2).as("value"))
      .orderBy("user_id", "event_type")

  // Semi-structured payload access: events.props is a JSON string (the
  // reference carries payloads opaquely; here we project into them).
  private def q25JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
           min("k").as("k_min"), max("k").as("k_max"))
      .orderBy("event_type")

  /** q144: SCD TYPE-2 INTERVAL CONSTRUCTION — the CDC-history
    * complement of q72's latest-state argmax: every change event
    * becomes a validity interval [valid_from, valid_to) per dimension
    * key (user_id, event_type), closed by the NEXT change (`lead`) and
    * left open (is_current, sentinel end date) for the live row — the
    * standard type-2 slowly-changing-dimension build every warehouse
    * runs over change logs. Plan: ONE window shuffle keyed by the
    * dimension key — the partitioning a 100 TB CDC log is already
    * bucketed by — with a frame-free lead(1); ordering (ts, event_id)
    * is a total order so the chain is deterministic. No self-join, no
    * second shuffle: interval construction is exactly one pass. */
  private def q144Scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value"))
      .withColumn("vt", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("event_id"),
              date_format(col("ts"), tsFmt).as("valid_from"),
              coalesce(date_format(col("vt"), tsFmt),
                       lit("9999-12-31 00:00:00")).as("valid_to"),
              when(col("vt").isNull, 1L).otherwise(0L).as("is_current"),
              round(col("value"), 2).as("value"))
      .orderBy("user_id", "event_type", "event_id")
  }

  /** q148: CDC STATE DIFF — the incremental-refresh audit between two
    * points of the change log: latest state per (user_id, event_type)
    * key at the log's temporal midpoint vs at the end, classified per
    * key as `added` (key did not exist at T_mid), `changed` (a newer
    * event superseded the T_mid state) or `unchanged`, rolled up to
    * counts per event type. This is the report that sizes an
    * incremental pipeline run — how much state actually moved since
    * the last snapshot — and decides merge-vs-rebuild. Plan: the time
    * midpoint is a lazy one-row min/max aggregate broadcast (integer
    * microsecond arithmetic); both states are q72's partial-agg argmax
    * (shuffle carries one row per live key, not history); the diff is
    * one key-grain left join (final ⊇ early by construction, so no
    * full-outer pass) and the rollup a groups-sized count. */
  private def q148StateDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), expr("unix_micros(ts)").as("us"))
    val mid = ev.agg(((min("us") + max("us")) / lit(2)).cast("long").as("mid"))
    def latest(df: DataFrame) = df
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("event_type"),
              col("last.event_id").as("eid"))
    val early = latest(ev.crossJoin(broadcast(mid))
        .filter(col("us") <= col("mid")))
      .withColumnRenamed("eid", "eid_early")
    latest(ev).join(early, Seq("user_id", "event_type"), "left")
      .withColumn("status",
        when(col("eid_early").isNull, "added")
          .when(col("eid_early") =!= col("eid"), "changed")
          .otherwise(lit("unchanged")))
      .groupBy("event_type", "status").agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type", "status")
  }

  /** q152: INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view
    * merge pattern: yesterday's aggregate (base = rows up to the log's
    * temporal midpoint, standing in for the persisted snapshot) merged
    * with the fresh delta's aggregate by KEYED ADDITION of partial
    * states, instead of rescanning history — at 100 TB the base side is
    * a read of the stored (key, count, sum) rows and only the delta
    * scans, which is the entire point of maintaining the view. Count
    * and sum merge exactly (min/max do too; avg rides (sum, n);
    * distinct needs q28's sketches); the DuckDB oracle is the FULL
    * recompute over all rows, so the hash gate certifies
    * merge ≡ recompute cross-engine. Plan: two groups-sized aggregates
    * and one key-grain full-outer join; the float sums land on the
    * repo's round(·, 2) aggregate contract (q21's precedent on the
    * same column). */
  private def q152IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"),
      expr("unix_micros(ts)").as("us"))
    val mid = ev.agg(((min("us") + max("us")) / lit(2)).cast("long").as("mid"))
    def partialAgg(df: DataFrame, p: String) = df.groupBy("event_type", "day")
      .agg(count(lit(1)).as(s"${p}_n"), sum("value").as(s"${p}_s"))
    val base = partialAgg(
      ev.crossJoin(broadcast(mid)).filter(col("us") <= col("mid")), "b")
    val delta = partialAgg(
      ev.crossJoin(broadcast(mid)).filter(col("us") > col("mid")), "d")
    base.join(delta, Seq("event_type", "day"), "full_outer")
      .select(col("event_type"), col("day"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_events"),
        round(coalesce(col("b_s"), lit(0.0)) + coalesce(col("d_s"), lit(0.0)),
              2).as("total_value"))
      .orderBy("event_type", "day")
  }

  /** q173's topic pair — the reference's headline mode is N topics in
    * one consumer (`README.md:12`, `ETLTask.java:236`); two suffice to
    * certify the per-topic fan-out. */
  private val q173Topics = Seq("click", "view")


  /** MULTI-TOPIC INGEST PARITY — the reference's headline deployment
    * shape (N topics consumed by one job, each landing in its own
    * partitioned output tree) as a batch-equivalent gate, mirroring
    * [[graft.streaming.KafkaEtlPipeline]]'s fan-out exactly: one
    * partitioned Snappy parquet write per topic under `$out/<topic>/`
    * with event-time `dt`/`hour` Hive partitions stamped by the
    * pipeline's own `withPartitions` at its default `date.format`. The
    * gate then reads the WRITTEN dataset back — `dt`/`hour` come from the
    * DIRECTORY NAMES (`Ingest.readLanded`: raw strings), `topic`
    * from the per-topic root — so a row misbucketed to the wrong topic
    * dir or time partition surfaces as a value mismatch, and a lost or
    * duplicated row as a hash/row-count mismatch. Oracle: the q20
    * projection restricted to the two topics. Scale shape: each topic's
    * write is one partitioned append (executors write their partitions
    * in parallel — the reference does this single-threaded per
    * partition); the read-back is the gate's own verification scan. */
  private def q173MultiTopicIngest(s: SparkSession, d: String): DataFrame = {
    val out = graft.SessionMemo.getOrElseUpdate[String](s, "events.multiTopic", d)( {
      val root = graft.WorkDirs.artifactDir(s, "multitopic", d)
      val fmt = KafkaEtlPipeline.DefaultDateFormat
      q173Topics.foreach { t =>
        KafkaEtlPipeline.withPartitions(
            Tables.events(s, d).filter(col("event_type") === t)
              .select(col("event_id"), col("user_id"), col("ts"), col("value")),
            col("ts"), fmt)
          .write.mode("overwrite")
          .partitionBy(KafkaEtlPipeline.partitionSpec(fmt).map(_._1): _*)
          .option("compression", "snappy").parquet(s"$root/$t")
      }
      root
    })
    q173Topics.map(t => Ingest.readLanded(s, s"$out/$t").withColumn("topic", lit(t)))
      .reduce(_.unionByName(_))
      .select(col("event_id"), col("topic"), col("dt"), col("hour"),
              col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_id")
  }

  /** EVENT CONVERSION FUNNEL — how many users complete the ordered
    * journey view → signup → purchase, each stage strictly AFTER the
    * previous (classic product-analytics conversion over the events the
    * reference lands in parquet). Stage timestamps are defined by pure
    * min-semantics so both engines agree without an order-by tiebreak:
    * t1 = min view ts; t2 = min signup ts strictly > t1; t3 = min
    * purchase ts strictly > t2 — ties at the exact boundary are
    * excluded by the strict >, so collect_list's nondeterministic order
    * is irrelevant (every per-user derivation is a min over a filter).
    *
    * Scale shape: ONE shuffle (groupBy user_id), then the three stage
    * times fall out of native higher-order filter/transform/array_min
    * over the per-user array — codegen'd, no UDF, no window sort, and
    * the final funnel is a single count-aggregate producing three rows.
    * Per-user arrays are bounded by individual activity; a whale-user
    * corpus would swap the collect for the chained conditional-min-agg
    * form (three aggs re-using one hash partitioning on user_id) at the
    * cost of two more passes — at normal per-user cardinality the
    * one-pass array form wins. */
  private def q176Funnel(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
      .groupBy("user_id")
      .agg(collect_list(struct(col("ts"), col("event_type"))).as("ev"))
      .withColumn("t1", expr(
        "array_min(transform(filter(ev, e -> e.event_type = 'view'), e -> e.ts))"))
      .withColumn("t2", expr(
        """IF(t1 IS NULL, NULL, array_min(transform(
             filter(ev, e -> e.event_type = 'signup' AND e.ts > t1), e -> e.ts)))"""))
      .withColumn("t3", expr(
        """IF(t2 IS NULL, NULL, array_min(transform(
             filter(ev, e -> e.event_type = 'purchase' AND e.ts > t2), e -> e.ts)))"""))
    funnelRows(
      per.agg(count(lit(1)).as("n0"), count(col("t1")).as("n1"),
              count(col("t2")).as("n2"), count(col("t3")).as("n3")))
  }

  /** One-row (n0, n1, n2, n3) stage counts → the 3-row funnel table
    * (stage_idx, stage, users, conv with the floor-to-3dp explicit-
    * double ratio). Shared by batch q176 and the q177 streaming gate so
    * both serve the identical oracle. */
  private[operators] def funnelRows(counts: DataFrame): DataFrame =
    counts.select(explode(expr(
        """array(
             named_struct('stage_idx', CAST(1 AS BIGINT), 'stage', 'view',
               'users', CAST(n1 AS BIGINT),
               'conv', IF(n0 = 0, CAST(0 AS DOUBLE),
                          floor(cast(n1 as double) * 1000 / n0) / 1000)),
             named_struct('stage_idx', CAST(2 AS BIGINT), 'stage', 'signup',
               'users', CAST(n2 AS BIGINT),
               'conv', IF(n1 = 0, CAST(0 AS DOUBLE),
                          floor(cast(n2 as double) * 1000 / n1) / 1000)),
             named_struct('stage_idx', CAST(3 AS BIGINT), 'stage', 'purchase',
               'users', CAST(n3 AS BIGINT),
               'conv', IF(n2 = 0, CAST(0 AS DOUBLE),
                          floor(cast(n3 as double) * 1000 / n2) / 1000)))""")).as("r"))
      .select(col("r.stage_idx").as("stage_idx"), col("r.stage").as("stage"),
              col("r.users").as("users"), col("r.conv").as("conv"))
      .orderBy("stage_idx")

  /** EVENT TRANSITION MATRIX — the first-order Markov view of user
    * behavior (which event follows which, and with what probability):
    * the product-analytics companion to q176's fixed funnel, covering
    * ALL paths instead of one declared journey. Adjacency is defined by
    * the deterministic (ts, event_id) total order per user, so the
    * sorted-array form and a lead() window agree exactly; probabilities
    * are floored explicit-double ratios of integer counts. Plan shape:
    * ONE user_id shuffle (the q176 collect pattern — per-user arrays
    * bounded by individual activity, no corpus-wide window sort), then
    * a transition-grain count aggregate and a broadcast join of the
    * per-source totals (≤ |event types| rows). */
  private def q190Transitions(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(expr("array_sort(collect_list(struct(ts, event_id, event_type)))")
        .as("ev"))
      .filter(size(col("ev")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ev) - 1),
             i -> struct(element_at(ev, i).event_type as cur,
                         element_at(ev, i + 1).event_type as nxt))""")).as("t"))
      .select(col("t.cur").as("cur"), col("t.nxt").as("nxt"))
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("cur").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), "cur")
      // explicit double cast: a bare 1000.0 literal is DECIMAL in Spark
      // SQL, and decimal division would ship a decimal column where the
      // oracle has a double
      .withColumn("p", expr("floor(cast(n as double) * 1000 / tot) / 1000"))
      .select("cur", "nxt", "n", "p")
      .orderBy("cur", "nxt")
  }

  /** EVENT-RATE ANOMALY DETECTION — the volume-monitoring twin of
    * q146's value outliers: per (event_type, hour) arrival counts
    * scored against that type's own hourly mean/std, flagging the
    * traffic spikes and drops an ingest pipeline alarms on (a crashed
    * producer reads as a z ≪ 0 hour, a replay storm as z ≫ 0). Exact
    * integer counts until the mean/std derivation (the q163 parity
    * shape: identical doubles from identical integers, sqrt is
    * correctly rounded); the flag comparison and the reported |z| run
    * on those identical doubles, floored to 1e-4. Two aggregations —
    * hour-grain counts, then type-grain stats broadcast back onto the
    * (types × hours)-sized count relation; the raw events shuffle
    * once. */
  private def q191RateAnomaly(s: SparkSession, d: String): DataFrame =
    scoreHourly(hourlyCounts(s, d), hourlyStats(s, d))

  /** Per-(event_type, epoch-hour) arrival counts of the batch table.
    *
    * POSITIVE-EPOCH ASSUMPTION (applies to every `unix_micros(ts) div N`
    * bucket in this file — here, q193's day buckets, q197's seconds):
    * Spark's `div` truncates toward zero while DuckDB's `//` floors, so
    * the two diverge for PRE-1970 timestamps (−1 µs lands in bucket 0
    * here, bucket −1 there). Event/ingest timestamps are wall-clock
    * capture times and cannot precede the epoch, so truncate ≡ floor on
    * this domain; a corpus with negative epochs would need the floor
    * form (`floor(unix_micros(ts) / 3.6e9)`) on both sides instead. */
  private def hourlyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
              expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))

  /** Per-type hourly mean/std baseline (the q163 parity shape) —
    * shared by batch q191 and the q194 streaming gate, where it plays
    * the trained-on-history baseline the live scorer broadcasts. */
  private[operators] def hourlyStats(s: SparkSession, d: String): DataFrame =
    hourlyCounts(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("k"), sum("c").as("sc"),
           sum(col("c") * col("c")).as("sq"))
      .select(col("event_type"),
        expr("cast(sc as double) / k").as("mu"),
        expr("""sqrt(greatest(cast(0 as double),
                 cast(sq as double) / k
                 - (cast(sc as double) / k) * (cast(sc as double) / k)))""")
          .as("sd"))

  /** The 2σ scoring shared by q191 and the q194 stream gate. */
  private[operators] def scoreHourly(counts: DataFrame,
                                     stats: DataFrame): DataFrame =
    counts.join(broadcast(stats), "event_type")
      .filter(col("sd") > 0 && abs(col("c") - col("mu")) > lit(2) * col("sd"))
      .select(col("event_type"), col("hr"), col("c"),
              expr("cast(floor(abs(c - mu) / sd * 1e4) as bigint)").as("z4"))
      .orderBy("event_type", "hr")

  /** CONVERSION-TIME DISTRIBUTION — how long the q176 journey takes for
    * the users who complete it: exact interpolated p25/p50/p90 of the
    * view→purchase delta in microseconds (integer inputs ⇒ the
    * percentile lerp is IEEE-exact cross-engine, q19's precedent). The
    * latency view that turns q176's "how many convert" into "how fast"
    * — the other axis every conversion dashboard plots. Same one-pass
    * per-user min-chain as q176, then one tiny percentile aggregate
    * over the converted users. */
  private def q192ConversionTime(s: SparkSession, d: String): DataFrame = {
    // LET-BOUND chain, not withColumn: projection collapse would inline
    // t1's tree into t2's and t2's into t3's, and a t3-filter would
    // duplicate the whole tree again across the Filter/Project boundary
    // (measured ~10× per-row work, 2.9 s → 0.3 s at sf0.1). let1 binds
    // each stage to a lambda variable, so every stage evaluates ONCE
    // per row inside one projection; count/percentile skip the nulls of
    // non-converted users, so no filter is needed at all.
    import graft.functions.TextExprs.let1
    val t1e =
      "array_min(transform(filter(ev, e -> e.event_type = 'view'), e -> e.ts))"
    val t2e =
      """IF(t1 IS NULL, NULL, array_min(transform(
           filter(ev, e -> e.event_type = 'signup' AND e.ts > t1), e -> e.ts)))"""
    val t3e =
      """IF(t2 IS NULL, NULL, array_min(transform(
           filter(ev, e -> e.event_type = 'purchase' AND e.ts > t2), e -> e.ts)))"""
    val delta = let1(t1e, "t1", let1(t2e, "t2", let1(t3e, "t3",
      "IF(t3 IS NULL, CAST(NULL AS BIGINT), unix_micros(t3) - unix_micros(t1))")))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
      .groupBy("user_id")
      .agg(collect_list(struct(col("ts"), col("event_type"))).as("ev"))
      .select(expr(delta).as("delta_us"))
      .agg(count(col("delta_us")).as("n_converted"),
           expr("percentile(delta_us, 0.25)").as("p25_us"),
           expr("percentile(delta_us, 0.5)").as("p50_us"),
           expr("percentile(delta_us, 0.9)").as("p90_us"))
  }

  /** RETENTION COHORT MATRIX — the classic product-analytics cohort
    * table: users grouped by first-seen day, each cohort's share still
    * active at day offset 0, 1, 2, … (the view that separates "we
    * acquire users" from "we keep them"). Integer day buckets and
    * distinct-user counts throughout; the retention share is one
    * floored explicit-double ratio. Plan shape: first-seen is a
    * user-keyed aggregate, the events join back on the SAME user key
    * (the hash partitioning is reusable), cells aggregate to a
    * (days × offsets)-bounded matrix, and cohort sizes broadcast back
    * onto it. */
  private def q193Retention(s: SparkSession, d: String): DataFrame = {
    val byDay = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val first = byDay.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = first.groupBy("cohort_day").agg(count(lit(1)).as("cohort_users"))
    byDay.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_d"))
      .agg(countDistinct("user_id").as("active"))
      .join(broadcast(sizes), "cohort_day")
      .withColumn("retention",
        expr("floor(cast(active as double) * 1000 / cohort_users) / 1000"))
      .select("cohort_day", "offset_d", "active", "cohort_users", "retention")
      .orderBy("cohort_day", "offset_d")
  }

  /** PER-GROUP OLS TREND — the least-squares slope of event value over
    * time, per event type: the metric-drift detector behind "are
    * purchase amounts creeping up / error rates trending down" alarms.
    * One aggregation per group collects the exact power sums (n, Σt,
    * Σv, Σtv, Σt²) over integer CENTS (q167's convention) and integer
    * seconds rebased to the corpus start (a lazy broadcast min keeps
    * Σtv ≈ 10¹⁵ comfortably inside exact-long range); the slope
    * (nΣtv − ΣtΣv)/(nΣt² − (Σt)²) then combines those exact integers
    * in ONE fixed-shape double expression — the final products round,
    * but identically on both engines, the q163 derivation discipline.
    * Partial aggregation carries five longs per group per task — the
    * textbook distributed-regression shape. */
  private def q197ValueTrend(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .crossJoin(broadcast(
        Tables.events(s, d)
          .agg(min(expr("unix_micros(ts) div 1000000")).as("t0"))))
      .select(col("event_type"),
              (expr("unix_micros(ts) div 1000000") - col("t0")).as("t"),
              expr("cast(floor(value * 100 + 0.5) as bigint)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("v").as("sv"),
           sum(col("t") * col("v")).as("stv"),
           sum(col("t") * col("t")).as("stt"))
      .select(col("event_type"), col("n"),
        expr("""CASE WHEN cast(n as double) * stt
                         - cast(st as double) * st = 0
                     THEN CAST(NULL AS BIGINT)
                     ELSE cast(floor(
                       (cast(n as double) * stv - cast(st as double) * sv)
                       / (cast(n as double) * stt - cast(st as double) * st)
                       * 1e9) as bigint) END""").as("slope_n9"))
      .orderBy("event_type")

  /** LOG-BINNED VALUE HISTOGRAM — the long-tail distribution report per
    * event type: counts and mass in power-of-two value bins (bin b
    * holds cents in [2^(b−1), 2^b)). The binning is EXACT integer
    * arithmetic with no `log2` in sight — the bin index is the length
    * of the integer's binary string, identical in both engines, where
    * floor(log2(x)) would ride each libm's last ulp. One partial-agg
    * groupBy; shares are floored explicit-double ratios of a broadcast
    * per-type total. */
  private def q198ValueHistogram(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.events(s, d)
      .select(col("event_type"),
              expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .filter(col("cents") >= 1)
      .groupBy(col("event_type"),
               expr("length(bin(cents))").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_total"))
    val totals = binned.groupBy("event_type").agg(sum("n").as("tot"))
    binned.join(broadcast(totals), "event_type")
      .withColumn("share", expr("floor(cast(n as double) * 1000 / tot) / 1000"))
      .select("event_type", "bin", "n", "cents_total", "share")
      .orderBy("event_type", "bin")
  }

  /** The q247 tail over a value-grain count relation (event_type,
    * cents, c) — shared with the streaming twin q248, whose complete-
    * mode sum registers ARE that relation. The exact k-th value falls
    * out of the same counts (min cents whose cumulative count reaches
    * k), value-identical to an explicit row_number over raw rows. */
  private[operators] def quantileFromCounts(counts: DataFrame): DataFrame = {
    // ONE value-domain-sized aggregation instead of the previous
    // nine-exchange bin/value double-cumsum plan (r16, guide §2.4): the
    // per-type (cents, c) register relation is value-domain-bounded (the
    // q215 argument), so the whole report folds over the per-type SORTED
    // register array in map work — running-count quantile, bin id, bin
    // bounds — and every output column is exact integer arithmetic,
    // identical to the old formulation: the first VALUE whose running
    // count reaches k lies in the first BIN whose bin-cumulative reaches
    // k (bin = binary-length is monotone in cents, and the bin-end row's
    // cumulative is the bin's total), so est-bin ≡ bin(exact_v). The
    // r16 A/B banked ~0.8 s/query across the three consumers
    // (q247/q262/q248's tail) at sf0.1; oracles unchanged.
    val arr = counts.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("cents"), col("c")))).as("arr"),
           sum("c").as("n"))
    arr
      .select(col("event_type"), col("n"), col("arr"),
              explode(expr("array(500L, 950L, 990L)")).as("p_mille"))
      .withColumn("k", expr("(p_mille * n + 999) div 1000"))
      // first cents whose running count reaches k — the fold freezes
      // once found; k ≤ n guarantees it fires
      .withColumn("exact_v", expr(
        """aggregate(arr,
             struct(cast(0 as bigint) as cum, cast(-1 as bigint) as v),
             (a, x) -> IF(a.v >= 0, a,
               struct(a.cum + x.c as cum,
                      IF(a.cum + x.c >= k, x.cents,
                         cast(-1 as bigint)) as v)),
             a -> a.v)"""))
      .withColumn("bin", expr("cast(length(bin(exact_v)) as bigint)"))
      .withColumn("binvals", expr(
        """transform(filter(arr,
             x -> length(bin(x.cents)) = length(bin(exact_v))),
           x -> x.cents)"""))
      .select(col("event_type"), col("p_mille"), col("n"), col("k"),
              col("bin"), expr("array_min(binvals)").as("v_lo"),
              expr("array_max(binvals)").as("v_hi"), col("exact_v"),
              expr("""CAST(CASE WHEN exact_v BETWEEN array_min(binvals)
                                                 AND array_max(binvals)
                          THEN 1 ELSE 0 END AS BIGINT)""").as("in_bound"))
      .orderBy("event_type", "p_mille")
  }

  /** q296: CONTINUOUS-BATCHING QUEUE DEPTH — the serving-side admission
    * analytics q294's spec-decode gate left on the table (VERDICT r14
    * task 5): a continuous-batching server admits up to S requests per
    * scheduler tick and queues the rest, so the per-tick queue depth is
    * the Lindley recursion q_t = max(0, q_{t−1} + a_t − S). The
    * recursion LOOKS sequential, but has the classic closed form
    * q_t = cum_t − min(0, min_{g≤t} cum_g) over the running sum
    * cum_t = Σ(a_i − S) — two windows over the TICK GRID, so the plan
    * is: one corpus-sized partial-agg pass (arrivals per hour), then
    * everything lives on the time-domain-sized grid (720 rows for the
    * 30-day fixture; hours-sized at ANY corpus scale — the q215
    * value-domain argument). Missing hours matter (the queue DRAINS
    * through quiet ticks), hence the dense sequence() grid, not the
    * observed hours. S is the ceil-average arrival rate — the critical
    * operating point where queueing is most informative (util ≈ 1,
    * depth oscillates but returns to 0): S = ⌈N / ticks⌉, integer,
    * derivable by both engines. Integer arithmetic end-to-end:
    * arrivals/depth/admitted are exact counts, utilization a floored
    * ppm division. admitted_t = q_{t−1} + a_t − q_t (conservation). */
  private def q296QueueDepth(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("h"))
    val arr = ev.groupBy("h").agg(count(lit(1)).as("arrivals"))
    val grid = ev.agg(min("h").as("h0"), max("h").as("h1"),
                      count(lit(1)).as("n"))
      .select(explode(expr("sequence(h0, h1)")).as("h"),
              expr("(n + (h1 - h0 + 1) - 1) div (h1 - h0 + 1)").as("slots"))
    val run = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lagW = Window.orderBy("h")
    grid.join(arr, Seq("h"), "left")
      .select(col("h"), col("slots"),
              coalesce(col("arrivals"), lit(0L)).as("arrivals"))
      .withColumn("cum", sum(col("arrivals") - col("slots")).over(run))
      .withColumn("queue_depth",
        col("cum") - least(lit(0L), min("cum").over(run)))
      .withColumn("admitted",
        coalesce(lag("queue_depth", 1).over(lagW), lit(0L))
          + col("arrivals") - col("queue_depth"))
      .select(
        // tz-INDEPENDENT tick render (ADVICE r15): date_format on a
        // TIMESTAMP reads spark.sql.session.timeZone, so the oracle
        // equivalence would silently depend on every entrypoint forcing
        // UTC. DATE-typed arithmetic is tz-free: epoch-day + hour-of-day
        // from the integer hour directly (h ≥ 0 for the fixture epochs).
        expr("""concat(cast(date_add(date'1970-01-01',
                                     cast(h div 24 as int)) as string),
                       ' ', lpad(cast(h % 24 as string), 2, '0'),
                       ':00:00')""").as("tick"),
        col("arrivals"), col("queue_depth"), col("admitted"),
        expr("admitted * 1000000 div slots").as("util_ppm"))
      .orderBy("tick")
  }

  /** PEAK CONCURRENCY — the sweep-line interval-overlap aggregate the
    * interval tier (q27 as-of, q63 range join, q144 SCD2, q219/q227
    * interval joins) was still missing: how many sessions are open AT
    * ONCE, the capacity-planning number behind provisioning and the
    * one interval JOINS cannot express (overlap is an instant-grain
    * property, not a pair property). Sessions are q24's 1-hour-gap
    * intervals; each is CLIPPED to the days it touches, so the sweep
    * partitions by day — the classic +1/−1 boundary-point trick with a
    * day-keyed running sum instead of one global sort (at 100 TB the
    * day partitions sweep independently; a finer grain would carry
    * boundary counts the same way). Endpoint ties order (t, delta)
    * with releases before claims; among equal (t, delta) rows the
    * prefix MAX is tie-order invariant (each row moves the sum by the
    * same delta), so the peak is deterministic cross-engine without a
    * third tiebreak column. */
  private def q253PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val gapUs = 3600L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sess = Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag("us", 1).over(byUser))
      .withColumn("ns",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1)
          .otherwise(0))
      .withColumn("sid",
        sum("ns").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("st"), max("us").as("en"))
    peakConcurrencyFromSessions(sess)
  }

  /** The q253 sweep over any (st, en) µs interval relation — factored
    * so the spec can plant overlap fixtures with a known peak. */
  private[graft] def peakConcurrencyFromSessions(sess: DataFrame): DataFrame = {
    val D = 86400000000L
    val seg = sess.select(col("st"), col("en"),
      explode(expr(s"sequence(st div $D, en div $D)")).as("day_idx"))
    val pts = seg.select(col("day_idx"), explode(expr(
        s"""array(named_struct('t', greatest(st, day_idx * $D),
                               'delta', 1),
                  named_struct('t', least(en, (day_idx + 1) * $D - 1) + 1,
                               'delta', -1))""")).as("p"))
      .select(col("day_idx"), col("p.t").as("t"), col("p.delta").as("delta"))
    val run = pts.withColumn("c",
      sum("delta").over(Window.partitionBy("day_idx")
        .orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    // ONE aggregation over the swept points (r17, guide §2.4): every
    // day-clipped segment contributes exactly one +1 point inside its
    // day, so n_sessions ≡ count of delta = +1 rows — the former
    // seg.groupBy + join re-executed the whole sessionize subtree a
    // second time (the session window exchange is below two different
    // operator chains, so nothing reuses) and paid a join for a value
    // the sweep already carries.
    run.groupBy("day_idx")
      .agg(sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_sessions"),
           max("c").as("peak"))
      .select("day_idx", "n_sessions", "peak")
      .orderBy("day_idx")
  }

  /** MULTI-TOUCH ATTRIBUTION — q219/q227 find the click→purchase
    * pairs; this SPLITS each conversion's credit across every click
    * that touched it (linear attribution, the default multi-touch
    * model), which single-touch last-click reporting silently
    * misstates. Credit is integer mille with the floor remainder
    * handed to the EARLIEST touches — rank i (by click time, id
    * tiebreak) of k receives 1000 div k + (i < 1000 mod k ? 1 : 0) —
    * so each converted purchase's credit sums to exactly 1000 and the
    * whole report is partition-order-free integer arithmetic (a
    * double 1/k per touch would sum in shuffle order). Day-grain
    * rollup of credited clicks, touched purchases and credit mass;
    * windows are purchase-grain (k is small by the 2-hour horizon). */
  private def q258MultiTouch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
    val touches = clicks.join(purchases,
      col("cu") === col("pu") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
    val w = Window.partitionBy("purchase_id")
    val wr = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    touches
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("i", row_number().over(wr) - 1)
      .withColumn("credit",
        expr("1000 div k + CASE WHEN i < 1000 % k THEN 1 ELSE 0 END"))
      .groupBy(expr("unix_micros(c_ts) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("credited_clicks"),
           countDistinct(col("purchase_id")).as("purchases_touched"),
           sum("credit").as("credit_mille"))
      .orderBy("day_idx")
  }

  /** A/B TEST SIGNIFICANCE — the two-proportion z-test every
    * experimentation pipeline runs on its conversion metric: users
    * split into deterministic cohorts (id parity — the hash-bucket
    * assignment an experiment service makes), per-cohort conversion =
    * share of users with ≥ 1 purchase, and the pooled z-statistic
    * decides whether the observed lift is noise. Everything up to the
    * final statistic is exact integer counts from one user-grain
    * aggregate; the z expression is a FIXED-ORDER chain of double
    * ops whose divisions and the sqrt are single-rounded IEEE
    * (sqrt is correctly rounded — unlike log it is parity-safe), so
    * both engines produce the bit-identical statistic. */
  private def q265AbTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("np"),
           sum(when(col("event_type") === "view", 1L).otherwise(0L))
             .as("nv"))
      .select(col("user_id"),
              when(col("np") > col("nv"), 1L).otherwise(0L).as("conv"))
      .withColumn("cohort", pmod(col("user_id"), lit(2)))
    users.agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a",
        expr("floor(cast(conv_a as double) * 1000 / n_a) / 1000"))
      .withColumn("rate_b",
        expr("floor(cast(conv_b as double) * 1000 / n_b) / 1000"))
      .withColumn("z", expr(
        """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
           THEN CAST(0 AS DOUBLE) ELSE floor(
             ((cast(conv_a as double) / n_a) - (cast(conv_b as double) / n_b))
             / sqrt(((cast(conv_a + conv_b as double) / (n_a + n_b))
                     * (1.0e0 - cast(conv_a + conv_b as double) / (n_a + n_b)))
                    * ((1.0e0 / n_a) + (1.0e0 / n_b)))
             * 1000000) / 1000000 END"""))
      .withColumn("significant", expr(
        """CAST(CASE WHEN abs(z) >= 1.96e0 THEN 1 ELSE 0 END AS BIGINT)"""))
      .select("n_a", "conv_a", "n_b", "conv_b", "rate_a", "rate_b",
              "z", "significant")
  }

  /** CUPED VARIANCE REDUCTION — the companion every serious A/B
    * platform runs beside q265's z-test: use each user's PRE-period
    * activity as a control covariate so the post-period metric's
    * variance shrinks by ρ² (Deng et al., WSDM'13), which is weeks of
    * experiment runtime saved. The corpus time range splits at its
    * broadcast midpoint; per user X = pre-period purchases, Y = post-
    * period purchases; θ = cov(X,Y)/var(X) and the adjusted variance
    * var(Y) − cov²/var(X) both come from ONE aggregate of exact
    * integer power sums (n, Σx, Σy, Σx², Σy², Σxy — the q197 OLS
    * machinery), so everything before the final fixed-order double
    * chain is partition-order-free. The gate carries the raw sums
    * beside the statistics: the arithmetic is certified, not just the
    * plumbing. */
  private def q266Cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"))
    val mid = ev.agg(min("us").as("mn"), max("us").as("mx"))
      .selectExpr("(mn + mx) div 2 AS mid")
    val xy = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase" && col("us") < col("mid"),
                    1L).otherwise(0L)).as("x"),
           sum(when(col("event_type") === "purchase" && col("us") >= col("mid"),
                    1L).otherwise(0L)).as("y"))
    xy.agg(count(lit(1)).as("n_users"),
           sum("x").as("sx"), sum("y").as("sy"),
           sum(expr("x * x")).as("sxx"),
           sum(expr("y * y")).as("syy"),
           sum(expr("x * y")).as("sxy"))
      .withColumn("theta", expr(
        """CASE WHEN n_users * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
           ELSE floor(cast(n_users * sxy - sx * sy as double)
                      / cast(n_users * sxx - sx * sx as double)
                      * 1000000) / 1000000 END"""))
      .withColumn("var_y", expr(
        """floor(cast(n_users * syy - sy * sy as double)
                 / (cast(n_users as double) * n_users) * 1000000)
           / 1000000"""))
      .withColumn("var_y_adj", expr(
        """CASE WHEN n_users * sxx - sx * sx = 0
           THEN var_y
           ELSE floor((cast(n_users * syy - sy * sy as double)
                       / (cast(n_users as double) * n_users)
                       - (cast(n_users * sxy - sx * sy as double)
                          * (n_users * sxy - sx * sy))
                         / ((cast(n_users as double) * n_users)
                            * (n_users * sxx - sx * sx)))
                      * 1000000) / 1000000 END"""))
      .withColumn("var_cut_share", expr(
        """CASE WHEN var_y = 0 THEN CAST(0 AS DOUBLE)
           ELSE floor((var_y - var_y_adj) * 1000 / var_y) / 1000 END"""))
      .select("n_users", "sx", "sy", "sxx", "syy", "sxy",
              "theta", "var_y", "var_y_adj", "var_cut_share")
  }

  /** WATERMARK SIZING AUDIT — the out-of-orderness report run BEFORE
    * choosing a watermark delay: with event_id as arrival order, a
    * row's lateness is how far the already-seen event-time high-water
    * mark has moved past its own timestamp (running max over arrival
    * order, per event_type stream). The report gives per type the
    * late-row counts at candidate delays (1 min / 10 min) and the
    * maximum observed lateness — exactly the numbers that decide
    * `withWatermark`'s horizon, where too short silently DROPS rows
    * (the q227 sentinel lesson) and too long holds state. The running
    * max partitions by the stream key (type); arrival order within a
    * partition is a window sort at audit grain, run once per corpus
    * generation, not per query. */
  private def q264LatenessAudit(s: SparkSession, d: String): DataFrame =
    latenessFromArrivals(Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
              unix_micros(col("ts")).as("us")))

  /** The q264 audit over any (event_type, event_id, us) arrival
    * relation — factored so the spec can plant out-of-order arrivals
    * (the test corpus is generated perfectly in order, so the late
    * branches only fire on planted fixtures). */
  private[graft] def latenessFromArrivals(arrivals: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    arrivals
      .withColumn("hwm", max("us").over(w))
      .withColumn("late_us", col("hwm") - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           max("late_us").as("max_late_us"),
           sum(expr("CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END"))
             .as("late_1m"),
           sum(expr("CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END"))
             .as("late_10m"))
      .withColumn("late_1m_share",
        expr("floor(cast(late_1m as double) * 1000 / n_events) / 1000"))
      .select("event_type", "n_events", "max_late_us", "late_1m",
              "late_10m", "late_1m_share")
      .orderBy("event_type")
  }

  /** K-ANONYMITY AUDIT — the re-identification risk report a release
    * pipeline runs beside the PII scrub (q47) and the opt-out filter
    * (q204): project each row to its quasi-identifier tuple — here
    * (event_type, hour-of-day, value log-bin), the indirect attributes
    * an adversary could link on — and count how much of the corpus
    * lives in QI-groups smaller than k = 5. Those rows are the ones
    * k-anonymity says to suppress or generalize before publication.
    * Scale shape: one partial-agg groupBy at QI grain (the group
    * relation is value-domain-sized, not corpus-sized), one group-grain
    * rollup back to event_type; integer counts and one floored share.
    * Hour-of-day and the value bin reuse the positive-epoch bucket
    * (q191) and binary-string-length bin (q198) forms, so both engines
    * compute the QI tuple with identical integer arithmetic. */
  private def q250KAnonymity(s: SparkSession, d: String): DataFrame = {
    val qi = Tables.events(s, d)
      .select(col("event_type"),
              expr("unix_micros(ts) div 3600000000 % 24").as("hod"),
              expr("""length(bin(greatest(cast(floor(value * 100 + 0.5)
                      as bigint), 1)))""").cast("long").as("vbin"))
    val g = qi.groupBy("event_type", "hod", "vbin")
      .agg(count(lit(1)).as("n"))
    g.groupBy("event_type")
      .agg(sum("n").as("n_rows"),
           count(lit(1)).as("n_groups"),
           sum(expr("CASE WHEN n < 5 THEN 1 ELSE 0 END")).as("n_small_groups"),
           sum(expr("CASE WHEN n < 5 THEN n ELSE 0 END")).as("n_risky_rows"))
      .withColumn("risk_share",
        expr("floor(cast(n_risky_rows as double) * 1000 / n_rows) / 1000"))
      .select("event_type", "n_rows", "n_groups", "n_small_groups",
              "n_risky_rows", "risk_share")
      .orderBy("event_type")
  }

  /** MERGEABLE QUANTILE REGISTERS — approximate percentiles from the
    * q198 log-bin registers, certified against the exact order
    * statistic. The register relation is (event_type, bin) →
    * (cnt, vmin, vmax): mergeable by (sum, min, max) in any partition
    * or shard order, the HLL/KS register discipline — so at 100 TB the
    * quantile dashboard is a constant-size relation combinable across
    * days/sources/streams, where exact percentiles would re-sort the
    * world. A quantile lands by walking the cumulative bin counts to
    * the first bin covering rank k = ⌈p·n⌉ (integer ceiling — no float
    * rank); the answer is that bin's OBSERVED [vmin, vmax] envelope
    * (tighter than the 2^b bin bounds, and no power arithmetic). The
    * certificate: the true k-th smallest value — computed by explicit
    * row_number in BOTH engines, no engine quantile function with its
    * own interpolation opinions — must fall inside the envelope, which
    * holds by construction because binning is monotone in the value.
    * The exact side is a certification rider (the q195 discipline): a
    * production plan ships registers alone. */
  private def q247QuantileSketch(s: SparkSession, d: String): DataFrame =
    quantileFromCounts(Tables.events(s, d)
      .select(col("event_type"),
              expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .filter(col("cents") >= 1)
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c")))

  /** q262: QUANTILE ROLLUP — the property q247's registers exist FOR,
    * declared as its own gate: global percentiles computed by MERGING
    * the per-type register relations (relabel + one sum at value
    * grain — never re-reading raw rows), served against the oracle's
    * from-raw global recompute. This is the warehouse rollup motion —
    * per-partition quantile registers combine upward to any coarser
    * grain (type → all, day → month, shard → fleet) because the state
    * is (sum, min, max)-mergeable; an exact-percentile pipeline would
    * re-sort the corpus at every grain. */
  private def q262QuantileRollup(s: SparkSession, d: String): DataFrame = {
    val perType = Tables.events(s, d)
      .select(col("event_type"),
              expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .filter(col("cents") >= 1)
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
    val merged = perType
      .select(lit("all").as("event_type"), col("cents"), col("c"))
      .groupBy("event_type", "cents").agg(sum("c").as("c"))
    quantileFromCounts(merged)
  }

  /** RFM SEGMENTATION — the classic behavioral user segmentation:
    * recency (last activity), frequency (event count) and monetary
    * (total cents) per user, each cut into terciles against corpus-wide
    * exact-percentile thresholds, yielding a 3-digit segment code (333
    * = the best customers, 111 = churned low-value). All three features
    * are exact integers; the tercile thresholds are interpolated
    * percentiles over integers (IEEE-exact, the q74/q19 precedent)
    * broadcast as ONE row, so assignment is a map-side comparison
    * against identical doubles. One user-grain aggregate, one broadcast
    * threshold row, one segment-grain rollup — three shuffles total and
    * none of them carry more than user-grain rows. */
  private def q199RfmSegments(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(expr("unix_micros(ts)")).as("rec"),
           count(lit(1)).as("freq"),
           sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("mon"))
    val thr = users.agg(
      expr("percentile(rec, 0.333)").as("r1"),
      expr("percentile(rec, 0.667)").as("r2"),
      expr("percentile(freq, 0.333)").as("f1"),
      expr("percentile(freq, 0.667)").as("f2"),
      expr("percentile(mon, 0.333)").as("m1"),
      expr("percentile(mon, 0.667)").as("m2"))
    users.crossJoin(broadcast(thr))
      .select(expr(
        """(CASE WHEN rec < r1 THEN 1 WHEN rec < r2 THEN 2 ELSE 3 END) * 100
           + (CASE WHEN freq < f1 THEN 1 WHEN freq < f2 THEN 2 ELSE 3 END) * 10
           + (CASE WHEN mon < m1 THEN 1 WHEN mon < m2 THEN 2 ELSE 3 END)""")
        .cast("long").as("segment"),
        col("mon"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum("mon").as("cents_total"))
      .orderBy("segment")
  }

  /** ENRICHMENT COVERAGE AUDIT — the dimension-join health check every
    * ETL enrichment step needs: what fraction of arriving facts found
    * their dimension row? Audited against a deliberately PARTIAL
    * dimension snapshot (customers of nations < 12 — the late-dim-load
    * / incremental-snapshot failure mode this audit exists to catch),
    * reported per event type with matched counts and the matched value
    * mass, so a coverage drop is attributable to a fact segment. Plan:
    * broadcast-able dim side, one left join, integer counts and cents,
    * one floored coverage ratio per row. */
  private def q200EnrichCoverage(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .filter(col("c_nationkey") < 12)
      .select(col("c_custkey"), lit(1L).as("hit"))
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
              expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(coalesce(col("hit"), lit(0L))).as("matched"),
           sum(when(col("hit").isNotNull, col("cents")).otherwise(0L))
             .as("matched_cents"))
      .withColumn("coverage",
        expr("floor(cast(matched as double) * 1000 / n) / 1000"))
      .select("event_type", "n", "matched", "matched_cents", "coverage")
      .orderBy("event_type")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_enrich_coverage" -> q200EnrichCoverage _,
    "q199_rfm_segments" -> q199RfmSegments _,
    "q198_value_histogram" -> q198ValueHistogram _,
    "q247_quantile_sketch" -> q247QuantileSketch _,
    "q250_k_anonymity" -> q250KAnonymity _,
    "q253_peak_concurrency" -> q253PeakConcurrency _,
    "q296_queue_depth" -> q296QueueDepth _,
    "q258_multi_touch" -> q258MultiTouch _,
    "q262_quantile_rollup" -> q262QuantileRollup _,
    "q264_lateness_audit" -> q264LatenessAudit _,
    "q265_ab_test" -> q265AbTest _,
    "q266_cuped" -> q266Cuped _,
    "q197_value_trend"  -> q197ValueTrend _,
    "q193_retention"    -> q193Retention _,
    "q191_rate_anomaly" -> q191RateAnomaly _,
    "q192_conversion_time" -> q192ConversionTime _,
    "q190_transitions"  -> q190Transitions _,
    "q176_funnel"       -> q176Funnel _,
    "q173_multi_topic"  -> q173MultiTopicIngest _,
    "q152_incremental_agg" -> q152IncrementalAgg _,
    "q148_state_diff" -> q148StateDiff _,
    "q144_scd2_intervals" -> q144Scd2Intervals _,
    "q20_ingest_bucket" -> q20IngestBucket _,
    "q25_json_extract"  -> q25JsonExtract _,
    "q21_event_window"  -> q21EventWindow _,
    "q22_dedup_exact"   -> q22DedupExact _,
    "q23_dedup_first"   -> q23DedupFirst _,
    "q24_sessionize"    -> q24Sessionize _,
    "q72_latest_per_key" -> q72LatestPerKey _,
  )

  /** q176's per-user min-chain: the first view `t1`, the first signup
    * after it `t2`, the first purchase after that `t3` (strict > at
    * every hop). */
  private val funnelCtes: String =
    """t1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         t2 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN t1 ON e.user_id = t1.user_id
                WHERE e.event_type = 'signup' AND e.ts > t1.t GROUP BY 1),
         t3 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN t2 ON e.user_id = t2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1)"""

  /** q247's oracle, over the event key expression `key` (q262 passes a
    * constant 'all' key). */
  private def quantileOracleSql(key: String): String =
    s"""WITH v AS (SELECT $key,
                  CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
               FROM events
               WHERE CAST(floor("value" * 100 + 0.5) AS BIGINT) >= 1),
         r AS (SELECT event_type, CAST(len(bin(cents)) AS BIGINT) AS bin,
                      count(*) AS cnt, min(cents) AS vmin, max(cents) AS vmax
               FROM v GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
               FROM r GROUP BY 1),
         ks AS (SELECT event_type, n,
                       CAST(unnest([500, 950, 990]) AS BIGINT) AS p_mille
                FROM t),
         kk AS (SELECT event_type, n, p_mille,
                       (p_mille * n + 999) // 1000 AS k
                FROM ks),
         c AS (SELECT event_type, bin, vmin, vmax,
                      CAST(sum(cnt) OVER (PARTITION BY event_type
                                          ORDER BY bin) AS BIGINT) AS cum
               FROM r),
         est AS (SELECT kk.event_type, kk.p_mille, kk.n, kk.k,
                        min(c.bin) AS bin
                 FROM kk JOIN c ON c.event_type = kk.event_type
                               AND c.cum >= kk.k
                 GROUP BY 1, 2, 3, 4),
         ex AS (SELECT event_type, cents,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY cents) AS rn
                FROM v)
         SELECT est.event_type, est.p_mille, est.n, est.k, est.bin,
                c.vmin AS v_lo, c.vmax AS v_hi, ex.cents AS exact_v,
                CAST(CASE WHEN ex.cents BETWEEN c.vmin AND c.vmax
                     THEN 1 ELSE 0 END AS BIGINT) AS in_bound
         FROM est
         JOIN c ON c.event_type = est.event_type AND c.bin = est.bin
         JOIN ex ON ex.event_type = est.event_type AND ex.rn = est.k
         ORDER BY est.event_type, est.p_mille"""

  override val oracles: Map[String, String] = Map(
    // q200: left-join coverage against the partial dim snapshot; integer
    // counts/cents, one floored ratio per row
    "q200_enrich_coverage" ->
      """WITH dim AS (SELECT c_custkey FROM customer WHERE c_nationkey < 12),
         j AS (SELECT e.event_type,
                      CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END
                        AS hit,
                      CAST(floor(e."value" * 100 + 0.5) AS BIGINT) AS cents
               FROM events e LEFT JOIN dim d ON e.user_id = d.c_custkey)
         SELECT event_type, count(*) AS n,
                CAST(sum(hit) AS BIGINT) AS matched,
                CAST(sum(CASE WHEN hit = 1 THEN cents ELSE 0 END) AS BIGINT)
                  AS matched_cents,
                floor(CAST(sum(hit) AS DOUBLE) * 1000 / count(*)) / 1000
                  AS coverage
         FROM j GROUP BY 1 ORDER BY event_type""",
    // q199: exact-integer RFM features, interpolated-percentile tercile
    // cuts (quantile_cont ≡ Spark percentile on integers), integer
    // segment rollup
    "q199_rfm_segments" ->
      """WITH u AS (SELECT user_id,
                  max(epoch_us(ts::TIMESTAMP)) AS rec,
                  count(*) AS freq,
                  CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS mon
               FROM events GROUP BY 1),
         t AS (SELECT quantile_cont(rec, 0.333) AS r1,
                      quantile_cont(rec, 0.667) AS r2,
                      quantile_cont(freq, 0.333) AS f1,
                      quantile_cont(freq, 0.667) AS f2,
                      quantile_cont(mon, 0.333) AS m1,
                      quantile_cont(mon, 0.667) AS m2
               FROM u)
         SELECT CAST((CASE WHEN rec < r1 THEN 1 WHEN rec < r2 THEN 2
                           ELSE 3 END) * 100
                   + (CASE WHEN freq < f1 THEN 1 WHEN freq < f2 THEN 2
                           ELSE 3 END) * 10
                   + (CASE WHEN mon < m1 THEN 1 WHEN mon < m2 THEN 2
                           ELSE 3 END) AS BIGINT) AS segment,
                count(*) AS n_users,
                CAST(sum(mon) AS BIGINT) AS cents_total
         FROM u, t GROUP BY 1 ORDER BY segment""",
    // q198: bin = binary-string length (exact), no log2; integer counts
    // and sums, one floored share per row
    "q198_value_histogram" ->
      """WITH b AS (SELECT event_type,
                  CAST(len(bin(CAST(floor("value" * 100 + 0.5) AS BIGINT)))
                    AS BIGINT) AS bin,
                  CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
               FROM events
               WHERE CAST(floor("value" * 100 + 0.5) AS BIGINT) >= 1),
         g AS (SELECT event_type, bin, count(*) AS n,
                      CAST(sum(cents) AS BIGINT) AS cents_total
               FROM b GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
               FROM g GROUP BY 1)
         SELECT g.event_type, g.bin, g.n, g.cents_total,
                floor(CAST(g.n AS DOUBLE) * 1000 / t.tot) / 1000 AS share
         FROM g JOIN t USING (event_type) ORDER BY g.event_type, g.bin""",
    // q258: the q227 interval pairs + exact integer credit split:
    // 1000 div k with the remainder to the earliest touches, so each
    // purchase sums to exactly 1000; day rollup
    "q258_multi_touch" ->
      """WITH t AS (SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                           c.ts AS c_ts
               FROM (SELECT * FROM events WHERE event_type = 'click') c
               JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                 ON c.user_id = p.user_id
                AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR),
         r AS (SELECT click_id, purchase_id, c_ts,
                      count(*) OVER (PARTITION BY purchase_id) AS k,
                      row_number() OVER (PARTITION BY purchase_id
                                         ORDER BY c_ts, click_id) - 1 AS i
               FROM t),
         cr AS (SELECT click_id, purchase_id, c_ts,
                       1000 // k + CASE WHEN i < 1000 % k THEN 1 ELSE 0 END
                         AS credit
                FROM r)
         SELECT epoch_us(c_ts::TIMESTAMP) // 86400000000 AS day_idx,
                count(*) AS credited_clicks,
                count(DISTINCT purchase_id) AS purchases_touched,
                CAST(sum(credit) AS BIGINT) AS credit_mille
         FROM cr GROUP BY 1 ORDER BY day_idx""",
    // q253: q24's session CTE, day-clipped segments, +1/-1 boundary
    // points, day-partitioned running sum; ties order (t, delta) and
    // the prefix max is tie-order invariant within equal (t, delta)
    "q253_peak_concurrency" ->
      """WITH o AS (SELECT user_id, ts, epoch_us(ts::TIMESTAMP) AS us,
                  lag(epoch_us(ts::TIMESTAMP)) OVER
                    (PARTITION BY user_id ORDER BY ts) AS prev
               FROM events),
         n AS (SELECT user_id, us,
                      CAST(sum(CASE WHEN prev IS NULL
                                     OR us - prev > 3600000000
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
               FROM o),
         sess AS (SELECT user_id, sid, min(us) AS st, max(us) AS en
                  FROM n GROUP BY 1, 2),
         seg AS (SELECT st, en,
                        unnest(range(st // 86400000000,
                                     en // 86400000000 + 1)) AS day_idx
                 FROM sess),
         pts AS (SELECT day_idx, greatest(st, day_idx * 86400000000) AS t,
                        1 AS delta
                 FROM seg
                 UNION ALL
                 SELECT day_idx,
                        least(en, (day_idx + 1) * 86400000000 - 1) + 1 AS t,
                        -1 AS delta
                 FROM seg),
         run AS (SELECT day_idx,
                        sum(delta) OVER (PARTITION BY day_idx
                                         ORDER BY t, delta
                                         ROWS UNBOUNDED PRECEDING) AS c
                 FROM pts),
         ns AS (SELECT day_idx, count(*) AS n_sessions FROM seg GROUP BY 1),
         pk AS (SELECT day_idx, CAST(max(c) AS BIGINT) AS peak
                FROM run GROUP BY 1)
         SELECT ns.day_idx, ns.n_sessions, pk.peak
         FROM ns JOIN pk USING (day_idx) ORDER BY ns.day_idx""",
    // q296: the Lindley closed form replayed verbatim — integer hour
    // grid (missing hours drain the queue, hence generate_series), the
    // same ceil-average slots constant, running sum + running min, one
    // floored ppm division; tick formatted from the tz-free
    // make_timestamp twin of Spark's UTC date_format
    "q296_queue_depth" ->
      """WITH ev AS (SELECT epoch_us(ts::TIMESTAMP) // 3600000000 AS h
                     FROM events),
         arr AS (SELECT h, CAST(count(*) AS BIGINT) AS arrivals
                 FROM ev GROUP BY h),
         b AS (SELECT min(h) AS h0, max(h) AS h1, count(*) AS n FROM ev),
         grid AS (SELECT unnest(range(b.h0, b.h1 + 1)) AS h,
                         CAST((b.n + (b.h1 - b.h0 + 1) - 1)
                              // (b.h1 - b.h0 + 1) AS BIGINT) AS slots
                  FROM b),
         j AS (SELECT g.h, g.slots,
                      coalesce(a.arrivals, 0) AS arrivals
               FROM grid g LEFT JOIN arr a USING (h)),
         c AS (SELECT h, slots, arrivals,
                      sum(arrivals - slots) OVER (ORDER BY h
                        ROWS UNBOUNDED PRECEDING) AS cum
               FROM j),
         qd AS (SELECT h, slots, arrivals,
                       CAST(cum - least(0, min(cum) OVER (ORDER BY h
                         ROWS UNBOUNDED PRECEDING)) AS BIGINT)
                         AS queue_depth
                FROM c),
         f AS (SELECT h, slots, arrivals, queue_depth,
                      CAST(coalesce(lag(queue_depth) OVER (ORDER BY h), 0)
                           + arrivals - queue_depth AS BIGINT) AS admitted
               FROM qd)
         SELECT strftime(make_timestamp(h * 3600000000),
                         '%Y-%m-%d %H:00:00') AS tick,
                arrivals, queue_depth, admitted,
                CAST(admitted * 1000000 // slots AS BIGINT) AS util_ppm
         FROM f ORDER BY tick""",
    // q250: identical integer QI tuple (positive-epoch hour, len(bin)
    // value bin clamped to >= 1); group then rollup, one floored share
    "q250_k_anonymity" ->
      """WITH qi AS (SELECT event_type,
                  epoch_us(ts::TIMESTAMP) // 3600000000 % 24 AS hod,
                  CAST(len(bin(greatest(CAST(floor("value" * 100 + 0.5)
                       AS BIGINT), 1))) AS BIGINT) AS vbin
               FROM events),
         g AS (SELECT event_type, hod, vbin, count(*) AS n
               FROM qi GROUP BY 1, 2, 3)
         SELECT event_type,
                CAST(sum(n) AS BIGINT) AS n_rows,
                count(*) AS n_groups,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_small_groups,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                  AS n_risky_rows,
                floor(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                      * 1000 / sum(n)) / 1000 AS risk_share
         FROM g GROUP BY 1 ORDER BY event_type""",
    // q266: integer power sums (the q197 machinery), fixed-order double
    // tail; `//` floors the broadcast midpoint like Spark's `div`
    "q266_cuped" ->
      """WITH e AS (SELECT user_id, event_type,
                  epoch_us(ts::TIMESTAMP) AS us
               FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
         xy AS (SELECT user_id,
                  CAST(sum(CASE WHEN event_type = 'purchase' AND us < mid
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
                  CAST(sum(CASE WHEN event_type = 'purchase' AND us >= mid
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
                FROM e, m GROUP BY user_id),
         a AS (SELECT count(*) AS n_users,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy,
                      CAST(sum(x * y) AS BIGINT) AS sxy
               FROM xy),
         t AS (SELECT *,
                 CASE WHEN n_users * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
                 ELSE floor(CAST(n_users * sxy - sx * sy AS DOUBLE)
                            / CAST(n_users * sxx - sx * sx AS DOUBLE)
                            * 1000000) / 1000000 END AS theta,
                 floor(CAST(n_users * syy - sy * sy AS DOUBLE)
                       / (CAST(n_users AS DOUBLE) * n_users) * 1000000)
                   / 1000000 AS var_y
               FROM a),
         v AS (SELECT *,
                 CASE WHEN n_users * sxx - sx * sx = 0
                 THEN var_y
                 ELSE floor((CAST(n_users * syy - sy * sy AS DOUBLE)
                             / (CAST(n_users AS DOUBLE) * n_users)
                             - (CAST(n_users * sxy - sx * sy AS DOUBLE)
                                * (n_users * sxy - sx * sy))
                               / ((CAST(n_users AS DOUBLE) * n_users)
                                  * (n_users * sxx - sx * sx)))
                            * 1000000) / 1000000 END AS var_y_adj
               FROM t)
         SELECT n_users, sx, sy, sxx, syy, sxy, theta, var_y, var_y_adj,
                CASE WHEN var_y = 0 THEN CAST(0 AS DOUBLE)
                     ELSE floor((var_y - var_y_adj) * 1000 / var_y) / 1000
                END AS var_cut_share
         FROM v""",
    // q265: integer cohort counts from one user-grain aggregate; the z
    // chain is the same fixed-order double expression (sqrt is
    // correctly-rounded IEEE); significance compares the floored z
    "q265_ab_test" ->
      """WITH u0 AS (SELECT user_id,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS np,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv
               FROM events GROUP BY user_id),
         u AS (SELECT user_id,
                      CASE WHEN np > nv THEN 1 ELSE 0 END AS conv,
                      user_id % 2 AS cohort
               FROM u0),
         a AS (SELECT
                 CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS conv_a,
                 CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS conv_b
               FROM u),
         z AS (SELECT *,
                 CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                 THEN CAST(0 AS DOUBLE) ELSE floor(
                   ((CAST(conv_a AS DOUBLE) / n_a)
                    - (CAST(conv_b AS DOUBLE) / n_b))
                   / sqrt(((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                           * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                    / (n_a + n_b)))
                          * ((1.0 / n_a) + (1.0 / n_b)))
                   * 1000000) / 1000000 END AS z
               FROM a)
         SELECT n_a, conv_a, n_b, conv_b,
                floor(CAST(conv_a AS DOUBLE) * 1000 / n_a) / 1000 AS rate_a,
                floor(CAST(conv_b AS DOUBLE) * 1000 / n_b) / 1000 AS rate_b,
                z,
                CAST(CASE WHEN abs(z) >= 1.96 THEN 1 ELSE 0 END AS BIGINT)
                  AS significant
         FROM z""",
    // q264: per-type running event-time high-water mark over arrival
    // (event_id) order; late counts at the candidate delays
    "q264_lateness_audit" ->
      """WITH b AS (SELECT event_type, event_id,
                  epoch_us(ts::TIMESTAMP) AS us
               FROM events),
         h AS (SELECT event_type, us,
                      max(us) OVER (PARTITION BY event_type
                                    ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING) AS hwm
               FROM b)
         SELECT event_type, count(*) AS n_events,
                CAST(max(hwm - us) AS BIGINT) AS max_late_us,
                CAST(sum(CASE WHEN hwm - us > 60000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS late_1m,
                CAST(sum(CASE WHEN hwm - us > 600000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS late_10m,
                floor(CAST(sum(CASE WHEN hwm - us > 60000000
                               THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000 / count(*)) / 1000 AS late_1m_share
         FROM h GROUP BY 1 ORDER BY event_type""",
    // q262: the q247 chain under a constant 'all' key — the oracle
    // recomputes GLOBAL quantiles from raw, certifying register merge
    // across types == from-raw rollup
    "q262_quantile_rollup" -> quantileOracleSql("'all' AS event_type"),
    // q247: the q198 registers walked to rank k = ceil(p*n) in integer
    // arithmetic; the exact k-th value via explicit row_number (NOT an
    // engine quantile function) — `//` floors like Spark's `div` on
    // positives; in_bound certifies the envelope covers the truth
    "q247_quantile_sketch" -> quantileOracleSql("event_type"),
    // q197: exact integer power sums (cents × rebased seconds), then
    // the slope combined in the same fixed-shape double expression
    "q197_value_trend" ->
      """WITH t0 AS (SELECT min(epoch_us(ts::TIMESTAMP) // 1000000) AS t0
                     FROM events),
         b AS (SELECT event_type,
                      CAST(epoch_us(ts::TIMESTAMP) // 1000000 - t0.t0
                        AS BIGINT) AS t,
                      CAST(floor("value" * 100 + 0.5) AS BIGINT) AS v
               FROM events, t0),
         a AS (SELECT event_type, count(*) AS n,
                      CAST(sum(t) AS BIGINT) AS st,
                      CAST(sum(v) AS BIGINT) AS sv,
                      CAST(sum(t * v) AS BIGINT) AS stv,
                      CAST(sum(t * t) AS BIGINT) AS stt
               FROM b GROUP BY 1)
         SELECT event_type, n,
                CASE WHEN CAST(n AS DOUBLE) * stt
                          - CAST(st AS DOUBLE) * st = 0
                     THEN CAST(NULL AS BIGINT)
                     ELSE CAST(floor(
                       (CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
                       / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                       * 1e9) AS BIGINT) END AS slope_n9
         FROM a ORDER BY event_type""",
    // q193: integer day buckets + distinct-user counts; one floored
    // explicit-double share per cell
    "q193_retention" ->
      """WITH f AS (SELECT user_id,
                  min(epoch_us(ts::TIMESTAMP) // 86400000000) AS cohort_day
               FROM events GROUP BY 1),
         s AS (SELECT cohort_day, count(*) AS cohort_users FROM f GROUP BY 1),
         r AS (SELECT f.cohort_day,
                      (epoch_us(e.ts::TIMESTAMP) // 86400000000) - f.cohort_day
                        AS offset_d,
                      count(DISTINCT e.user_id) AS active
               FROM events e JOIN f USING (user_id) GROUP BY 1, 2)
         SELECT CAST(r.cohort_day AS BIGINT) AS cohort_day,
                CAST(offset_d AS BIGINT) AS offset_d,
                CAST(active AS BIGINT) AS active,
                CAST(s.cohort_users AS BIGINT) AS cohort_users,
                floor(CAST(active AS DOUBLE) * 1000 / s.cohort_users) / 1000
                  AS retention
         FROM r JOIN s USING (cohort_day) ORDER BY cohort_day, offset_d""",
    // q191: integer hour buckets + the q163-shape stats derivation; the
    // 2σ comparison runs on identical doubles both engines
    "q191_rate_anomaly" ->
      """WITH h AS (SELECT event_type,
                  epoch_us(ts::TIMESTAMP) // 3600000000 AS hr,
                  CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, count(*) AS k,
                       CAST(sum(c) AS BIGINT) AS sc,
                       CAST(sum(c * c) AS BIGINT) AS sq
                FROM h GROUP BY 1),
         m AS (SELECT event_type,
                      CAST(sc AS DOUBLE) / k AS mu,
                      sqrt(greatest(CAST(0 AS DOUBLE),
                        CAST(sq AS DOUBLE) / k
                        - (CAST(sc AS DOUBLE) / k) * (CAST(sc AS DOUBLE) / k)))
                        AS sd
               FROM st)
         SELECT h.event_type, CAST(h.hr AS BIGINT) AS hr, h.c,
                CAST(floor(abs(h.c - m.mu) / m.sd * 1e4) AS BIGINT) AS z4
         FROM h JOIN m USING (event_type)
         WHERE m.sd > 0 AND abs(h.c - m.mu) > 2 * m.sd
         ORDER BY event_type, hr""",
    // q192: the q176 min-chain CTEs, then exact interpolated
    // percentiles over integer microsecond deltas (quantile_cont ≡
    // Spark percentile on integers — the q19 parity precedent)
    "q192_conversion_time" ->
      s"""WITH $funnelCtes,
         dlt AS (SELECT epoch_us(t3.t::TIMESTAMP) - epoch_us(t1.t::TIMESTAMP)
                          AS delta_us
                 FROM t3 JOIN t1 USING (user_id))
         SELECT CAST(count(*) AS BIGINT) AS n_converted,
                quantile_cont(delta_us, 0.25) AS p25_us,
                quantile_cont(delta_us, 0.5) AS p50_us,
                quantile_cont(delta_us, 0.9) AS p90_us
         FROM dlt""",
    // q190: the lead-window formulation over the same (ts, event_id)
    // total order; counts integer, one floored explicit-double ratio
    "q190_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
               FROM events),
         c AS (SELECT event_type AS cur, nxt, count(*) AS n
               FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
         SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n,
                floor(CAST(c.n AS DOUBLE) * 1000 / t.tot) / 1000 AS p
         FROM c JOIN t USING (cur) ORDER BY cur, nxt""",
    // q176: the min-over-filter semantics in join form — t2/t3 exist
    // only for users whose prior stage fired, strict > at every hop;
    // the ratio arithmetic is explicit-double (DuckDB BIGINT/BIGINT
    // truncates) with the same floor-to-3dp on both sides
    "q176_funnel" ->
      s"""WITH $funnelCtes,
         c AS (SELECT (SELECT count(DISTINCT user_id) FROM events) AS n0,
                      (SELECT count(*) FROM t1) AS n1,
                      (SELECT count(*) FROM t2) AS n2,
                      (SELECT count(*) FROM t3) AS n3)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
                  CAST(n1 AS BIGINT) AS users,
                  CASE WHEN n0 = 0 THEN CAST(0 AS DOUBLE)
                       ELSE floor(n1 * 1000.0 / n0) / 1000 END AS conv FROM c
           UNION ALL
           SELECT 2, 'signup', n2,
                  CASE WHEN n1 = 0 THEN CAST(0 AS DOUBLE)
                       ELSE floor(n2 * 1000.0 / n1) / 1000 END FROM c
           UNION ALL
           SELECT 3, 'purchase', n3,
                  CASE WHEN n2 = 0 THEN CAST(0 AS DOUBLE)
                       ELSE floor(n3 * 1000.0 / n2) / 1000 END FROM c)
         ORDER BY stage_idx""",
    // row-for-row parity of the two-topic partitioned write+read-back:
    // dt/hour in the Spark result came from directory names, so the SQL
    // derivation doubles as the layout check
    "q173_multi_topic" ->
      """SELECT event_id, event_type AS topic,
         strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hour,
         user_id, round("value", 2) AS "value"
         FROM events WHERE event_type IN ('click', 'view')
         ORDER BY event_id""",
    // the FULL recompute — a pass certifies the base+delta state merge
    // equals rescanning history, cross-engine
    "q152_incremental_agg" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                round(sum("value"), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "q148_state_diff" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, ts,
                epoch_us(ts::TIMESTAMP) AS us FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         fin AS (SELECT user_id, event_type, event_id AS eid FROM (
                   SELECT user_id, event_type, event_id,
                          row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
                 WHERE rn = 1),
         early AS (SELECT user_id, event_type, event_id AS eid_early FROM (
                     SELECT user_id, event_type, event_id,
                            row_number() OVER (
                              PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
                     FROM ev, m WHERE us <= mid)
                   WHERE rn = 1),
         st AS (SELECT fin.event_type,
                       CASE WHEN early.eid_early IS NULL THEN 'added'
                            WHEN early.eid_early <> fin.eid THEN 'changed'
                            ELSE 'unchanged' END AS status
                FROM fin LEFT JOIN early
                  ON early.user_id = fin.user_id
                 AND early.event_type = fin.event_type)
         SELECT event_type, status, CAST(count(*) AS BIGINT) AS n_keys
         FROM st GROUP BY 1, 2 ORDER BY event_type, status""",
    "q144_scd2_intervals" ->
      """WITH v AS (SELECT user_id, event_type, event_id, ts,
                lead(ts) OVER (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id) AS vt, "value"
              FROM events)
         SELECT user_id, event_type, event_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                coalesce(strftime(vt, '%Y-%m-%d %H:%M:%S'),
                         '9999-12-31 00:00:00') AS valid_to,
                CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT)
                  AS is_current,
                round("value", 2) AS "value"
         FROM v ORDER BY user_id, event_type, event_id""",
    "q72_latest_per_key" ->
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         SELECT user_id, event_type, event_id AS latest_event_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts,
                round("value", 2) AS "value"
         FROM r WHERE rn = 1 ORDER BY user_id, event_type""",
    "q25_json_extract" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
         min(CAST(props->>'k' AS BIGINT)) AS k_min,
         max(CAST(props->>'k' AS BIGINT)) AS k_max
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q20_ingest_bucket" ->
      """SELECT event_id, event_type AS topic,
         strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hour,
         user_id, round("value", 2) AS "value"
         FROM events ORDER BY event_id""",
    "q21_event_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events, round(sum("value"), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q22_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY doc_id""",
    "q23_dedup_first" ->
      """SELECT user_id, event_type,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
         count(*) AS n_dups
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    "q24_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts::TIMESTAMP)) OVER w IS NULL
                    OR epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP)) OVER w > 3600000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), numbered AS (
           SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged
         )
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
  )
}
