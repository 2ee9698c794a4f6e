package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.TextExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators over `documents` (SURVEY.md §2 rows
  * 11-13 [extension] — the LLM-pipeline surface beyond what round 1
  * shipped): sequence packing, PII scrubbing, benchmark-contamination
  * checks, and repetition-based quality signals.
  *
  * All declarative Spark SQL; every query has a DuckDB oracle.
  *
  * Scale notes (100 TB design points):
  *  - q46 packs within (lang) partitions — the running sum is a windowed
  *    cumsum per partition, never a global single-partition window; at
  *    extreme scale add a shard column to the partition key and pack
  *    per (lang, shard);
  *  - q47/q49 are embarrassingly parallel per-doc map/agg work;
  *  - q48 broadcasts the benchmark shingle set (benchmarks are KB-MB at
  *    any corpus scale) — the corpus is never shuffled.
  */
object Curation extends QueryPack {

  private val toksExpr = graft.functions.TextExprs.toks

  /** Sequence packing: assign docs to fixed token-budget bins (2048) in
    * doc_id order within each language — the "concatenate-and-chunk"
    * shape of LLM pre-training batch prep. A doc lands in the bin where
    * its prefix-sum starts; bins can overflow by at most one doc (the
    * standard streaming-packing semantic).
    */
  private def q46PackSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr(s"size($toksExpr)").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / 2048).cast("long"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").cast("long").as("bin_tokens"))
      .orderBy("lang", "bin")
  }

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val urlRe = "https?://[^\\s]+"

  /** PII scrubbing: count email/URL matches per doc and the post-redaction
    * length (matches replaced by fixed tags). Pure regex map work. */
  private def q47PiiScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(urlRe), lit(0)))
          .cast("long").as("n_urls"),
        length(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
                              urlRe, "<URL>")).cast("long").as("scrubbed_len"))
      .orderBy("doc_id")

  /** Benchmark-contamination check: fraction of each corpus doc's 3-gram
    * shingles that appear anywhere in the "benchmark" set (doc_id < 20
    * stands in for an eval suite). The benchmark's distinct shingle set is
    * broadcast; the corpus side stays partition-local until the per-doc
    * count agg.
    */
  private def q48Contamination(s: SparkSession, d: String): DataFrame = {
    def shingled: DataFrame = Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
    val bench = shingled.filter(col("doc_id") < 20)
      .select(explode(col("sh")).as("s")).distinct()
    shingled.filter(col("doc_id") >= 20)
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("s"))
      .join(broadcast(bench), "s")
      .groupBy("doc_id", "nsh")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contamination", floor(col("n_hit") / col("nsh") * 1000) / 1000)
      .filter(col("contamination") >= 0.2)
      .select(col("doc_id"), col("n_hit"), col("contamination"))
      .orderBy("doc_id")
  }

  /** q243: TAKEDOWN CLOSURE — the opt-out registry (q204's content
    * digests) propagated through the q73 near-dup families: honoring a
    * takedown on the EXACT content alone leaves its lightly-edited
    * near-duplicates in the corpus, which is not what a
    * do-not-train/right-to-be-forgotten request means — the closure
    * removes the whole family (the q238 propagation applied to
    * governance, at the source-grain report a compliance review
    * reads: direct vs transitive removals and the token mass leaving
    * each source). Digest matching catches exact copies (q204's
    * point); the family closure catches the near-copies; together
    * they are the defensible takedown semantics. One broadcast
    * registry join + the memoized assignment + two id-grain
    * aggregates; all integer. */
  private def q243TakedownClosure(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      expr(s"size(${graft.functions.TextExprs.toks})").cast("long").as("ntok"),
      md5(col("text")).as("dig"))
    val direct = docs.join(broadcast(optOutRegistry(s, d)),
        col("dig") === col("oo_dig"), "left")
      .select(col("doc_id"), col("source"), col("ntok"),
              when(col("oo_dig").isNotNull, 1L).otherwise(0L).as("direct"))
    val fam = direct.join(
      Dedup.clusterAssignmentOf(s, d).select("doc_id", "cluster_id"),
      Seq("doc_id"))
    val famHit = fam.groupBy("cluster_id").agg(max("direct").as("hit"))
    fam.join(famHit, Seq("cluster_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("direct").as("direct_removed"),
        sum("hit").as("closure_removed"),
        sum(when(col("hit") === 1L && col("direct") === 0L, 1L)
          .otherwise(0L)).as("transitive_removed"),
        sum(when(col("hit") === 1L, col("ntok")).otherwise(0L))
          .as("removed_tokens"))
      .orderBy("source")
  }

  /** q238: FAMILY-TRANSITIVE CONTAMINATION — q48's benchmark-overlap
    * flag propagated through the q73 near-dup families: a document
    * whose FAMILY MEMBER overlaps the benchmark is contaminated too
    * (a lightly-edited copy of a contaminated page can duck the
    * direct shingle threshold while carrying the same leaked content
    * — the same transitive argument that turned q122's split audit
    * into q124's cluster-keyed fix). Output is every corpus doc in a
    * family with ≥ 1 direct hit, with its own direct flag and the
    * family's direct count — the direct = 0 rows are exactly what the
    * per-doc check missed. Plan: q48's broadcast-benchmark join
    * produces the direct flags once, the memoized cluster assignment
    * joins them by doc, and two id-grain aggregates close it; the
    * propagation adds no text or shingle movement at all. */
  private def q238FamilyContamination(s: SparkSession, d: String): DataFrame = {
    // the direct flags ARE pipelineFlags' `fl` column — same benchmark
    // split (< 20), same shingles, same floored 0.2 threshold — so the
    // propagation reads the session-memoized flag table instead of
    // re-running the shingle explode + broadcast-bench join per
    // invocation (r16; the flag-table read is the production shape the
    // q130/q132/q204 consumers already use). Value-identity is by
    // construction and the oracle hash-gates it at both SFs.
    val direct = pipelineFlags(s, d).filter(col("fl") === 1)
      .select(col("doc_id"), lit(1L).as("direct"))
    val assign = Dedup.clusterAssignmentOf(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .filter(col("doc_id") >= 20)
    familyContaminationCore(assign, direct)
  }

  /** The q238 propagation over arbitrary (doc, family) assignments and
    * direct flags — factored so the spec can PLANT the transitive case
    * (a clean near-dup in a contaminated family), which the test
    * corpus happens not to produce. */
  private[graft] def familyContaminationCore(assign: DataFrame,
                                             direct: DataFrame): DataFrame = {
    val fam = assign
      .join(direct, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
              coalesce(col("direct"), lit(0L)).as("direct"))
    val famAgg = fam.groupBy("cluster_id")
      .agg(sum("direct").as("n_direct"), max("direct").as("hit"))
    fam.join(famAgg, Seq("cluster_id"))
      .filter(col("hit") === 1L)
      .select(col("doc_id"), col("cluster_id"), col("direct"),
              col("n_direct"))
      .orderBy("doc_id")
  }

  /** n-gram sizes swept by q129 — plan literals. n = 3 doubles as the
    * q48-consistency row (same contract, same threshold). */
  private val contamNs = Seq(2, 3, 4)

  /** q129: CONTAMINATION n-GRAM SWEEP — q48's benchmark-overlap check
    * evaluated at shingle sizes n ∈ {2, 3, 4} in ONE pass. The n-gram
    * size is THE decontamination knob (small n over-flags — common
    * bigrams hit every doc; large n under-flags — only verbatim spans
    * survive), and every released decontamination pipeline publishes
    * which n it used; this query is the tuning curve that justifies the
    * choice, the same eval-harness shape as q115 (recall-vs-nprobe) and
    * q123/q125 (recall-vs-dims). One tokenization per doc fans out
    * |ns| = 3 shingle sets (ns is a broadcast literal); the benchmark's
    * per-n distinct shingle set is broadcast exactly as in q48; output
    * is the per-doc contaminated rows per n (no floating aggregation —
    * one int/int division per row, so no float-order care anywhere).
    * Docs with fewer than n tokens have empty shingle sets and cannot
    * reach the threshold — consistent with the q105 zero-shingle
    * contract (they are clean by definition). At 100 TB: benchmarks
    * stay KB–MB (broadcast), the corpus side is map work + one count
    * agg keyed by (n, doc_id) — q48's scale argument times a constant
    * 3. */
  private def q129ContaminationSweep(s: SparkSession, d: String): DataFrame = {
    // one branch per n with the NATIVE shingler (codegen'd, single pass
    // over the text) — 3× cheaper than a crossJoin + HOF slice-per-
    // position construction (measured 4.0 s → 1.0 s at sf0.1)
    val sh = contamNs.map { n =>
      Tables.documents(s, d).select(col("doc_id"),
        lit(n).as("n"),
        graft.functions.NativeExprs.word_shingles(col("text"), n).as("sh"))
    }.reduce(_ unionAll _)
    val bench = sh.filter(col("doc_id") < 20)
      .select(col("n"), explode(col("sh")).as("s")).distinct()
    sh.filter(col("doc_id") >= 20)
      .select(col("doc_id"), col("n"), size(col("sh")).as("nsh"),
              explode(col("sh")).as("s"))
      .join(broadcast(bench), Seq("n", "s"))
      .groupBy("n", "doc_id", "nsh")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contamination", floor(col("n_hit") / col("nsh") * 1000) / 1000)
      .filter(col("contamination") >= 0.2)
      .select(col("n").cast("long").as("n"), col("doc_id"), col("n_hit"),
              col("contamination"))
      .orderBy("n", "doc_id")
  }

  /** Per-doc pipeline-stage flags shared by q130 (funnel), q132
    * (per-source scorecard), q188 (release export) and q204 (opt-out):
    * (doc_id, source, dig, ntok, s1 = first copy of its digest, kq =
    * quality keep, fl = contamination flag, s2/s3 = cumulative
    * survival). One digest group-min join, the q93 score core, and
    * q48's broadcast contamination shape — flags only, no text past the
    * first projection. Memoized per (session, dataset) behind a LAZY
    * localCheckpoint (the q73 pattern): four declared queries and the
    * release write all consume this relation, and it is deterministic,
    * so each session computes it once and serves the cached blocks —
    * exactly how a production pipeline materializes its flag table
    * before fanning out reports. */
  private[graft] def pipelineFlags(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[org.apache.spark.sql.DataFrame](s, "curation.flags", d)(
      pipelineFlagsCompute(s, d).localCheckpoint(eager = false))

  /** The opt-out TAKEDOWN CLOSURE doc set (every doc in a near-dup
    * family with ≥ 1 direct opt-out hit), memoized per (session,
    * dataset) behind a lazy localCheckpoint — the [[pipelineFlags]]
    * discipline applied to the takedown tier (r16): q251's diff and
    * q259's card both re-derived the identical digest-join + cluster
    * propagation per invocation (2–3 subtree copies each); a release
    * pipeline materializes the closure once beside the flag table.
    * The per-doc (direct, cluster_id) relation is memoized with it
    * for the card's opt-out/near-dup counts. q243's declared rollup
    * keeps its own compute (its relation also carries source/ntok). */
  private def takedownDirect(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "curation.takedownDirect", d)(
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("dig"))
        .join(broadcast(optOutRegistry(s, d)),
              col("dig") === col("oo_dig"), "left")
        .select(col("doc_id"),
                when(col("oo_dig").isNotNull, 1L).otherwise(0L).as("direct"))
        .join(Dedup.clusterAssignmentOf(s, d).select("doc_id", "cluster_id"),
              Seq("doc_id"))
        .localCheckpoint(eager = false))

  private def takedownSet(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "curation.takedownSet", d)({
      val direct = takedownDirect(s, d)
      val famHit = direct.groupBy("cluster_id").agg(max("direct").as("hit"))
      direct.join(famHit, Seq("cluster_id"))
        .filter(col("hit") === 1L).select("doc_id")
        .localCheckpoint(eager = false)
    })

  private def pipelineFlagsCompute(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("dig"),
      expr(s"size($toksExpr)").cast("long").as("ntok"))
    val firstCopy = base.groupBy("dig").agg(min("doc_id").as("first_id"))
    val quality = Curation2.qualityScoreCore(docs)
      .select(col("doc_id"), col("keep"))
    def shingled = docs.select(col("doc_id"),
      graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
    val bench = shingled.filter(col("doc_id") < 20)
      .select(explode(col("sh")).as("s")).distinct()
    val flagged = shingled.filter(col("doc_id") >= 20)
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("s"))
      .join(broadcast(bench), "s")
      .groupBy("doc_id", "nsh").agg(count(lit(1)).as("n_hit"))
      .filter(floor(col("n_hit") / col("nsh") * 1000) / 1000 >= 0.2)
      .select(col("doc_id"), lit(1).as("fl"))
    base
      .join(firstCopy, "dig")
      .join(quality, "doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("dig"), col("ntok"),
              (col("doc_id") === col("first_id")).as("s1"),
              (col("keep") === 1).as("kq"),
              coalesce(col("fl"), lit(0)).as("fl"))
      .select(col("doc_id"), col("source"), col("dig"), col("ntok"),
              col("s1"), col("kq"), col("fl"),
              (col("s1") && col("kq")).as("s2"),
              (col("s1") && col("kq") && col("fl") === 0 &&
                col("doc_id") >= 20).as("s3"))
  }

  /** q130: PIPELINE FUNNEL — the sequential survival table every
    * dataset release publishes (docs and tokens remaining after each
    * pipeline stage), as opposed to q99's PARALLEL per-doc gate audit:
    * raw → exact-dedup (first copy per md5 digest survives) → quality
    * (q93's keep — the SAME [[Curation2.qualityScoreCore]] definition)
    * → decontamination (q48's flagged set AND the benchmark docs
    * themselves leave the training pool). Per-doc flags are computed
    * once (digest group-min join — no window, partial-aggregatable;
    * quality is map work; the contamination flag reuses q48's broadcast
    * shape), then ONE explode fans each doc into its 4 stage rows and
    * one count/sum aggregate produces the funnel — integer arithmetic
    * throughout except the single retained-fraction division per output
    * row. At 100 TB: shuffles carry (digest|doc_id, ntok, 3 booleans);
    * the 4-row result joins its own raw row broadcast. */
  private def q130PipelineFunnel(s: SparkSession, d: String): DataFrame = {
    val flags = pipelineFlags(s, d)
    val staged = flags.select(explode(array(
        struct(lit(1L).as("stage_ord"), lit("raw").as("stage"),
               lit(true).as("kept"), col("ntok").as("ntok")),
        struct(lit(2L).as("stage_ord"), lit("exact_dedup").as("stage"),
               col("s1").as("kept"), col("ntok").as("ntok")),
        struct(lit(3L).as("stage_ord"), lit("quality").as("stage"),
               col("s2").as("kept"), col("ntok").as("ntok")),
        struct(lit(4L).as("stage_ord"), lit("decontam").as("stage"),
               col("s3").as("kept"), col("ntok").as("ntok")))).as("x"))
      .select(col("x.*")).filter(col("kept"))
      .groupBy("stage_ord", "stage")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
    val raw = staged.filter(col("stage_ord") === 1)
      .select(col("n_tokens").as("raw_tokens"))
    staged.crossJoin(broadcast(raw))
      .select(col("stage_ord"), col("stage"), col("n_docs"), col("n_tokens"),
              (floor(col("n_tokens") / col("raw_tokens") * 10000) / 10000)
                .as("retained_frac"))
      .orderBy("stage_ord")
  }

  /** q132: PER-SOURCE SCORECARD — the data-supplier quality table:
    * for every `source`, how many docs it contributed, how many were
    * exact duplicates of earlier docs, failed the quality model, or
    * were benchmark-contaminated, and what fraction survives the whole
    * pipeline. This is the procurement view of the same flags q130
    * aggregates by stage — pipelines use it to drop or renegotiate a
    * feed whose keep-rate collapses. One [[pipelineFlags]] pass, one
    * aggregate keyed by source (tens of groups), integer counts plus a
    * single keep-fraction division per source row. */
  private def q132SourceScorecard(s: SparkSession, d: String): DataFrame =
    pipelineFlags(s, d).groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("s1"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(!col("kq"), 1L).otherwise(0L)).as("n_quality_fail"),
        sum(col("fl")).cast("long").as("n_contaminated"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("keep_frac",
        floor(col("n_kept") / col("n_docs") * 10000) / 10000)
      .orderBy("source")

  /** Repetition signals: distinct-token ratio and top-token share per doc
    * (gopher-style quality heuristics). One explode + two keyed aggs. */
  private def q49Repetition(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("token"))
    freq.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tokens"),
           count(lit(1)).cast("long").as("n_distinct"),
           max(when(col("rn") === 1, col("token"))).as("top_token"),
           max(when(col("rn") === 1, col("cnt"))).cast("long").as("top_cnt"))
      .withColumn("distinct_ratio", floor(col("n_distinct") / col("n_tokens") * 1000) / 1000)
      .withColumn("top_share", floor(col("top_cnt") / col("n_tokens") * 1000) / 1000)
      .select("doc_id", "n_tokens", "n_distinct", "top_token", "top_share", "distinct_ratio")
      .orderBy("doc_id")
  }

  /** Quantile quality gate: keep docs whose token count clears the corpus
    * p25 threshold, report per-lang survivor stats. The threshold is a
    * broadcast one-row aggregate (q68's scalar pattern) over an INTEGER
    * metric — the percentile lerp is IEEE-exact, so the gate is
    * cross-engine reproducible. One scan feeds both the threshold agg and
    * the gate; nothing driver-side. At 100 TB the percentile agg is a
    * 2-phase shuffle of per-partition digests, the gate a map filter.
    */
  private def q74QualityGate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr(s"size($toksExpr)").as("n_tokens"))
    val thr = toks.agg(expr("percentile(n_tokens, 0.25)").as("thr"))
    toks.crossJoin(broadcast(thr))
      .filter(col("n_tokens") >= col("thr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           (floor(avg("n_tokens") * 100) / 100).as("avg_tokens"))
      .orderBy("lang")
  }

  /** GLOBAL sequence packing via a distributed prefix sum — the scale
    * path for what a naive `Window.orderBy(doc_id)` (no partition key)
    * would do in a single task. Two phases, both parallel:
    *
    *  1. range-partition by doc_id (partition ids are monotone with the
    *     ranges), windowed cumsum WITHIN each partition;
    *  2. per-partition totals (a tiny nParts-row aggregate) → exclusive
    *     prefix offsets, broadcast back and added.
    *
    * The global cumsum — and therefore the bin assignment — is EXACTLY
    * the single-task answer and independent of nParts (asserted in
    * CurationSpec; the DuckDB oracle IS the naive global window). One
    * shuffle of N rows + one nParts-row side plan, any cluster width.
    */
  private[graft] def globalPack(docs: DataFrame, budget: Long, nParts: Int): DataFrame = {
    val t = docs
      .select(col("doc_id"), expr(s"size($toksExpr)").as("n_tokens"))
      .repartitionByRange(nParts, col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val wIn = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = t.withColumn("cum_in", sum("n_tokens").over(wIn))
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = within.groupBy("pid").agg(sum("n_tokens").as("part_total"))
      .withColumn("offset", coalesce(sum("part_total").over(wOff), lit(0L)))
      .select("pid", "offset")
    within.join(broadcast(offsets), "pid")
      .withColumn("cum", col("cum_in") + col("offset"))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("bin_tokens"))
      .orderBy("bin")
  }

  private def q75GlobalPack(s: SparkSession, d: String): DataFrame =
    globalPack(Tables.documents(s, d), budget = 2048L, nParts = 32)

  /** q206: PADDING-WASTE SWEEP — the sequence-length sizing study run
    * before committing to a max_len: for each candidate context length,
    * what fraction of the padded token slots is waste when every
    * document is chunked to ceil(ntok/L) sequences and the last one
    * padded (the no-packing baseline q46/q75's packing exists to beat —
    * this query QUANTIFIES what packing saves at each L, which is how
    * the budget constant gets chosen). All integer until one floored
    * double ratio per L. Plan: one token-count projection of the corpus
    * (no text leaves the scan), a 3-way in-row explode over the
    * candidate lengths, one 3-group aggregate. */
  private def q206PaddingWaste(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(expr(s"size($toksExpr)").cast("long").as("ntok"))
      .select(col("ntok"),
              explode(expr("array(128L, 512L, 2048L)")).as("max_len"))
      .groupBy("max_len")
      .agg(count(lit(1)).as("n_docs"),
           sum("ntok").as("total_tokens"),
           sum(expr("((ntok + max_len - 1) div max_len) * max_len"))
             .as("padded_slots"))
      .withColumn("waste_ratio", expr(
        """IF(padded_slots = 0, cast(0 as double),
             floor(cast(padded_slots - total_tokens as double) * 1000
                   / padded_slots) / 1000)"""))
      .orderBy("max_len")


  /** The opt-out registry: CONTENT DIGESTS of opted-out documents (the
    * shape takedown / do-not-train lists actually ship in — hashes, not
    * text, leave the requester). Deterministic membership so the oracle
    * can state it: every 37th document (mod-class 3) registered. */
  private[graft] def optOutRegistry(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(37)) === 3)
      .select(md5(col("text")).as("oo_dig"))
      .distinct()

  /** q204: OPT-OUT / LICENSE FILTER — the governance step a release
    * pipeline runs between the q130 funnel and the q188 export: the
    * funnel's survivors are anti-joined against the broadcast opt-out
    * digest registry ([[optOutRegistry]]) at CONTENT level — matching by
    * digest, not id, so exact duplicates of an opted-out document are
    * removed too, the semantics takedown compliance actually requires —
    * and the per-source removal report (docs and tokens removed vs
    * released) extends q130's funnel with the compliance stage. Plan
    * shape: one [[pipelineFlags]] pass (s3 survivors), one broadcast
    * hash join against the registry (at 100 TB an opt-out registry is
    * millions of 16-byte digests — still broadcastable; beyond that the
    * same plan runs as a digest-keyed shuffle join), one source-grain
    * aggregate. All integer. Oracle: NOT EXISTS against the registry. */
  private def q204OptOutFilter(s: SparkSession, d: String): DataFrame = {
    val surv = pipelineFlags(s, d).filter(col("s3"))
    val marked = surv.join(
      broadcast(optOutRegistry(s, d).withColumn("oo", lit(1))),
      col("dig") === col("oo_dig"), "left")
    marked.groupBy("source").agg(
        count(lit(1)).as("survivors"),
        sum(when(col("oo") === 1, 1L).otherwise(0L)).as("removed_docs"),
        sum(when(col("oo") === 1, col("ntok")).otherwise(0L))
          .as("removed_tokens"),
        sum(when(col("oo").isNull, 1L).otherwise(0L)).as("released_docs"),
        sum(when(col("oo").isNull, col("ntok")).otherwise(0L))
          .as("released_tokens"))
      .orderBy("source")
  }

  /** RELEASE EXPORT — the step every curation pipeline actually ends
    * with: materialize the surviving corpus (q130's full funnel — exact
    * dedup ∧ quality ∧ decontamination) partitioned by the q120
    * deterministic split, then read the artifact back with split values
    * taken from the DIRECTORY NAMES. The oracle recomputes survivors +
    * split + content hash from the raw table, so a misbucketed, lost,
    * duplicated or content-corrupted row in the written dataset all
    * surface as a hash mismatch — the q173 write+read-back parity
    * pattern applied to the release artifact. Write-once per
    * (session, dataset), the production shape; scale: the write is one
    * partitioned append executed by the survivors' own partitions, the
    * read-back is the gate's verification scan. */
  private def q188ReleaseExport(s: SparkSession, d: String): DataFrame = {
    val out = graft.SessionMemo.getOrElseUpdate[String](s, "curation.release", d)( {
      val root = graft.WorkDirs.artifactDir(s, "release", d)
      pipelineFlags(s, d).filter(col("s3"))
        .select(col("doc_id"), col("source"), col("ntok"))
        .withColumn("split", expr(Curation3.splitExpr("doc_id")))
        .join(Tables.documents(s, d)
                .select(col("doc_id"), md5(col("text")).as("text_md5")),
              "doc_id")
        .write.mode("overwrite").partitionBy("split")
        .option("compression", "snappy").parquet(root)
      root
    })
    Ingest.readLanded(s, out)
      .select(col("doc_id"), col("split"), col("source"), col("ntok"),
              col("text_md5"))
      .orderBy("doc_id")
  }

  /** Version-to-version diff core over two release relations keyed by
    * doc_id with (source, ntok, text_md5) — factored so the spec can
    * plant added/changed/removed fixtures directly. Full outer join at
    * id grain; CHANGED means both versions carry the id with different
    * content digests (a re-crawl rewrote the page). */
  private[graft] def releaseDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), col("source").as("src1"),
                      col("ntok").as("ntok1"), col("text_md5").as("md51"))
    val b = v2.select(col("doc_id"), col("source").as("src2"),
                      col("ntok").as("ntok2"), col("text_md5").as("md52"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
              col("src1"), col("src2"),
              when(col("src1").isNull, 1L).otherwise(0L).as("added"),
              when(col("src2").isNull, 1L).otherwise(0L).as("removed"),
              when(col("src1").isNotNull && col("src2").isNotNull &&
                   col("md51") =!= col("md52"), 1L).otherwise(0L).as("changed"),
              coalesce(col("ntok1"), lit(0L)).as("ntok1v"),
              coalesce(col("ntok2"), lit(0L)).as("ntok2v"))
      .groupBy("source")
      .agg(sum(when(col("src1").isNotNull, 1L).otherwise(0L)).as("n_v1"),
           sum(when(col("src2").isNotNull, 1L).otherwise(0L)).as("n_v2"),
           sum("added").as("added_docs"),
           sum(when(col("added") === 1L, col("ntok2v")).otherwise(0L))
             .as("added_tokens"),
           sum("removed").as("removed_docs"),
           sum(when(col("removed") === 1L, col("ntok1v")).otherwise(0L))
             .as("removed_tokens"),
           sum("changed").as("changed_docs"))
      .orderBy("source")
  }

  /** q251: RELEASE DIFF — the changelog between two dataset versions,
    * closing the export lifecycle q188 opened: v1 is the SHIPPED
    * release read back from its on-disk artifact (the q188 export)
    * restricted to the pre-crawl corpus (doc_id < 250, the q76/q183
    * incremental convention), v2 is the next candidate — the full s3
    * survivor set minus the q243 takedown closure. The per-source diff
    * (added / removed / changed docs with token masses) is what a
    * data-release note states and what downstream training jobs use to
    * decide whether retraining is warranted. Live branches in the
    * data: additions from the new crawl batch, removals from takedown
    * compliance; the CHANGED branch (same id, new digest) is planted
    * in the spec through the factored core. Scale shape: everything is
    * id-grain — two full-outer-joined id/digest relations and one
    * source rollup; document payloads never move. */
  private def q251ReleaseDiff(s: SparkSession, d: String): DataFrame = {
    val shipped = q188ReleaseExport(s, d)
      .select("doc_id", "source", "ntok", "text_md5")
    val v1 = shipped.filter(col("doc_id") < 250)
    val surv = pipelineFlags(s, d).filter(col("s3"))
      .join(Tables.documents(s, d)
              .select(col("doc_id"), md5(col("text")).as("text_md5")),
            "doc_id")
      .select("doc_id", "source", "ntok", "text_md5")
    val v2 = surv.join(takedownSet(s, d), Seq("doc_id"), "left_anti")
    releaseDiff(v1, v2)
  }

  /** q254: TRAINING-SHARD PLAN AUDIT — the data-loader decision between
    * reading the corpus AS WRITTEN (partitioned by source: each reader
    * sees one source's docs back-to-back — the SGD-hostile ordering
    * that makes loss curves sawtooth) and HASH-SHARDING by doc id (the
    * shuffled layout every training pipeline wants). Both layouts are
    * map-side md5 assignments — no global sort; the hash IS the
    * permutation — and each shard is audited against the global source
    * mixture with an EXACT-INTEGER L1 distance: Σ_s |c_s·N − g_s·n|
    * over the full shard×source grid (absent sources included — their
    * missing mass is exactly the distance a join-only form would
    * silently drop), divided once by N·n and floored. Near 0 = the
    * shard is a miniature of the corpus; near 2 = source-pure. Scale
    * shape: one (layout, shard, source) partial-agg grain, a broadcast
    * global-mix relation, and a register-sized grid — the corpus never
    * moves to be audited. */
  private def q254ShardPlan(s: SparkSession, d: String): DataFrame = {
    val nShards = 8L
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val assigned = docs.select(col("source"), explode(expr(
      s"""array(
           named_struct('layout', 'hash', 'shard',
             cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)
                  as bigint) % $nShards),
           named_struct('layout', 'by_source', 'shard',
             cast(conv(substr(md5(source), 1, 15), 16, 10)
                  as bigint) % $nShards))""")).as("a"))
      .select(col("a.layout").as("layout"), col("a.shard").as("shard"),
              col("source"))
    val cnt = assigned.groupBy("layout", "shard", "source")
      .agg(count(lit(1)).as("c"))
    val glob = docs.groupBy("source").agg(count(lit(1)).as("g"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val perShard = cnt.groupBy("layout", "shard")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_sources"))
    perShard
      .crossJoin(broadcast(glob))
      .crossJoin(broadcast(total))
      .join(broadcast(cnt.select(col("layout").as("l2"),
                                 col("shard").as("s2"),
                                 col("source").as("src2"), col("c"))),
            col("l2") === col("layout") && col("s2") === col("shard") &&
              col("src2") === col("source"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .withColumn("term", expr("abs(c0 * n_total - g * n_docs)"))
      .groupBy("layout", "shard", "n_docs", "n_sources", "n_total")
      .agg(sum("term").as("l1_num"))
      .withColumn("mix_l1",
        expr("floor(cast(l1_num as double) * 1000 / (n_total * n_docs)) / 1000"))
      .select("layout", "shard", "n_docs", "n_sources", "mix_l1")
      .orderBy("layout", "shard")
  }

  /** q259: DATASET CARD — the datasheet a release ships with (Gebru et
    * al.'s "Datasheets for Datasets" in query form): one (metric,
    * value) relation summarizing the corpus and the release derived
    * from it — totals, source count, exact-dup and near-dup-family
    * mass, quality/contamination/benchmark/opt-out removals, and the
    * released docs/tokens after the takedown closure. Every number is
    * an exact BIGINT from the SHARED memoized relations (pipelineFlags,
    * the q73 cluster assignment, the q204 registry), so the card is
    * consistent BY CONSTRUCTION with the gates it summarizes — the
    * funnel (q130), scorecard (q132), takedown (q243) and diff (q251)
    * all reconcile against it. Union of one-row aggregates, one lazy
    * plan (the q189 shape); metric keys are number-prefixed so the
    * card prints in reading order. */
  private def q259DatasetCard(s: SparkSession, d: String): DataFrame = {
    val fl = pipelineFlags(s, d)
    val direct = takedownDirect(s, d)
    val released = fl.filter(col("s3"))
      .join(takedownSet(s, d), Seq("doc_id"), "left_anti")
    // ONE multi-aggregate pass per input relation (r16 — the card was a
    // union of 11 single-metric aggregate subtrees, each its own read +
    // agg of the same memoized relations: ~1.1 s of pure stage floor).
    // Three one-row aggregates + stack() to the (metric, value) rows;
    // every number is the identical exact BIGINT as before.
    val a1 = fl.agg(
      count(lit(1)).as("m01"), sum("ntok").as("m02"),
      countDistinct(col("source")).as("m03"),
      (count(lit(1)) - countDistinct(col("dig"))).as("m04"),
      sum(when(!col("kq"), 1L).otherwise(0L)).as("m06"),
      sum(when(col("fl") === 1, 1L).otherwise(0L)).as("m07"),
      sum(when(col("doc_id") < 20, 1L).otherwise(0L)).as("m08"))
    val a2 = direct.agg(
      (count(lit(1)) - countDistinct(col("cluster_id"))).as("m05"),
      sum("direct").as("m09"))
    val a3 = released.agg(
      count(lit(1)).as("m10"), sum("ntok").as("m11"))
    a1.crossJoin(a2).crossJoin(a3)
      .select(expr(
        """stack(11,
             '01_docs_total', m01, '02_tokens_total', m02,
             '03_sources', m03, '04_exact_dup_docs', m04,
             '05_neardup_extra_docs', m05, '06_quality_fail_docs', m06,
             '07_contaminated_docs', m07, '08_benchmark_docs', m08,
             '09_optout_docs', m09, '10_released_docs', m10,
             '11_released_tokens', m11) AS (metric, value)"""))
      .select(col("metric"), col("value").cast("long").as("value"))
      .orderBy("metric")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q259_dataset_card" -> q259DatasetCard _,
    "q254_shard_plan" -> q254ShardPlan _,
    "q251_release_diff" -> q251ReleaseDiff _,
    "q188_release_export" -> q188ReleaseExport _,
    "q204_optout_filter" -> q204OptOutFilter _,
    "q206_padding_waste" -> q206PaddingWaste _,
    "q46_pack_sequences" -> q46PackSequences _,
    "q47_pii_scrub"      -> q47PiiScrub _,
    "q48_contamination"  -> q48Contamination _,
    "q238_family_contamination" -> q238FamilyContamination _,
    "q243_takedown_closure" -> q243TakedownClosure _,
    "q129_contamination_sweep" -> q129ContaminationSweep _,
    "q130_pipeline_funnel" -> q130PipelineFunnel _,
    "q132_source_scorecard" -> q132SourceScorecard _,
    "q49_repetition"     -> q49Repetition _,
    "q74_quality_gate"   -> q74QualityGate _,
    "q75_global_pack"    -> q75GlobalPack _,
  )

  /** The q130 pipeline's flag block, the one copy of the CTE list every
    * oracle that recomputes the pipeline's verdict starts from: `base`
    * (doc_id, source, content digest `dig` = md5(text), token count
    * `ntok`); `fc`, the first doc_id per digest (exact dedup); `t`/`f`/`q`,
    * q93's quality `keep` flag and `score`; `sh`/`bench`/`corpus`, q48's
    * shingle overlap with the doc_id < 20 benchmark; `flagged`, the
    * contaminated docs. Each oracle appends its own tail. */
  private[operators] val flagBlockCtes: String =
    s"""base AS (SELECT doc_id, source, md5(text) AS dig,
                         len(string_split_regex(trim(text), '\\s+')) AS ntok
                  FROM documents),
         fc AS (SELECT dig, min(doc_id) AS first_id FROM base GROUP BY dig),
         ${Curation2.q93TokenCtes},
         q AS (SELECT doc_id,
                      CASE WHEN (0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                                 - 0.25 * (sl / CAST(n AS DOUBLE))) > 0
                           THEN 1 ELSE 0 END AS keep,
                      floor((0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                             - 0.25 * (sl / CAST(n AS DOUBLE))) * 1e6) / 1e6
                        AS score
               FROM f),
         sh AS (${TextExprs.duckShingleSet("doc_id")}),
         bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
                   WHERE doc_id < 20),
         corpus AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s
                    FROM sh WHERE doc_id >= 20),
         flagged AS (SELECT doc_id, 1 AS fl
                     FROM corpus JOIN bench USING (s)
                     GROUP BY doc_id
                     HAVING floor(count(*) / any_value(nsh) * 1000) / 1000
                            >= 0.2)"""

  /** Stage s3's survivors over [[flagBlockCtes]]: digest-first,
    * quality-kept, uncontaminated, non-benchmark docs. */
  private val survCte: String =
    """surv AS (SELECT b.doc_id, b.source, b.dig, b.ntok
                  FROM base b JOIN fc USING (dig) JOIN q USING (doc_id)
                  LEFT JOIN flagged fg USING (doc_id)
                  WHERE b.doc_id = fc.first_id AND q.keep = 1
                    AND coalesce(fg.fl, 0) = 0 AND b.doc_id >= 20)"""

  /** q243's takedown closure over [[flagBlockCtes]]' `base` and the q73
    * clusters `cl`: every doc whose near-dup family holds a doc whose
    * digest is in the opt-out registry `reg`. */
  private val takedownCtes: String =
    """reg AS (SELECT DISTINCT md5(text) AS oo_dig FROM documents
                 WHERE doc_id % 37 = 3),
         dd AS (SELECT base.doc_id,
                       CASE WHEN reg.oo_dig IS NOT NULL THEN 1 ELSE 0 END
                         AS direct
                FROM base LEFT JOIN reg ON reg.oo_dig = base.dig),
         fam AS (SELECT dd.doc_id, dd.direct, cl.cluster_id
                 FROM dd JOIN cl ON cl.doc_id = dd.doc_id),
         fh AS (SELECT cluster_id, max(direct) AS hit FROM fam GROUP BY 1),
         takedown AS (SELECT fam.doc_id FROM fam JOIN fh USING (cluster_id)
                      WHERE fh.hit = 1)"""

  override val oracles: Map[String, String] = Map(
    // q254: both md5 shard assignments, the full shard x source grid
    // with absent sources at c0 = 0, exact-integer L1 numerator
    "q254_shard_plan" ->
      """WITH docs AS (SELECT doc_id, source FROM documents),
         a AS (SELECT source, 'hash' AS layout,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 8 AS shard
               FROM docs
               UNION ALL
               SELECT source, 'by_source' AS layout,
                      CAST(('0x' || substr(md5(source), 1, 15))
                        AS BIGINT) % 8 AS shard
               FROM docs),
         cnt AS (SELECT layout, shard, source, count(*) AS c
                 FROM a GROUP BY 1, 2, 3),
         gsrc AS (SELECT source, count(*) AS g FROM docs GROUP BY 1),
         tot AS (SELECT count(*) AS n_total FROM docs),
         ps AS (SELECT layout, shard, CAST(sum(c) AS BIGINT) AS n_docs,
                       count(*) AS n_sources
                FROM cnt GROUP BY 1, 2),
         grid AS (SELECT ps.layout, ps.shard, ps.n_docs, ps.n_sources,
                         tot.n_total, gsrc.g,
                         coalesce(cnt.c, 0) AS c0
                  FROM ps CROSS JOIN gsrc CROSS JOIN tot
                  LEFT JOIN cnt ON cnt.layout = ps.layout
                               AND cnt.shard = ps.shard
                               AND cnt.source = gsrc.source),
         agg AS (SELECT layout, shard, n_docs, n_sources, n_total,
                        CAST(sum(abs(c0 * n_total - g * n_docs)) AS BIGINT)
                          AS l1_num
                 FROM grid GROUP BY 1, 2, 3, 4, 5)
         SELECT layout, shard, n_docs, n_sources,
                floor(CAST(l1_num AS DOUBLE) * 1000 / (n_total * n_docs))
                  / 1000 AS mix_l1
         FROM agg ORDER BY layout, shard""",
    // q259: the q251 CTEs (the flag block + survivors + takedown
    // closure) closed with scalar-subquery metrics — every value an
    // exact integer over the same relations the other gates use
    "q259_dataset_card" ->
      s"""WITH cl AS (${Dedup.q73ClustersOracleSql}),
         $flagBlockCtes,
         $survCte,
         $takedownCtes,
         rel AS (SELECT * FROM surv WHERE doc_id NOT IN
                   (SELECT doc_id FROM takedown)),
         card AS (
           SELECT '01_docs_total' AS metric,
                  (SELECT count(*) FROM base) AS value
           UNION ALL SELECT '02_tokens_total',
                  (SELECT CAST(sum(ntok) AS BIGINT) FROM base)
           UNION ALL SELECT '03_sources',
                  (SELECT count(DISTINCT source) FROM base)
           UNION ALL SELECT '04_exact_dup_docs',
                  (SELECT count(*) - count(DISTINCT dig) FROM base)
           UNION ALL SELECT '05_neardup_extra_docs',
                  (SELECT count(*) - count(DISTINCT cluster_id) FROM cl)
           UNION ALL SELECT '06_quality_fail_docs',
                  (SELECT count(*) FROM q WHERE keep = 0)
           UNION ALL SELECT '07_contaminated_docs',
                  (SELECT count(*) FROM flagged)
           UNION ALL SELECT '08_benchmark_docs',
                  (SELECT count(*) FROM base WHERE doc_id < 20)
           UNION ALL SELECT '09_optout_docs',
                  (SELECT CAST(sum(direct) AS BIGINT) FROM dd)
           UNION ALL SELECT '10_released_docs',
                  (SELECT count(*) FROM rel)
           UNION ALL SELECT '11_released_tokens',
                  (SELECT CAST(sum(ntok) AS BIGINT) FROM rel))
         SELECT metric, CAST(value AS BIGINT) AS value FROM card
         ORDER BY metric""",
    // q251: v1 = s3 survivors pre-crawl (doc_id < 250), v2 = s3
    // survivors minus the q243 closure; full-outer diff at id grain,
    // integer counts and token masses per source
    "q251_release_diff" ->
      s"""WITH cl AS (${Dedup.q73ClustersOracleSql}),
         $flagBlockCtes,
         $survCte,
         $takedownCtes,
         v1 AS (SELECT * FROM surv WHERE doc_id < 250),
         v2 AS (SELECT * FROM surv
                WHERE doc_id NOT IN (SELECT doc_id FROM takedown)),
         dj AS (SELECT coalesce(v1.source, v2.source) AS source,
                       v1.doc_id AS id1, v2.doc_id AS id2,
                       v1.ntok AS ntok1, v2.ntok AS ntok2,
                       v1.dig AS md51, v2.dig AS md52
                FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         SELECT source,
                CAST(sum(CASE WHEN id1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_v1,
                CAST(sum(CASE WHEN id2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_v2,
                CAST(sum(CASE WHEN id1 IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS added_docs,
                CAST(sum(CASE WHEN id1 IS NULL THEN ntok2 ELSE 0 END)
                  AS BIGINT) AS added_tokens,
                CAST(sum(CASE WHEN id2 IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS removed_docs,
                CAST(sum(CASE WHEN id2 IS NULL THEN ntok1 ELSE 0 END)
                  AS BIGINT) AS removed_tokens,
                CAST(sum(CASE WHEN id1 IS NOT NULL AND id2 IS NOT NULL
                               AND md51 <> md52 THEN 1 ELSE 0 END)
                  AS BIGINT) AS changed_docs
         FROM dj GROUP BY 1 ORDER BY source""",
    // q243: the q73 closure + q204's digest registry; integer counts
    // and token masses per source
    "q243_takedown_closure" ->
      s"""WITH cl AS (${Dedup.q73ClustersOracleSql}),
         base AS (SELECT doc_id, source,
                         len(string_split_regex(trim(text), '\\s+')) AS ntok,
                         md5(text) AS dig
                  FROM documents),
         reg AS (SELECT DISTINCT md5(text) AS oo_dig FROM documents
                 WHERE doc_id % 37 = 3),
         dd AS (SELECT base.doc_id, source, ntok,
                       CASE WHEN reg.oo_dig IS NOT NULL THEN 1 ELSE 0 END
                         AS direct
                FROM base LEFT JOIN reg ON reg.oo_dig = base.dig),
         f AS (SELECT dd.doc_id, source, ntok, direct, cl.cluster_id
               FROM dd JOIN cl ON cl.doc_id = dd.doc_id),
         fh AS (SELECT cluster_id, max(direct) AS hit FROM f GROUP BY 1)
         SELECT source, count(*) AS n_docs,
                CAST(sum(direct) AS BIGINT) AS direct_removed,
                CAST(sum(hit) AS BIGINT) AS closure_removed,
                CAST(sum(CASE WHEN hit = 1 AND direct = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS transitive_removed,
                CAST(sum(CASE WHEN hit = 1 THEN ntok ELSE 0 END) AS BIGINT)
                  AS removed_tokens
         FROM f JOIN fh USING (cluster_id)
         GROUP BY source ORDER BY source""",
    // q238: the q73 family closure + q48's direct flags at the same
    // threshold, propagated by one family-grain aggregate
    "q238_family_contamination" ->
      s"""WITH cl AS (${Dedup.q73ClustersOracleSql}),
         sh3 AS (${TextExprs.duckShingleSet("doc_id")}),
         bench3 AS (SELECT DISTINCT unnest(shingles) AS s FROM sh3
                    WHERE doc_id < 20),
         corpus3 AS (SELECT doc_id, len(shingles) AS nsh,
                            unnest(shingles) AS s
                     FROM sh3 WHERE doc_id >= 20),
         dir AS (SELECT doc_id FROM corpus3 JOIN bench3 USING (s)
                 GROUP BY doc_id
                 HAVING floor(count(*) / any_value(nsh) * 1000) / 1000 >= 0.2),
         f AS (SELECT cl.doc_id, cl.cluster_id,
                      CASE WHEN dir.doc_id IS NOT NULL THEN 1 ELSE 0 END
                        AS direct
               FROM cl LEFT JOIN dir ON dir.doc_id = cl.doc_id
               WHERE cl.doc_id >= 20),
         fm AS (SELECT cluster_id, CAST(sum(direct) AS BIGINT) AS n_direct,
                       max(direct) AS hit
                FROM f GROUP BY 1)
         SELECT f.doc_id, f.cluster_id, CAST(f.direct AS BIGINT) AS direct,
                n_direct
         FROM f JOIN fm USING (cluster_id) WHERE hit = 1
         ORDER BY f.doc_id""",
    "q46_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         SELECT lang, CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         FROM c GROUP BY lang, bin ORDER BY lang, bin""",
    "q47_pii_scrub" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
         length(regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g')) AS scrubbed_len
         FROM documents ORDER BY doc_id""",
    "q48_contamination" ->
      s"""WITH sh AS (${TextExprs.duckShingleSet("doc_id")}),
         bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 20),
         corpus AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s
                    FROM sh WHERE doc_id >= 20)
         SELECT doc_id, count(*) AS n_hit,
                floor(count(*) / any_value(nsh) * 1000) / 1000 AS contamination
         FROM corpus JOIN bench USING (s)
         GROUP BY doc_id
         HAVING floor(count(*) / any_value(nsh) * 1000) / 1000 >= 0.2
         ORDER BY doc_id""",
    // same join/threshold contract as q48, parameterized by n; the n = 3
    // rows must equal q48's output exactly (CurationSpec pins it)
    "q129_contamination_sweep" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                    FROM documents),
         ns(n) AS (VALUES (2), (3), (4)),
         sh AS (SELECT doc_id, n,
                  list_distinct(CASE WHEN len(t) >= n THEN
                    [array_to_string(t[i:i+n-1], ' ')
                     for i in range(1, len(t) - n + 2)]
                  ELSE [] END) AS shingles
                FROM t, ns),
         bench AS (SELECT DISTINCT n, unnest(shingles) AS s
                   FROM sh WHERE doc_id < 20),
         corpus AS (SELECT doc_id, n, len(shingles) AS nsh,
                           unnest(shingles) AS s
                    FROM sh WHERE doc_id >= 20)
         SELECT CAST(corpus.n AS BIGINT) AS n, doc_id, count(*) AS n_hit,
                floor(count(*) / any_value(nsh) * 1000) / 1000 AS contamination
         FROM corpus JOIN bench ON bench.n = corpus.n AND bench.s = corpus.s
         GROUP BY corpus.n, doc_id
         HAVING floor(count(*) / any_value(nsh) * 1000) / 1000 >= 0.2
         ORDER BY n, doc_id""",
    // q206: DuckDB // floors ≡ Spark div (positive operands); one
    // floored explicit-double ratio per candidate length
    "q206_padding_waste" ->
      """WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) AS ntok
                    FROM documents),
         x AS (SELECT ntok, unnest([128, 512, 2048]) AS max_len FROM t)
         SELECT CAST(max_len AS BIGINT) AS max_len,
                count(*) AS n_docs,
                CAST(sum(ntok) AS BIGINT) AS total_tokens,
                CAST(sum((ntok + max_len - 1) // max_len * max_len) AS BIGINT)
                  AS padded_slots,
                CASE WHEN sum((ntok + max_len - 1) // max_len * max_len) = 0
                     THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(sum((ntok + max_len - 1) // max_len
                                         * max_len)
                                     - sum(ntok) AS DOUBLE) * 1000
                                / sum((ntok + max_len - 1) // max_len
                                      * max_len)) / 1000 END AS waste_ratio
         FROM x GROUP BY max_len ORDER BY max_len""",
    // q204: the flag block's survivors + a digest registry; removal stated
    // as NOT EXISTS (content-level, so a duplicate of an opted-out doc
    // is removed too — though by stage s3 only digest-first copies
    // survive, the match is still by content, not id)
    "q204_optout_filter" ->
      s"""WITH $flagBlockCtes,
         $survCte,
         reg AS (SELECT DISTINCT md5(text) AS oo_dig FROM documents
                 WHERE doc_id % 37 = 3),
         mk AS (SELECT source, ntok,
                       CASE WHEN NOT EXISTS (SELECT 1 FROM reg
                                             WHERE reg.oo_dig = surv.dig)
                            THEN 1 ELSE 0 END AS ok
                FROM surv)
         SELECT source, CAST(count(*) AS BIGINT) AS survivors,
                CAST(sum(1 - ok) AS BIGINT) AS removed_docs,
                CAST(sum((1 - ok) * ntok) AS BIGINT) AS removed_tokens,
                CAST(sum(ok) AS BIGINT) AS released_docs,
                CAST(sum(ok * ntok) AS BIGINT) AS released_tokens
         FROM mk GROUP BY source ORDER BY source""",
    // q188: the flag block's survivors + the q120 split bucket + the
    // content md5 (`dig`) — the full release recomputed from the raw
    // table against the written artifact's read-back
    "q188_release_export" ->
      s"""WITH $flagBlockCtes,
         $survCte
         SELECT doc_id,
                ${Curation3.splitSql("doc_id")} AS split,
                source, CAST(ntok AS BIGINT) AS ntok, dig AS text_md5
         FROM surv ORDER BY doc_id""",
    // all-integer funnel over the flag block; the single division per
    // output row is long/long → double in both engines
    "q130_pipeline_funnel" ->
      s"""WITH $flagBlockCtes,
         flags AS (SELECT b.doc_id, b.ntok,
                          (b.doc_id = fc.first_id) AS s1,
                          (q.keep = 1) AS kq,
                          coalesce(fg.fl, 0) AS fl
                   FROM base b JOIN fc USING (dig) JOIN q USING (doc_id)
                   LEFT JOIN flagged fg USING (doc_id)),
         staged AS (
           SELECT 1 AS stage_ord, 'raw' AS stage, count(*) AS n_docs,
                  sum(ntok) AS n_tokens FROM flags
           UNION ALL SELECT 2, 'exact_dedup', count(*), sum(ntok)
                     FROM flags WHERE s1
           UNION ALL SELECT 3, 'quality', count(*), sum(ntok)
                     FROM flags WHERE s1 AND kq
           UNION ALL SELECT 4, 'decontam', count(*), sum(ntok)
                     FROM flags WHERE s1 AND kq AND fl = 0 AND doc_id >= 20)
         SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
                CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                floor(CAST(n_tokens AS BIGINT)
                      / (SELECT CAST(n_tokens AS BIGINT) FROM staged
                         WHERE stage_ord = 1) * 10000) / 10000
                  AS retained_frac
         FROM staged ORDER BY stage_ord""",
    // the q130 flags aggregated by source instead of by stage
    "q132_source_scorecard" ->
      s"""WITH $flagBlockCtes,
         flags AS (SELECT b.doc_id, b.source,
                          (b.doc_id = fc.first_id) AS s1,
                          (q.keep = 1) AS kq,
                          coalesce(fg.fl, 0) AS fl
                   FROM base b JOIN fc USING (dig) JOIN q USING (doc_id)
                   LEFT JOIN flagged fg USING (doc_id)),
         agg AS (SELECT source,
                        count(*) AS n_docs,
                        sum(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS n_dup,
                        sum(CASE WHEN NOT kq THEN 1 ELSE 0 END)
                          AS n_quality_fail,
                        sum(fl) AS n_contaminated,
                        sum(CASE WHEN s1 AND kq AND fl = 0 AND doc_id >= 20
                                 THEN 1 ELSE 0 END) AS n_kept
                 FROM flags GROUP BY source)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_dup AS BIGINT) AS n_dup,
                CAST(n_quality_fail AS BIGINT) AS n_quality_fail,
                CAST(n_contaminated AS BIGINT) AS n_contaminated,
                CAST(n_kept AS BIGINT) AS n_kept,
                floor(CAST(n_kept AS BIGINT)
                      / CAST(n_docs AS BIGINT) * 10000) / 10000 AS keep_frac
         FROM agg ORDER BY source""",
    "q49_repetition" ->
      """WITH freq AS (
           SELECT doc_id, token, count(*) AS cnt
           FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS token
                 FROM documents)
           GROUP BY doc_id, token),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY cnt DESC, token) AS rn FROM freq),
         agg AS (SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct,
                   max(CASE WHEN rn = 1 THEN token END) AS top_token,
                   CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt
                 FROM ranked GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct, top_token,
                floor(top_cnt / n_tokens * 1000) / 1000 AS top_share,
                floor(n_distinct / n_tokens * 1000) / 1000 AS distinct_ratio
         FROM agg ORDER BY doc_id""",
    // q74: quantile_cont over integer token counts ≡ Spark percentile
    // (IEEE-exact lerp, q19's precedent); same gate + survivor stats.
    "q74_quality_gate" ->
      """WITH t AS (SELECT doc_id, lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents),
         thr AS (SELECT quantile_cont(n_tokens, 0.25) AS thr FROM t)
         SELECT lang, count(*) AS n_kept,
                floor(avg(n_tokens) * 100) / 100 AS avg_tokens
         FROM t, thr WHERE n_tokens >= thr
         GROUP BY lang ORDER BY lang""",
    // q75: the oracle is the NAIVE single-stream global cumsum — the
    // distributed two-phase prefix sum must reproduce it exactly.
    "q75_global_pack" ->
      """WITH t AS (SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         SELECT CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         FROM c GROUP BY bin ORDER BY bin""",
  )
}
