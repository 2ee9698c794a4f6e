package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline evaluation metrics for the retrieval / curation tiers — the
  * statistics a data-pipeline team runs over its OWN outputs before a
  * release: ranking quality (nDCG/MRR), score calibration (ECE),
  * inter-rater agreement (Cohen's κ), and the corpus-law fit (Zipf OLS).
  *
  * Shared discipline (the q207/q266 parity rules): every cross-row SUM
  * is over exact integers (integerized logs, literal integer discount
  * weights, contingency-cell counts), so no aggregate is
  * partition-order-dependent; doubles appear only in single-rounded
  * closing divisions whose expression text is shared verbatim with the
  * DuckDB oracle.
  *
  * Reference tie-in: the reference pipeline ships records to parquet and
  * stops (`ETLTask.java:269`); these are the post-ingest report queries a
  * warehouse runs on the landed tables.
  */
object Evaluation extends QueryPack {

  /** The fixed benchmark query set for q267: (query_id, term) — literal
    * relation, broadcast everywhere it joins. */
  private val ndcgQueries: Seq[(Long, String)] = Seq(
    1L -> "join", 1L -> "hash", 1L -> "scan",
    2L -> "customer", 2L -> "order", 2L -> "line",
    3L -> "stream", 3L -> "window", 3L -> "batch",
    4L -> "vector", 4L -> "merge", 4L -> "sort",
    5L -> "filter", 5L -> "group", 5L -> "agg")

  /** Integer DCG discount weights W_i = round(1e9 / log2(i + 1)) for
    * ranks 1..10 — literals generated ONCE here and embedded in both
    * plans, so DCG is an exact-integer Σ gain·W (gain ≤ 7, W ≤ 1e9:
    * products ≤ 7e9, ten-term sums ≤ 7e10 — no double sum anywhere,
    * and the final nDCG is one floored division of exact integers). */
  private[graft] val dcgW: Seq[Long] =
    (1 to 10).map(i => math.round(1e9 / (math.log(i + 1) / math.log(2))))

  private def dcgCaseSql(rankCol: String): String =
    (1 to 10).map(i => s"WHEN $rankCol = $i THEN ${dcgW(i - 1)}L")
      .mkString("CASE ", " ", " ELSE 0L END")

  private def dcgCaseDuck(rankCol: String): String =
    (1 to 10).map(i => s"WHEN $rankCol = $i THEN ${dcgW(i - 1)}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** q267: RANKING QUALITY (nDCG@10 + MRR) — the retrieval eval the
    * recall gates (q109/q115/q153) don't cover: graded-relevance rank
    * quality of a term-frequency scorer against the benchmark query
    * set. Candidates come from an inverted posting join (docs fan out
    * to (term, doc) postings map-side; the 15-term query relation is
    * broadcast), per-(query, doc) score = Σ tf, graded relevance = the
    * number of query terms with tf ≥ 2. Ranking and the ideal ranking
    * are two windows over the per-query candidate slice, both ordered
    * by exact integers with doc_id tie-breaks, so the permutation is
    * engine-invariant; DCG/IDCG are exact-integer sums of literal
    * discount weights ([[dcgW]]); nDCG and MRR close with one floored
    * division each. Scale: per-query candidate slices are posting-join
    * sized (|docs containing a term|), the windows partition by
    * query_id, nothing global. */
  private def q267Ndcg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = ndcgQueries.toDF("query_id", "term")
    val postings = Tables.documents(s, d)
      .select(col("doc_id"),
              explode(expr(graft.functions.TextExprs.toks)).as("term"))
    val tf = postings.join(broadcast(terms), "term")
      .groupBy("query_id", "doc_id", "term").agg(count(lit(1)).as("tf"))
    val cand = tf.groupBy("query_id", "doc_id")
      .agg(sum("tf").as("score"),
           sum(expr("CASE WHEN tf >= 2 THEN 1 ELSE 0 END")).as("rel"))
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val byRel = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val ranked = cand
      .withColumn("rk", row_number().over(byScore).cast("long"))
      .withColumn("irk", row_number().over(byRel).cast("long"))
      .withColumn("gain", expr("cast(pow(2, rel) as bigint) - 1"))
    ranked.groupBy("query_id")
      .agg(count(lit(1)).as("n_candidates"),
           sum(expr(s"(${dcgCaseSql("rk")}) * gain")).as("dcg_i"),
           sum(expr(s"(${dcgCaseSql("irk")}) * gain")).as("idcg_i"),
           min(expr("CASE WHEN rel >= 2 THEN rk ELSE NULL END")).as("frel"))
      .select(col("query_id"), col("n_candidates"),
        expr("""CASE WHEN idcg_i = 0 THEN cast(0 as double)
                ELSE floor(cast(dcg_i as double) * 1000000 / idcg_i) / 1000000
                END""").as("ndcg10"),
        expr("""CASE WHEN frel IS NULL THEN cast(0 as double)
                ELSE (1000000 div frel) / cast(1000000 as double)
                END""").as("mrr"))
      .orderBy("query_id")
  }

  /** q268: CALIBRATION (ECE, 10 bins) — does the cheap linear quality
    * score (q93) CALIBRATE against the full pipeline verdict
    * ([[Curation.pipelineFlags]] final-survival s3)? Confidence is the
    * affine map p = (score+1)/2 clamped to [0,1], integerized once per
    * row (score is already a 1e-6 multiple, so ip is exact); bin
    * assignment, per-bin counts and confidence sums are all integers.
    * The per-bin |acc − conf| gap has the exact-integer numerator
    * |n_pos·1e6 − Σip|, and ECE = Σ_b |Δ_b| / N closes in ONE integer
    * division — no double accumulates across rows anywhere. One doc
    * scan (score) + the shared flag relation + a 10-row aggregate. */
  private def q268Calibration(s: SparkSession, d: String): DataFrame = {
    val sc = Curation2.qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"),
        expr("""least(1000000L, greatest(0L,
                cast(round((score + 1) / 2 * 1000000) as bigint)))""").as("ip"))
    val lab = Curation.pipelineFlags(s, d)
      .select(col("doc_id"), expr("CASE WHEN s3 THEN 1L ELSE 0L END").as("y"))
    val bins = sc.join(lab, "doc_id")
      .select(least(lit(9L), expr("ip div 100000")).as("bin"),
              col("ip"), col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"),
           sum("ip").as("sconf"))
      .withColumn("adiff", expr("abs(n_pos * 1000000 - sconf)"))
    val tot = bins.agg(sum("n_docs").as("nn"), sum("adiff").as("sdiff"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("floor(cast(n_pos as double) * 1000000 / n_docs) / 1000000")
          .as("acc"),
        expr("floor(cast(sconf as double) / n_docs) / 1000000").as("conf"),
        expr("((sdiff div nn)) / cast(1000000 as double)").as("ece"))
      .orderBy("bin")
  }

  /** q269: INTER-RATER AGREEMENT (Cohen's κ) — the standard chance-
    * corrected agreement statistic between the two document classifiers
    * this repo already gates: rater A = the q93 linear model's keep,
    * rater B = a Gopher-style structural rule (≥ 30 tokens, stopword
    * ratio ≥ 5%, mean word length ≤ 4.5 — all spelled as integer cross
    * products, no division). κ's numerator and denominator are exact
    * integer combinations of the four contingency cells
    * (κ = (N·(n00+n11) − (a0·b0 + a1·b1)) / (N² − (a0·b0 + a1·b1))),
    * so the only double is the single floored closing division. One doc
    * scan, one 4-row aggregate, one output row. */
  private def q269Kappa(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(expr(graft.functions.TextExprs.let1(
        graft.functions.TextExprs.toks, "w",
        """named_struct(
             'n', size(w),
             'ns', size(filter(w, x -> x IN ('a', 'the'))),
             'sl', aggregate(w, 0, (acc, x) -> acc + length(x)))""")).as("f"))
      .select(col("f.n").as("n"), col("f.ns").as("ns"), col("f.sl").as("sl"))
      .select(
        expr("""CASE WHEN 0.1 + 0.015 * n + 3.0 * (ns / cast(n as double))
                          - 0.25 * (sl / cast(n as double)) > 0
                THEN 1L ELSE 0L END""").as("ka"),
        expr("""CASE WHEN n >= 30 AND ns * 20 >= n AND sl * 10 <= n * 45
                THEN 1L ELSE 0L END""").as("kb"))
    f.agg(count(lit(1)).as("n_docs"),
          sum(expr("CASE WHEN ka = 0 AND kb = 0 THEN 1L ELSE 0L END")).as("n00"),
          sum(expr("CASE WHEN ka = 0 AND kb = 1 THEN 1L ELSE 0L END")).as("n01"),
          sum(expr("CASE WHEN ka = 1 AND kb = 0 THEN 1L ELSE 0L END")).as("n10"),
          sum(expr("CASE WHEN ka = 1 AND kb = 1 THEN 1L ELSE 0L END")).as("n11"))
      .select(col("n_docs"), col("n00"), col("n01"), col("n10"), col("n11"),
        expr("""floor(cast((n00 + n11) as double) * 1000000 / n_docs)
                / 1000000""").as("po"),
        expr("""floor(cast((n00 + n01) * (n00 + n10)
                           + (n10 + n11) * (n01 + n11) as double)
                      * 1000000 / (n_docs * n_docs)) / 1000000""").as("pe"),
        // Degenerate-corpus guard: when both raters are constant AND
        // agree on every doc, pe = 1 and the κ denominator
        // N² − (a0·b0 + a1·b1) is exactly 0 — Spark's /0 yields NULL
        // while another engine may raise, so the division is reached
        // only when defined; the degenerate case reports κ = 0
        // (agreement is indistinguishable from chance when chance
        // already predicts 100%). Same CASE, verbatim, in the oracle.
        expr("""CASE WHEN n_docs * n_docs = (n00 + n01) * (n00 + n10)
                                            + (n10 + n11) * (n01 + n11)
                THEN 0.0
                ELSE floor(cast(n_docs * (n00 + n11)
                           - ((n00 + n01) * (n00 + n10)
                              + (n10 + n11) * (n01 + n11)) as double) * 1000000
                      / (n_docs * n_docs
                         - ((n00 + n01) * (n00 + n10)
                            + (n10 + n11) * (n01 + n11)))) / 1000000 END""")
          .as("kappa"))
  }

  /** q270: ZIPF-LAW FIT — OLS of ln(freq) on ln(rank) over the head of
    * the term-frequency table (rank ≤ 1000 by (freq desc, term): the
    * standard head fit, and the cap is the scale lever — the ranked
    * head is a top-k, never the full vocabulary). Per-term logs are
    * integerized at 1e-3 BEFORE any sum (round(ln·1e3) ≤ ~2e4, pair
    * products ≤ ~4e8, thousand-term sums ≤ ~4e11 — every OLS moment is
    * an exact bigint; ln itself agrees across engines far below the
    * 1e-3 quantum, the q39 precedent). Slope/intercept/r² close in
    * floored double divisions whose operand order is shared verbatim
    * with the oracle. */
  private def q270ZipfFit(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(explode(expr(graft.functions.TextExprs.toks)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = tf
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("freq").desc, col("tok"))).cast("long"))
      .filter(col("rk") <= 1000)
      .select(expr("cast(round(ln(rk) * 1000) as bigint)").as("lx"),
              expr("cast(round(ln(freq) * 1000) as bigint)").as("ly"))
    ranked.agg(count(lit(1)).as("n_terms"),
               sum("lx").as("sx"), sum("ly").as("sy"),
               sum(expr("lx * lx")).as("sxx"),
               sum(expr("lx * ly")).as("sxy"),
               sum(expr("ly * ly")).as("syy"))
      .select(col("n_terms"),
        expr("""floor(cast(n_terms * sxy - sx * sy as double) * 1000
                      / (n_terms * sxx - sx * sx)) / 1000""").as("slope"),
        expr("""floor((cast(sy as double) / 1000
                       - cast(n_terms * sxy - sx * sy as double)
                         / (n_terms * sxx - sx * sx)
                         * (cast(sx as double) / 1000))
                      * 1000 / n_terms) / 1000""").as("intercept"),
        expr("""floor(cast(n_terms * sxy - sx * sy as double)
                      * cast(n_terms * sxy - sx * sy as double) * 1000000
                      / (cast(n_terms * sxx - sx * sx as double)
                         * cast(n_terms * syy - sy * sy as double)))
                / 1000000""").as("r2"))
  }

  /** q277: ROC-AUC of the q93 linear quality score against the pipeline
    * verdict — the threshold-FREE companion to q268's calibration (ECE
    * asks "are the probabilities honest?", AUC asks "does the score
    * rank keepers above droppers at all?"). Computed as the tie-aware
    * Mann-Whitney U from exact integer rank sums: rows collapse to the
    * DISTINCT-integerized-score grain (cnt, pos per score), one ordered
    * sweep gives each group its cumulative-before count cb, and every
    * positive in a tie group carries 2·avgrank = 2·cb + cnt + 1
    * (integer by construction), so U2 = Σ pos·(2cb + cnt + 1) and
    * AUC = (U2 − n_pos(n_pos+1)) / (2·n_pos·n_neg) closes in one
    * floored division. The sweep orders the score GRAIN, not rows (the
    * q275 dedup-then-sweep shape); rank cross-products stay under 2^63
    * to ~3e9 docs — past that production runs the identical plan
    * per stratum or on the q268 quantized-confidence grain. */
  private def q277Auc(s: SparkSession, d: String): DataFrame = {
    val sc = Curation2.qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"),
              expr("cast(round(score * 1000000) as bigint)").as("v"))
    val lab = Curation.pipelineFlags(s, d)
      .select(col("doc_id"), expr("CASE WHEN s3 THEN 1L ELSE 0L END").as("y"))
    val g = sc.join(lab, "doc_id")
      .groupBy("v").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cb", coalesce(sum("cnt").over(w), lit(0L)))
      .agg(sum("cnt").as("n_docs"), sum("pos").as("n_pos"),
           sum(expr("pos * (2 * cb + cnt + 1)")).as("u2"))
      .select(col("n_docs"), col("n_pos"),
        (col("n_docs") - col("n_pos")).as("n_neg"),
        expr("""CASE WHEN n_pos = 0 OR n_pos = n_docs THEN cast(0 as double)
                ELSE floor(cast(u2 - n_pos * (n_pos + 1) as double) * 1000000
                           / (2 * n_pos * (n_docs - n_pos))) / 1000000
                END""").as("auc"))
  }

  /** Benford expected first-digit masses as ppm literals —
    * round(log10(1 + 1/d)·1e6), generated ONCE here and embedded in
    * both plans (the q273 noise-table discipline). */
  private[graft] val benfordPpm: Seq[(Long, Long)] =
    (1 to 9).map(d => d.toLong -> math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** q278: BENFORD FIRST-DIGIT AUDIT — the data-forensics screen a
    * warehouse runs on financial/measurement columns (fabricated or
    * truncated feeds break the log-uniform first-digit law long before
    * totals look wrong). The digit is taken EXACTLY: prices integerize
    * to cents once (round(x·100) — a power-of-10 scale, so the leading
    * digit survives EXCEPT when the rounding carry crosses a decade
    * boundary, e.g. 999.996 → 100000 cents reads 1, not 9; those cells
    * are a vanishing fraction and, more to the point, both engines
    * compute the identical carried digit, so the audit statistic is
    * deterministic and parity-safe even where it is boundary-shifted)
    * and the first digit is the first
    * character of the BIGINT's decimal string, which both engines
    * render identically — never a float log10, whose boundary cells
    * (x ≈ 10^k) could disagree cross-engine. Shares are integer ppm
    * divisions; the report is per-digit observed vs expected with the
    * signed ppm deviation. One scan, one 9-row aggregate, broadcast
    * literals. */
  private def q278Benford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bexp = benfordPpm.toDF("digit", "expected_ppm")
    val g = Tables.lineitem(s, d)
      .select(expr("""cast(substring(cast(cast(round(l_extendedprice * 100)
                      as bigint) as string), 1, 1) as bigint)""").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = g.agg(sum("n_obs").as("n"))
    g.join(broadcast(bexp), "digit")
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        expr("n_obs * 1000000 div n").as("share_ppm"),
        col("expected_ppm"),
        expr("n_obs * 1000000 div n - expected_ppm").as("delta_ppm"))
      .orderBy("digit")
  }

  /** q279: GINI TOKEN CONCENTRATION — the inequality measure of the
    * corpus token distribution (the Lorenz-curve summary beside q270's
    * Zipf slope: the slope says HOW the head decays, the Gini says how
    * much of the corpus the head owns — the balance number a mixture
    * designer reads before upweighting a source). Exact integers
    * end-to-end: frequencies ranked ascending by the deterministic
    * (freq, tok) order, G = (2·Σ rk·freq − (n+1)·Σ freq) / (n·Σ freq),
    * one floored closing division. The rank window orders the
    * VOCABULARY (Zipf-bounded however big the corpus — the q270
    * argument); at extreme scale the same sum regroups by distinct
    * frequency value, and past ~1e18 token-rank products the moments
    * go DECIMAL — structure unchanged. */
  private def q279Gini(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(explode(expr(graft.functions.TextExprs.toks)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    tf.withColumn("rk", row_number()
        .over(Window.orderBy(col("freq"), col("tok"))).cast("long"))
      .agg(count(lit(1)).as("n_terms"),
           sum("freq").as("total_tokens"),
           sum(expr("rk * freq")).as("swr"))
      .select(col("n_terms"), col("total_tokens"),
        expr("""floor(cast(2 * swr - (n_terms + 1) * total_tokens as double)
                * 1000000 / (n_terms * total_tokens)) / 1000000""").as("gini"))
  }

  // ---------------------------------------------------------------------
  // Preference-data prep (q280–q282) — the pairwise (prompt, response A,
  // response B) record model every RLHF/DPO pipeline audits before
  // training. Records derive deterministically from the documents table
  // (record r: prompt = doc 3r, response A = doc 3r+1, response B =
  // doc 3r+2). A record exists iff BOTH response docs exist; the prompt
  // doc 3r is never probed separately — its existence follows from the
  // generator's contiguous doc_ids starting at 0 (3r < 3r+1, so any id
  // below an existing id exists). q282's prompt-grain restriction
  // (doc_id % 3 = 0 over the pair core) leans on the same contiguity.
  // The two "annotators" are the
  // repo's two certified document raters (q269's linear model and a
  // structural rule), lifted from doc-grain keep/drop to PAIR-grain
  // preference by score comparison.

  /** Per-doc integer features (token count, stopword count, summed word
    * length) — q269's feature scan, shared by the preference gates. */
  private def prefFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), expr(graft.functions.TextExprs.let1(
        graft.functions.TextExprs.toks, "w",
        """named_struct(
             'n', size(w),
             'ns', size(filter(w, x -> x IN ('a', 'the'))),
             'sl', aggregate(w, 0, (acc, x) -> acc + length(x)))""")).as("f"))
      .select(col("doc_id"), col("source"), col("f.n").as("n"),
              col("f.ns").as("ns"), col("f.sl").as("sl"))

  /** The per-record rater verdicts ('A' / 'B' / 'T'): rater 1 compares
    * q269's linear-model score (identical double expression on identical
    * integers — the certified cross-engine comparison form), rater 2 is
    * lexicographic structural preference (more tokens within an 80-token
    * budget, stopword count as tie-break). One row per record, i.e. per
    * (3r+1, 3r+2) response pair — see the record-model note above for
    * why the prompt doc's existence needs no separate check. */
  private def prefVerdicts(s: SparkSession, d: String): DataFrame =
    // three declared consumers (q280, q281, q282's record count) read
    // the identical relation — the standard SessionMemo + lazy
    // localCheckpoint shape, so the corpus feature scan and the A/B
    // join run once per (session, dataset)
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "eval.prefVerdicts", d)(
      prefVerdictsCompute(s, d).localCheckpoint(eager = false))

  private def prefVerdictsCompute(s: SparkSession, d: String): DataFrame = {
    val f = prefFeatures(s, d)
    val a = f.filter(col("doc_id") % 3 === 1)
      .select(expr("(doc_id - 1) div 3").as("r"), col("n").as("na"),
              col("ns").as("nsa"), col("sl").as("sla"))
    val b = f.filter(col("doc_id") % 3 === 2)
      .select(expr("(doc_id - 2) div 3").as("r"), col("n").as("nb"),
              col("ns").as("nsb"), col("sl").as("slb"))
    a.join(b, "r")
      .select(col("r"),
        expr("""CASE WHEN 0.015 * na + 3.0 * (nsa / cast(na as double))
                          - 0.25 * (sla / cast(na as double))
                        > 0.015 * nb + 3.0 * (nsb / cast(nb as double))
                          - 0.25 * (slb / cast(nb as double)) THEN 'A'
                     WHEN 0.015 * na + 3.0 * (nsa / cast(na as double))
                          - 0.25 * (sla / cast(na as double))
                        < 0.015 * nb + 3.0 * (nsb / cast(nb as double))
                          - 0.25 * (slb / cast(nb as double)) THEN 'B'
                     ELSE 'T' END""").as("r1"),
        expr("""CASE WHEN least(na, 80) > least(nb, 80) THEN 'A'
                     WHEN least(na, 80) < least(nb, 80) THEN 'B'
                     WHEN nsa > nsb THEN 'A'
                     WHEN nsa < nsb THEN 'B'
                     ELSE 'T' END""").as("r2"))
  }

  /** q280: PAIR-GRAIN INTER-ANNOTATOR AGREEMENT — q269's Cohen's κ
    * generalized to the 3-category preference verdict (A / B / tie),
    * the first number any preference dataset reports (noisy-rater pairs
    * poison a reward model far faster than noisy doc labels). The 3×3
    * confusion cells are exact integer sums; po/pe/κ close in floored
    * double divisions; κ carries q269's degenerate-denominator guard. */
  private def q280PreferenceKappa(s: SparkSession, d: String): DataFrame = {
    val v = prefVerdicts(s, d)
    val cells = Seq("A", "B", "T").flatMap(x => Seq("A", "B", "T").map(y =>
      sum(expr(s"CASE WHEN r1 = '$x' AND r2 = '$y' THEN 1L ELSE 0L END"))
        .as(s"c_${x.toLowerCase}${y.toLowerCase}")))
    v.agg(count(lit(1)).as("n_records"), cells: _*)
      .select(col("n_records"),
        col("c_aa"), col("c_ab"), col("c_at"),
        col("c_ba"), col("c_bb"), col("c_bt"),
        col("c_ta"), col("c_tb"), col("c_tt"),
        expr("""floor(cast(c_aa + c_bb + c_tt as double) * 1000000
                      / n_records) / 1000000""").as("po"),
        expr("""floor(cast((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                           + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                           + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt) as double)
                      * 1000000 / (n_records * n_records)) / 1000000""").as("pe"),
        expr("""CASE WHEN n_records * n_records =
                          (c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                          + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                          + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt)
                THEN 0.0
                ELSE floor(cast(n_records * (c_aa + c_bb + c_tt)
                           - ((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                              + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                              + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt)) as double)
                      * 1000000
                      / (n_records * n_records
                         - ((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                            + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                            + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt))))
                     / 1000000 END""").as("kappa"))
  }

  /** q281: POSITION-BIAS / TIE AUDIT — does a rater systematically
    * prefer the first-presented response? Presentation order alternates
    * deterministically (record r presents A first iff r is even — the
    * swap-randomization a real pipeline applies), so an order-blind
    * rater splits its non-tie preferences ~50/50 on presentation
    * position regardless of content. One conditional aggregate serves
    * both raters; the two report rows explode from it (the q154
    * single-pass discipline). first_share is floored ppm over non-tie
    * preferences, guarded for the all-tie degenerate case. */
  private def q281PositionBias(s: SparkSession, d: String): DataFrame = {
    val v = prefVerdicts(s, d)
      .withColumn("first", expr("IF(r % 2 = 0, 'A', 'B')"))
    val agg = v.agg(count(lit(1)).as("n_records"),
      sum(expr("CASE WHEN r1 <> 'T' AND r1 = first THEN 1L ELSE 0L END")).as("f1"),
      sum(expr("CASE WHEN r1 <> 'T' AND r1 <> first THEN 1L ELSE 0L END")).as("s1"),
      sum(expr("CASE WHEN r1 = 'T' THEN 1L ELSE 0L END")).as("t1"),
      sum(expr("CASE WHEN r2 <> 'T' AND r2 = first THEN 1L ELSE 0L END")).as("f2"),
      sum(expr("CASE WHEN r2 <> 'T' AND r2 <> first THEN 1L ELSE 0L END")).as("s2"),
      sum(expr("CASE WHEN r2 = 'T' THEN 1L ELSE 0L END")).as("t2"))
    agg.select(col("n_records"), explode(expr(
        """array(named_struct('rater', 'model',
                              'n_pref_first', f1, 'n_pref_second', s1,
                              'n_tie', t1),
                 named_struct('rater', 'structural',
                              'n_pref_first', f2, 'n_pref_second', s2,
                              'n_tie', t2))""")).as("x"))
      .select(col("x.rater").as("rater"), col("n_records"),
              col("x.n_pref_first").as("n_pref_first"),
              col("x.n_pref_second").as("n_pref_second"),
              col("x.n_tie").as("n_tie"))
      .withColumn("first_share_ppm", expr(
        """CASE WHEN n_pref_first + n_pref_second = 0 THEN 0L
           ELSE n_pref_first * 1000000 div (n_pref_first + n_pref_second)
           END"""))
      .withColumn("tie_ppm", expr(
        """CASE WHEN n_records = 0 THEN 0L
           ELSE n_tie * 1000000 div n_records END"""))
      .orderBy("rater")
  }

  /** q282: PROMPT NEAR-DUP SPLIT LEAKAGE — q122/q124's argument at the
    * preference-record grain: two records whose PROMPTS are near-dups
    * must land in one split, or the reward model evals on paraphrases
    * of its training prompts. Near-dup prompt pairs come from the
    * session pair core (q42's exact-verified relation, restricted to
    * prompt ids ≡ 0 mod 3); `leak_naive` counts pairs split apart by
    * record-grain hashing, `leak_cluster` the same under q73's
    * cluster-grain assignment — structurally 0, and the gate PROVES it
    * cross-engine rather than asserting it. Scale shape: id-only probes
    * of two memoized relations plus per-row hash buckets. */
  private def q282PreferenceLeakage(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: String) = expr(Curation3.splitExpr(c))
    val asg = Dedup.clusterAssignmentOf(s, d).select(col("doc_id"), col("cluster_id"))
    val pairs = Dedup.minhashLshPairsCore(s, d)
      .filter(col("a_id") % 3 === 0 && col("b_id") % 3 === 0)
      .select(col("a_id"), col("b_id"))
      .join(asg.select(col("doc_id").as("a_id"), col("cluster_id").as("ca")), "a_id")
      .join(asg.select(col("doc_id").as("b_id"), col("cluster_id").as("cb")), "b_id")
      .withColumn("ra", expr("a_id div 3")).withColumn("rb", expr("b_id div 3"))
    val pAgg = pairs.agg(
      count(lit(1)).as("n_neardup_prompt_pairs"),
      coalesce(sum(when(splitOf("ra") =!= splitOf("rb"), 1L).otherwise(0L)), lit(0L))
        .as("leak_naive"),
      coalesce(sum(when(splitOf("ca") =!= splitOf("cb"), 1L).otherwise(0L)), lit(0L))
        .as("leak_cluster"))
    val nRec = prefVerdicts(s, d).agg(count(lit(1)).as("n_records"))
    nRec.crossJoin(pAgg)
      .select("n_records", "n_neardup_prompt_pairs", "leak_naive", "leak_cluster")
  }

  /** Per-record rater-1 score DIFFERENCE (A − B) joined at the record
    * grain — q283/q284 read margins, not just verdicts. */
  private def prefMargins(s: SparkSession, d: String): DataFrame =
    // two declared consumers (q283's histogram, q284's win matrix) read
    // the identical record-grain margin relation — memo discipline
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "eval.prefMargins", d)(
      prefMarginsCompute(s, d).localCheckpoint(eager = false))

  private def prefMarginsCompute(s: SparkSession, d: String): DataFrame = {
    val f = prefFeatures(s, d)
    def side(m: Int, pre: String) = f.filter(col("doc_id") % 3 === m)
      .select(expr(s"(doc_id - $m) div 3").as("r"),
        expr("""0.015 * n + 3.0 * (ns / cast(n as double))
                - 0.25 * (sl / cast(n as double))""").as(s"m$pre"),
        col("source").as(s"s$pre"))
    side(1, "a").join(side(2, "b"), "r")
      .select(col("r"), (col("ma") - col("mb")).as("diff"),
              col("sa"), col("sb"))
  }

  /** q283: PREFERENCE MARGIN HISTOGRAM — the DPO diagnostic run before
    * trusting a preference set: the distribution of the reward-model
    * score difference (chosen − rejected). Margin mass piled at 0 means
    * the raters are guessing (noisy pairs poison the DPO loss, whose
    * gradient weights by margin); a healthy set shows spread. Buckets
    * are floored half-point cells clamped to [−5, 4] (10 cells), exact
    * integer counts + floored ppm shares — one scan, one aggregate. */
  private def q283PreferenceMargin(s: SparkSession, d: String): DataFrame =
    prefMargins(s, d)
      .select(expr(
        "least(greatest(cast(floor(diff / 0.5) as bigint), -5L), 4L)")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("bucket"), col("n"),
              expr("n * 1000000 div total").as("share_ppm"))
      .orderBy("bucket")

  /** Fixed MM iteration count for q284 — part of the declared statistic
    * (more iterations = a different, equally deterministic number). */
  private val btIters = 3

  /** q284: BRADLEY–TERRY SOURCE STRENGTHS — the pairwise-preference
    * aggregation model (Bradley & Terry 1952) fit at the SOURCE grain
    * (each record compares a response from source (3r+1) mod 20 against
    * one from (3r+2) mod 20, so sources recur across records — the
    * repeated-comparison structure BT needs). [[btIters]] fixed
    * iterations of the standard MM update s_i ← W_i / Σ_j n_ij/(s_i+s_j)
    * from s = 1, fit on the CORE subgraph: comparisons where both
    * sources hold ≥ 1 win overall (one restriction pass of the
    * classical existence condition — a winless player's MLE strength
    * is 0, which would zero a later denominator); sources outside the
    * core are absent from the report, W_i and n_ij count core
    * comparisons only. Cross-engine parity by the q119 discipline: every
    * Σ_j is an ORDERED fold over the opponent list (array_sort /
    * list(... ORDER BY) + left fold), never an unordered float SUM, so
    * both engines accumulate in the identical order; the reported
    * strength is ROUNDED DOWN at 1e-6 precision (floor(s·1e6)/1e6 — a
    * precision cut for cross-engine hashing, not a minimum value). A
    * core winner whose in-domain opponent list is empty (everything it
    * beat is a non-core-winner) carries its previous strength — spelled
    * identically in both engines. Scale shape: the fit runs on the
    * (i, j, n_ij) win-pair table — players² at most — never on
    * records. */
  private def q284PreferenceBtl(s: SparkSession, d: String): DataFrame = {
    val m = prefMargins(s, d)
      .filter(col("diff") =!= 0.0)
      .select(
        when(col("diff") > 0, col("sa")).otherwise(col("sb")).as("w"),
        when(col("diff") > 0, col("sb")).otherwise(col("sa")).as("l"))
    val wins = m.groupBy("w", "l").agg(count(lit(1)).as("n"))
    // core subgraph: losers must themselves hold >= 1 win somewhere
    val winners = wins.select(col("w").as("p")).distinct()
    val core = wins.join(winners.select(col("p").as("l")), Seq("l"))
    // The win MATRIX is computed distributed (records-scale work); the
    // MM fit itself runs DRIVER-SIDE on the collected matrix — at most
    // players² rows, constant at the source grain (the q45/q86/q128
    // driver-trained-codebook pattern; a fit over 20 strengths has no
    // business scheduling 12 shuffles per invocation). Fold order over
    // opponents is sorted-by-j, matching the oracle's list(... ORDER BY
    // j) + list_reduce exactly, so the doubles agree bit-for-bit.
    val rows = core.select("w", "l", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val players = rows.map(_._1).distinct.sorted
    val wi = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val nijM = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for ((w, l, n) <- rows) {
      nijM((w, l)) += n
      nijM((l, w)) += n
    }
    val opponents: Map[String, Seq[String]] = players.map { i =>
      i -> players.filter(j => nijM((i, j)) > 0).sorted.toSeq
    }.toMap
    var strength: Map[String, Double] = players.map(_ -> 1.0).toMap
    for (_ <- 1 to btIters) {
      val prev = strength
      strength = players.map { i =>
        // a core winner can still have ZERO in-domain opponents (all the
        // sources it beat are non-core-winners, so they are not players);
        // den would be 0 and wi/den Infinity. Such a player carries its
        // previous strength unchanged — the oracle's LEFT-join CASE below
        // spells the identical rule, so the engines agree on this edge
        // (it does not fire on the committed corpora; the gate stays
        // hash-green either way)
        val ops = opponents(i)
        if (ops.isEmpty) i -> prev(i)
        else {
          val den = ops.foldLeft(0.0) { (acc, j) =>
            acc + nijM((i, j)).toDouble / (prev(i) + prev(j))
          }
          i -> wi(i) / den
        }
      }.toMap
    }
    import s.implicits._
    players.map(i => (i, math.floor(strength(i) * 1000000) / 1000000))
      .toSeq.toDF("source", "strength")
      .orderBy("source")
  }

  /** Candidate responses per prompt in q287's best-of-n log: prompt
    * group g holds docs [bonN·g, bonN·g + bonN) as its n sampled
    * responses (the record-model contiguity argument, at width 4
    * instead of q280's 3); incomplete trailing groups are excluded by
    * the count filter — declared, and identical in the oracle. */
  private val bonN = 4

  /** The shared best-of-n scored relation (g, pos, source, ip): q269's
    * linear reward integerized to exact micro-units over width-[[bonN]]
    * prompt groups. ONE definition feeding both q287 (ignores source)
    * and q290 (stratifies by it) — the two gates' "q290 consumes q287's
    * winner chain" contract is enforced by construction, not by keeping
    * two copies in sync. */
  private def bonScored(s: SparkSession, d: String): DataFrame =
    // the BoN log is DEFINED over non-null-source responses (mirrored in
    // the q287/q290 oracles): a NULL source would be skipped by q290's
    // tagged heap's null guard yet still counted toward the k = bonN
    // group-completeness filter, silently diverging from the oracle's
    // row_number chain — the contract is explicit instead
    prefFeatures(s, d).filter(col("source").isNotNull).select(
      expr(s"doc_id div $bonN").as("g"),
      expr(s"doc_id % $bonN").as("pos"),
      col("source"),
      expr("""cast(round((0.015 * n + 3.0 * (ns / cast(n as double))
                          - 0.25 * (sl / cast(n as double))) * 1000000)
              as bigint)""").as("ip"))

  /** q287: BEST-OF-N SAMPLING AUDIT — the selection step of rejection
    * sampling / BoN distillation, audited before anyone trains on it:
    * per prompt, the reward model (q269's linear scorer, integerized to
    * exact micro-units by the q268 discipline) picks the argmax of n
    * sampled responses; the audit reports, per WINNING POSITION, the
    * win share (iid sampling ⇒ ~uniform; skew means position leaks
    * into the reward) and the selection-margin distribution (argmax −
    * runner-up; margins piled at 0 mean BoN is picking noise). The
    * per-prompt argmax/runner-up ride one bounded-heap TopKAgg (k = 2,
    * ties → lower position — the heap's total order), so no window
    * ever sorts the response set; margins are integer micro-unit
    * differences and every reported stat closes in integer division —
    * no double accumulates across rows anywhere (the q268 ECE
    * argument). One doc scan, one group pass, a 4-row report. */
  private def q287BestOfNAudit(s: SparkSession, d: String): DataFrame = {
    val winners = bonScored(s, d).groupBy("g")
      .agg(count(lit(1)).as("k"),
           graft.functions.TopKAgg.top_k_by_score(
             col("ip").cast("double"), col("pos"), 2).as("top"))
      .filter(col("k") === bonN)
      // micro-unit scores are exact in doubles (max |score|·1e6 ≪ 2^53),
      // so the margin subtraction is exact and casts back losslessly
      .select(col("top")(0)("id").as("pos"),
              (col("top")(0)("score") - col("top")(1)("score"))
                .cast("long").as("margin"))
    winners.groupBy("pos")
      .agg(count(lit(1)).as("n_wins"), sum("margin").as("sm"),
           max("margin").as("max_margin_micro"))
      .withColumn("total", sum("n_wins").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("pos"), col("n_wins"),
              expr("n_wins * 1000000 div total").as("win_share_ppm"),
              expr("sm div n_wins").as("mean_margin_micro"),
              col("max_margin_micro"))
      .orderBy("pos")
  }

  /** q288: REWARD-MODEL CALIBRATION BY SOURCE — q268's ECE machinery
    * lifted to the PAIR grain and stratified by source (VERDICT r12
    * task 5): the model's confidence that response A beats B is the
    * bounded squashing map p = (1 + diff/(1 + |diff|))/2 of the margin
    * (pure arithmetic — the same IEEE ops in the same order in both
    * engines, unlike exp-based sigmoid whose libm rounding differs);
    * the outcome label is the INDEPENDENT structural rater's verdict
    * (r2, ties excluded). A source whose pairs are systematically
    * over-confident poisons DPO loss weighting for that slice even
    * when the global ECE looks healthy — per-source is how the audit
    * is actually consumed. Confidence integerizes once per pair (q268
    * discipline), bins/counts/sums are exact integers, per-source ECE
    * closes in one integer division. Composes the two memoized record
    * relations ([[prefMargins]] ⋈ [[prefVerdicts]]); the per-source
    * totals are a window over the (source, bin) aggregate — at most
    * sources × 10 rows. */
  private def q288RewardCalibration(s: SparkSession, d: String): DataFrame = {
    val pairs = prefMargins(s, d).join(prefVerdicts(s, d), "r")
      .filter(col("r2") =!= "T")
      .select(col("sa").as("source"),
        expr("""least(1000000L, greatest(0L,
                cast(round((1.0 + diff / (1.0 + abs(diff))) / 2.0 * 1000000)
                  as bigint)))""").as("ip"),
        expr("CASE WHEN r2 = 'A' THEN 1L ELSE 0L END").as("y"))
    val bins = pairs
      .select(col("source"), least(lit(9L), expr("ip div 100000")).as("bin"),
              col("ip"), col("y"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_pairs"), sum("y").as("n_pos"),
           sum("ip").as("sconf"))
      .withColumn("adiff", expr("abs(n_pos * 1000000 - sconf)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    bins
      .withColumn("nn", sum("n_pairs").over(w))
      .withColumn("sdiff", sum("adiff").over(w))
      .select(col("source"), col("bin"), col("n_pairs"), col("n_pos"),
        expr("floor(cast(n_pos as double) * 1000000 / n_pairs) / 1000000")
          .as("acc"),
        expr("floor(cast(sconf as double) / n_pairs) / 1000000").as("conf"),
        expr("(sdiff div nn) / cast(1000000 as double)").as("ece"))
      .orderBy("source", "bin")
  }

  /** q290: REJECTION-SAMPLING YIELD CURVES — the acceptance step that
    * follows q287's selection step: a rejection-sampling pipeline keeps
    * the (prompt, best-of-n response) pair only when the winner's reward
    * clears a threshold τ, and the curve of keep-rate vs τ PER SOURCE is
    * how τ is actually chosen (a source whose yield collapses at the
    * global τ silently vanishes from the distillation set). Per prompt
    * group: the argmax winner under q287's total order (reward micro-
    * units DESC, position ASC — `max_by` on the integer key pair
    * (ip, -pos), unique per group so deterministic), carrying its
    * source; the winner's reward squashes to a [0, 1e6] confidence via
    * q288's bounded rational map (identical IEEE ops cross-engine, no
    * libm); confidences land in ten fixed bins and the yield curve is
    * the per-source DESCENDING cumulative over occupied bins — row
    * (source, thr) reports how many prompts survive τ = thr/10 and the
    * mean kept confidence. Sparse representation declared: only
    * occupied bins appear (the oracle mirrors). Integer closers
    * throughout (q268 discipline); output ≤ sources × 10 rows; the
    * only exchanges are the group agg and the tiny (source, bin)
    * window. Plan shape note: the argmax-with-payload rides the TAGGED
    * bounded heap ([[graft.functions.TopKAgg.top_k_by_score_tagged]],
    * k = 1) so the partial aggregate is ObjectHashAggregate exactly
    * like q287's — the first draft's `max_by(struct, struct)` is a
    * DeclarativeAggregate with a var-width buffer, which HashAggregate's
    * mutable-buffer contract rejects, and Spark planned a per-partition
    * SortAggregate (a corpus-wide LOCAL sort) for it. Heap order
    * (score desc, id asc) = the oracle's (ip DESC, pos ASC); micro-unit
    * scores are exact in the heap's double (≪ 2^53). */
  private def q290RejectionYield(s: SparkSession, d: String): DataFrame = {
    val winners = bonScored(s, d).groupBy("g")
      .agg(count(lit(1)).as("k"),
           graft.functions.TopKAgg.top_k_by_score_tagged(
             col("ip").cast("double"), col("pos"), col("source"), 1).as("top"))
      .filter(col("k") === bonN)
      // winner micro-units back to the model scale ONCE (exact double
      // → long → double), then the q288 squash — quantized by FLOOR,
      // not round (round's tie rule differs cross-engine; floor after
      // identical IEEE ops is bit-stable). Cross-engine pitfall found
      // here: BOTH Spark and DuckDB parse `1000000.0` as DECIMAL, and
      // BIGINT/DECIMAL stays in decimal arithmetic — with DIFFERENT
      // scale rules per engine (observed: ±1 ppm skew on ~1 winner per
      // source at sf0.01). The explicit cast to double on both sides
      // pins the whole squash to IEEE ops, identical in both engines.
      // q288 dodged it only because its input was already DOUBLE.
      .select(expr("cast(top[0].score as bigint)").as("ip_w"),
              expr("top[0].tag").as("source"))
      .select(expr("""least(1000000L, greatest(0L,
                      cast(floor((1.0 + (cast(ip_w as double) / 1000000.0)
                                  / (1.0 + abs(cast(ip_w as double)
                                               / 1000000.0))) / 2.0
                                 * 1000000) as bigint)))""").as("p"),
              col("source"))
    val bins = winners
      .groupBy(col("source"), least(lit(9L), expr("p div 100000")).as("thr"))
      .agg(count(lit(1)).as("n_bin"), sum("p").as("sp"))
    val perSource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("thr").desc)
    bins
      .withColumn("n_kept", sum("n_bin").over(cum))
      .withColumn("sp_kept", sum("sp").over(cum))
      .withColumn("n_total", sum("n_bin").over(perSource))
      .select(col("source"), col("thr"), col("n_kept"),
        expr("n_kept * 1000000 div n_total").as("keep_ppm"),
        expr("sp_kept div n_kept").as("mean_kept_conf_ppm"))
      .orderBy("source", "thr")
  }

  /** q294: SPECULATIVE-DECODING ACCEPTANCE CURVES — the serving-side
    * acceptance audit (VERDICT r13 task 5): a speculative pipeline runs a
    * cheap DRAFT scorer ahead of the expensive TARGET and accepts the
    * drafted block prefix-wise — position i survives only if every
    * position before it did, and the first target disagreement truncates
    * the block (everything after is re-drafted). The analytics that
    * decide whether speculation pays are exactly the per-position
    * acceptance rate α_i, the survival curve, and the expected accepted
    * prefix — this gate reports them over an HONEST model pair already
    * in the suite: the draft is q269's linear reward at its zero
    * operating point (`ip > 0` in exact micro-units), the target is
    * q93's production keep verdict, which is the SAME linear family at
    * the +0.1-intercept operating point (`ip > −100000`) — precisely the
    * "cheaper model = same family, shifted operating point" relation a
    * real draft has to its target; acceptance at a position is verdict
    * agreement, i.e. the target confirming the draft's claim. The
    * blocks are q287's width-[[bonN]] contiguous groups (the drafted
    * block), via the SHARED [[bonScored]] relation, so the whole gate
    * is one additional group fold on an existing scan: disagreement is
    * the exact integer band ip ∈ (−100000, 0], the per-group
    * first-rejection position is one conditional min, and the 4-row
    * curve is a conditional-sum rollup over the ≤ bonN+1-row
    * first-rejection histogram. At sf0.01 the measured α ≈ 0.89/position
    * (54/500 docs in the disagreement band) — the 0.7–0.95 regime real
    * draft/target pairs live in, so the curve genuinely decays. Integer
    * closers throughout (the q268 discipline); guarded `div` (a
    * zero-reach position reports 0, both engines). */
  private def q294SpecdecodeAccept(s: SparkSession, d: String): DataFrame = {
    val fr = bonScored(s, d)
      .withColumn("acc", !(col("ip") > -100000L && col("ip") <= 0L))
      .groupBy("g")
      .agg(count(lit(1)).as("k"),
           coalesce(min(when(!col("acc"), col("pos"))), lit(bonN.toLong))
             .as("fr"))
      .filter(col("k") === bonN)
    val frCounts = fr.groupBy("fr").agg(count(lit(1)).as("nfr"))
    s.range(0, bonN).select(col("id").as("pos"))
      .crossJoin(frCounts) // ≤ bonN × (bonN+1) rows
      .groupBy("pos")
      .agg(sum(when(col("fr") >= col("pos"), col("nfr")).otherwise(0L))
             .as("n_reach"),
           sum(when(col("fr") >= col("pos") + 1, col("nfr")).otherwise(0L))
             .as("n_accept"),
           sum(col("nfr")).as("n_groups"))
      .select(col("pos"), col("n_reach"), col("n_accept"),
        expr("""CASE WHEN n_reach = 0 THEN 0L
                ELSE n_accept * 1000000 div n_reach END""").as("alpha_ppm"),
        expr("n_accept * 1000000 div n_groups").as("survival_ppm"))
      .orderBy("pos")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q294_specdecode_accept" -> q294SpecdecodeAccept _,
    "q267_ndcg" -> q267Ndcg _,
    "q268_calibration" -> q268Calibration _,
    "q269_kappa" -> q269Kappa _,
    "q270_zipf_fit" -> q270ZipfFit _,
    "q277_auc" -> q277Auc _,
    "q278_benford" -> q278Benford _,
    "q279_gini" -> q279Gini _,
    "q280_preference_kappa" -> q280PreferenceKappa _,
    "q281_position_bias" -> q281PositionBias _,
    "q282_preference_leakage" -> q282PreferenceLeakage _,
    "q283_preference_margin" -> q283PreferenceMargin _,
    "q284_preference_btl" -> q284PreferenceBtl _,
    "q287_bestofn_audit" -> q287BestOfNAudit _,
    "q288_reward_calibration" -> q288RewardCalibration _,
    "q290_rejection_yield" -> q290RejectionYield _,
  )

  /** The preference-record verdict CTE chain shared by the q280/q281
    * oracles — mirrors [[prefVerdicts]] expression for expression (the
    * rater-1 comparison drops q269's constant 0.1 on BOTH sides, so the
    * decision is unchanged and the float form stays identical across
    * engines). */
  private val prefVerdictSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                  FROM documents),
       f AS (SELECT doc_id, len(w) AS n,
                    len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                    list_sum(list_transform(w, x -> length(x))) AS sl
             FROM t),
       pa AS (SELECT (doc_id - 1) // 3 AS r, n AS na, ns AS nsa, sl AS sla
              FROM f WHERE doc_id % 3 = 1),
       pb AS (SELECT (doc_id - 2) // 3 AS r, n AS nb, ns AS nsb, sl AS slb
              FROM f WHERE doc_id % 3 = 2),
       v AS (SELECT pa.r AS r,
               CASE WHEN 0.015 * na + 3.0 * (nsa / CAST(na AS DOUBLE))
                         - 0.25 * (sla / CAST(na AS DOUBLE))
                       > 0.015 * nb + 3.0 * (nsb / CAST(nb AS DOUBLE))
                         - 0.25 * (slb / CAST(nb AS DOUBLE)) THEN 'A'
                    WHEN 0.015 * na + 3.0 * (nsa / CAST(na AS DOUBLE))
                         - 0.25 * (sla / CAST(na AS DOUBLE))
                       < 0.015 * nb + 3.0 * (nsb / CAST(nb AS DOUBLE))
                         - 0.25 * (slb / CAST(nb AS DOUBLE)) THEN 'B'
                    ELSE 'T' END AS r1,
               CASE WHEN least(na, 80) > least(nb, 80) THEN 'A'
                    WHEN least(na, 80) < least(nb, 80) THEN 'B'
                    WHEN nsa > nsb THEN 'A'
                    WHEN nsa < nsb THEN 'B'
                    ELSE 'T' END AS r2
             FROM pa JOIN pb USING (r))"""

  /** The per-doc preference features (token list `w`, length `n`,
    * stop-word count `ns`, summed token length `sl`) with source — the
    * head of the q283/q284/q288 oracles. */
  private val prefFeatureCtes: String =
    """t AS (SELECT doc_id, source,
                         string_split_regex(trim(text), '\s+') AS w
                  FROM documents),
       f AS (SELECT doc_id, source, len(w) AS n,
                    len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                    list_sum(list_transform(w, x -> length(x))) AS sl
             FROM t)"""

  /** The record-grain margin CTE chain shared by the q283/q284 oracles —
    * mirrors [[prefMargins]] expression for expression. */
  private val prefMarginSql: String =
    s"""WITH $prefFeatureCtes,
       pa AS (SELECT (doc_id - 1) // 3 AS r,
                     0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                     - 0.25 * (sl / CAST(n AS DOUBLE)) AS ma,
                     source AS sa
              FROM f WHERE doc_id % 3 = 1),
       pb AS (SELECT (doc_id - 2) // 3 AS r,
                     0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                     - 0.25 * (sl / CAST(n AS DOUBLE)) AS mb,
                     source AS sb
              FROM f WHERE doc_id % 3 = 2),
       mg AS (SELECT pa.r AS r, ma - mb AS diff, sa, sb
              FROM pa JOIN pb USING (r))"""

  /** The nine exact confusion-cell sums of the q280 oracle. */
  private val prefCellsSql: Seq[String] =
    for (x <- Seq("a", "b", "t"); y <- Seq("a", "b", "t")) yield
      s"CAST(sum(CASE WHEN r1 = '${x.toUpperCase}' AND r2 = '${y.toUpperCase}' " +
        s"THEN 1 ELSE 0 END) AS BIGINT) AS c_$x$y"

  private val ndcgValuesSql: String =
    ndcgQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  private val benfordValuesSql: String =
    benfordPpm.map { case (d, p) => s"($d, $p)" }.mkString(", ")

  /** q268/q277's label CTE over Curation's flag block: per doc the
    * score column `score` (an expression over `q.score`) and y = 1 iff
    * the doc survives the pipeline (digest-first, quality-kept,
    * uncontaminated, non-benchmark). */
  private def labCte(score: String): String =
    s"""lab AS (SELECT b.doc_id,
                        $score,
                        CASE WHEN b.doc_id = fc.first_id AND q.keep = 1
                                  AND coalesce(fg.fl, 0) = 0
                                  AND b.doc_id >= 20
                             THEN 1 ELSE 0 END AS y
                 FROM base b JOIN fc USING (dig) JOIN q USING (doc_id)
                 LEFT JOIN flagged fg USING (doc_id))"""

  /** q287's feature CTEs: the integerized score `ip` of each doc in
    * [[bonN]]-wide groups `g` at position `pos`. */
  private val bonScoreCtes: String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                     FROM documents WHERE source IS NOT NULL),
         f AS (SELECT doc_id, len(w) AS n,
                      len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                      list_sum(list_transform(w, x -> length(x))) AS sl
               FROM t),
         sc AS (SELECT doc_id // $bonN AS g, doc_id % $bonN AS pos,
                       CAST(round((0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                                   - 0.25 * (sl / CAST(n AS DOUBLE))) * 1000000)
                         AS BIGINT) AS ip
                FROM f)"""

  override val oracles: Map[String, String] = Map(
    // q294: the q287 feature/group CTEs, the exact integer disagreement
    // band, a per-group first-rejection min, and the survival rollup as
    // conditional sums over the first-rejection histogram
    "q294_specdecode_accept" ->
      s"""WITH $bonScoreCtes,
         a AS (SELECT g, pos,
                      NOT (ip > -100000 AND ip <= 0) AS acc
               FROM sc),
         frg AS (SELECT g,
                        coalesce(min(pos) FILTER (WHERE NOT acc),
                                 $bonN) AS fr
                 FROM a GROUP BY g HAVING count(*) = $bonN),
         h AS (SELECT fr, CAST(count(*) AS BIGINT) AS nfr FROM frg GROUP BY 1),
         p AS (SELECT unnest(range($bonN)) AS pos),
         r AS (SELECT pos,
                      CAST(coalesce(sum(nfr) FILTER (WHERE fr >= pos), 0)
                        AS BIGINT) AS n_reach,
                      CAST(coalesce(sum(nfr) FILTER (WHERE fr >= pos + 1), 0)
                        AS BIGINT) AS n_accept,
                      CAST(sum(nfr) AS BIGINT) AS n_groups
               FROM p CROSS JOIN h GROUP BY pos)
         SELECT pos, n_reach, n_accept,
                CASE WHEN n_reach = 0 THEN CAST(0 AS BIGINT)
                     ELSE n_accept * 1000000 // n_reach END AS alpha_ppm,
                n_accept * 1000000 // n_groups AS survival_ppm
         FROM r ORDER BY pos""",
    // q287: the shared feature CTE at width-4 groups; argmax/runner-up
    // as a per-group rank (ip DESC, pos ASC — the k=2 heap's total
    // order), exact integer margins and integer-division closers
    "q287_bestofn_audit" ->
      s"""WITH $bonScoreCtes,
         fg AS (SELECT g FROM sc GROUP BY g HAVING count(*) = $bonN),
         r AS (SELECT g, pos, ip,
                      row_number() OVER (PARTITION BY g
                        ORDER BY ip DESC, pos ASC) AS rn
               FROM sc WHERE g IN (SELECT g FROM fg)),
         w AS (SELECT a.g, a.pos AS pos, a.ip - b.ip AS margin
               FROM r a JOIN r b ON a.g = b.g AND b.rn = 2 WHERE a.rn = 1),
         agg AS (SELECT pos, CAST(count(*) AS BIGINT) AS n_wins,
                        CAST(sum(margin) AS BIGINT) AS sm,
                        CAST(max(margin) AS BIGINT) AS max_margin_micro
                 FROM w GROUP BY 1),
         tot AS (SELECT CAST(sum(n_wins) AS BIGINT) AS total FROM agg)
         SELECT pos, n_wins,
                n_wins * 1000000 // total AS win_share_ppm,
                sm // n_wins AS mean_margin_micro, max_margin_micro
         FROM agg CROSS JOIN tot ORDER BY pos""",
    // q288: the margin chain widened with rater-2's structural verdict,
    // the bounded squashing map stated verbatim, then q268's exact-
    // integer bin/acc/conf/ECE arithmetic per source
    "q288_reward_calibration" ->
      s"""WITH $prefFeatureCtes,
         pa AS (SELECT (doc_id - 1) // 3 AS r, n AS na, ns AS nsa,
                       0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                       - 0.25 * (sl / CAST(n AS DOUBLE)) AS ma,
                       source AS sa
                FROM f WHERE doc_id % 3 = 1),
         pb AS (SELECT (doc_id - 2) // 3 AS r, n AS nb, ns AS nsb,
                       0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                       - 0.25 * (sl / CAST(n AS DOUBLE)) AS mb
                FROM f WHERE doc_id % 3 = 2),
         mg AS (SELECT pa.r AS r, ma - mb AS diff, sa,
                       CASE WHEN least(na, 80) > least(nb, 80) THEN 'A'
                            WHEN least(na, 80) < least(nb, 80) THEN 'B'
                            WHEN nsa > nsb THEN 'A'
                            WHEN nsa < nsb THEN 'B'
                            ELSE 'T' END AS r2
                FROM pa JOIN pb USING (r)),
         pr AS (SELECT sa AS source,
                       least(1000000, greatest(0,
                         CAST(round((1.0 + diff / (1.0 + abs(diff))) / 2.0
                                    * 1000000) AS BIGINT))) AS ip,
                       CASE WHEN r2 = 'A' THEN 1 ELSE 0 END AS y
                FROM mg WHERE r2 <> 'T'),
         b AS (SELECT source, CAST(least(9, ip // 100000) AS BIGINT) AS bin,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(y) AS BIGINT) AS n_pos,
                      CAST(sum(ip) AS BIGINT) AS sconf
               FROM pr GROUP BY 1, 2),
         e AS (SELECT source, CAST(sum(n_pairs) AS BIGINT) AS nn,
                      CAST(sum(abs(n_pos * 1000000 - sconf)) AS BIGINT)
                        AS sdiff
               FROM b GROUP BY 1)
         SELECT b.source, b.bin, n_pairs, n_pos,
                floor(CAST(n_pos AS DOUBLE) * 1000000 / n_pairs) / 1000000
                  AS acc,
                floor(CAST(sconf AS DOUBLE) / n_pairs) / 1000000 AS conf,
                (sdiff // nn) / CAST(1000000 AS DOUBLE) AS ece
         FROM b JOIN e USING (source)
         ORDER BY b.source, b.bin""",
    // q290: q287's winner chain carrying source, q288's squash map
    // verbatim on the winner's reward, then the per-source descending
    // cumulative yield over occupied bins
    "q290_rejection_yield" ->
      s"""WITH t AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\\s+') AS w
                     FROM documents WHERE source IS NOT NULL),
         f AS (SELECT doc_id, source, len(w) AS n,
                      len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                      list_sum(list_transform(w, x -> length(x))) AS sl
               FROM t),
         sc AS (SELECT doc_id // $bonN AS g, doc_id % $bonN AS pos, source,
                       CAST(round((0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                                   - 0.25 * (sl / CAST(n AS DOUBLE))) * 1000000)
                         AS BIGINT) AS ip
                FROM f),
         fg AS (SELECT g FROM sc GROUP BY g HAVING count(*) = $bonN),
         r AS (SELECT g, source, ip,
                      row_number() OVER (PARTITION BY g
                        ORDER BY ip DESC, pos ASC) AS rn
               FROM sc WHERE g IN (SELECT g FROM fg)),
         wn AS (SELECT source,
                       least(1000000, greatest(0,
                         CAST(floor((1.0 + (CAST(ip AS DOUBLE) / 1000000.0)
                                     / (1.0 + abs(CAST(ip AS DOUBLE)
                                                  / 1000000.0))) / 2.0
                                    * 1000000) AS BIGINT))) AS p
                FROM r WHERE rn = 1),
         b AS (SELECT source, CAST(least(9, p // 100000) AS BIGINT) AS thr,
                      CAST(count(*) AS BIGINT) AS n_bin,
                      CAST(sum(p) AS BIGINT) AS sp
               FROM wn GROUP BY 1, 2),
         c AS (SELECT source, thr,
                      CAST(sum(n_bin) OVER (PARTITION BY source
                        ORDER BY thr DESC) AS BIGINT) AS n_kept,
                      CAST(sum(sp) OVER (PARTITION BY source
                        ORDER BY thr DESC) AS BIGINT) AS sp_kept,
                      CAST(sum(n_bin) OVER (PARTITION BY source)
                        AS BIGINT) AS n_total
               FROM b)
         SELECT source, thr, n_kept,
                n_kept * 1000000 // n_total AS keep_ppm,
                sp_kept // n_kept AS mean_kept_conf_ppm
         FROM c ORDER BY source, thr""",
    // q278: the same cents-string first digit; the expected masses are
    // the identical generated literals
    "q278_benford" ->
      s"""WITH bexp(digit, expected_ppm) AS (VALUES $benfordValuesSql),
         dd AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
                         AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                FROM lineitem),
         g AS (SELECT digit, count(*) AS n_obs FROM dd GROUP BY 1),
         t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM g)
         SELECT g.digit, g.n_obs,
                g.n_obs * 1000000 // t.n AS share_ppm,
                CAST(bexp.expected_ppm AS BIGINT) AS expected_ppm,
                g.n_obs * 1000000 // t.n - bexp.expected_ppm AS delta_ppm
         FROM g JOIN bexp ON bexp.digit = g.digit CROSS JOIN t
         ORDER BY g.digit""",
    // q279: ascending (freq, tok) ranks; every moment an exact bigint
    "q279_gini" ->
      """WITH tf AS (SELECT tok, count(*) AS freq
                     FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
                             AS tok
                           FROM documents)
                     GROUP BY 1),
         rk AS (SELECT freq, row_number() OVER (ORDER BY freq, tok) AS rk
                FROM tf),
         m AS (SELECT count(*) AS n_terms,
                      CAST(sum(freq) AS BIGINT) AS total_tokens,
                      CAST(sum(rk * freq) AS BIGINT) AS swr
               FROM rk)
         SELECT CAST(n_terms AS BIGINT) AS n_terms, total_tokens,
                floor(CAST(2 * swr - (n_terms + 1) * total_tokens AS DOUBLE)
                      * 1000000 / (n_terms * total_tokens)) / 1000000 AS gini
         FROM m""",
    // q280: the shared verdict CTE + exact 3x3 confusion cells; po/pe/
    // kappa floored, kappa guarded (the q269 degenerate form)
    "q280_preference_kappa" ->
      s"""$prefVerdictSql,
         c AS (SELECT count(*) AS n_records,
                      ${prefCellsSql.mkString(",\n                      ")}
               FROM v)
         SELECT n_records, c_aa, c_ab, c_at, c_ba, c_bb, c_bt,
                c_ta, c_tb, c_tt,
                floor(CAST(c_aa + c_bb + c_tt AS DOUBLE) * 1000000
                      / n_records) / 1000000 AS po,
                floor(CAST((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                           + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                           + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt) AS DOUBLE)
                      * 1000000 / (n_records * n_records)) / 1000000 AS pe,
                CASE WHEN n_records * n_records =
                          (c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                          + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                          + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt)
                THEN 0.0
                ELSE floor(CAST(n_records * (c_aa + c_bb + c_tt)
                           - ((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                              + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                              + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt)) AS DOUBLE)
                      * 1000000
                      / (n_records * n_records
                         - ((c_aa+c_ab+c_at) * (c_aa+c_ba+c_ta)
                            + (c_ba+c_bb+c_bt) * (c_ab+c_bb+c_tb)
                            + (c_ta+c_tb+c_tt) * (c_at+c_bt+c_tt))))
                     / 1000000 END AS kappa
         FROM c""",
    // q281: one conditional aggregate, two report rows (UNION ALL over
    // the single agg CTE mirrors the Spark explode)
    "q281_position_bias" ->
      s"""$prefVerdictSql,
         w2 AS (SELECT r, r1, r2,
                       CASE WHEN r % 2 = 0 THEN 'A' ELSE 'B' END AS fst
                FROM v),
         g AS (SELECT count(*) AS n_records,
                 CAST(sum(CASE WHEN r1 <> 'T' AND r1 = fst THEN 1 ELSE 0 END)
                   AS BIGINT) AS f1,
                 CAST(sum(CASE WHEN r1 <> 'T' AND r1 <> fst THEN 1 ELSE 0 END)
                   AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN r1 = 'T' THEN 1 ELSE 0 END)
                   AS BIGINT) AS t1,
                 CAST(sum(CASE WHEN r2 <> 'T' AND r2 = fst THEN 1 ELSE 0 END)
                   AS BIGINT) AS f2,
                 CAST(sum(CASE WHEN r2 <> 'T' AND r2 <> fst THEN 1 ELSE 0 END)
                   AS BIGINT) AS s2,
                 CAST(sum(CASE WHEN r2 = 'T' THEN 1 ELSE 0 END)
                   AS BIGINT) AS t2
               FROM w2)
         SELECT 'model' AS rater, n_records, f1 AS n_pref_first,
                s1 AS n_pref_second, t1 AS n_tie,
                CASE WHEN f1 + s1 = 0 THEN CAST(0 AS BIGINT)
                     ELSE f1 * 1000000 // (f1 + s1) END AS first_share_ppm,
                CASE WHEN n_records = 0 THEN CAST(0 AS BIGINT)
                     ELSE t1 * 1000000 // n_records END AS tie_ppm
         FROM g
         UNION ALL
         SELECT 'structural' AS rater, n_records, f2 AS n_pref_first,
                s2 AS n_pref_second, t2 AS n_tie,
                CASE WHEN f2 + s2 = 0 THEN CAST(0 AS BIGINT)
                     ELSE f2 * 1000000 // (f2 + s2) END AS first_share_ppm,
                CASE WHEN n_records = 0 THEN CAST(0 AS BIGINT)
                     ELSE t2 * 1000000 // n_records END AS tie_ppm
         FROM g
         ORDER BY rater""",
    // q283: the shared margin CTE + one bucketed aggregate
    "q283_preference_margin" ->
      s"""$prefMarginSql,
         b AS (SELECT least(greatest(CAST(floor(diff / 0.5) AS BIGINT), -5),
                            4) AS bucket,
                      CAST(count(*) AS BIGINT) AS n
               FROM mg GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM mg)
         SELECT bucket, n, n * 1000000 // total AS share_ppm
         FROM b CROSS JOIN tt ORDER BY bucket""",
    // q284: the margin CTE -> win matrix on the core subgraph -> three
    // unrolled MM iterations; every per-player sum is an ORDERED fold
    // (list(... ORDER BY j) + list_reduce), the q119 float discipline
    "q284_preference_btl" -> {
      val base = s"""$prefMarginSql,
         wl AS (SELECT CASE WHEN diff > 0 THEN sa ELSE sb END AS w,
                       CASE WHEN diff > 0 THEN sb ELSE sa END AS l
                FROM mg WHERE diff <> 0),
         wins AS (SELECT w, l, CAST(count(*) AS BIGINT) AS n
                  FROM wl GROUP BY 1, 2),
         winners AS (SELECT DISTINCT w AS p FROM wins),
         core AS (SELECT wins.w, wins.l, wins.n
                  FROM wins JOIN winners ON wins.l = winners.p),
         tw AS (SELECT w AS i, CAST(sum(n) AS BIGINT) AS wi
                FROM core GROUP BY 1),
         nij AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij
                 FROM (SELECT w AS i, l AS j, n FROM core
                       UNION ALL SELECT l AS i, w AS j, n FROM core)
                 GROUP BY 1, 2),
         s0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS s FROM tw)"""
      val iters = (1 to btIters).map { k =>
        // LEFT join + CASE: a player with no in-domain opponents (every
        // nij row's j dropped by the sj join) carries its previous
        // strength instead of silently vanishing from s$k — the exact
        // rule the Scala fold applies on an empty opponent list
        s"""d$k AS (SELECT n.i AS i,
               list_reduce(list(n.nij / (si.s + sj.s) ORDER BY n.j),
                           (a, b) -> a + b) AS den
             FROM nij n JOIN s${k - 1} si ON si.i = n.i
                        JOIN s${k - 1} sj ON sj.i = n.j
             GROUP BY n.i),
           s$k AS (SELECT tw.i AS i,
                          CASE WHEN d$k.den IS NULL THEN sp.s
                               ELSE tw.wi / d$k.den END AS s
                   FROM tw JOIN s${k - 1} sp ON sp.i = tw.i
                           LEFT JOIN d$k ON d$k.i = tw.i)"""
      }.mkString(",\n         ")
      s"""$base,
         $iters
         SELECT i AS source, floor(s * 1000000) / 1000000 AS strength
         FROM s$btIters ORDER BY source"""
    },
    // q282: q42's exact pair SQL restricted to prompt ids + q73's
    // recursive cluster closure (the q124 composition), both split
    // hashes spelled with the shared md5 bucket function
    "q282_preference_leakage" -> {
      s"""WITH prs AS (SELECT a_id, b_id
                       FROM (${Dedup.oracles("q42_minhash_lsh")})
                       WHERE a_id % 3 = 0 AND b_id % 3 = 0),
         asg AS (SELECT doc_id, cluster_id
                 FROM (${Dedup.oracles("q73_dedup_clusters")})),
         j AS (SELECT p.a_id // 3 AS ra, p.b_id // 3 AS rb,
                      ca.cluster_id AS ca, cb.cluster_id AS cb
               FROM prs p JOIN asg ca ON p.a_id = ca.doc_id
                          JOIN asg cb ON p.b_id = cb.doc_id),
         pagg AS (SELECT count(*) AS n_neardup_prompt_pairs,
                    COALESCE(CAST(sum(CASE WHEN ${Curation3.splitSql("ra")}
                             <> ${Curation3.splitSql("rb")} THEN 1 ELSE 0 END)
                      AS BIGINT), 0) AS leak_naive,
                    COALESCE(CAST(sum(CASE WHEN ${Curation3.splitSql("ca")}
                             <> ${Curation3.splitSql("cb")} THEN 1 ELSE 0 END)
                      AS BIGINT), 0) AS leak_cluster
                  FROM j),
         rec AS (SELECT count(*) AS n_records
                 FROM (SELECT (doc_id - 1) // 3 AS r FROM documents
                       WHERE doc_id % 3 = 1) x
                 JOIN (SELECT (doc_id - 2) // 3 AS r FROM documents
                       WHERE doc_id % 3 = 2) y USING (r))
         SELECT rec.n_records, pagg.n_neardup_prompt_pairs,
                pagg.leak_naive, pagg.leak_cluster
         FROM rec, pagg"""
    },
    "q267_ndcg" ->
      s"""WITH qs(query_id, term) AS (VALUES $ndcgValuesSql),
         p AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+'))
                        AS term
               FROM documents),
         tf AS (SELECT qs.query_id, p.doc_id, p.term, count(*) AS tf
                FROM p JOIN qs ON p.term = qs.term GROUP BY 1, 2, 3),
         cand AS (SELECT query_id, doc_id,
                         CAST(sum(tf) AS BIGINT) AS score,
                         CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END)
                           AS BIGINT) AS rel
                  FROM tf GROUP BY 1, 2),
         rk AS (SELECT query_id, doc_id, score, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, doc_id) AS rk,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id) AS irk,
                       CAST(pow(2, rel) AS BIGINT) - 1 AS gain
                FROM cand),
         ag AS (SELECT query_id, count(*) AS n_candidates,
                       CAST(sum((${dcgCaseDuck("rk")}) * gain) AS BIGINT)
                         AS dcg_i,
                       CAST(sum((${dcgCaseDuck("irk")}) * gain) AS BIGINT)
                         AS idcg_i,
                       min(CASE WHEN rel >= 2 THEN rk ELSE NULL END) AS frel
                FROM rk GROUP BY 1)
         SELECT CAST(query_id AS BIGINT) AS query_id, n_candidates,
                CASE WHEN idcg_i = 0 THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(dcg_i AS DOUBLE) * 1000000 / idcg_i)
                          / 1000000 END AS ndcg10,
                CASE WHEN frel IS NULL THEN CAST(0 AS DOUBLE)
                     ELSE (1000000 // frel) / CAST(1000000 AS DOUBLE)
                END AS mrr
         FROM ag ORDER BY query_id""",
    // label CTEs: Curation's q130 flag block — the oracle recomputes
    // the same pipeline verdict those gates certify
    "q268_calibration" ->
      s"""WITH ${Curation.flagBlockCtes},
         ${labCte("least(1000000, greatest(0, CAST(round((q.score + 1) / 2 " +
                  "* 1000000) AS BIGINT))) AS ip")},
         bins AS (SELECT least(9, ip // 100000) AS bin,
                         count(*) AS n_docs,
                         CAST(sum(y) AS BIGINT) AS n_pos,
                         CAST(sum(ip) AS BIGINT) AS sconf
                  FROM lab GROUP BY 1),
         ab AS (SELECT bin, n_docs, n_pos, sconf,
                       abs(n_pos * 1000000 - sconf) AS adiff
                FROM bins),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
                        CAST(sum(adiff) AS BIGINT) AS sdiff
                 FROM ab)
         SELECT ab.bin, ab.n_docs, ab.n_pos,
                floor(CAST(ab.n_pos AS DOUBLE) * 1000000 / ab.n_docs)
                  / 1000000 AS acc,
                floor(CAST(ab.sconf AS DOUBLE) / ab.n_docs) / 1000000 AS conf,
                (tot.sdiff // tot.nn) / CAST(1000000 AS DOUBLE) AS ece
         FROM ab, tot ORDER BY ab.bin""",
    // q277: the q268 flag/score CTE chain through `lab` (raw
    // integerized score instead of the clamped confidence), then the
    // tie-aware rank-sum sweep over the distinct-score grain
    "q277_auc" ->
      s"""WITH ${Curation.flagBlockCtes},
         ${labCte("CAST(round(q.score * 1000000) AS BIGINT) AS v")},
         g AS (SELECT v, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos
               FROM lab GROUP BY 1),
         sw AS (SELECT v, cnt, pos,
                       coalesce(sum(cnt) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS cb
                FROM g),
         ag AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
                       CAST(sum(pos) AS BIGINT) AS n_pos,
                       CAST(sum(pos * (2 * cb + cnt + 1)) AS BIGINT) AS u2
                FROM sw)
         SELECT n_docs, n_pos, n_docs - n_pos AS n_neg,
                CASE WHEN n_pos = 0 OR n_pos = n_docs THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(u2 - n_pos * (n_pos + 1) AS DOUBLE)
                                * 1000000
                                / (2 * n_pos * (n_docs - n_pos))) / 1000000
                END AS auc
         FROM ag""",
    "q269_kappa" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         f AS (SELECT len(w) AS n,
                      len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                      list_sum(list_transform(w, x -> length(x))) AS sl
               FROM t),
         r AS (SELECT CASE WHEN 0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                                - 0.25 * (sl / CAST(n AS DOUBLE)) > 0
                      THEN 1 ELSE 0 END AS ka,
                      CASE WHEN n >= 30 AND ns * 20 >= n AND sl * 10 <= n * 45
                      THEN 1 ELSE 0 END AS kb
               FROM f),
         c AS (SELECT count(*) AS n_docs,
                      CAST(sum(CASE WHEN ka = 0 AND kb = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00,
                      CAST(sum(CASE WHEN ka = 0 AND kb = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                      CAST(sum(CASE WHEN ka = 1 AND kb = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                      CAST(sum(CASE WHEN ka = 1 AND kb = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11
               FROM r)
         SELECT n_docs, n00, n01, n10, n11,
                floor(CAST((n00 + n11) AS DOUBLE) * 1000000 / n_docs)
                  / 1000000 AS po,
                floor(CAST((n00 + n01) * (n00 + n10)
                           + (n10 + n11) * (n01 + n11) AS DOUBLE)
                      * 1000000 / (n_docs * n_docs)) / 1000000 AS pe,
                CASE WHEN n_docs * n_docs = (n00 + n01) * (n00 + n10)
                                            + (n10 + n11) * (n01 + n11)
                THEN 0.0
                ELSE floor(CAST(n_docs * (n00 + n11)
                           - ((n00 + n01) * (n00 + n10)
                              + (n10 + n11) * (n01 + n11)) AS DOUBLE) * 1000000
                      / (n_docs * n_docs
                         - ((n00 + n01) * (n00 + n10)
                            + (n10 + n11) * (n01 + n11)))) / 1000000 END AS kappa
         FROM c""",
    "q270_zipf_fit" ->
      """WITH tf AS (SELECT tok, count(*) AS freq
                     FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
                             AS tok
                           FROM documents)
                     GROUP BY 1),
         rk AS (SELECT row_number() OVER (ORDER BY freq DESC, tok) AS rk, freq
                FROM tf),
         lg AS (SELECT CAST(round(ln(rk) * 1000) AS BIGINT) AS lx,
                       CAST(round(ln(freq) * 1000) AS BIGINT) AS ly
                FROM rk WHERE rk <= 1000),
         m AS (SELECT count(*) AS n_terms,
                      CAST(sum(lx) AS BIGINT) AS sx,
                      CAST(sum(ly) AS BIGINT) AS sy,
                      CAST(sum(lx * lx) AS BIGINT) AS sxx,
                      CAST(sum(lx * ly) AS BIGINT) AS sxy,
                      CAST(sum(ly * ly) AS BIGINT) AS syy
               FROM lg)
         SELECT n_terms,
                floor(CAST(n_terms * sxy - sx * sy AS DOUBLE) * 1000
                      / (n_terms * sxx - sx * sx)) / 1000 AS slope,
                floor((CAST(sy AS DOUBLE) / 1000
                       - CAST(n_terms * sxy - sx * sy AS DOUBLE)
                         / (n_terms * sxx - sx * sx)
                         * (CAST(sx AS DOUBLE) / 1000))
                      * 1000 / n_terms) / 1000 AS intercept,
                floor(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                      * CAST(n_terms * sxy - sx * sy AS DOUBLE) * 1000000
                      / (CAST(n_terms * sxx - sx * sx AS DOUBLE)
                         * CAST(n_terms * syy - sy * sy AS DOUBLE)))
                / 1000000 AS r2
         FROM m""",
  )
}
