package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.TextExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2 row 13
  * [extension]) — the LLM-training-pipeline surface: token counting,
  * per-language stats, quality scoring, language-ID heuristic, document
  * fingerprinting, and n-gram Jaccard near-dup detection.
  *
  * Everything is built-in Spark SQL (split / regexp / higher-order array
  * functions) — codegen'd, no UDFs, no driver-side loops.
  *
  * Scale notes:
  *  - all per-doc queries are embarrassingly parallel map work on the scan;
  *  - q35 (near-dup) avoids the O(n²) cross join via the standard inverted
  *    index: explode distinct shingles → equi-join on shingle → count
  *    common per pair. Work is Σ df(shingle)² — bounded on real corpora by
  *    a document-frequency cut on hot shingles (see Dedup.minHashLsh for
  *    the LSH-banded variant that caps candidate generation at any scale).
  */
object TextAnalysis extends QueryPack {

  private val toksExpr = graft.functions.TextExprs.toks

  // Token counting: whitespace tokens + a BPE-ish regex tokenization
  // (letter runs | digit runs | single punctuation), plus avg word length.
  // The whitespace split is let-bound so it runs ONCE per row even though
  // two output columns derive from it (CollapseProject would otherwise
  // inline the regex split into each referencing expression).
  private def q30Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        expr(graft.functions.TextExprs.let1(s"size($toksExpr)", "n",
          // floor-truncate, don't round: ratios of small ints can land exactly
          // on a rounding midpoint (4.725), where Spark's round (decimal
          // re-interpretation via Double.toString) and DuckDB's (raw binary)
          // disagree. floor(x*100)/100 is pure IEEE → bit-identical engines.
          """struct(cast(n AS bigint) AS ws_tokens,
                    floor(length(regexp_replace(text, '\\s+', '')) / n * 100) / 100
                      AS avg_word_len)""")).as("t"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("re_tokens"))
      .select(col("doc_id"), col("t.ws_tokens").as("ws_tokens"),
              col("re_tokens"), col("t.avg_word_len").as("avg_word_len"))
      .orderBy("doc_id")

  // Per-language corpus stats.
  private def q31LangStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("n_chars"), 2).as("avg_chars"),
           sum(expr(s"size($toksExpr)")).as("total_tokens"))
      .orderBy("lang")

  private val stopList = "('the','a','of','and','in','to')"

  /** One whitespace split per row: both token stats come from a single
    * let-bound struct (same IEEE arithmetic as the unfused form — int/long
    * division promotes to double identically, so the oracle is unchanged).
    */
  private def tokenStats: String =
    graft.functions.TextExprs.let1(toksExpr, "tk",
      s"struct(size(tk) AS nt, size(filter(tk, t -> t IN $stopList)) AS ns)")

  // Quality scoring: length/stopword/char-ratio heuristics → one score.
  private def q32Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(tokenStats).as("t"))
      .select(
        col("doc_id"),
        col("t.nt").cast("long").as("n_tokens"),
        (floor(col("t.ns") / col("t.nt") * 1000) / 1000).as("stop_ratio"),
        (floor((lit(0.5) * least(lit(1.0), col("t.nt") / 100.0)
             + lit(0.5) * (lit(1.0) - col("t.ns") / col("t.nt"))) * 1000) / 1000)
          .as("quality_score"))
      .orderBy("doc_id")

  /** Language-ID heuristic: marker-word hit counts per language plus an
    * ASCII-letter ratio. Declarative (no UDF); verified in ScalaTest on
    * real multilingual sentences — no SQL oracle (the heuristic's CASE
    * cascade is its own spec). Rows-only check from the driver.
    */
  private[graft] val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "que", "por"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans", "qui", "pas"),
  )

  private[graft] def langIdScored(df: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(df.withColumn("toks", expr(toksExpr))) {
      case (acc, (lang, markers)) =>
        val set = markers.map(m => s"'$m'").mkString("(", ",", ")")
        acc.withColumn(s"score_$lang",
          expr(s"size(filter(toks, t -> t IN $set))"))
    }
    // CJK detection: any non-ASCII high-codepoint chars dominate.
    val nonAscii = length(regexp_replace(col("text"), "[\\x00-\\x7F]", ""))
    scored
      .withColumn("score_cjk", nonAscii)
      .withColumn("predicted_lang",
        when(col("score_cjk") > length(col("text")) * 0.3, lit("zh"))
          .otherwise(
            // deterministic argmax: strict-greater cascade in fixed order
            Seq("en", "de", "es", "fr").map(l => col(s"score_$l"))
              .zip(Seq("en", "de", "es", "fr"))
              .foldLeft((lit(0), lit("und"))) { case ((bestScore, bestLang), (score, lang)) =>
                (greatest(bestScore, score),
                 when(score > bestScore, lit(lang)).otherwise(bestLang))
              }._2))
  }

  /** q155: LANGUAGE-ID CONFUSION MATRIX — the classifier EVAL for q33:
    * the declared `lang` column (ground truth) crossed with the
    * n-gram-heuristic prediction, one row per (actual, predicted) cell.
    * This is the report that decides whether the cheap heuristic is
    * good enough to gate a per-language corpus split (q131 shows what
    * label noise does downstream): off-diagonal mass IS the label-noise
    * rate, per language. Pure map work + one groups-sized aggregate —
    * fully integer, and the prediction logic is the SAME function q33
    * gates, so the matrix is consistent with the declared classifier by
    * construction. */
  private def q155LangConfusion(s: SparkSession, d: String): DataFrame =
    langIdScored(Tables.documents(s, d))
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")

  private def q33LangId(s: SparkSession, d: String): DataFrame =
    langIdScored(Tables.documents(s, d))
      .select(col("doc_id"), col("predicted_lang"),
              col("score_en").cast("long").as("score_en"),
              col("score_de").cast("long").as("score_de"),
              col("score_es").cast("long").as("score_es"),
              col("score_fr").cast("long").as("score_fr"),
              col("score_cjk").cast("long").as("score_cjk"))
      .orderBy("doc_id")

  // Document fingerprint: min of md5 over word-3-gram shingles (MinHash
  // with k=1 — a locality-sensitive content fingerprint; near-identical
  // docs collide with probability = their Jaccard similarity).
  private def q34Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
      .select(col("doc_id"),
              expr("array_min(transform(sh, x -> md5(x)))").as("fingerprint"),
              size(col("sh")).cast("long").as("n_shingles"))
      .orderBy("doc_id")

  // N-gram Jaccard near-dup pairs via inverted shingle index (no cross
  // join): explode → equi-join on shingle → common counts → Jaccard.
  // REFERENCE implementation (unbounded index, Σdf² join work): the
  // DECLARED q35 runs through the prefix-filtered `prefixJaccardJoin`,
  // which ScaleSpec proves value-identical to this join.
  private[graft] def q35NgramJaccard(s: SparkSession, d: String): DataFrame = {
    def exploded(role: String): DataFrame =
      Tables.documents(s, d)
        .select(col("doc_id"),
                graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
        .select(col("doc_id").as(s"${role}_id"),
                size(col("sh")).as(s"${role}sz"),
                explode(col("sh")).as("s"))
    exploded("a").join(exploded("b"), Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "asz", "bsz")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac_raw", col("common") / (col("asz") + col("bsz") - col("common")))
      .filter(col("jac_raw") >= 0.8)
      .withColumn("jaccard", floor(col("jac_raw") * 1000) / 1000)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** EXACT Jaccard self-join via PREFIX FILTERING (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): the true scale
    * path for q35's exact near-dup join. q35's inverted index posts EVERY
    * shingle, so candidate work is Σ df² over the whole vocabulary (a
    * df-cut only bounds it to Σ min(df, cap)², trading recall); prefix
    * filtering posts only each doc's first p = sz − ⌈τ·sz⌉ + 1 shingles
    * under a global rarest-first (df ASC, shingle ASC) order and is STILL
    * lossless. Completeness: a pair with J ≥ τ has |A∩B| ≥ τ·max(|A|,|B|)
    * ≥ o = ⌈τ·|A|⌉; if the intersection avoided A's p-prefix entirely it
    * would fit inside A's last o−1 shingles — contradiction — and
    * symmetrically for B, so every qualifying pair collides on a shingle
    * lying in BOTH prefixes. At τ = 0.8 only ~20% of postings survive,
    * concentrated in the RAREST shingles (smallest df), so the self-join
    * volume collapses quadratically; candidates then pass the symmetric
    * length filter (τ·max(|A|,|B|) ≤ min — else J < τ even at full
    * overlap) and are verified EXACTLY by intersecting the two full
    * shingle arrays — doc-grain rows, candidate-set sized, no second
    * pass over the index.
    *
    * τ is carried as the RATIONAL tnum/tden and the minimum overlap is
    * computed in INTEGER arithmetic, o = (sz·tnum + tden − 1) div tden:
    * the float form ⌈sz·0.8⌉ can evaluate to ⌈4.0000000000000002⌉ = 5
    * (0.8 is not a binary double), silently shrinking the prefix below
    * the completeness bound — float jitter becoming missed pairs. The
    * final threshold test reuses q35's double form verbatim so the two
    * declared plans (and the shared oracle) stay bit-compatible.
    *
    * Output ≡ q35 exactly (ScaleSpec asserts set equality), so the
    * declared oracle is the same exact-Jaccard SQL: the gate itself
    * certifies the optimization value-neutral.
    */
  private[graft] def prefixJaccardJoin(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairsCore(s, d).orderBy("a_id", "b_id")

  /** The τ = 0.8 prefix pair relation, memoized per (session, dataset)
    * behind a lazy localCheckpoint (the q42 `minhashLshPairsCore`
    * discipline): q35 and q244 declare the IDENTICAL τ = 0.8 relation —
    * one gate certifies the prefix plan against the exact-Jaccard SQL,
    * the other is its named scale-path alias — so the posting/df/window/
    * verify chain runs once per session and the second consumer reads
    * cached blocks, exactly how a production dedup materializes its pair
    * table before fanning out. q242's τ = 1/2 ground truth goes through
    * [[prefixVerifiedPairs]] directly. */
  private[graft] def prefixJaccardPairsCore(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "text.prefixPairs", d)(
      prefixJaccardPairsCompute(s, d).localCheckpoint(eager = false))

  /** The un-memoized compute form — PlanSpec pins the prefix plan shape
    * (doc-grain rank window + one reused posting exchange) on THIS. */
  private[graft] def prefixJaccardPairsCompute(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
    prefixVerifiedPairs(sh, 4, 5)
      .withColumn("jac_raw", col("common") / (col("asz") + col("bsz") - col("common")))
      .filter(col("jac_raw") >= 0.8)
      .withColumn("jaccard", floor(col("jac_raw") * 1000) / 1000)
      .select("a_id", "b_id", "jaccard")
  }

  /** The prefix-filter core over ANY (doc_id, sh) distinct-shingle
    * relation: every candidate pair surviving the prefix collision + the
    * symmetric length filter, verified EXACTLY — output is
    * (a_id, b_id, asz, bsz, common), all exact integers, a SUPERSET of
    * the pairs with true Jaccard ≥ tnum/tden (callers apply the final
    * threshold in whatever float/floored form their oracle states).
    * Factored out of [[prefixJaccardJoin]] so q242's exact ground-truth
    * side (τ = 1/2) and any future threshold reuse the one certified
    * integer-ceiling implementation. */
  private[graft] def prefixVerifiedPairs(sh0: DataFrame,
                                         tnum: Int, tden: Int): DataFrame = {
    val sh = sh0.select(col("doc_id"), col("sh"))
    val ex = sh.select(col("doc_id"), size(col("sh")).as("sz"),
                       explode(col("sh")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // Prefix postings: rank shingles rarest-first WITHIN each doc (the
    // window is doc-grain, never a global sort) and keep rank ≤ sz−o+1.
    val pref = ex.join(dfTab, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rn") <=
        col("sz") - expr(s"(sz * $tnum + $tden - 1) div $tden") + lit(1))
      .select(col("s"), col("doc_id"), col("sz"), col("rn"))
    // NO repartition(s) here, deliberately: the ranked-prefix chain ends
    // in the doc-grain window exchange, which both self-join branches
    // already reuse (PlanSpec pins the ReusedExchange), and AQE then
    // broadcasts one side — so the hot-shingle quadratic pairing work
    // stays SPREAD across every probe partition. Forcing a shuffle join
    // on s concentrates each hot shingle's whole posting list in one
    // task (measured 2× q242's exact side at τ = 1/2).
    val cand = pref.select(col("s"), col("doc_id").as("a_id"),
                           col("sz").as("asz"), col("rn").as("arn"))
      .join(pref.select(col("s"), col("doc_id").as("b_id"),
                        col("sz").as("bsz"), col("rn").as("brn")),
            Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .filter(expr(s"least(asz, bsz) * $tden >= greatest(asz, bsz) * $tnum"))
      // PPJoin POSITIONAL upper bound (lossless): J ≥ τ forces
      // common ≥ ⌈τ·(|A|+|B|)/(1+τ)⌉ = ⌈tnum·(asz+bsz)/(tnum+tden)⌉,
      // while a pair meeting at global-order positions (arn, brn) can
      // share at most 1 + min(asz − arn, bsz − brn) elements (everything
      // else must come from BOTH suffixes). A qualifying pair always
      // passes at its EARLIEST meeting row (there common ≤ the bound by
      // the same argument), so per-row filter + distinct keeps exactly
      // the pairs the membership-only prefix filter kept whose ceiling
      // is attainable — at τ = 1/2 this is the difference between 310k
      // and ~40k verify rows (the prefix keeps half of every doc, so
      // membership alone barely prunes; position is what prunes)
      .filter(expr(s"1 + least(asz - arn, bsz - brn) >= " +
        s"($tnum * (asz + bsz) + $tnum + $tden - 1) div ($tnum + $tden)"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"),
              size(col("a_sh")).cast("long").as("asz"),
              size(col("b_sh")).cast("long").as("bsz"),
              size(array_intersect(col("a_sh"), col("b_sh")))
                .cast("long").as("common"))
  }

  /** Session-memoized exploded shingle-POSTING relation
    * (doc_id, sz, s) over the full documents table, lazily
    * localCheckpointed — the inverted-index artifact of the containment
    * family (a deployment persists exactly this posting table once and
    * every containment/overlap consumer probes it; re-shingling +
    * re-exploding the corpus per report is the anti-pattern). Consumers:
    * q174's asymmetric prefix-vs-full candidate join and q183's
    * batch-vs-corpus probe (both filter it — per-doc postings commute
    * with ingest-split predicates). The Jaccard prefix core keeps its
    * own inline explode: its relation is already memoized at the PAIR
    * grain ([[prefixJaccardPairsCore]]), so it pays this chain once per
    * session either way and PlanSpec pins its compute form standalone. */
  private[graft] def shinglePostingsCore(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "text.shinglePostings", d)(
      Tables.documents(s, d)
        .select(col("doc_id"),
                graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
        .localCheckpoint(eager = false))


  /** q174's scale plan: PREFIX FILTERING IN THE CONTAINMENT DIRECTION.
    * The prefix principle composes with the directed measure because the
    * containment overlap ceiling uses ONLY the contained side's size:
    * C(A→B) = |A∩B| / |A| ≥ τ forces |A∩B| ≥ o = ⌈τ·|A|⌉, and if the
    * intersection avoided A's first |A| − o + 1 shingles (ANY fixed
    * per-doc order works — the pigeonhole runs entirely inside A; we
    * keep the rarest-first order because it concentrates the surviving
    * postings in low-df shingles) it would fit inside A's last o − 1 —
    * contradiction. So the candidate join is ASYMMETRIC: contained-side
    * PREFIX postings (~(1−τ) of the index at τ = 0.9) probe the FULL
    * posting index, Σ df_pref(s)·df(s) join work instead of the
    * undirected Σ df² self-join — and unlike the df-cut (which bounds
    * hot-shingle work by trading recall), this DROPS the hot-shingle
    * quadratic term losslessly: a boilerplate shingle shared by millions
    * of docs ranks last within every doc and never enters a prefix.
    * Directions are independent candidates (a near-identical twin
    * qualifies both ways, arriving as two candidate rows), each verified
    * EXACTLY from the two full shingle arrays with its own divisor.
    * Output ≡ the inverted-index [[containmentReference]] (ScaleSpec
    * asserts set equality); the declared oracle is unchanged.
    *
    * The full index side is uncapped: the r15 cap sweep measured every
    * full-side df cap (16–128) value-neutral at sf0.1 AND slower
    * (2.49 s → 4.8–5.3 s — the cap's semi-join costs more than the
    * candidate volume it trims at this corpus). */
  private[graft] def prefixContainmentJoin(s: SparkSession, d: String): DataFrame = {
    // τ = 0.9 as the rational tnum/tden (integer overlap ceiling, the
    // prefixJaccardJoin arithmetic)
    val tnum = 9
    val tden = 10
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
    // the posting relation comes from the shared session store (one
    // shingle+explode pass serves q174 and q183); the full arrays for
    // exact verification stay on the raw scan — they join candidate ids
    // only, and doc-id joins carry none of the posting-key skew risk.
    // The prefix stays INLINE deliberately: session-memoizing it was
    // measured WORSE at both grains on the same host/reps (full ranked
    // postings 3.12 s, filtered prefix 2.47 s, vs 1.90 s inline, r15
    // A/B) — the candidate probe + exact verify dominate this plan, and
    // cached-block re-reads cost more than the df+rank recompute they
    // replace (PERF.md negative-results ledger).
    // Candidate machinery keyed by xxhash64 of the shingle (r16, guide
    // §2.3): the shingle string never reaches the output — candidates
    // are verified from the full arrays by doc id — so the df
    // aggregate, the rank window's (df, s) sort and the posting join
    // all run on 8-byte longs instead of ~30-char strings. The prefix
    // pigeonhole needs only A FIXED per-doc order and the positional
    // bound only A CONSISTENT GLOBAL total order; (df, xxhash64(s)) is
    // both (collisions would only make two shingles share a key —
    // merging postings, a superset of candidates — and are ~2^-64·|V|²
    // anyway; the oracle hash-gates the output every round).
    val ex = shinglePostingsCore(s, d)
      .select(col("doc_id"), col("sz"), xxhash64(col("s")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // BOTH candidate-join sides read the one ranked subtree (the doc-
    // grain rank window's exchange is reused; AQE broadcasts one side —
    // the prefixVerifiedPairs discipline), so ranking the full side too
    // is free and buys the POSITIONAL bound below
    val ranked = ex.join(dfTab, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .select(col("s"), col("doc_id"), col("sz"), col("rn"))
    val cand = ranked
      .filter(col("rn") <=
        col("sz") - expr(s"(sz * $tnum + $tden - 1) div $tden") + lit(1))
      .select(col("s"), col("doc_id").as("a_id"),
              col("sz").as("asz"), col("rn").as("arn"))
      .join(ranked.select(col("s"), col("doc_id").as("b_id"),
                          col("sz").as("bsz"), col("rn").as("brn")),
            Seq("s"))
      .filter(col("a_id") =!= col("b_id"))
      // PPJoin's positional upper bound COMPOSES into the containment
      // direction (lossless): the intersection's elements sorted by the
      // global (df, s) order occupy ranks ≥ (arn, brn) of the meeting
      // row in A and B respectively, so common ≤ 1 + min(asz − arn,
      // bsz − brn); C(A→B) ≥ τ forces common ≥ o = ⌈τ·asz⌉. A
      // qualifying pair always passes at its EARLIEST common shingle —
      // which the prefix pigeonhole puts inside A's prefix, where
      // asz − arn ≥ o − 1 — so per-row filter + distinct keeps exactly
      // the qualifying-attainable pairs and the verify set shrinks
      .filter(expr(s"1 + least(asz - arn, bsz - brn) >= " +
        s"(asz * $tnum + $tden - 1) div $tden"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"),
              size(col("a_sh")).cast("long").as("asz"),
              size(array_intersect(col("a_sh"), col("b_sh")))
                .cast("long").as("common"))
      .withColumn("cont_raw", col("common") / col("asz"))
      .filter(col("cont_raw") >= 0.9)
      .withColumn("containment", floor(col("cont_raw") * 1000) / 1000)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** ASYMMETRIC CONTAINMENT near-dup — C(A→B) = |A∩B| / |A| over
    * distinct word-3-gram shingles (Broder's containment, the companion
    * measure to q35's resemblance). Jaccard misses the subset case by
    * construction: a doc fully quoted inside one 10× its size scores
    * J ≈ 0.1 but C = 1.0 — exactly the excerpt/expanded-revision/
    * quote-farm duplicates a training corpus must catch, since the
    * contained doc adds no new tokens. Emits DIRECTED pairs (a_id is
    * the contained side); a near-identical twin appears in both
    * directions, which is the correct reading of a symmetric relation
    * in a directed measure.
    *
    * The REFERENCE plan for q174 (the declared gate runs
    * [[prefixContainmentJoin]]; ScaleSpec compares it against this):
    * explode → inverted index (Σ df² join work) →
    * integer (common, asz, bsz) agg. Directedness is recovered AFTER
    * the aggregation: the index self-join stays UNDIRECTED (a < b, half
    * the shuffle/grouping volume of a naive a ≠ b join — measured 3.66
    * → ~2 s at sf0.1), and each surviving pair explodes into its two
    * directions, each filtered by its own divisor. Score is exact
    * integer common/size, floored to 1e-3 (parity-safe cross-engine).
    */
  private[graft] def containmentReference(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    ex.select(col("s"), col("doc_id").as("a_id"), col("sz").as("asz"))
      .join(ex.select(col("s"), col("doc_id").as("b_id"), col("sz").as("bsz")),
            Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "asz", "bsz")
      .agg(count(lit(1)).as("common"))
      .select(explode(expr(
        """array(
             named_struct('a_id', a_id, 'b_id', b_id,
                          'cont_raw', common / asz),
             named_struct('a_id', b_id, 'b_id', a_id,
                          'cont_raw', common / bsz))""")).as("r"))
      .select(col("r.a_id").as("a_id"), col("r.b_id").as("b_id"),
              col("r.cont_raw").as("cont_raw"))
      .filter(col("cont_raw") >= 0.9)
      .withColumn("containment", floor(col("cont_raw") * 1000) / 1000)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** INCREMENTAL CONTAINMENT — q174's directed measure in the
    * batch-vs-corpus ingest shape (the q100/q76 pattern): is the
    * ARRIVING doc already contained in the existing corpus? The
    * everyday decision a crawl-append pipeline makes — an arriving doc
    * that is a subset of a corpus doc adds nothing and is dropped, a
    * superset is the interesting revision case — and the asymmetric
    * question Jaccard-based incremental dedup (q100) cannot answer.
    * Only CROSS pairs compute (fresh explode probes the corpus posting
    * index; never corpus×corpus, never batch×batch), so candidate work
    * is ∝ |batch| postings × collision rate. On deployment the corpus
    * side is the persisted posting index, the q108 shape. */
  private def incrementalContainment(s: SparkSession, d: String): DataFrame = {
    // both sides probe the ONE shared posting store (per-doc postings
    // commute with the ingest-split filters)
    val post = shinglePostingsCore(s, d)
    val fresh = post.filter(col("doc_id") >= 250)
      .select(col("doc_id").as("a_id"), col("sz").as("asz"), col("s"))
    val corpusEx = post.filter(col("doc_id") < 250)
      .select(col("doc_id").as("b_id"), col("s"))
    fresh
      .join(corpusEx, Seq("s"))
      .groupBy("a_id", "b_id", "asz")
      .agg(count(lit(1)).as("common"))
      .withColumn("cont_raw", col("common") / col("asz"))
      .filter(col("cont_raw") >= 0.9)
      .withColumn("containment", floor(col("cont_raw") * 1000) / 1000)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Document cosine similarity over SHINGLE-FREQUENCY vectors via the
    * inverted index — the sparse-vector complement to q35's set Jaccard
    * (counts repeated shingles instead of ignoring them) and to q40's
    * dense embedding cosine. Terms are 3-gram shingles (NON-distinct, so
    * the frequency is real), not raw tokens: the synthetic corpus has a
    * ~31-word vocabulary, so token-level vectors are degenerate while the
    * shingle space is large and selective — which is also why w-shingling
    * is the standard unit for document similarity. Pairs at cosine
    * ≥ 0.8 are reported.
    *
    * Parity-by-construction: shingle counts are integers, so the dot
    * product and squared norms are EXACT integer sums
    * (engine-order-independent); the only float ops are one sqrt + one
    * divide on identical integers, bit-identical across engines. Scale
    * shape: explode → inverted-index self-join (Σ df² work) → integer
    * agg; norms joined back onto the (small) surviving pair set.
    */
  private def q78DocCosinePairs(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"),
              explode(graft.functions.NativeExprs
                .word_shingles(col("text"), 3, distinct = false)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // The tf index is materialized ONCE per invocation (lazy
    // localCheckpoint, the dedupClusterAssignment in-query pattern) so
    // norms and both self-join sides read the same blocks: the r16
    // executed-plan audit showed the whole tf chain computed once per
    // consumer branch without it (zero ReusedExchange under AQE here).
    // The oracle's df filter (df ≤ n_docs) is a tautology — df counts
    // docs containing the token — so no df cut runs here.
    val tfIdx = tf.localCheckpoint(eager = false)
    val norms = tfIdx.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nn"))
    val dots = tfIdx.select(col("token"), col("doc_id").as("a_id"), col("tf").as("atf"))
      .join(tfIdx.select(col("token"), col("doc_id").as("b_id"), col("tf").as("btf")),
            Seq("token"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(sum(col("atf") * col("btf")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a_id"), col("nn").as("na")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("nn").as("nb")), "b_id")
      // na and nb are widened BEFORE the multiply: the long product of
      // two corpus-scale squared norms can exceed 2^63 (silent wrap under
      // non-ANSI mode); double*double cannot, and the oracle does the same
      .withColumn("cos_raw",
        col("dot") / sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cos_raw") >= 0.8)
      .withColumn("cosine", floor(col("cos_raw") * 100000) / 100000)
      .select("a_id", "b_id", "cosine")
      .orderBy("a_id", "b_id")
  }

  // Edit distance between adjacent documents' 80-char prefixes (capped so
  // the O(len²) DP stays bounded; Spark and DuckDB both implement the
  // classic Levenshtein count).
  private def q36EditDistance(s: SparkSession, d: String): DataFrame = {
    val a = Tables.documents(s, d)
      .select(col("doc_id").as("a_id"), substring(col("text"), 1, 80).as("a_txt"))
    val b = Tables.documents(s, d)
      .select(col("doc_id").as("b_id"), substring(col("text"), 1, 80).as("b_txt"))
    a.join(b, col("b_id") === col("a_id") + 1)
      .select(col("a_id"), col("b_id"),
              levenshtein(col("a_txt"), col("b_txt")).cast("long").as("edit_dist"))
      .orderBy("a_id")
  }

  // End-to-end curation pipeline (the LLM-data shape: score → filter →
  // near-dup-collapse → per-language yield): quality-gate documents,
  // collapse fingerprint duplicates to the smallest doc_id, report kept
  // counts per language. One scan + one shuffle on the fingerprint + one
  // on lang — the whole pipeline is three hash exchanges at any scale.
  private def q37Curation(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("ts", expr(tokenStats))
      .withColumn("n_tokens", col("ts.nt"))
      .withColumn("n_stop", col("ts.ns"))
      .withColumn("quality",
        floor((lit(0.5) * least(lit(1.0), col("n_tokens") / 100.0)
             + lit(0.5) * (lit(1.0) - col("n_stop") / col("n_tokens"))) * 1000) / 1000)
      .filter(col("quality") >= 0.6)
      .withColumn("sh", graft.functions.NativeExprs.word_shingles(col("text")))
      .withColumn("fp", expr("array_min(transform(sh, x -> md5(x)))"))
    // keep the smallest doc_id per fingerprint: one shuffle on fp (a
    // window), not a groupBy + join-back that recomputes the scan twice
    val w = Window.partitionBy("fp").orderBy("doc_id")
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           (floor(avg("n_tokens") * 100) / 100).as("avg_tokens"))
      .orderBy("lang")
  }

  // Corpus vocabulary: token frequency + document frequency.
  private def q38Vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy("token")

  // TF-IDF: top-3 scoring tokens for the first 100 documents (scores over
  // the WHOLE corpus; output capped for the harness). ln/idf computed the
  // same way both engines; floor-truncated at 1e-6. The corpus size N is a
  // broadcast one-row aggregate (q68's pattern), not a driver-side count():
  // the whole query is one lazily-composable plan, one job per invocation.
  private def q39Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // Inline double-tokenize — the r15 form, RESTORED in r17 after
    // paired adjudication: the r16 "tokenize once into a materialized
    // array column" rewrite measured SLOWER in-suite everywhere (driver
    // r16 0.85 → 1.00 s; both r17 alternating subset pairs, normalized
    // revert ratio 0.84 / 0.88) — materializing the full token array
    // through the pre-Generate projection costs more than evaluating
    // the regex split twice under codegen. Empirics over aesthetics.
    val perDoc = docs
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"),
              expr(s"size($toksExpr)").as("doc_len"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"), first("doc_len").as("doc_len"))
    // count, not countDistinct: perDoc is unique on (doc_id, token) by
    // construction (it IS the groupBy output), so the distinct-agg
    // Expand machinery was pure overhead (r17)
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    perDoc.join(dfTab, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        floor(col("cnt") / col("doc_len") * log(col("n_docs") / col("df")) * 1000000) / 1000000)
      .filter(col("doc_id") < 100)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("token"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** Token RARITY scoring — the corpus-statistics quality signal a
    * curation pipeline runs besides per-doc heuristics (q32): each
    * document scored by the document frequency of its DISTINCT tokens
    * (min = its rarest token, mean = overall commonness). Low min_df
    * flags docs with vocabulary seen nowhere else (OCR noise, random
    * strings); high mean_df flags boilerplate. Two-phase corpus pass:
    * the df table is a partial-aggregatable token count (vocab-sized,
    * Zipf-bounded), then one explode-join-reagg keyed by token — the
    * same shuffle shape as q39's tf-idf, parallel at any corpus size
    * (hot-token skew bounded because per-(doc,token) rows are already
    * distinct). mean_df = sum/count of exact longs — one IEEE division,
    * bit-identical cross-engine. */
  private def q85TokenRarity(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("tok"))
    // df via a window over the SAME key the old aggregate-then-join
    // form shuffled on (r17, guide §2.4: a window partitioned like the
    // join key shares its one exchange): the join form evaluated the
    // tokenize subtree twice (dfreq branch + probe branch — different
    // subtrees, no exchange reuse) and shuffled (source rows + vocab)
    // before re-keying by doc. One tokenize, one tok exchange, one doc
    // exchange. count().over is the same long df the aggregate
    // produced; per-(doc,token) rows are distinct so all downstream
    // math is row-identical. Hot-token skew is the same colocation the
    // equi-join already paid.
    val wTok = Window.partitionBy("tok")
    tok.withColumn("df", count(lit(1)).over(wTok))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), min("df").as("min_df"),
           (sum("df").cast("double") / count(lit(1))).as("mean_df"))
      .orderBy("doc_id")
  }

  /** Document CHUNKING — the tokenize→chunk step ahead of sequence
    * packing (q46/q75): fixed 40-token windows with stride 30 (overlap
    * 10), the standard sliding-window split a training pipeline applies
    * to long documents. Chunk count ceil((n−10)/30) (min 1) keeps the
    * tail; each chunk is identified by its md5 so the full chunk CONTENT
    * is under the hash check, not just counts. Pure per-doc map work —
    * explode of a computed index range, no shuffle at any scale; output
    * rows ≈ corpus tokens / stride. */
  private def q90Chunking(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .select(col("doc_id"), col("n_tok"), col("tk"),
        explode(expr("sequence(0, greatest(1, cast(ceil((n_tok - 10) / 30.0) as int)) - 1)"))
          .as("chunk_idx"))
      .withColumn("chunk",
        expr("slice(tk, chunk_idx * 30 + 1, least(40, n_tok - chunk_idx * 30))"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
              size(col("chunk")).cast("long").as("chunk_tokens"),
              md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** WITHIN-DOCUMENT REPETITION METRICS — the Gopher/C4 repetition
    * filters on the 2-gram level: per document, the total 2-gram count,
    * the count of the single most frequent 2-gram (`top2_n`), the mass
    * of 2-grams occurring more than once (`dup2_mass`), and the floored
    * repetition ratio dup2_mass / n_2grams. High values mark the
    * degenerate auto-generated/boilerplate docs every pretraining
    * curation pass drops. Scale shape: ENTIRELY map-side — the per-doc
    * run-length fold over the SORTED 2-gram array replaces the
    * (doc_id, gram) groupBy shuffle a naive plan would pay (corpus
    * tokens never shuffle; the only exchange is the final orderBy).
    * All counts integer; the single ratio is floored for cross-engine
    * output stability. */
  private def q161Repetition(s: SparkSession, d: String): DataFrame =
    repetitionOn(Tables.documents(s, d)).orderBy("doc_id")

  /** q161's scoring core on any (doc_id, text) relation — injectable for
    * planted-fixture specs (the q139/q140/q142 convention) and UNORDERED,
    * so it lifts to Structured Streaming unchanged (q162's gate — the
    * q112/q150 shared-core pattern: a stateless projection is the same
    * operator in both execution modes). */
  private[graft] def repetitionOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(toksExpr).as("tk"))
      .withColumn("grams", expr(
        """CASE WHEN size(tk) >= 2 THEN
             transform(sequence(1, size(tk) - 1),
                       i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))
           ELSE array() END"""))
      .withColumn("st", expr(
        // run-length stats over the sorted gram array: one pass, no shuffle.
        // merge closes a run when the gram changes (dup mass += run if the
        // run repeated); finish closes the final run the same way.
        """aggregate(array_sort(grams),
             struct(cast(null as string) as prev, 0L as run,
                    0L as maxrun, 0L as dup),
             (a, x) -> IF(a.prev IS NOT NULL AND x = a.prev,
               struct(x as prev, a.run + 1L as run,
                      a.maxrun as maxrun, a.dup as dup),
               struct(x as prev, 1L as run,
                      greatest(a.maxrun, a.run) as maxrun,
                      a.dup + IF(a.run >= 2L, a.run, 0L) as dup)),
             a -> struct(a.prev as prev, a.run as run,
                         greatest(a.maxrun, a.run) as maxrun,
                         a.dup + IF(a.run >= 2L, a.run, 0L) as dup))"""))
      .select(col("doc_id"),
              size(col("grams")).cast("long").as("n_2grams"),
              col("st.maxrun").as("top2_n"),
              col("st.dup").as("dup2_mass"),
              expr("""CASE WHEN size(grams) = 0 THEN cast(0 as double)
                      ELSE floor(st.dup * 1e3 / size(grams)) / 1000
                      END""").as("rep_ratio"))

  /** q291: KV-CACHE PREFIX GROUPING — the serving-side twin of exact
    * dedup: an inference scheduler that batches requests sharing a
    * token prefix re-uses one KV-cache page for the shared span, so the
    * planning stat it consumes is "how much prefix mass does this
    * corpus share, at which depths?". Per depth d ∈ {1, 2, 4, 8}
    * (cache-page-grain powers of two): documents group by their first-d
    * whitespace tokens (shorter docs by their whole token list — equal
    * prefix STRINGS decode to equal token sequences since tokens carry
    * no whitespace, so the group's prefix token count is single-valued
    * and `min` just reads it); the report is, per depth, the group
    * count, shared-group count, duplicate-doc count, and the tokens a
    * prefix-sharing cache saves = Σ (|group| − 1) · |prefix|. Scale
    * shape: tokenize ONCE per doc, fan out 4 depth rows per doc
    * (generator, no recompute), and the ONLY corpus-sized exchange is
    * the (depth, prefix) groupBy — partially aggregated map-side, keys
    * bounded at 8 tokens; the closing agg is 4 rows. All counts
    * integer; no doubles anywhere. */
  private def q291PrefixCache(s: SparkSession, d: String): DataFrame =
    prefixCacheOn(Tables.documents(s, d))

  /** q291's core on any relation with a `text` column — injectable for
    * planted-fixture specs (the repetitionOn convention). */
  private[graft] def prefixCacheOn(docs: DataFrame): DataFrame =
    docs
      .select(expr(toksExpr).as("tk"))
      .select(explode(expr("array(1L, 2L, 4L, 8L)")).as("depth"), col("tk"))
      .select(col("depth"),
              expr("concat_ws(' ', slice(tk, 1, cast(depth as int)))").as("prefix"),
              expr("least(depth, size(tk))").cast("long").as("ptoks"))
      .groupBy("depth", "prefix")
      .agg(count(lit(1)).as("cnt"), min("ptoks").as("ptoks"))
      .groupBy("depth")
      .agg(count(lit(1)).as("n_groups"),
           sum("cnt").as("n_docs"),
           sum(expr("IF(cnt > 1, 1L, 0L)")).as("n_shared_groups"),
           sum(expr("cnt - 1")).as("dup_docs"),
           sum(expr("(cnt - 1) * ptoks")).as("saved_tokens"))
      .orderBy("depth")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_repetition"   -> q161Repetition _,
    "q37_curation"      -> q37Curation _,
    "q38_vocab"         -> q38Vocab _,
    "q85_token_rarity"  -> q85TokenRarity _,
    "q90_chunking"      -> q90Chunking _,
    "q39_tfidf"         -> q39Tfidf _,
    "q36_edit_distance" -> q36EditDistance _,
    "q78_doc_cosine"    -> q78DocCosinePairs _,
    "q30_tokens"        -> q30Tokens _,
    "q31_lang_stats"    -> q31LangStats _,
    "q32_quality"       -> q32Quality _,
    "q33_langid"        -> q33LangId _,
    "q155_lang_confusion" -> q155LangConfusion _,
    "q34_fingerprint"   -> q34Fingerprint _,
    "q35_ngram_jaccard" -> ((s: SparkSession, d: String) =>
      // the prefix-filtered join (q244's core) IS the gated plan: it is
      // lossless at τ = 0.8 (ScaleSpec asserts set equality vs the full
      // inverted index, q35NgramJaccard — the certification baseline)
      prefixJaccardJoin(s, d)),
    "q174_containment" -> ((s: SparkSession, d: String) =>
      // prefix filtering composed into the containment direction — the
      // inverted-index containmentReference stays as the cert baseline
      prefixContainmentJoin(s, d)),
    "q183_inc_containment" -> ((s: SparkSession, d: String) =>
      incrementalContainment(s, d)),
    "q201_vocab_coverage" -> q201VocabCoverage _,
    "q244_prefix_join" -> ((s: SparkSession, d: String) =>
      prefixJaccardJoin(s, d)),
    "q291_prefix_cache" -> q291PrefixCache _,
  )

  /** Vocabulary size for q201 — the top-V closed vocabulary. */
  private val vocabV = 24

  /** VOCABULARY COVERAGE / OOV AUDIT — how well a closed top-V
    * vocabulary covers each source's token stream: the tokenizer-fit
    * metric run before committing to a vocab (a source with high OOV
    * mass will fragment into byte-level pieces and waste sequence
    * budget). The vocabulary is the corpus's top-[[vocabV]] tokens by
    * occurrence with a deterministic (count DESC, token ASC) cut,
    * carried as a broadcast set; per source the report counts total
    * tokens, OOV occurrences and the floored OOV share. Integer counts
    * throughout; the vocabulary is constant-size so the probe is a
    * broadcast join — at any corpus scale only token-grain count rows
    * shuffle. */
  private def q201VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(expr(toksExpr)).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(vocabV)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_share",
        expr("floor(cast(n_oov as double) * 1000 / n_tokens) / 1000"))
      .orderBy("source")
  }

  /** The exact 3-shingle pair relation every exact-Jaccard oracle starts
    * from: [[TextExprs.duckShingleSet]] as `sh`, its postings `ex`, and
    * `name` (a_id < b_id, both set sizes, shared-shingle count `common`)
    * for every pair sharing a shingle. */
  private[operators] def shinglePairCtes(name: String): String =
    s"""sh AS (${TextExprs.duckShingleSet("doc_id")}),
         ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
         $name AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS asz, b.sz AS bsz,
                  count(*) AS common
           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)"""

  /** q174's oracle over the directed pairs matching `pairPred`: the
    * containment common / |a| >= 0.9, the divisor the contained side's
    * set size only. */
  private def containmentOracleSql(pairPred: String): String =
    s"""WITH sh AS (${TextExprs.duckShingleSet("doc_id")}),
         ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
         pairs AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS asz,
                  count(*) AS common
           FROM ex a JOIN ex b ON a.s = b.s AND $pairPred
           GROUP BY 1, 2, 3)
         SELECT a_id, b_id,
                floor(CAST(common AS DOUBLE) / asz * 1000) / 1000 AS containment
         FROM pairs
         WHERE CAST(common AS DOUBLE) / asz >= 0.9
         ORDER BY a_id, b_id"""

  /** q35's oracle: the exact pairs at Jaccard >= 0.8. */
  private val q35JaccardOracleSql: String =
    s"""WITH ${shinglePairCtes("pairs")}
         SELECT a_id, b_id,
                floor(common / (asz + bsz - common) * 1000) / 1000 AS jaccard
         FROM pairs
         WHERE common / (asz + bsz - common) >= 0.8
         ORDER BY a_id, b_id"""

  override val oracles: Map[String, String] = Map(
    // q291: the same depth fan-out (CROSS JOIN a 4-row VALUES), 1-based
    // inclusive list slice == Spark's slice(tk, 1, depth), all-integer
    // closers
    "q291_prefix_cache" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         d(depth) AS (VALUES (1), (2), (4), (8)),
         p AS (SELECT CAST(depth AS BIGINT) AS depth,
                      array_to_string(w[1:depth], ' ') AS prefix,
                      CAST(least(depth, len(w)) AS BIGINT) AS ptoks
               FROM t CROSS JOIN d),
         g AS (SELECT depth, prefix, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(min(ptoks) AS BIGINT) AS ptoks
               FROM p GROUP BY 1, 2)
         SELECT depth, CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(cnt) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_shared_groups,
                CAST(sum(cnt - 1) AS BIGINT) AS dup_docs,
                CAST(sum((cnt - 1) * ptoks) AS BIGINT) AS saved_tokens
         FROM g GROUP BY 1 ORDER BY 1""",
    // q161: the unnest+GROUP BY form — value-identical to the map-side
    // run-length fold (counts are integers; one floored division)
    "q161_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         g AS (SELECT doc_id,
                      CASE WHEN len(w) >= 2 THEN
                        [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                      ELSE [] END AS grams
               FROM t),
         cnt AS (SELECT doc_id, gram, count(*) AS n
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                 GROUP BY doc_id, gram),
         agg AS (SELECT doc_id, max(n) AS top2_n,
                        sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup2_mass
                 FROM cnt GROUP BY doc_id)
         SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_2grams,
                CAST(coalesce(agg.top2_n, 0) AS BIGINT) AS top2_n,
                CAST(coalesce(agg.dup2_mass, 0) AS BIGINT) AS dup2_mass,
                CASE WHEN len(g.grams) = 0 THEN 0.0
                     ELSE floor(coalesce(agg.dup2_mass, 0) * 1000.0
                                / len(g.grams)) / 1000 END AS rep_ratio
         FROM g LEFT JOIN agg USING (doc_id) ORDER BY g.doc_id""",
    // q85: df/min/count are exact integers; mean_df is one division of
    // exact longs — bit-identical cross-engine.
    "q85_token_rarity" ->
      """WITH tok AS (SELECT doc_id,
                unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
              FROM documents),
         dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok)
         SELECT doc_id, count(*) AS n_toks, min(df) AS min_df,
                CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
         FROM tok JOIN dfreq USING (tok) GROUP BY doc_id ORDER BY doc_id""",
    // q90: chunk boundaries from exact small-int arithmetic (the one
    // float op, ceil of an exact division, is identical both engines);
    // chunk content verified via md5 of the joined tokens.
    "q90_chunking" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
                    FROM documents),
         c AS (SELECT doc_id, len(tk) AS n_tok,
                      unnest([i for i in range(0,
                        greatest(1, CAST(ceil((len(tk) - 10) / 30.0) AS BIGINT)))]) AS chunk_idx,
                      tk
               FROM t)
         SELECT doc_id, chunk_idx,
                len(tk[chunk_idx*30 + 1 : least(chunk_idx*30 + 40, n_tok)]) AS chunk_tokens,
                md5(array_to_string(tk[chunk_idx*30 + 1 : least(chunk_idx*30 + 40, n_tok)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    // q78: integer tf dot/norms make the sums exact in any order; the one
    // float op (sqrt + divide) runs on identical integers both sides.
    "q78_doc_cosine" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
                    FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(tk) >= 3 THEN
               [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)]
             ELSE [] END AS shingles
           FROM t),
         tf AS (SELECT doc_id, s AS token, count(*) AS tf
             FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
             GROUP BY 1, 2),
         keep AS (SELECT token FROM (SELECT token, count(*) AS df FROM tf GROUP BY 1)
                  WHERE df <= (SELECT count(*) FROM documents)),
         p AS (SELECT tf.* FROM tf JOIN keep USING (token)),
         norms AS (SELECT doc_id, sum(tf * tf) AS nn FROM p GROUP BY 1),
         dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.tf * b.tf) AS dot
                  FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT a_id, b_id,
                floor(dot / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) * 100000) / 100000 AS cosine
         FROM dots
         JOIN norms na ON na.doc_id = a_id
         JOIN norms nb ON nb.doc_id = b_id
         WHERE dot / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) >= 0.8
         ORDER BY a_id, b_id""",
    // q33's prediction CASE verbatim, with the ground-truth lang kept
    "q155_lang_confusion" ->
      """WITH t AS (SELECT lang, text,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         s AS (SELECT lang, length(text) AS n_len,
           length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS score_cjk,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it'))) AS score_en,
           len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit'))) AS score_de,
           len(list_filter(toks, t -> t IN ('el','la','los','las','es','una','que','por'))) AS score_es,
           len(list_filter(toks, t -> t IN ('le','les','des','est','une','dans','qui','pas'))) AS score_fr
           FROM t),
         p AS (SELECT lang,
           CASE WHEN score_cjk > n_len * 0.3 THEN 'zh'
                WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
                WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang
           FROM s)
         SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
         FROM p GROUP BY 1, 2 ORDER BY lang, predicted_lang""",
    "q33_langid" ->
      """WITH t AS (SELECT doc_id, text,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, length(text) AS n_len,
           length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS score_cjk,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it'))) AS score_en,
           len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit'))) AS score_de,
           len(list_filter(toks, t -> t IN ('el','la','los','las','es','una','que','por'))) AS score_es,
           len(list_filter(toks, t -> t IN ('le','les','des','est','une','dans','qui','pas'))) AS score_fr
           FROM t)
         SELECT doc_id,
           CASE WHEN score_cjk > n_len * 0.3 THEN 'zh'
                WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
                WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           score_en, score_de, score_es, score_fr, score_cjk
         FROM s ORDER BY doc_id""",
    "q37_curation" ->
      """WITH scored AS (
           SELECT doc_id, lang, text,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','of','and','in','to'))) AS n_stop
           FROM documents),
         q AS (SELECT *, floor((0.5 * least(1.0, n_tokens / 100.0)
                   + 0.5 * (1.0 - n_stop / n_tokens)) * 1000) / 1000 AS quality
               FROM scored),
         fpt AS (SELECT doc_id, lang, n_tokens,
             list_min([md5(x) for x in list_distinct(
               CASE WHEN len(t2) >= 3 THEN
                 [t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2] for i in range(1, len(t2) - 1)]
               ELSE [] END)]) AS fp
           FROM (SELECT *, string_split_regex(trim(text), '\s+') AS t2
                 FROM q WHERE quality >= 0.6)),
         surv AS (SELECT fp, min(doc_id) AS doc_id FROM fpt GROUP BY fp)
         SELECT k.lang, count(*) AS n_kept,
                floor(avg(k.n_tokens) * 100) / 100 AS avg_tokens
         FROM fpt k JOIN surv s ON k.fp = s.fp AND k.doc_id = s.doc_id
         GROUP BY k.lang ORDER BY k.lang""",
    "q38_vocab" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents)
         GROUP BY token ORDER BY token""",
    "q39_tfidf" ->
      """WITH per AS (SELECT doc_id, token, count(*) AS cnt,
             any_value(doc_len) AS doc_len
           FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS token,
                 len(string_split_regex(trim(text), '\s+')) AS doc_len
                 FROM documents)
           GROUP BY doc_id, token),
         dfv AS (SELECT token, count(DISTINCT doc_id) AS df FROM per GROUP BY token),
         nn AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT p.doc_id, p.token,
             floor(p.cnt / p.doc_len * ln((SELECT n FROM nn) / d.df) * 1000000) / 1000000 AS score
           FROM per p JOIN dfv d ON p.token = d.token
           WHERE p.doc_id < 100),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, token) AS rnk FROM scored)
         SELECT doc_id, rnk, token, score FROM ranked
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q36_edit_distance" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS edit_dist
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         ORDER BY a_id""",
    "q30_tokens" ->
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
         floor(length(regexp_replace(text, '\s+', '', 'g'))
               / len(string_split_regex(trim(text), '\s+')) * 100) / 100 AS avg_word_len
         FROM documents ORDER BY doc_id""",
    "q31_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "q32_quality" ->
      """SELECT doc_id, n_tokens,
         floor(n_stop / n_tokens * 1000) / 1000 AS stop_ratio,
         floor((0.5 * least(1.0, n_tokens / 100.0)
              + 0.5 * (1.0 - n_stop / n_tokens)) * 1000) / 1000 AS quality_score
         FROM (SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                   t -> t IN ('the','a','of','and','in','to'))) AS n_stop
               FROM documents) ORDER BY doc_id""",
    "q34_fingerprint" ->
      s"""WITH sh AS (${TextExprs.duckShingleSet("doc_id")})
         SELECT doc_id, list_min([md5(x) for x in shingles]) AS fingerprint,
                len(shingles) AS n_shingles
         FROM sh ORDER BY doc_id""",
    "q35_ngram_jaccard" -> q35JaccardOracleSql,
    // q244: the prefix-filtered join is certified VALUE-NEUTRAL against
    // the same exact-Jaccard relation as q35 — the oracle recomputes the
    // full inverted-index join; the Spark plan reaches the identical
    // pair set through ~20% of the postings
    "q244_prefix_join" -> q35JaccardOracleSql,
    // q174: directed pairs, divisor is the contained side's set size
    // only; common/asz is an exact-integer ratio (DuckDB BIGINT/BIGINT
    // truncates, so the division is written in DOUBLE explicitly)
    "q174_containment" -> containmentOracleSql("a.doc_id <> b.doc_id"),
    // q201: deterministic (count DESC, token ASC) top-V vocabulary cut,
    // integer OOV counts, one floored share per source
    "q201_vocab_coverage" ->
      """WITH tk AS (SELECT source,
                  unnest(string_split_regex(trim(text), '\s+')) AS tok
               FROM documents),
         vc AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tk GROUP BY 1)
                ORDER BY n DESC, tok LIMIT 24),
         j AS (SELECT tk.source,
                      CASE WHEN vc.tok IS NOT NULL THEN 0 ELSE 1 END AS oov
               FROM tk LEFT JOIN vc ON tk.tok = vc.tok)
         SELECT source, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                floor(CAST(sum(oov) AS DOUBLE) * 1000 / count(*)) / 1000
                  AS oov_share
         FROM j GROUP BY 1 ORDER BY source""",
    // q183: q174's SQL restricted to cross pairs — fresh (>= 250)
    // contained in corpus (< 250)
    "q183_inc_containment" ->
      containmentOracleSql("a.doc_id >= 250 AND b.doc_id < 250"),
  )
}
