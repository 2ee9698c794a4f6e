package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{NativeExprs, TopKAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-corpus MINING operators — aligning two embedding/document
  * collections rather than querying one. The LLM-training-data use is
  * parallel-data mining: pair every item of side A with its best match
  * in side B, scored robustly against hubness, which is how the large
  * public bitext corpora (CCMatrix / CCAligned / LASER mining) are
  * built. The reference engine has no vector surface (SURVEY.md §2
  * "Explicit absences"); this pack extends the mandated
  * training-data-pipeline tier alongside [[Similarity]] and
  * [[Projection]].
  */
object Mining extends QueryPack {

  /** Neighborhood size for the margin denominator — the k in the ratio
    * margin's mean-of-top-k normalization. */
  private val marginK = 4

  /** Keep a mined pair only when its cosine exceeds the mean of both
    * endpoints' neighborhoods (ratio margin > 1) — the standard mining
    * cut: a pair no better than its sides' ambient similarity is hub
    * noise, not alignment. */
  private val marginThreshold = 1.0

  /** MARGIN-BASED PAIR MINING — the ratio-margin criterion of
    * margin-based bitext mining (Artetxe & Schwenk's ratio margin, the
    * CCMatrix scoring rule): for candidate pair (x, y),
    *
    *   margin(x, y) = cos(x, y) / ((dA(x) + dB(y)) / 2),
    *
    * where dA(x) = mean cosine of x to its `marginK` nearest neighbors
    * on the OTHER side (and symmetrically dB). Raw cosine argmax is
    * hub-biased — a vector near the centroid of the other side wins
    * every pairing — and the margin denominator is precisely the local
    * hubness estimate that cancels it. Sides here are the embedding
    * labels split in half (label < 5 vs >= 5 — two ~equal collections,
    * the test stand-in for two languages / two snapshots / two
    * modalities); the output is each A-item's best B-match by margin,
    * kept only above [[marginThreshold]].
    *
    * Shape: ONE A×B cosine relation feeds three consumers — the
    * pairwise scores, the A-side top-k densities, the B-side top-k
    * densities (bounded-heap TopKAgg, no window sort); densities are
    * side-sized aggregates, so both join back to the pair relation as
    * broadcasts. The neighborhood mean is the rank-ordered left fold of
    * the TopKAgg array (÷ k), so it is bit-reproducible in the oracle
    * via `list_reduce(list(c ORDER BY rnk))` — the repo's proven
    * cross-engine float-sum pattern. At test scale the A×B relation is
    * a broadcast nested-loop (|B| rows broadcast); at 100 TB the mining
    * stack replaces exactly that relation with the q86 IVF-PQ probed
    * candidate set (forward + backward top-k per item, the standard
    * mined-candidate union) and the SAME margin scoring runs over it
    * unchanged — densities come free from the probe results. Vectors
    * never shuffle: the pair relation carries (a_id, b_id, cos) only.
    */
  private def q126MarginMine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val a = e.filter(col("label") < 5)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = e.filter(col("label") >= 5)
      .select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    // one canonical exchange under all three consumers (both density
    // aggregates + the final scoring join): the broadcast nested-loop
    // pair relation has NO exchange of its own, so unhinted each
    // consumer recomputes the |A|×|B| cosine pass — repartitioning on
    // a_id makes the A-side density reuse the exchange in place and the
    // other two consumers read it (the q242-banding ReusedExchange
    // contract; the exchange carries (a_id, b_id, c) only, never vectors)
    val pairs = a.crossJoin(broadcast(b))
      .withColumn("c", NativeExprs.cosine_sim(col("av"), col("bv")))
      .select("a_id", "b_id", "c")
      .repartition(col("a_id"))
    def density(side: String): DataFrame = pairs.groupBy(side)
      .agg(TopKAgg.top_k_by_score(col("c"),
             col(if (side == "a_id") "b_id" else "a_id"), marginK).as("top"))
      .select(col(side),
              (aggregate(expr("transform(top, x -> x.score)"),
                         lit(0.0), (acc, x) => acc + x) / marginK)
                .as(s"d_$side"))
    pairs
      .join(broadcast(density("a_id")), "a_id")
      .join(broadcast(density("b_id")), "b_id")
      .withColumn("margin",
        col("c") / ((col("d_a_id") + col("d_b_id")) / 2.0))
      .groupBy("a_id")
      .agg(TopKAgg.top_k_by_score(col("margin"), col("b_id"), 1).as("top"))
      .select(col("a_id"), col("top")(0)("id").as("b_id"),
              col("top")(0)("score").as("m"))
      .filter(col("m") >= marginThreshold)
      .select(col("a_id"), col("b_id"),
              (floor(col("m") * 100000) / 100000).as("margin"))
      .orderBy("a_id")
  }

  /** Document-frequency cap for q127: tokens appearing in more than this
    * many documents are excluded from the weighted-Jaccard vocabulary
    * (numerator AND denominator — the measure is well-defined over the
    * sub-cap vocabulary, not an approximation of the uncapped one).
    * High-df tokens are stopwords/boilerplate with no near-dup signal;
    * cutting them is what bounds the inverted-index join: per-token
    * posting lists are ≤ cap rows, so pair-generation work is
    * Σ_{df≤cap} df² ≤ cap · Σdf = cap · total-token-count — LINEAR in
    * corpus size at constant cap, unlike q35's uncapped Σdf² baseline. */
  private val wjMaxDf = 64

  private val wjThreshold = 0.5

  /** WEIGHTED-JACCARD NEAR-DUP — term-FREQUENCY-aware near-duplicate
    * pairs: J_w(A, B) = Σ_t min(a_t, b_t) / Σ_t max(a_t, b_t) over
    * per-document token counts, the standard upgrade over set Jaccard
    * (q35/q42) when repetition matters — a doc that repeats one
    * paragraph 10× is set-identical to the single paragraph but only
    * ~10% of it by weight. Σmax needs no max at all:
    * Σ_t max = total_A + total_B − Σ_t min, so the whole measure is one
    * inverted-index equi-join computing Σ min(cnt_a, cnt_b) per pair
    * plus two per-doc totals — integer arithmetic end-to-end until the
    * final division, so the oracle needs no float-order care anywhere.
    * The [[wjMaxDf]] document-frequency cut (applied identically to
    * numerator and totals) makes the join's work linear in corpus size
    * at constant cap; shuffles carry (token, doc_id, cnt) postings —
    * ids and counts, never text — and per-token skew is bounded by the
    * cap itself (a posting list is at most `cap` rows by construction).
    * Threshold 0.5: on this corpus the weighted similarity is bimodal
    * (planted near-dups ≥ 0.7, background ≤ 0.3), so the cut sits in
    * the empty valley. */
  private def q127WeightedJaccard(s: SparkSession, d: String): DataFrame =
    weightedJaccardPairs(Tables.documents(s, d), wjMaxDf, wjThreshold)

  /** The q127 core over any (doc_id, text) relation — see the q127
    * scaladoc for the measure and the scale argument. */
  private[graft] def weightedJaccardPairs(docs: DataFrame, maxDf: Int,
                                          threshold: Double): DataFrame = {
    val tc = docs
      .select(col("doc_id"),
              explode(expr(graft.functions.TextExprs.toks)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
    val rare = tc.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("t")
    val kept = tc.join(rare, Seq("t"))
    val tot = kept.groupBy("doc_id").agg(sum("cnt").as("total"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(least(col("a.cnt"), col("b.cnt"))).as("common"))
    pairs
      .join(tot.select(col("doc_id").as("a_id"), col("total").as("ta")), "a_id")
      .join(tot.select(col("doc_id").as("b_id"), col("total").as("tb")), "b_id")
      .withColumn("w",
        col("common") / (col("ta") + col("tb") - col("common")).cast("double"))
      .filter(col("w") >= threshold)
      .select(col("a_id"), col("b_id"),
              (floor(col("w") * 1000) / 1000).as("wjaccard"))
      .orderBy("a_id", "b_id")
  }

  /** q131: CROSS-LANGUAGE NEAR-DUP AUDIT — near-duplicate pairs whose
    * language labels DISAGREE. Two docs that are ≥ 0.8 Jaccard-similar
    * yet labeled as different languages are, overwhelmingly, label
    * noise (or untranslated boilerplate) — on this corpus 19 of 25
    * near-dup pairs cross the lang facet, exactly the planted-metadata
    * noise the audit exists to surface. In a training pipeline this
    * report gates the language-ID stage: per-language corpora that
    * share near-dup mass are leaking content across splits drawn by
    * language. Composes the q42 LSH pair pipeline (its scale contract
    * — banded candidate generation, hot-bucket caps, exact verify —
    * carries over unchanged) with two doc-grain label joins; the extra
    * work over q42 is two (doc_id, lang) hash joins on an
    * pairs-sized relation. */
  private def q131CrossLangAudit(s: SparkSession, d: String): DataFrame = {
    val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    Dedup.minhashLshPairsCore(s, d)
      .join(langs.select(col("doc_id").as("a_id"), col("lang").as("lang_a")),
            "a_id")
      .join(langs.select(col("doc_id").as("b_id"), col("lang").as("lang_b")),
            "b_id")
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("a_id"), col("b_id"), col("lang_a"), col("lang_b"),
              col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** ADJACENT-BIGRAM COLLOCATION MINING — the corpus-level phrase
    * extractor (multi-word expressions, fixed collocations) behind
    * phrase-aware tokenizers and n-gram language models: bigrams whose
    * observed adjacency rate beats the independence expectation. The
    * association score is the PMI LIFT in ratio form,
    * n_ab·N² / (M·n_a·n_b), NOT log-PMI — `log` is not required to be
    * correctly rounded, so two engines' libm can differ in the last ulp
    * where a ratio of integer-derived doubles cannot; the ranking and
    * the floored 1e-3 output are therefore bit-exact cross-engine.
    * Scale shape: one corpus pass fans out bigrams + unigrams, both
    * count aggregations fold partially map-side, the two vocabulary
    * joins are key-shuffles of count rows (never text bodies), totals
    * ride as a lazy broadcast one-row aggregate, and the output is a
    * TakeOrderedAndProject top-50 by (n_ab DESC, w1, w2). */
  private def q180Collocations(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(expr(graft.functions.TextExprs.toks).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
             i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"""))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
    val biCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("nab"))
    val uniCounts = uni.groupBy("tok").agg(count(lit(1)).as("n"))
    // (r17 negative: deriving nn/m from uniCounts/biCounts — two fewer
    // tokenize scans on paper — measured SLOWER isolated (2.1 → 2.5 s)
    // and inconclusive in-suite (normalized 0.89/1.10 across two
    // alternating pairs): the q228 lesson again — independent one-row
    // aggregates pipeline with the scan for free on idle cores, while
    // the derived form chains them behind the count exchanges.
    // Reverted; see OPTIMIZATION_r17.md.)
    val totals = uni.agg(count(lit(1)).as("nn"))
      .crossJoin(bi.agg(count(lit(1)).as("m")))
    biCounts
      .join(uniCounts.select(col("tok").as("w1"), col("n").as("na")), Seq("w1"))
      .join(uniCounts.select(col("tok").as("w2"), col("n").as("nb")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .filter(col("nab") >= 5)
      .withColumn("lift", expr(
        """floor(cast(nab as double) * nn * nn
                 / (cast(m as double) * na * nb) * 1000) / 1000"""))
      .select("w1", "w2", "nab", "lift")
      .orderBy(col("nab").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** PageRank damping as an exact rational: d = prDampNum/100. */
  private val prDampNum = 85
  private val prScale = 1000000L
  private val prIters = 3

  /** q216: NEAR-DUP GRAPH CENTRALITY — PageRank over the q42
    * near-duplicate pair graph, three power iterations. Degree (q143)
    * ranks hubs by direct neighbors only; centrality propagates through
    * the graph, so the template document whose copies are themselves
    * widely copied outranks an equal-degree node with leaf neighbors —
    * the ranking used to pick which boilerplate FAMILY to kill first
    * and which canonical doc anchors a dedup cluster. Parity
    * hardening: ranks are integers at scale 1e6 end-to-end — each
    * node's outgoing contribution is the INTEGER quotient r div deg
    * (floor on positives, = DuckDB `//`), per-node sums are exact
    * BIGINTs in any partition order, and the damping update
    * 0.15·S + 0.85·Σ is the integer form 150000 + (85·Σ) div 100 — so
    * three iterations are bit-identical cross-engine with no float
    * anywhere. Shape: the memoized pair relation (built once per
    * session, shared with q73/q101/q131/q143/q207) explodes to a
    * directed edge list; each iteration is one edge join + one
    * dst-grain aggregate on (Long, Long) rows, unrolled into ONE lazy
    * plan (the q186 no-driver-loop discipline — Spark's iterative-join
    * growth is bounded at 3 unrolls). At 100 TB this is exactly
    * GraphX's Pregel data layout re-expressed relationally: ids only,
    * payloads never move, and the edge relation would be
    * pre-partitioned by src so every iteration reuses one
    * co-partitioning (the q89 connected-components substrate). */
  private def q216Pagerank(s: SparkSession, d: String): DataFrame = {
    val pr = Dedup.minhashLshPairsCore(s, d).select("a_id", "b_id")
    val edges = pr.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pr.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var r = deg.select(col("src").as("doc_id"), col("deg"),
                       lit(prScale).as("r"))
    for (_ <- 1 to prIters) {
      val contrib = r.join(edges, r("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy("doc_id").agg(sum("c").as("m"))
      r = deg.select(col("src").as("doc_id"), col("deg"))
        .join(contrib, Seq("doc_id"))
        .select(col("doc_id"), col("deg"),
          expr(s"${prScale * 15 / 100} + ($prDampNum * m) div 100").as("r"))
    }
    r.select(col("doc_id"), col("deg"), col("r").as("rank_scaled"),
             expr(s"cast(r as double) / $prScale").as("pagerank"))
      .orderBy(col("rank_scaled").desc, col("doc_id"))
  }

  /** q217: SOURCE CENTROID AFFINITY — the SEMANTIC source-similarity
    * matrix beside q195's lexical one: per-source embedding centroids,
    * all pairs scored by cosine. Two sources whose centroids nearly
    * coincide are topical duplicates a mixing plan (q205) should not
    * double-weight even when their surface vocabulary overlap (q116/
    * q195) is low — paraphrase mirrors, translations, scraped-and-
    * rewritten content. Scale-invariance does the parity work: cosine
    * of centroids equals cosine of per-source SUM vectors, so no
    * division by n ever happens — components integerize once
    * (floor(x·1e6), the q163 quantization), per-source per-dim sums
    * are exact BIGINTs in any partition order, and dot/norm are
    * integer products summed exactly; the one float step is the final
    * dot/(√·√) with IEEE-correctly-rounded sqrt on both engines.
    * Shape: one doc_id-keyed join attaches sources to vectors, one
    * grouped aggregate collapses the corpus to S·d sum rows, and the
    * pair work (S²·d products) never touches corpus-sized data — the
    * declared posexplode would fuse into a single grouped
    * VecStatsAgg-style pass at 100 TB (q163's operator), with the
    * S·d relation broadcast everywhere after. */
  private def q217SourceCentroids(s: SparkSession, d: String): DataFrame = {
    val sv = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(s, d).select(col("vec_id").as("doc_id"),
        expr("""transform(embedding,
                  x -> cast(floor(cast(x as double) * 1000000) as bigint))""")
          .as("iv")), Seq("doc_id"))
    val sums = sv.select(col("source"), posexplode(col("iv")).as(Seq("dim", "x")))
      .groupBy("source", "dim").agg(sum("x").as("sx"))
    val norms = sums.groupBy("source")
      .agg(sum(col("sx") * col("sx")).as("nrm2"))
    val dots = sums.as("a").join(sums.as("b"),
        col("a.dim") === col("b.dim") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.sx") * col("b.sx")).as("dot"))
    dots
      .join(broadcast(norms.select(col("source").as("src_a"),
                                   col("nrm2").as("na2"))), Seq("src_a"))
      .join(broadcast(norms.select(col("source").as("src_b"),
                                   col("nrm2").as("nb2"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("""floor(cast(dot as double)
                      / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double)))
                      * 1000000) / 1000000""").as("cosine"))
      .orderBy("src_a", "src_b")
  }

  /** Neighborhood size for the q224 hubness audit. */
  private val hubK = 5

  /** Cells probed per vector in the q224 IVF-probed kNN graph. */
  private[graft] val hubProbes = 4

  /** Coarse codebooks trained by q224 builds, keyed by dataset dir —
    * the q45 oracle-generation contract. */
  private[graft] val hubCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** q224: KNN-GRAPH HUBNESS AUDIT — the in-degree distribution of the
    * directed k-nearest-neighbor graph: how many other vectors count
    * each vector among their top-k. High-dimensional embedding spaces
    * concentrate — a few HUBS appear in everyone's neighbor list while
    * antihubs appear in nobody's (Radovanović et al.'s hubness
    * pathology) — and every kNN consumer in this repo (q96's
    * classifier votes, q103's SemDeDup, q126's mining) degrades
    * exactly when hubness is high, so this audit is the health check
    * run BEFORE trusting any of them; q126's margin denominator is the
    * per-pair correction, this is the corpus-level diagnosis. Output
    * is the full per-vector in-degree table (antihubs included via a
    * left join, in-degree 0), hub-first.
    *
    * The GATED plan is the IVF PROBED-CANDIDATE graph with DECLARED
    * semantics (q45's technique): every vector is coarse-assigned
    * (trained fixed-k codebook, argmax cosine), each vector probes its
    * [[hubProbes]] best cells, and its top-[[hubK]] is taken over the
    * candidates IN THOSE CELLS — exactly what a production kNN-graph
    * build over an IVF layout computes, candidate work N·nprobe·E[cell]
    * instead of the A×B N² cosine sweep, shuffles keyed by the 16 cell
    * ids (co-partitioned with the index layout at scale). The trained
    * codebook embeds in the generated DuckDB oracle as literals, so the
    * cross-engine gate certifies the probed semantics end-to-end.
    * [[hubAuditBrute]] stays as the spec-side exact certificate
    * (MiningSpec replays it brute-force and measures the probed graph's
    * agreement against it). */
  private def q224HubAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // CORPUS-SIZED quantizer (the q286 [[mineK]] rule): q224 issues N
    // probe queries — every vector audits — so at FIXED k the candidate
    // join is N·nprobe·N/k: quadratic/k (the r13 z10 run measured ×23
    // at ×10 data); k = max(16, √N) bounds it at nprobe·N^1.5. The
    // training sample scales with k by row rank (the q286 sampler).
    // codebook trained once per dataset (computeIfAbsent — the
    // q138/q156/q286 codebook contract: a versioned persisted artifact
    // in the deployment, not per-query state; q224 was the one audit
    // retraining per invocation) and the corpus size from the memoized
    // ANALYZE stat instead of a per-invocation count job (r16: the two
    // together banked ~0.6 s/rep at sf0.1)
    val cents = hubCodebooks.computeIfAbsent(d, _ => {
      val kHub = mineK(Tables.rowCount(s, d, "embeddings"))
      Similarity.trainCentroids(
        e.orderBy("vec_id").limit(math.max(256, 8 * kHub)), kHub,
        sampleN = Int.MaxValue)
    })
    val cb = cents.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("c_id", "cv")
    val assigned = Similarity.ivfAssignCodebook(s, e, cents)
      .select(col("vec_id").as("b_id"), col("centroid"),
              col("embedding").as("bv"))
    // probe list: the vector's hubProbes best cells under the heap's
    // total order (cos DESC, c_id ASC) — 2 scalar rows per vector
    val probes = e.crossJoin(broadcast(cb))
      .withColumn("cos_c", NativeExprs.cosine_sim(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(TopKAgg.top_k_by_score(col("cos_c"), col("c_id"), hubProbes).as("pr"),
           first(col("embedding")).as("embedding"))
      .select(col("vec_id").as("a_id"), col("embedding").as("av"),
              explode(expr("pr.id")).as("centroid"))
    // each corpus vector lives in exactly one cell, so a (probe, cell)
    // join emits every candidate pair at most once — no distinct needed
    val knn = probes.join(assigned, Seq("centroid"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", NativeExprs.cosine_sim(col("av"), col("bv")))
      .groupBy("a_id")
      .agg(TopKAgg.top_k_by_score(col("c"), col("b_id"), hubK).as("top"))
      .select(col("a_id"), explode(expr("top.id")).as("n_id"))
    val indeg = knn.groupBy(col("n_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    e.select("vec_id").join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
              coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .orderBy(col("in_degree").desc, col("vec_id"))
  }

  /** The exact A×B kNN in-degree audit — certificate-only (never gated,
    * never benched): MiningSpec replays it brute-force on the driver and
    * reports the probed graph's agreement against it. */
  private[graft] def hubAuditBrute(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val knn = e.select(col("vec_id").as("a_id"), col("embedding").as("av"))
      .crossJoin(broadcast(
        e.select(col("vec_id").as("b_id"), col("embedding").as("bv"))))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", NativeExprs.cosine_sim(col("av"), col("bv")))
      .groupBy("a_id")
      .agg(TopKAgg.top_k_by_score(col("c"), col("b_id"), hubK).as("top"))
      .select(col("a_id"), explode(expr("top.id")).as("n_id"))
    val indeg = knn.groupBy(col("n_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    e.select("vec_id").join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
              coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .orderBy(col("in_degree").desc, col("vec_id"))
  }

  /** q231: KNN LABEL PURITY — per label, the mean fraction of each
    * member's k nearest neighbors that share its label: the standard
    * embedding-quality probe (leave-one-out kNN agreement) run on the
    * WHOLE labeled set, where q96 predicts for a held-out split and
    * q138 scores the IVF partition rather than the metric itself. Low
    * purity for one label while others stay high localizes the damage
    * — that label's region of the space is entangled, so retrieval
    * (q98), SemDeDup (q103) and classification there are suspect.
    * Same A×B + bounded-heap machinery as q224; agreement is an
    * integer 0..k per vector summed exactly per label, closed by one
    * floored division over k·n. */
  private def q231KnnPurity(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val agree = e.select(col("vec_id").as("a_id"), col("embedding").as("av"),
                         col("label").as("la"))
      .crossJoin(broadcast(e.select(col("vec_id").as("b_id"),
        col("embedding").as("bv"), col("label").as("lb"))))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", NativeExprs.cosine_sim(col("av"), col("bv")))
      .groupBy(col("a_id"), col("la"))
      .agg(TopKAgg.top_k_by_score(col("c"),
        // pack the neighbor's label into the heap id's low bits so the
        // agreement count needs no second join: id = b_id * 16 + lb
        // (labels are 0..9; ranking ties on the packed id preserve the
        // b_id order since the label is a deterministic function of it)
        col("b_id") * 16 + col("lb"), hubK).as("top"))
      .select(col("la").as("label"),
        expr(s"""size(filter(transform(top, x -> cast(x.id as bigint) % 16),
                             l -> l = la))""").cast("long").as("match_k"))
    agree.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("match_k").as("agree"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("agree"),
        expr(s"""floor(cast(agree as double) / (n_vecs * $hubK) * 1000000)
                 / 1000000""").as("purity"))
      .orderBy("label")
  }

  /** Degree-ordered triangle counting over an undirected (a_id < b_id)
    * pair relation — returns per-node (doc_id, deg, tri, lcc). The core
    * is the classic compact-forward scheme: orient every edge from the
    * (deg, id)-smaller endpoint to the larger, enumerate wedges only
    * among each node's OUT-neighbors (ordered again by (deg, id) so
    * each triangle materializes exactly once), and close them against
    * the oriented edge list. Orientation is what makes the shape hold
    * at 100 TB: out-degree under the degree order is O(√m), so wedge
    * volume is O(m^1.5) regardless of hub skew — a raw neighbor-pair
    * explode would square the hottest template family's degree. Rows
    * in flight are id/degree longs only; ranks compare as structs, no
    * packed arithmetic to overflow. Triangle credit then explodes each
    * (u,v,w) to its three corners; lcc = 2·tri / deg·(deg−1) floored
    * at 1e-3 (integer numerator, one double division). */
  private[graft] def triangleStats(pr: DataFrame): DataFrame = {
    val ed = pr.select(col("a_id"), col("b_id"))
      .unionByName(pr.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val deg = ed.groupBy("a_id").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("a_id", "doc_id")
    val ori = ed
      .join(deg.select(col("doc_id").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("doc_id").as("b_id"), col("deg").as("db")), "b_id")
      .filter(expr("struct(da, a_id) < struct(db, b_id)"))
      .select(col("a_id").as("src"), col("b_id").as("dst"), col("db").as("ddeg"))
    val out = ori.select(col("src"), col("dst"), col("ddeg"))
    val wedges = out.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(out.select(col("src"), col("dst").as("w"), col("ddeg").as("dw")), "src")
      .filter(expr("struct(dv, v) < struct(dw, w)"))
      .select(col("src").as("u"), col("v"), col("w"))
    val tri = wedges
      .join(ori.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select("u", "v", "w")
    val triPerNode = tri
      .select(explode(expr("array(u, v, w)")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("doc_id"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("lcc", expr(
        """CASE WHEN deg >= 2
           THEN floor(cast(2000 * tri as double) / (deg * (deg - 1))) / 1000
           ELSE CAST(0 AS DOUBLE) END"""))
      .select("doc_id", "deg", "tri", "lcc")
      .orderBy("doc_id")
  }

  /** q246: NEAR-DUP GRAPH TRIANGLES — triangle counts and local
    * clustering coefficients over the memoized q42 pair graph (shared
    * with q73/q143/q216). Degree (q143) and PageRank (q216) say how
    * CONNECTED a document is; the clustering coefficient says how
    * CLIQUE-LIKE its neighborhood is, which separates the two hub
    * shapes a dedup pipeline treats differently: a template family is
    * a near-clique (lcc → 1 — drop all but one canonical), while a
    * boilerplate fragment stitched into otherwise-unrelated docs is a
    * star (high degree, lcc → 0 — strip the fragment, keep the docs).
    * The oracle closes the exact pair SQL with the naive three-way
    * canonical-pair join (u<v<w), certifying the degree-ordered
    * enumeration finds exactly the same triangles. */
  private def q246Triangles(s: SparkSession, d: String): DataFrame =
    triangleStats(Dedup.minhashLshPairsCore(s, d).select("a_id", "b_id"))

  /** Cells probed per item and candidates kept per item per direction in
    * the q286 probed mining stack — the declared knobs of the
    * production candidate generator. */
  private val mineProbes = 2
  private val mineCandK = 8

  /** Codebooks trained by q286 builds, keyed by dataset dir:
    * (B-side codebook for the forward A→B probe, A-side for the
    * backward) — the q45 oracle-generation contract. */
  private[graft] val mineCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Array[Array[Double]])]()

  /** The two mining collections: the embedding labels split in half —
    * q126's bitext stand-in (two languages / two snapshots). */
  private def mineSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    (e.filter(col("label") < 5).select("vec_id", "embedding"),
     e.filter(col("label") >= 5).select("vec_id", "embedding"))
  }

  /** CORPUS-SIZED quantizer sizing — the FAISS k ≈ √N rule, and the
    * difference between sub-quadratic and quadratic here: the probed
    * miner issues N queries (every item mines), so candidate work is
    * N·nprobe·E[cell] = nprobe·N²/k — at FIXED k that is still
    * quadratic/k (the g100 probe measured exactly that), while k ∝ √N
    * bounds it at nprobe·N^1.5. max(ivfK, …) floors tiny corpora at
    * the committed-sf value: √250 < 16 at sf0.01, so the oracle-gated
    * output — and its hash — is unchanged there by construction. */
  private def mineK(n: Long): Int =
    math.max(Similarity.ivfK, math.sqrt(n.toDouble).toInt)

  /** Per-side trained coarse quantizers, once per dataset
    * (computeIfAbsent — the q156 rerankCodebooksFor precedent):
    * codebooks are versioned persisted artifacts in the mining
    * deployment, not per-query state (q289 persists exactly these).
    * The training sample scales with k: exactly min(sideN,
    * max(256, 8k)) vectors, taken by per-SIDE row rank
    * (orderBy(vec_id).limit — sides hold disjoint id subsets, so a
    * global vec_id cutoff would undershoot by the side's id density
    * and could even miss k vectors on a side sparse in low ids; the
    * rank sample is exact regardless of how ids interleave). */
  private def mineCodebooksFor(d: String, aSide: DataFrame, bSide: DataFrame)
      : (Array[Array[Double]], Array[Array[Double]]) =
    mineCodebooks.computeIfAbsent(d, _ => {
      val (kB, kA) = (mineK(bSide.count()), mineK(aSide.count()))
      def sideSample(side: DataFrame, k: Int): DataFrame =
        side.orderBy("vec_id").limit(math.max(256, 8 * k))
      (Similarity.trainCentroids(sideSample(bSide, kB), kB, sampleN = Int.MaxValue),
       Similarity.trainCentroids(sideSample(aSide, kA), kA, sampleN = Int.MaxValue))
    })

  /** Per-query top-[[mineCandK]] probed candidates over an ASSIGNED
    * corpus relation (cand_id, centroid, cev) under `cents`'s cell
    * decomposition — one grouped row per query item carrying the
    * rank-ordered (score, id) array. q286 assigns in-plan; q289 reads
    * the assignment from its persisted index. */
  private def minedCoreOver(s: SparkSession, qs: DataFrame, assigned: DataFrame,
                            cents: Array[Array[Double]], qc: String): DataFrame = {
    import s.implicits._
    val cb = cents.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("c_id", "cv")
    qs.crossJoin(broadcast(cb))
      .withColumn("cos_c", NativeExprs.cosine_sim(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(TopKAgg.top_k_by_score(col("cos_c"), col("c_id"), mineProbes).as("pr"),
           first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding").as("qv"),
              explode(expr("pr.id")).as("centroid"))
      .join(assigned, Seq("centroid"))
      .withColumn("c", NativeExprs.cosine_sim(col("qv"), col("cev")))
      .groupBy(col("vec_id").as(qc))
      .agg(TopKAgg.top_k_by_score(col("c"), col("cand_id"), mineCandK).as("top"))
  }

  private def minedPairsOf(core: DataFrame, qc: String, cc: String): DataFrame =
    core.select(col(qc), explode(col("top")).as("t"))
      .select(col(qc), col("t.id").as(cc), col("t.score").as("c"))

  /** Density = rank-ordered fold over the first [[marginK]] probed
    * scores (÷ marginK — the q126 denominator over the probed
    * neighborhood). */
  private def minedDensityOf(core: DataFrame, qc: String, out: String): DataFrame =
    core.select(col(qc),
      (aggregate(expr(s"transform(slice(top, 1, $marginK), x -> x.score)"),
                 lit(0.0), (acc, x) => acc + x) / marginK).as(out))

  /** Candidate union → pair dedup → density joins → margin argmax —
    * q126's scoring verbatim over two probed cores. Each core feeds
    * TWO consumers (the pair explode + the density fold): both read
    * the core's final-aggregate exchange, so AQE's runtime stage reuse
    * computes the probe search once (a lazy localCheckpoint measured
    * neutral, r13). Densities are SIDE-SIZED relations (one row per
    * mining item) — never broadcast-hinted: forcing them through the
    * driver is exactly the 100 TB hazard a hint can't retract (VERDICT
    * r12). Instead the pair relation is CO-PARTITIONED with them: each
    * density inherits its core's hash(item-id) partitioning (the
    * groupBy alias), so the pair stream repartitions once per side and
    * both density joins — and the final per-anchor aggregate — run
    * exchange-free on the pair side. That is the same TWO pair-grain
    * shuffles the forced-broadcast shape paid (its union dedup + final
    * agg), with zero driver-sized relations; PlanSpec pins that the
    * only forced broadcasts here are the driver-literal codebook
    * relations. */
  private def minedTail(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    val cand = minedPairsOf(fwd, "a_id", "b_id")
      .unionByName(minedPairsOf(bwd, "b_id", "a_id").select("a_id", "b_id", "c"))
      .repartition(col("b_id")) // hash(b_id) clusters (a_id, b_id) too:
      // the dedup groupBy and the d_b join both reuse this exchange
      .groupBy("a_id", "b_id").agg(max("c").as("c")) // cosine is symmetric: both directions carry the identical double
    cand
      .join(minedDensityOf(bwd, "b_id", "d_b"), "b_id")
      .repartition(col("a_id")) // one move to anchor grain: the d_a
      // join AND the final top-1 aggregate both run on it exchange-free
      .join(minedDensityOf(fwd, "a_id", "d_a"), "a_id")
      .withColumn("margin", col("c") / ((col("d_a") + col("d_b")) / 2.0))
      .groupBy("a_id")
      .agg(TopKAgg.top_k_by_score(col("margin"), col("b_id"), 1).as("top"))
      .select(col("a_id"), col("top")(0)("id").as("b_id"),
              col("top")(0)("score").as("m"))
      .filter(col("m") >= marginThreshold)
      .select(col("a_id"), col("b_id"),
              (floor(col("m") * 100000) / 100000).as("margin"))
      .orderBy("a_id")
  }

  /** q286: PROBED MARGIN MINING — q126's doc comment promised "at
    * 100 TB the mining stack replaces the A×B relation with the IVF
    * probed candidate set and the SAME margin scoring runs over it";
    * this gate IS that stack, first-class and oracle-gated (the r12 z10
    * run measured q126's declared brute baseline at 133 s ×10 — the
    * swap needed to exist as code, not as a comment). Exactly the
    * CCMatrix shape: each side gets its own trained coarse quantizer
    * (two collections = two indexes, the bitext deployment); forward
    * candidates are each A-item's top-[[mineCandK]] cosine neighbors
    * among the B-items in its [[mineProbes]] best B-cells (q224's probe
    * shape), backward symmetrically; the mined candidate set is the
    * UNION of both directions; the ratio-margin denominator densities
    * d_A/d_B are the mean of each item's top-[[marginK]] PROBED
    * cosines — the probe results price the hubness correction for
    * free, no extra pass. Margin scoring, per-A-item argmax and the
    * [[marginThreshold]] cut are q126's verbatim. Scale shape:
    * candidate work is N·nprobe·E[cell] per direction (measured flat
    * family — q156/q224); vectors never shuffle past the cell join;
    * densities are side-sized aggregates computed as rank-ordered
    * folds over the bounded TopKAgg arrays (the proven cross-engine
    * float-sum pattern). Oracle: BOTH trained codebooks as literals,
    * assignment/probe/top-k/density/margin replicated end-to-end. */
  private def q286MarginMineProbed(s: SparkSession, d: String): DataFrame = {
    val (aSide, bSide) = mineSides(s, d)
    val (centsB, centsA) = mineCodebooksFor(d, aSide, bSide)
    def assignedOf(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
      Similarity.ivfAssignCodebook(s, corpus, cents)
        .select(col("vec_id").as("cand_id"), col("centroid"),
                col("embedding").as("cev"))
    minedTail(
      minedCoreOver(s, aSide, assignedOf(bSide, centsB), centsB, "a_id"),
      minedCoreOver(s, bSide, assignedOf(aSide, centsA), centsA, "b_id"))
  }

  /** q289's append batch: every fifth side vector (vec_id % 5 == 2)
    * arrives AFTER the initial index build and is frozen-encoded into
    * the standing version — id-interleaved, so the certificate covers
    * non-contiguous arrival, not just a suffix batch. The codebooks
    * are the versioned [[mineCodebooksFor]] artifacts passed frozen to
    * both the build and the append, so append ≡ rebuild holds by the
    * q157 argument (deterministic assignment under equal codebooks)
    * whatever the split. */
  private val mineAppendMod = 5
  private val mineAppendRem = 2

  /** q289: MINING-INDEX LIFECYCLE — q286's persisted legs (VERDICT r12
    * task 6): the two per-side quantizers become versioned persisted
    * indexes (q156's partitionBy(centroid) layout via [[Similarity.ivfPqIndex]]
    * with the FROZEN [[mineCodebooksFor]] codebooks), each built on its
    * initial slice and APPENDED with a later batch under the standing
    * version — the two-sided freshness problem mining adds over the
    * search lifecycle (either side's append can shift candidates). The
    * probed margin mining then runs OVER the persisted indexes: serving
    * state rides [[Similarity.ivfPqHandle]] (codebooks resident per
    * index version), cell assignments are READ from the index's
    * (vec_id, centroid) columns — column-pruned, code bytes untouched —
    * and raw vectors come from the corpus store by id (the q156 rerank
    * fetch shape). Output ≡ q286 BY CONSTRUCTION (same codebooks, same
    * probe/score/margin semantics), so the gate shares q286's oracle —
    * a pass certifies append ≡ rebuild AT THE MINING GRAIN, cross-
    * engine (the q157 pattern, two-sided). */
  private def q289MiningIndexLifecycle(s: SparkSession, d: String): DataFrame = {
    val (aSide, bSide) = mineSides(s, d)
    val (centsB, centsA) = mineCodebooksFor(d, aSide, bSide)
    val (dirB, dirA) = graft.SessionMemo.getOrElseUpdate[(String, String)](
      s, "mine.sideIndexes", d)( {
      def build(side: DataFrame, cents: Array[Array[Double]],
                tag: String): String = {
        val dir = graft.WorkDirs.artifactDir(s, s"mine_idx_$tag", d)
        val isAppend = col("vec_id") % mineAppendMod === mineAppendRem
        Similarity.ivfPqIndex(side.filter(!isAppend), cents.length, dir,
                              coarse = Some(cents))
        Similarity.ivfPqAppend(s, dir, side.filter(isAppend))
        dir
      }
      (build(bSide, centsB, "b"), build(aSide, centsA, "a"))
    })
    def assignedOf(dir: String, corpus: DataFrame): DataFrame = {
      val h = Similarity.ivfPqHandle(s, dir) // resident per index version
      s.read.parquet(h.cur).select(col("vec_id").as("cand_id"), col("centroid"))
        .join(corpus.select(col("vec_id").as("cand_id"),
                            col("embedding").as("cev")), "cand_id")
    }
    minedTail(minedCoreOver(s, aSide, assignedOf(dirB, bSide), centsB, "a_id"),
              minedCoreOver(s, bSide, assignedOf(dirA, aSide), centsA, "b_id"))
  }

  /** Two-sided STALENESS MONITOR for the persisted mining indexes
    * (VERDICT r13 task 4): q172's size-invariant max/median occupancy
    * skew ([[Similarity.indexSkew]]) applied to EACH side's index. The
    * mining-specific failure mode this watches: q289's append legs run
    * under frozen per-side quantizers, and a drifted append batch on
    * EITHER side (a new mode neither codebook has a centroid for) piles
    * into one cell — the probe then over-visits that cell for every
    * query of the OTHER side, shifting mined candidates with nothing
    * else failing visibly. Returns (staleA, staleB); a firing side is
    * due the [[Similarity.ivfPqRetrain]] rebuild (fresh codebooks, new
    * version), after which append ≡ rebuild holds again under the new
    * frozen codebooks. Cost is two column-pruned centroid scans — the
    * monitor the ops cadence runs after every append, not a query-path
    * operator. Fires on planted one-side drift and stays quiet on
    * balanced appends at any corpus size (MiningSpec pins both
    * directions plus the untouched append ≡ rebuild certificate). */
  def mineIndexStale(s: SparkSession, dirA: String, dirB: String,
                     skewRatio: Double = Similarity.retrainSkew)
      : (Boolean, Boolean) =
    // strict >, matching [[Similarity.ivfPqRetrain]]'s rebuild test
    // exactly: "monitor fires" must imply "retrain rebuilds" at every
    // ratio, including exact threshold equality (ADVICE r14)
    (Similarity.indexSkew(s, dirA) > skewRatio,
     Similarity.indexSkew(s, dirB) > skewRatio)

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q246_triangles" -> q246Triangles _,
    "q231_knn_purity" -> q231KnnPurity _,
    "q224_hub_audit" -> q224HubAudit _,
    "q217_source_centroids" -> q217SourceCentroids _,
    "q216_pagerank" -> q216Pagerank _,
    "q126_margin_mine" -> q126MarginMine _,
    "q286_margin_mine_probed" -> q286MarginMineProbed _,
    "q289_mining_index_lifecycle" -> q289MiningIndexLifecycle _,
    "q127_weighted_jaccard" -> q127WeightedJaccard _,
    "q131_crosslang_audit" -> q131CrossLangAudit _,
    "q180_collocations" -> q180Collocations _,
  )

  /** q224's oracle: the TRAINED coarse codebook embedded as double
    * literals, then the identical probe semantics replicated in DuckDB —
    * assignment argmax (ties: highest cosine, then highest c_id,
    * matching max(struct)), per-vector top-[[hubProbes]] probe list
    * (ties: cosine DESC, c_id ASC — the bounded heap's total order),
    * candidate restriction to the probed cells, top-[[hubK]] rank in
    * (c DESC, b_id), in-degree with antihub zeros. */
  private def hubOracleSqlTrained(cents: Array[Array[Double]]): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ${Similarity.literalAssignCtes(cents)},
        pr AS (SELECT vec_id AS a_id, c_id AS centroid FROM (
                  SELECT vec_id, c_id,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY cc DESC, c_id ASC) AS rn FROM sc)
                WHERE rn <= $hubProbes),
        p AS (SELECT pr.a_id, asg.vec_id AS b_id,
                     list_cosine_similarity(a.v, b.v) AS c2
              FROM pr JOIN e a ON a.vec_id = pr.a_id
                      JOIN asg ON asg.centroid = pr.centroid
                      JOIN e b ON b.vec_id = asg.vec_id
              WHERE asg.vec_id <> pr.a_id),
        r AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
                       ORDER BY c2 DESC, b_id) AS rnk
              FROM p),
        d AS (SELECT b_id, count(*) AS ind FROM r WHERE rnk <= $hubK
              GROUP BY 1)
        SELECT e.vec_id, CAST(coalesce(d.ind, 0) AS BIGINT) AS in_degree
        FROM e LEFT JOIN d ON d.b_id = e.vec_id
        ORDER BY in_degree DESC, e.vec_id"""

  /** q286's oracle: BOTH trained codebooks as literals; per direction
    * the q224 probe CTEs (assignment argmax ties cc DESC / c_id DESC;
    * probe list ties cc DESC / c_id ASC; candidate rank c DESC / id ASC
    * — the bounded heap's total order), densities as rank-ordered
    * list_reduce folds, then q126's margin/argmax/threshold verbatim
    * over the unioned candidate set. */
  private def minedOracleSqlTrained(
      cents: (Array[Array[Double]], Array[Array[Double]])): String = {
    def direction(tag: String, qsTbl: String, corpTbl: String,
                  cbTbl: String, qc: String, cc: String): String =
      s"""asg$tag AS (SELECT vec_id, c_id AS centroid FROM (
                  SELECT t.vec_id, c.c_id,
                         row_number() OVER (PARTITION BY t.vec_id
                           ORDER BY list_cosine_similarity(t.v, c.cv) DESC,
                                    c.c_id DESC) AS rn
                  FROM $corpTbl t, $cbTbl c)
                WHERE rn = 1),
        pr$tag AS (SELECT vec_id, c_id AS centroid FROM (
                  SELECT t.vec_id, c.c_id,
                         row_number() OVER (PARTITION BY t.vec_id
                           ORDER BY list_cosine_similarity(t.v, c.cv) DESC,
                                    c.c_id ASC) AS rn
                  FROM $qsTbl t, $cbTbl c)
                WHERE rn <= $mineProbes),
        pp$tag AS (SELECT pr$tag.vec_id AS $qc, asg$tag.vec_id AS $cc,
                     list_cosine_similarity(q.v, t.v) AS c
              FROM pr$tag JOIN $qsTbl q ON q.vec_id = pr$tag.vec_id
                      JOIN asg$tag ON asg$tag.centroid = pr$tag.centroid
                      JOIN $corpTbl t ON t.vec_id = asg$tag.vec_id),
        rk$tag AS (SELECT $qc, $cc, c,
                       row_number() OVER (PARTITION BY $qc
                         ORDER BY c DESC, $cc ASC) AS rnk
              FROM pp$tag),
        top$tag AS (SELECT $qc, $cc, c, rnk FROM rk$tag
                    WHERE rnk <= $mineCandK),
        d$tag AS (SELECT $qc,
                      list_reduce(list(c ORDER BY rnk), (x, y) -> x + y)
                        / $marginK AS d_$tag
                 FROM top$tag WHERE rnk <= $marginK GROUP BY $qc)"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                   FROM embeddings),
        a AS (SELECT vec_id, v FROM e WHERE label < 5),
        b AS (SELECT vec_id, v FROM e WHERE label >= 5),
        cbb AS (SELECT * FROM (VALUES
             ${Similarity.coarseValues(cents._1)}) AS t(c_id, cv)),
        cba AS (SELECT * FROM (VALUES
             ${Similarity.coarseValues(cents._2)}) AS t(c_id, cv)),
        ${direction("f", "a", "b", "cbb", "a_id", "b_id")},
        ${direction("w", "b", "a", "cba", "b_id", "a_id")},
        cand AS (SELECT a_id, b_id, max(c) AS c FROM (
                   SELECT a_id, b_id, c FROM topf
                   UNION ALL SELECT a_id, b_id, c FROM topw)
                 GROUP BY 1, 2),
        m AS (SELECT cand.a_id, cand.b_id,
                     cand.c / ((df.d_f + dw.d_w) / 2) AS margin
              FROM cand JOIN df USING (a_id) JOIN dw USING (b_id)),
        t AS (SELECT a_id, b_id, margin,
                     row_number() OVER (PARTITION BY a_id
                       ORDER BY margin DESC, b_id) AS rnk FROM m)
        SELECT a_id, b_id, floor(margin * 100000) / 100000 AS margin
        FROM t WHERE rnk = 1 AND margin >= $marginThreshold
        ORDER BY a_id"""
  }

  override def oraclesFor(dir: String): Map[String, String] =
    oracles +
      ("q224_hub_audit" -> Option(hubCodebooks.get(dir)).map(hubOracleSqlTrained)
        .getOrElse("SELECT 1 AS q224_not_built_for_this_dataset")) +
      ("q286_margin_mine_probed" -> Option(mineCodebooks.get(dir))
        .map(minedOracleSqlTrained)
        .getOrElse("SELECT 1 AS q286_not_built_for_this_dataset")) +
      // q289 SHARES q286's oracle: the persisted-index mining must equal
      // the in-plan rebuild exactly — the append ≡ rebuild certificate
      // at the mining grain (the q157 pattern, two-sided)
      ("q289_mining_index_lifecycle" -> Option(mineCodebooks.get(dir))
        .map(minedOracleSqlTrained)
        .getOrElse("SELECT 1 AS q289_not_built_for_this_dataset"))

  // `def`, not `val`: the q224 entry embeds the codebook trained when the
  // query ran — oraclesFor(dir) is the precise path; this is the
  // single-codebook dir-agnostic fallback (the Similarity contract).
  override def oracles: Map[String, String] = Map(
    // q231: same kNN relation; the packed heap id (b_id·16 + label)
    // replicated in the rank's tie-break; integer agreement sums
    "q231_knn_purity" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                     FROM embeddings),
          p AS (SELECT a.vec_id AS a_id, a.label AS la, b.label AS lb,
                       b.vec_id AS b_id, list_cosine_similarity(a.v, b.v) AS c
                FROM e a JOIN e b ON a.vec_id <> b.vec_id),
          r AS (SELECT a_id, la, lb, row_number() OVER (PARTITION BY a_id
                         ORDER BY c DESC, b_id * 16 + lb) AS rnk
                FROM p),
          ag AS (SELECT a_id, la,
                        sum(CASE WHEN lb = la THEN 1 ELSE 0 END) AS m
                 FROM r WHERE rnk <= $hubK GROUP BY 1, 2)
          SELECT CAST(la AS BIGINT) AS label, count(*) AS n_vecs,
                 CAST(sum(m) AS BIGINT) AS agree,
                 floor(CAST(sum(m) AS DOUBLE) / (count(*) * $hubK) * 1000000)
                   / 1000000 AS purity
          FROM ag GROUP BY 1 ORDER BY label""",
    // q224: generated-literal oracle (the probed-candidate semantics
    // need the trained codebook) — dir-agnostic fallback only
    "q224_hub_audit" -> (if (hubCodebooks.size == 1)
        hubOracleSqlTrained(hubCodebooks.values.iterator.next())
      else "SELECT 1 AS q224_not_built_unambiguously_this_process"),
    "q286_margin_mine_probed" -> (if (mineCodebooks.size == 1)
        minedOracleSqlTrained(mineCodebooks.values.iterator.next())
      else "SELECT 1 AS q286_not_built_unambiguously_this_process"),
    // q217: same integer quantization (q163's), co-unnest dim zip,
    // exact BIGINT sums/products; the only float is dot/(sqrt·sqrt)
    // with identical parenthesization
    "q217_source_centroids" ->
      """WITH sv AS (SELECT d.source,
                            [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                             for x in e.embedding] AS iv
                     FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         dims AS (SELECT source, unnest(range(1, len(iv) + 1)) AS dim,
                         unnest(iv) AS x FROM sv),
         sums AS (SELECT source, dim, CAST(sum(x) AS BIGINT) AS sx
                  FROM dims GROUP BY 1, 2),
         nrm AS (SELECT source, CAST(sum(sx * sx) AS BIGINT) AS nrm2
                 FROM sums GROUP BY 1),
         dots AS (SELECT a.source AS src_a, b.source AS src_b,
                         CAST(sum(a.sx * b.sx) AS BIGINT) AS dot
                  FROM sums a JOIN sums b
                    ON a.dim = b.dim AND a.source < b.source
                  GROUP BY 1, 2)
         SELECT src_a, src_b,
                floor(CAST(dot AS DOUBLE)
                      / (sqrt(CAST(na.nrm2 AS DOUBLE))
                         * sqrt(CAST(nb.nrm2 AS DOUBLE)))
                      * 1000000) / 1000000 AS cosine
         FROM dots JOIN nrm na ON na.source = src_a
                   JOIN nrm nb ON nb.source = src_b
         ORDER BY src_a, src_b""",
    // q246: exact pair SQL + the NAIVE canonical three-way join (a
    // triangle u<v<w is exactly three pairs (u,v),(v,w),(u,w)) —
    // certifying the degree-ordered enumeration finds the same set
    "q246_triangles" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")},
         pr AS (SELECT a_id, b_id FROM pairs
                WHERE common / (asz + bsz - common) >= 0.8),
         ed AS (SELECT a_id, b_id FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         dg AS (SELECT a_id AS doc_id, count(*) AS deg FROM ed GROUP BY 1),
         tri AS (SELECT p1.a_id AS u, p1.b_id AS v, p2.b_id AS w
                 FROM pr p1
                 JOIN pr p2 ON p2.a_id = p1.b_id
                 JOIN pr p3 ON p3.a_id = p1.a_id AND p3.b_id = p2.b_id),
         tn AS (SELECT doc_id, count(*) AS tri FROM (
                  SELECT u AS doc_id FROM tri
                  UNION ALL SELECT v FROM tri
                  UNION ALL SELECT w FROM tri)
                GROUP BY 1)
         SELECT dg.doc_id, CAST(dg.deg AS BIGINT) AS deg,
                CAST(coalesce(tn.tri, 0) AS BIGINT) AS tri,
                CASE WHEN dg.deg >= 2
                     THEN floor(CAST(2000 * coalesce(tn.tri, 0) AS DOUBLE)
                                / (dg.deg * (dg.deg - 1))) / 1000
                     ELSE CAST(0 AS DOUBLE) END AS lcc
         FROM dg LEFT JOIN tn ON tn.doc_id = dg.doc_id
         ORDER BY dg.doc_id""",
    // q216: the q42/q35 exact pair SQL (LSH recall 1 at the 0.8 verify
    // threshold — q42's argument) + three chained integer PageRank
    // iterations; `//` floors on positives exactly like Spark's `div`
    "q216_pagerank" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")},
         pr AS (SELECT a_id, b_id FROM pairs
                WHERE common / (asz + bsz - common) >= 0.8),
         ed AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
         r0 AS (SELECT src AS doc_id, deg, 1000000::BIGINT AS r FROM dg),
         c1 AS (SELECT ed.dst AS doc_id, sum(r0.r // r0.deg) AS m
                FROM ed JOIN r0 ON r0.doc_id = ed.src GROUP BY 1),
         r1 AS (SELECT dg.src AS doc_id, dg.deg,
                       150000 + (85 * c1.m) // 100 AS r
                FROM dg JOIN c1 ON c1.doc_id = dg.src),
         c2 AS (SELECT ed.dst AS doc_id, sum(r1.r // r1.deg) AS m
                FROM ed JOIN r1 ON r1.doc_id = ed.src GROUP BY 1),
         r2 AS (SELECT dg.src AS doc_id, dg.deg,
                       150000 + (85 * c2.m) // 100 AS r
                FROM dg JOIN c2 ON c2.doc_id = dg.src),
         c3 AS (SELECT ed.dst AS doc_id, sum(r2.r // r2.deg) AS m
                FROM ed JOIN r2 ON r2.doc_id = ed.src GROUP BY 1),
         r3 AS (SELECT dg.src AS doc_id, dg.deg,
                       150000 + (85 * c3.m) // 100 AS r
                FROM dg JOIN c3 ON c3.doc_id = dg.src)
         SELECT doc_id, CAST(deg AS BIGINT) AS deg,
                CAST(r AS BIGINT) AS rank_scaled,
                CAST(r AS DOUBLE) / 1000000 AS pagerank
         FROM r3 ORDER BY rank_scaled DESC, doc_id""",
    // the identical computation: A×B cosines, rank-ordered top-k left
    // fold for both densities (list_reduce seeds with the first element;
    // Spark's 0.0 seed is IEEE-identical since 0.0 + x == x), one
    // division chain per pair, top-1 by (margin DESC, b_id)
    "q126_margin_mine" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                     FROM embeddings),
          a AS (SELECT vec_id AS a_id, v AS av FROM e WHERE label < 5),
          b AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE label >= 5),
          pr AS (SELECT a_id, b_id, list_cosine_similarity(av, bv) AS c
                 FROM a, b),
          ra AS (SELECT a_id, b_id, c,
                        row_number() OVER (PARTITION BY a_id
                          ORDER BY c DESC, b_id) AS rnk FROM pr),
          da AS (SELECT a_id,
                        list_reduce(list(c ORDER BY rnk), (x, y) -> x + y)
                          / $marginK AS d_a
                 FROM ra WHERE rnk <= $marginK GROUP BY a_id),
          rb AS (SELECT a_id, b_id, c,
                        row_number() OVER (PARTITION BY b_id
                          ORDER BY c DESC, a_id) AS rnk FROM pr),
          db AS (SELECT b_id,
                        list_reduce(list(c ORDER BY rnk), (x, y) -> x + y)
                          / $marginK AS d_b
                 FROM rb WHERE rnk <= $marginK GROUP BY b_id),
          m AS (SELECT pr.a_id, pr.b_id,
                       pr.c / ((da.d_a + db.d_b) / 2) AS margin
                FROM pr JOIN da USING (a_id) JOIN db USING (b_id)),
          t AS (SELECT a_id, b_id, margin,
                       row_number() OVER (PARTITION BY a_id
                         ORDER BY margin DESC, b_id) AS rnk FROM m)
          SELECT a_id, b_id, floor(margin * 100000) / 100000 AS margin
          FROM t WHERE rnk = 1 AND margin >= $marginThreshold
          ORDER BY a_id""",
    // q180: integer counts everywhere; the lift is one fixed-shape
    // division of integer-derived doubles (identical parenthesization
    // both engines), no log
    "q180_collocations" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         uni AS (SELECT unnest(w) AS tok FROM t),
         g AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
                        AS gram
               FROM t WHERE len(w) >= 2),
         bi AS (SELECT split_part(gram, ' ', 1) AS w1,
                       split_part(gram, ' ', 2) AS w2,
                       count(*) AS nab
                FROM g GROUP BY 1, 2),
         uc AS (SELECT tok, count(*) AS n FROM uni GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM uni) AS nn,
                        (SELECT count(*) FROM g) AS m)
         SELECT w1, w2, nab,
                floor(CAST(nab AS DOUBLE) * nn * nn
                      / (CAST(m AS DOUBLE) * na * nb) * 1000) / 1000 AS lift
         FROM (SELECT bi.w1, bi.w2, bi.nab, a.n AS na, b.n AS nb, tot.nn, tot.m
               FROM bi JOIN uc a ON a.tok = bi.w1
                       JOIN uc b ON b.tok = bi.w2, tot)
         WHERE nab >= 5
         ORDER BY nab DESC, w1, w2 LIMIT 50""",
    // integer Σmin + totals until one final division — no float-order
    // concerns; the df cut is applied identically to numerator and
    // denominator vocabularies
    "q127_weighted_jaccard" ->
      s"""WITH tk AS (SELECT doc_id,
                             unnest(string_split_regex(trim(text), '\\s+')) AS t
                      FROM documents),
          tc AS (SELECT doc_id, t, count(*) AS cnt FROM tk GROUP BY 1, 2),
          df AS (SELECT t, count(*) AS df FROM tc GROUP BY 1),
          kept AS (SELECT tc.doc_id, tc.t, tc.cnt
                   FROM tc JOIN df USING (t) WHERE df.df <= $wjMaxDf),
          tot AS (SELECT doc_id, sum(cnt) AS total FROM kept GROUP BY 1),
          pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                           sum(least(a.cnt, b.cnt)) AS common
                    FROM kept a JOIN kept b
                      ON a.t = b.t AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          wj AS (SELECT a_id, b_id,
                        common / CAST(ta.total + tb.total - common AS DOUBLE)
                          AS w
                 FROM pairs JOIN tot ta ON ta.doc_id = a_id
                            JOIN tot tb ON tb.doc_id = b_id)
          SELECT a_id, b_id, floor(w * 1000) / 1000 AS wjaccard
          FROM wj WHERE w >= $wjThreshold ORDER BY a_id, b_id""",
    // the q42/q35 exact inverted-index pair SQL (LSH recall 1 at 0.8)
    // plus the two label joins and the disagreement filter
    "q131_crosslang_audit" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")},
         nd AS (SELECT a_id, b_id,
                       floor(common / (asz + bsz - common) * 1000) / 1000
                         AS jaccard
                FROM pairs WHERE common / (asz + bsz - common) >= 0.8),
         lg AS (SELECT doc_id, lang FROM documents)
         SELECT a_id, b_id, la.lang AS lang_a, lb.lang AS lang_b, jaccard
         FROM nd JOIN lg la ON la.doc_id = a_id
                 JOIN lg lb ON lb.doc_id = b_id
         WHERE la.lang <> lb.lang
         ORDER BY a_id, b_id""",
  )
}
