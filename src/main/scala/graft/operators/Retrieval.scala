package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.NativeExprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 retrieval-stack closers (SURVEY.md §2 rows 12-13 [extension]):
  * the two operators the round-5 verdict called out as the natural next
  * tier over the q96-q99 machinery —
  *
  *  - q102 HYBRID SEARCH FUSION: reciprocal-rank fusion (RRF,
  *    Cormack & Clarke SIGIR'09 — the fusion every production retrieval
  *    stack ships) of a lexical BM25 ranking and a vector cosine ranking
  *    for the same query set. score(d) = Σ 1/(60 + rank_i(d)) over the
  *    lists that contain d; rank-based, so the two halves' score scales
  *    never need calibrating.
  *  - q103 SEMANTIC DEDUP: SemDeDup (Abbas et al., 2023) — coarse
  *    k-means cells over embeddings, exact within-cell cosine pairs
  *    above a threshold, keep the lowest-id survivor per duplicate
  *    relation (drop any vector with a smaller-id in-cell neighbor at
  *    cos >= θ). Pair generation is keyed by the cell equi-join, so no
  *    cross-cell pair ever exists (ScaleSpec-asserted).
  *
  * Scale notes (100 TB design points):
  *  - q102's halves are both bounded-heap top-k aggregates (shuffle ≤ k
  *    rows per query per partition — q97/q40's shape); the fusion
  *    operates on ≤ 2k rows per query, so the rank window is bounded by
  *    construction, never corpus-sized.
  *  - q103's quantizer is the constant-size driver-trained sample
  *    (q45's FAISS-standard training step); assignment is one broadcast
  *    of k centroid rows + map-side argmax; the pair join shuffles
  *    (cell, vec_id, embedding) once keyed by cell, and in-cell pairing
  *    is O(N · cell-size) with cell count scaled to hold expected cell
  *    size ~constant. The drop rule is pairwise-greedy (smallest id in
  *    the cell wins), NOT transitive closure — no iterative loop, one
  *    aggregation; q80 covers the transitive-cluster variant.
  */
object Retrieval extends QueryPack {

  private val toks = graft.functions.TextExprs.toks

  /** The declared hybrid query set: 5 queries, each a single lexical term
    * plus the query vector `embeddings[vec_id = q_id]`. Single-term BM25
    * keeps the lexical score a single deterministic multiplication chain
    * (no cross-term float summation order to replicate), and the fused
    * RRF score is computed from INTEGER ranks only — both engines build
    * it with the same two-term left-to-right sum, bit-exactly. */
  private val queryTerms =
    Seq((0L, "spark"), (1L, "join"), (2L, "window"), (3L, "filter"), (4L, "group"))

  private val rrfK = 60
  private val topK = 10

  /** Reciprocal-rank fusion of two (q_id, doc_id, rnk) rankings — the
    * generic operator: full-outer rank join on (q_id, doc_id), fused
    * score Σ 1/(rrfK + rank) with absent ranks contributing 0, re-ranked
    * per query. Inputs are top-k lists, so the fused set is ≤ 2k rows
    * per query and the rank window is bounded by construction. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int = topK): DataFrame = {
    val fused = lex.withColumnRenamed("rnk", "lex_rnk")
      .join(vec.withColumnRenamed("rnk", "vec_rnk"),
            Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        expr(s"coalesce(1e0 / ($rrfK + lex_rnk), 0e0) + " +
             s"coalesce(1e0 / ($rrfK + vec_rnk), 0e0)"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("doc_id"),
              (floor(col("rrf") * 1e6) / 1e6).as("rrf_score"),
              coalesce(col("lex_rnk"), lit(0L)).as("lex_rnk"),
              coalesce(col("vec_rnk"), lit(0L)).as("vec_rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Per-query top-k by (score desc, id asc) via the bounded-heap
    * aggregate — q97/q40's ranking shape: shuffle ≤ k rows per query per
    * partition, no window ever sorts a full candidate set. */
  private def topKRanks(scored: DataFrame, score: Column, id: Column,
                        k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.functions.TopKAgg.top_k_by_score(score, id, k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("q_id"), (col("rnk0") + 1).cast("long").as("rnk"),
              col("t.id").as("doc_id"), col("t.score").as("score"))

  /** Lexical half: q97's BM25 scorer (same idf-sans-log deviation, same
    * constants, same broadcast corpus stats), restricted to each query's
    * single term by a broadcast join against the literal query table. */
  private[graft] def lexicalRanks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qt = queryTerms.toDF("q_id", "term")
    val t = Tables.documents(s, d).select(col("doc_id"), expr(toks).as("w"))
    val stats = t.agg(count(lit(1)).as("n"), sum(size(col("w"))).as("sl"))
    val terms = queryTerms.map(_._2)
    val tf = t.select(col("doc_id"), size(col("w")).as("len"),
                      explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(dfT), "term").crossJoin(broadcast(stats))
      .withColumn("s", expr(
        """((cast(n as double) - df + 0.5e0) / (df + 0.5e0))
           * (tf * 2.2e0)
           / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (len / (sl / cast(n as double)))))"""))
      .join(broadcast(qt), "term")
    topKRanks(sc, col("s"), col("doc_id"), topK)
  }

  /** Vector half: q98's broadcast-query cosine scan (sans metadata
    * filter), query vectors = embeddings with vec_id = q_id. */
  private[graft] def vectorRanks(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < queryTerms.size)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", NativeExprs.cosine_sim(col("embedding"), col("qv")))
    topKRanks(scored.select(col("q_id"), col("vec_id").as("doc_id"), col("cos")),
              col("cos"), col("doc_id"), topK)
  }

  /** The two ranked halves, session-memoized: q102 (RRF) and q110
    * (weighted fusion) are two FUSION REPORTS over the IDENTICAL
    * (lexical, vector) top-k lists — the register-consolidation
    * discipline at the retrieval tier (a release eval materializes its
    * ranked lists once, then fans out fusion variants); re-running the
    * BM25 scorer and the cosine scan per fusion report is the
    * anti-pattern. Lazy localCheckpoint; ≤ topK rows per query each. */
  private def rankedHalves(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.SessionMemo.getOrElseUpdate[(DataFrame, DataFrame)](
      s, "retrieval.rankedHalves", d)(
      (lexicalRanks(s, d).localCheckpoint(eager = false),
       vectorRanks(s, d).localCheckpoint(eager = false)))

  private def q102HybridSearch(s: SparkSession, d: String): DataFrame = {
    val (lex, vec) = rankedHalves(s, d)
    rrfFuse(lex.select("q_id", "doc_id", "rnk"),
            vec.select("q_id", "doc_id", "rnk"))
  }

  /** The OTHER standard fusion: per-list min-max score normalization +
    * a fixed-weight sum (0.6 lexical, 0.4 vector — the convention when
    * the lexical half is trusted more on keyword queries). Unlike RRF
    * this uses the raw scores, so it rewards margin, not just rank; the
    * normalization bounds are per-(query, list) aggregates over the
    * top-k rows — 1 row per query, broadcast back. A degenerate list
    * (max = min) normalizes to 0.5 in both engines by the same branch.
    * All arithmetic is the same IEEE ops in the same order on scores
    * already proven bit-identical cross-engine (q97/q98), so the fused
    * ordering needs no float tolerance. */
  def weightedFuse(lex: DataFrame, vec: DataFrame, wLex: Double = 0.6,
                   k: Int = topK): DataFrame = {
    def normalized(list: DataFrame, out: String): DataFrame = {
      val bounds = list.groupBy(col("q_id").as("b_q_id"))
        .agg(min("score").as("lo"), max("score").as("hi"))
      list.join(broadcast(bounds), col("q_id") === col("b_q_id"))
        .withColumn(out,
          when(col("hi") === col("lo"), lit(0.5))
            .otherwise((col("score") - col("lo")) / (col("hi") - col("lo"))))
        .select(col("q_id"), col("doc_id"), col(out))
    }
    val fused = normalized(lex, "lex_norm")
      .join(normalized(vec, "vec_norm"), Seq("q_id", "doc_id"), "full_outer")
      .withColumn("wscore",
        coalesce(col("lex_norm"), lit(0.0)) * wLex
          + coalesce(col("vec_norm"), lit(0.0)) * (1.0 - wLex))
    val w = Window.partitionBy("q_id").orderBy(col("wscore").desc, col("doc_id"))
    fused
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("doc_id"),
              (floor(col("wscore") * 1e6) / 1e6).as("wscore"))
      .orderBy("q_id", "rnk")
  }

  private def q110HybridWeighted(s: SparkSession, d: String): DataFrame = {
    val (lex, vec) = rankedHalves(s, d)
    weightedFuse(lex, vec)
  }

  // ---- q103 semantic dedup ------------------------------------------------

  /** Declared cosine threshold. The synthetic embeddings hold no true
    * high-cosine duplicate pairs (zero pairs at >= 0.8 at sf0.01), so the
    * declared θ sits at the q41/q44 near-dup bar to exercise the drop
    * path; production callers tune θ (SemDeDup uses ~0.95+ on real
    * embedding spaces). */
  private val semDedupThreshold = 0.2

  /** Codebooks trained by q103 builds, keyed by dataset dir — q45's
    * oracle-literal technique (see Similarity.codebooks). */
  private val codebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** SemDeDup: coarse cells via the trained constant-size quantizer,
    * exact cosine pairs WITHIN cells only (the equi-join on cell id is
    * what bounds pair work — identical vectors in different cells are
    * never compared, by design: cross-cell recall is the quantizer's
    * job, not the pair join's), drop rule = "a vector is dropped iff an
    * in-cell neighbor with a SMALLER id sits at cos >= θ", reported with
    * the electing survivor (min such neighbor) for auditability. */
  private def q103SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(e, Similarity.ivfK)
    codebooks.put(d, cents)
    val asg = Similarity.ivfAssignCodebook(s, e, cents)
      .select(col("vec_id"), col("centroid").as("cell"), col("embedding"))
    val a = asg.select(col("cell"), col("vec_id").as("a_id"),
                       col("embedding").as("av"))
    val b = asg.select(col("cell"), col("vec_id").as("b_id"),
                       col("embedding").as("bv"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", NativeExprs.cosine_sim(col("av"), col("bv")))
      .filter(col("cos") >= semDedupThreshold)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min("a_id").as("dropped_by"))
    asg.select(col("vec_id"), col("cell"))
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
              when(col("dropped_by").isNull, 1L).otherwise(0L).as("keep"),
              coalesce(col("dropped_by"), lit(-1L)).as("dropped_by"))
      .orderBy("vec_id")
  }

  // ---- q285 semantic benchmark contamination ------------------------------

  /** Declared contamination threshold — [[semDedupThreshold]]'s caveat
    * applies verbatim: the synthetic embedding space holds no true
    * high-cosine pairs, so the declared θ sits at the near-dup bar to
    * exercise the flag path; production decontamination against a real
    * benchmark suite runs ~0.95+. */
  private val contamThreshold = 0.2

  /** Deterministic benchmark membership (vec_id ≡ 7 mod 10) — the
    * stand-in for "this vector embeds an eval-benchmark item", stated as
    * SQL so the oracle can repeat it. */
  private val benchMod = 10L
  private val benchRem = 7L

  /** q285's benchmark-set size bound: membership is (vec_id % benchMod
    * == benchRem) AND vec_id < benchMod·benchCap, so the set holds AT
    * MOST [[benchCap]] items no matter how large the corpus grows — a
    * benchmark SUITE is a fixed artifact, not a corpus fraction, and
    * the broadcast the flag join rides must be bounded by construction
    * (a residue-only predicate is a fixed 10% of the corpus: its
    * "broadcast" grows linearly and OOMs the driver at scale — ADVICE
    * r12). At the committed sfs the cap does not bind (max vec_id 1999
    * < 5120), so the gated output and its hash are unchanged. */
  private val benchCap = 512L

  /** Codebooks trained by q285 builds, keyed by dataset dir — a separate
    * map keeps the gate self-contained for oracle generation (the
    * [[codebooks]] contract); training is deterministic, so these equal
    * q103's for the same dataset. */
  private val contamCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** q285: SEMANTIC BENCHMARK CONTAMINATION — the embedding-space twin of
    * q48/q129's n-gram decontamination, and the one decontamination axis
    * n-grams cannot cover: a paraphrased benchmark item shares no 8-gram
    * with its source but embeds next to it. Machinery is q103's SemDeDup
    * composition: cells from the trained coarse quantizer, exact cosine
    * WITHIN the corpus vector's cell against the benchmark subset only —
    * cross-cell recall is the quantizer's job, not the pair join's. A
    * corpus vector is flagged iff an in-cell benchmark vector sits at
    * cos ≥ θ; the report carries the electing benchmark id (minimum, for
    * auditability), one row per corpus vector. Scale shape: the
    * benchmark set is bounded at [[benchCap]] items BY CONSTRUCTION
    * (see the membership predicate there — a fixed artifact, not a
    * corpus fraction), so its broadcast is a true constant; the flag
    * join is corpus-assignment × in-cell benchmark rows — map-side
    * work linear in the corpus, no corpus×corpus pairing anywhere.
    * Oracle: the trained codebook embedded as literals (the q103
    * contract), assignment + in-cell flag join replicated. */
  private def q285SemanticContamination(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(e, Similarity.ivfK)
    contamCodebooks.put(d, cents)
    val asg = Similarity.ivfAssignCodebook(s, e, cents)
      .select(col("vec_id"), col("centroid").as("cell"), col("embedding"))
    val isBench = col("vec_id") % benchMod === benchRem &&
      col("vec_id") < benchMod * benchCap
    val bench = asg.filter(isBench)
      .select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("bv"))
    val corpus = asg.filter(!isBench)
    val flags = corpus.join(broadcast(bench), Seq("cell"))
      .withColumn("cos", NativeExprs.cosine_sim(col("embedding"), col("bv")))
      .filter(col("cos") >= contamThreshold)
      .groupBy(col("vec_id"))
      .agg(min("b_id").as("flagged_by"))
    corpus.select(col("vec_id"), col("cell"))
      .join(flags, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
              when(col("flagged_by").isNull, 1L).otherwise(0L).as("keep"),
              coalesce(col("flagged_by"), lit(-1L)).as("flagged_by"))
      .orderBy("vec_id")
  }

  /** q103/q285's oracle cell assignment: the trained codebook as
    * literals `c`, q45's argmax `asg` (ties: highest cosine, then highest
    * centroid id — matching max(struct)) and `ae`, each vector with its
    * BIGINT `cell`. */
  private def cellCtes(cents: Array[Array[Double]]): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT * FROM (VALUES
             ${Similarity.coarseValues(cents)}) AS t(c_id, cv)),
        sc AS (SELECT e.vec_id, c.c_id,
                      list_cosine_similarity(e.v, c.cv) AS cc FROM e, c),
        asg AS (SELECT vec_id, CAST(c_id AS BIGINT) AS cell FROM (
                  SELECT vec_id, c_id,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY cc DESC, c_id DESC) AS rn FROM sc)
                WHERE rn = 1),
        ae AS (SELECT asg.vec_id, asg.cell, e.v FROM asg JOIN e USING (vec_id))"""

  /** q285's oracle: q103's literal-codebook assignment CTEs, the same
    * benchmark-membership predicate, the in-cell flag join. */
  private def contaminationOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH ${cellCtes(cents)},
        bench AS (SELECT * FROM ae WHERE vec_id % $benchMod = $benchRem
                                     AND vec_id < ${benchMod * benchCap}),
        corp AS (SELECT * FROM ae WHERE NOT (vec_id % $benchMod = $benchRem
                                     AND vec_id < ${benchMod * benchCap})),
        flags AS (SELECT corp.vec_id, min(bench.vec_id) AS flagged_by
                  FROM corp JOIN bench ON corp.cell = bench.cell
                  WHERE list_cosine_similarity(corp.v, bench.v)
                        >= $contamThreshold
                  GROUP BY corp.vec_id)
        SELECT corp.vec_id, corp.cell,
               CAST(CASE WHEN f.flagged_by IS NULL THEN 1 ELSE 0 END
                 AS BIGINT) AS keep,
               coalesce(f.flagged_by, -1) AS flagged_by
        FROM corp LEFT JOIN flags f USING (vec_id)
        ORDER BY corp.vec_id"""

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_hybrid_search" -> q102HybridSearch _,
    "q103_semantic_dedup" -> q103SemanticDedup _,
    "q110_hybrid_weighted" -> q110HybridWeighted _,
    "q285_semantic_contamination" -> q285SemanticContamination _,
  )

  /** q102/q110's lexical half: q97's BM25 oracle scoped per query term,
    * one `sc` row (q_id, doc_id, score `s`) per matching (query, doc). */
  private val lexScoreCtes: String = {
    val qtRows = queryTerms
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                   FROM documents),
        stats AS (SELECT count(*) AS n, sum(len(w)) AS sl FROM t),
        tf AS (SELECT doc_id, len, term, count(*) AS tf
               FROM (SELECT doc_id, len(w) AS len, unnest(w) AS term FROM t)
               WHERE term IN (${queryTerms.map(t => s"'${t._2}'").mkString(", ")})
               GROUP BY doc_id, len, term),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qt(q_id, term) AS (VALUES $qtRows),
        sc AS (SELECT qt.q_id, tf.doc_id,
                ((CAST(n AS DOUBLE) - df + 0.5e0) / (df + 0.5e0))
                * (tf * 2.2e0)
                / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (len / (sl / CAST(n AS DOUBLE))))) AS s
               FROM tf JOIN dfr USING (term) JOIN qt USING (term), stats)"""
  }

  /** q102/q110's vector half: q98's exact cosine `vsc` of every doc
    * against each query vector (vec_id < |queries|), sans metadata
    * filter. */
  private val vecScoreCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < ${queryTerms.size}),
        vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
                       list_cosine_similarity(e.v, q.qv) AS cos
                FROM e, q WHERE e.vec_id <> q.q_id)"""

  /** q102's oracle: the lexical CTE is q97's oracle scoped per query
    * term, the vector CTE is q98's sans metadata filter, and the fusion
    * is a FULL JOIN USING (q_id, doc_id) + the identical two-term RRF
    * sum over integer ranks. */
  private val hybridOracleSql: String =
    s"""WITH $lexScoreCtes,
        lex AS (SELECT q_id, doc_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY s DESC, doc_id) AS lex_rnk
                FROM sc),
        lexk AS (SELECT q_id, doc_id, lex_rnk FROM lex WHERE lex_rnk <= $topK),
        $vecScoreCtes,
        vec AS (SELECT q_id, doc_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, doc_id) AS vec_rnk
                FROM vsc),
        veck AS (SELECT q_id, doc_id, vec_rnk FROM vec WHERE vec_rnk <= $topK),
        fused AS (SELECT q_id, doc_id,
                         coalesce(1e0 / ($rrfK + lex_rnk), 0e0)
                         + coalesce(1e0 / ($rrfK + vec_rnk), 0e0) AS rrf,
                         coalesce(lex_rnk, 0) AS lex_rnk,
                         coalesce(vec_rnk, 0) AS vec_rnk
                  FROM lexk FULL JOIN veck USING (q_id, doc_id)),
        r AS (SELECT q_id, doc_id, rrf, lex_rnk, vec_rnk,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY rrf DESC, doc_id) AS rnk
              FROM fused)
        SELECT q_id, rnk, doc_id, floor(rrf * 1000000) / 1000000 AS rrf_score,
               lex_rnk, vec_rnk
        FROM r WHERE rnk <= $topK ORDER BY q_id, rnk"""

  /** q103's oracle: the trained codebook as literals + q45's argmax
    * assignment CTE (ties: highest cosine, then highest centroid id —
    * matching max(struct)), then the in-cell pair filter and the
    * min-smaller-neighbor drop rule. */
  private def semanticDedupOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH ${cellCtes(cents)},
        drops AS (SELECT b.vec_id, min(a.vec_id) AS dropped_by
                  FROM ae a JOIN ae b
                    ON a.cell = b.cell AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.v, b.v) >= $semDedupThreshold
                  GROUP BY b.vec_id)
        SELECT ae.vec_id, ae.cell,
               CAST(CASE WHEN d.dropped_by IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
               coalesce(d.dropped_by, -1) AS dropped_by
        FROM ae LEFT JOIN drops d ON ae.vec_id = d.vec_id
        ORDER BY ae.vec_id"""

  /** q110's oracle: q102's two ranked CTEs keeping raw scores, per-list
    * min-max bounds over the top-k rows, the same 0.5 degenerate branch,
    * and the fixed-order weighted sum. */
  private val hybridWeightedOracleSql: String =
    s"""WITH $lexScoreCtes,
        lexk AS (SELECT q_id, doc_id, s FROM (
                   SELECT q_id, doc_id, s,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY s DESC, doc_id) AS rnk FROM sc)
                 WHERE rnk <= $topK),
        lexb AS (SELECT q_id, min(s) AS lo, max(s) AS hi FROM lexk GROUP BY q_id),
        lexn AS (SELECT lexk.q_id, doc_id,
                        CASE WHEN hi = lo THEN 0.5e0
                             ELSE (s - lo) / (hi - lo) END AS lex_norm
                 FROM lexk JOIN lexb USING (q_id)),
        $vecScoreCtes,
        veck AS (SELECT q_id, doc_id, cos FROM (
                   SELECT q_id, doc_id, cos,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, doc_id) AS rnk FROM vsc)
                 WHERE rnk <= $topK),
        vecb AS (SELECT q_id, min(cos) AS lo, max(cos) AS hi FROM veck GROUP BY q_id),
        vecn AS (SELECT veck.q_id, doc_id,
                        CASE WHEN hi = lo THEN 0.5e0
                             ELSE (cos - lo) / (hi - lo) END AS vec_norm
                 FROM veck JOIN vecb USING (q_id)),
        fused AS (SELECT q_id, doc_id,
                         coalesce(lex_norm, 0e0) * 0.6e0
                         + coalesce(vec_norm, 0e0) * 0.4e0 AS wscore
                  FROM lexn FULL JOIN vecn USING (q_id, doc_id)),
        r AS (SELECT q_id, doc_id, wscore,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY wscore DESC, doc_id) AS rnk
              FROM fused)
        SELECT q_id, rnk, doc_id, floor(wscore * 1000000) / 1000000 AS wscore
        FROM r WHERE rnk <= $topK ORDER BY q_id, rnk"""

  override val oracles: Map[String, String] = Map(
    "q102_hybrid_search" -> hybridOracleSql,
    "q110_hybrid_weighted" -> hybridWeightedOracleSql,
    "q103_semantic_dedup" -> (if (codebooks.size == 1)
      semanticDedupOracleSql(codebooks.values.iterator.next())
      else "SELECT 1 AS q103_not_built_unambiguously_this_process"),
    "q285_semantic_contamination" -> (if (contamCodebooks.size == 1)
      contaminationOracleSql(contamCodebooks.values.iterator.next())
      else "SELECT 1 AS q285_not_built_unambiguously_this_process"),
  )

  override def oraclesFor(dir: String): Map[String, String] =
    Map("q102_hybrid_search" -> hybridOracleSql,
        "q110_hybrid_weighted" -> hybridWeightedOracleSql,
        "q103_semantic_dedup" -> Option(codebooks.get(dir))
          .map(semanticDedupOracleSql)
          .getOrElse("SELECT 1 AS q103_not_built_for_this_dataset"),
        "q285_semantic_contamination" -> Option(contamCodebooks.get(dir))
          .map(contaminationOracleSql)
          .getOrElse("SELECT 1 AS q285_not_built_for_this_dataset"))
}
