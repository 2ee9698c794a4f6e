package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{NativeExprs, TextExprs, TopKAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus STATISTICS, SAMPLING and EVALUATION operators — the
  * measurement half of a training-data pipeline: weighted sampling
  * without replacement, sketch-based heavy hitters, cross-snapshot
  * distribution drift, clustering-quality evaluation, and diversified
  * reranking. The reference engine has none of this surface (SURVEY.md
  * §2 "Explicit absences" — it is a Kafka→Parquet consumer); this pack
  * extends the mandated training-data-pipeline tier alongside
  * [[Curation2]] (selection), [[Similarity]] (retrieval) and
  * [[Mining]] (alignment).
  */
object Stats extends QueryPack {

  /** Sample size per source for q137. */
  private val wsK = 5

  /** 2^60 — the denominator turning a 60-bit md5 prefix into a uniform
    * in (0, 1]. */
  private val ws2p60 = 1152921504606846976.0

  /** q137: WEIGHTED SAMPLE WITHOUT REPLACEMENT — the Efraimidis &
    * Spirakis A-ES scheme: each item draws a deterministic uniform
    * u ∈ (0, 1] from its id (md5 prefix, the q92/q120 hash idiom) and
    * is ranked by key = ln(u) / w with weight w = n_chars; the top-k
    * keys per source ARE a weighted sample without replacement (items
    * enter with probability proportional to weight, Efraimidis &
    * Spirakis 2006). This is the LENGTH-WEIGHTED complement of q92's
    * uniform stratified sample — sampling documents proportional to
    * their token mass is how you sample a TOKEN-uniform subset for
    * inspection/eval without exploding to token grain. A-ES is THE
    * distributed weighted-sampling algorithm precisely because it is a
    * pure per-row map (one md5 + one ln) followed by a bounded-heap
    * top-k — partial-aggregatable ([[TopKAgg]]), so each map partition
    * sends at most k (source, key, id) triples into the one shuffle;
    * no text, no second pass, no rejection loop. Rerun-stable: the
    * draw depends only on doc_id. The single ln per row is the proven
    * cross-engine float boundary (q39/q119); ranking compares raw
    * keys, whose md5-spread makes 1-ulp ties physically absent. */
  private def q137WeightedSample(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("u",
        (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
              "as bigint)").cast("double") + 1.0) / ws2p60)
      .withColumn("skey", log(col("u")) / col("n_chars").cast("double"))
    keyed.groupBy("source")
      .agg(TopKAgg.top_k_by_score(col("skey"), col("doc_id"), wsK).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
              col("col.id").as("doc_id"),
              (floor(col("col.score") * 1000000000) / 1000000000).as("skey"))
      .orderBy("source", "rank")
  }

  /** Cells for q138's trained coarse quantizer. */
  private val cpK = 8

  /** Codebooks trained by q138 builds, keyed by dataset dir — the
    * [[Similarity]] cache contract for generated oracles. */
  private val cpCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Double]]]()

  /** q138: CLUSTER PURITY — the clustering-quality EVAL for the
    * IVF/cell machinery every selection and dedup operator in this
    * repo leans on (q45/q86/q103/q128): assign each embedding to its
    * trained coarse cell ([[Similarity.trainCentroids]], cached per
    * dir so the oracle embeds the same literals) and score the cells
    * against the ground-truth `label` column — per cell: size,
    * majority label, majority count, purity = majority/size. Low
    * purity tells you the quantizer is splitting real classes across
    * cells (bad for q103's within-cell dedup recall and q128's
    * balance); it is the go/no-go check run before trusting any
    * cluster-derived curation decision. Plan: k broadcast centroid
    * rows, map-side argmax assignment (max-struct partial agg), then
    * two tiny aggregations — the (centroid, label) contingency table
    * (≤ k·|labels| rows) and the per-cell majority via the bounded
    * heap. No vectors in any shuffle; purity is one floored division,
    * integer until it. */
  private def q138ClusterPurity(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = cpCodebooks.computeIfAbsent(d,
      _ => Similarity.trainCentroids(e, cpK))
    val asg = Similarity.ivfAssignCodebook(s, e, cents)
      .select(col("vec_id"), col("centroid"))
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val cont = asg.join(lab, "vec_id")
      .groupBy("centroid", "label").agg(count(lit(1)).as("cnt"))
    cont.groupBy("centroid")
      .agg(sum("cnt").as("size"),
           TopKAgg.top_k_by_score(col("cnt").cast("double"),
                                  col("label").cast("long"), 1).as("top"))
      .select(col("centroid"), col("size"),
              col("top")(0)("id").as("majority_label"),
              col("top")(0)("score").cast("long").as("majority_cnt"))
      .withColumn("purity",
        floor(col("majority_cnt") / col("size").cast("double") * 1000000)
          / 1000000)
      .orderBy("centroid")
  }

  /** q138's generated oracle: trained codebook literals + the q45
    * assignment argmax (ties: highest cosine then highest c_id —
    * max(struct) order) + the contingency table + per-cell majority
    * via row_number (cnt DESC, label — the TopKAgg total order). */
  private def cpOracleSql(cents: Array[Array[Double]]): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                   FROM embeddings),
        ${Similarity.literalAssignCtes(cents)},
        ct AS (SELECT asg.centroid, CAST(e.label AS BIGINT) AS label,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM asg JOIN e ON e.vec_id = asg.vec_id GROUP BY 1, 2),
        sz AS (SELECT centroid, CAST(sum(cnt) AS BIGINT) AS size
               FROM ct GROUP BY 1),
        r AS (SELECT centroid, label, cnt,
                     row_number() OVER (PARTITION BY centroid
                       ORDER BY cnt DESC, label) AS rn FROM ct)
        SELECT CAST(r.centroid AS BIGINT) AS centroid, sz.size,
               r.label AS majority_label, r.cnt AS majority_cnt,
               floor(r.cnt / CAST(sz.size AS DOUBLE) * 1000000) / 1000000
                 AS purity
        FROM r JOIN sz USING (centroid)
        WHERE rn = 1 ORDER BY centroid"""

  /** MMR trade-off weight λ (and its complement written as an explicit
    * literal — `1.0 - 0.7` is NOT the double `0.3`, so both engines
    * must parse the same decimal literals). */
  private val mmrLambda = 0.7
  private val mmrComp = 0.3
  private val mmrPool = 8
  private val mmrK = 4
  private val mmrNQueries = 8

  /** q139: MMR DIVERSIFIED RERANK — maximal marginal relevance
    * (Carbonell & Goldstein 1998), the standard post-retrieval
    * diversification: greedily select k results, each step taking
    * argmax of λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — relevance
    * traded against redundancy with what is already picked. For a
    * training-data pipeline this is the retrieval-side twin of q128's
    * cluster-balanced selection: when near-duplicate passages flood a
    * query's top-k (exactly what q42 shows the corpus contains), plain
    * cosine top-k returns k copies of one passage; MMR returns the
    * distinct ones. Shape: retrieval produces a CONSTANT-size pool per
    * query (top-[[mmrPool]] by cosine, bounded-heap [[TopKAgg]]); only
    * pool members' vectors are point-looked-up for the pool×pool sim
    * matrix; the k greedy steps are [[mmrK]] unrolled joins over
    * (queries × pool)-sized relations — rerank cost is linear in query
    * count and INDEPENDENT of corpus size, which is why every
    * production stack runs MMR after ANN rather than inside it. At
    * 100 TB the pool generator swaps for the q86 IVF-PQ probe
    * unchanged. Greedy comparisons use raw doubles with (score DESC,
    * id) tie-break — both engines compute identical IEEE arithmetic
    * from identical literals, the q126 margin precedent. */
  private def q139MmrRerank(s: SparkSession, d: String): DataFrame =
    mmrRerankCore(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      mmrNQueries, mmrK)

  /** The q139 core over any (vec_id, embedding) relation — see the q139
    * scaladoc; injectable for planted-data specs. */
  private[graft] def mmrRerankCore(e: DataFrame, nQueries: Int,
                                   k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cid"),
              NativeExprs.cosine_sim(col("embedding"), col("qv")).as("rel"))
    // one rank-ordered pool array per query (the TopKAgg output IS the
    // (rel DESC, cid) order the greedy start needs); cache() — lazy, and
    // deduped by canonicalized plan — because the pool feeds both the
    // sim-matrix vector lookup and the final greedy row.
    val poolAgg = scored.groupBy("q_id")
      .agg(TopKAgg.top_k_by_score(col("rel"), col("cid"), mmrPool).as("pool"))
      .cache()
    val poolIds = poolAgg
      .select(col("q_id"), explode(col("pool")).as("c"))
      .select(col("q_id"), col("c.id").as("cid"))
    val pv = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .join(broadcast(poolIds), "cid")
    // pool×pool sim matrix per query, folded into ONE lookup map —
    // (pool²) entries per query, constant-size by construction
    val simsMap = pv.as("x").join(pv.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.cid") =!= col("y.cid"))
      .select(col("x.q_id").as("q_id"),
              struct(concat_ws(":", col("x.cid"), col("y.cid")).as("key"),
                     NativeExprs.cosine_sim(col("x.cv"), col("y.cv"))
                       .as("value")).as("kv"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(col("kv"))).as("sm"))
    // the whole greedy loop as one codegen'd higher-order expression
    // over the per-query pool array + sim map — no joins, no per-step
    // stages; max(struct(m, -cid)) realizes the (m DESC, cid ASC)
    // argmax the oracle's row_number states
    poolAgg.join(simsMap, "q_id")
      .select(col("q_id"), posexplode(expr(mmrGreedyExpr(k))))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("step"),
              col("col.cid").as("cand_id"),
              (floor(col("col.m") * 1000000) / 1000000).as("mmr"))
      .orderBy("q_id", "step")
  }

  /** The unrolled-greedy MMR selection as a single SQL higher-order
    * fold: seed with the pool's rank-1 element, then [[mmrK]]−1 steps of
    * argmax(λ·rel − (1−λ)·max-sim-to-selected) over the not-yet-selected
    * pool. Identical IEEE operations to the oracle's chained CTEs. */
  private def mmrGreedyExpr(k: Int): String =
    s"""aggregate(
          sequence(2, $k),
          array(named_struct('cid', pool[0].id, 'm', pool[0].score)),
          (acc, i) -> concat(acc, transform(
            array(array_max(transform(
              filter(pool, p -> NOT exists(acc, s -> s.cid = p.id)),
              p -> named_struct(
                'm', ${mmrLambda}D * p.score - ${mmrComp}D *
                     array_max(transform(acc, s ->
                       element_at(sm, concat_ws(':', p.id, s.cid)))),
                'negcid', -p.id)))),
            b -> named_struct('cid', -b.negcid, 'm', b.m))))"""

  /** q139's oracle: the greedy loop UNROLLED into [[mmrK]] chained CTE
    * steps — each picks argmax (m DESC, cid) among the not-yet-selected
    * pool against the growing selected set; identical literals, raw-
    * double comparisons, floored only at the output boundary. */
  private def mmrOracleSql: String = {
    val steps = (2 to mmrK).map { i =>
      val prev = s"sel${i - 1}"
      s""",
        ms$i AS (SELECT s.q_id, s.a AS cid, max(s.sim) AS msim
                 FROM sims s JOIN $prev p
                   ON p.q_id = s.q_id AND p.cid = s.b
                 GROUP BY 1, 2),
        m$i AS (SELECT p.q_id, p.cid,
                       $mmrLambda * p.rel - $mmrComp * ms$i.msim AS m
                FROM pool p JOIN ms$i
                  ON ms$i.q_id = p.q_id AND ms$i.cid = p.cid
                WHERE NOT EXISTS (SELECT 1 FROM $prev x
                  WHERE x.q_id = p.q_id AND x.cid = p.cid)),
        s$i AS (SELECT q_id, $i AS step, cid, m FROM (
                  SELECT q_id, cid, m, row_number() OVER (PARTITION BY q_id
                    ORDER BY m DESC, cid) AS rn FROM m$i) WHERE rn = 1),
        sel$i AS (SELECT q_id, step, cid, m FROM $prev
                  UNION ALL SELECT q_id, step, cid, m FROM s$i)"""
    }.mkString
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e
              WHERE vec_id < $mmrNQueries),
        sc AS (SELECT q.q_id, e.vec_id AS cid,
                      list_cosine_similarity(e.v, q.qv) AS rel
               FROM e, q WHERE e.vec_id <> q.q_id),
        pool AS (SELECT q_id, cid, rel FROM (
                   SELECT q_id, cid, rel, row_number() OVER (
                     PARTITION BY q_id ORDER BY rel DESC, cid) AS rn
                   FROM sc) WHERE rn <= $mmrPool),
        pv AS (SELECT p.q_id, p.cid, e.v FROM pool p
               JOIN e ON e.vec_id = p.cid),
        sims AS (SELECT x.q_id, x.cid AS a, y.cid AS b,
                        list_cosine_similarity(x.v, y.v) AS sim
                 FROM pv x JOIN pv y
                   ON x.q_id = y.q_id AND x.cid <> y.cid),
        sel1 AS (SELECT q_id, 1 AS step, cid, rel AS m FROM (
                   SELECT q_id, cid, rel, row_number() OVER (
                     PARTITION BY q_id ORDER BY rel DESC, cid) AS rn
                   FROM pool) WHERE rn = 1)$steps
        SELECT q_id, CAST(step AS BIGINT) AS step, cid AS cand_id,
               floor(m * 1000000) / 1000000 AS mmr
        FROM sel$mmrK ORDER BY q_id, step"""
  }

  /** Count-min sketch geometry for q140: d hash rows × w buckets. */
  private val cmsD = 3
  private val cmsW = 1024
  private val hhK = 20

  /** q140: HEAVY HITTERS UNDER A COUNT-MIN SKETCH — the
    * Cormode-Muthukrishnan sketch realized as relational algebra: d
    * md5-derived hash rows × w buckets, each bucket the sum of counts
    * of tokens landing there; a token's estimate is the MIN over its d
    * buckets, which can only OVER-estimate (collisions add, never
    * subtract). The query audits the sketch against exact truth: for
    * the exact top-[[hhK]] tokens, exact count, CMS estimate and the
    * overestimate — the error a production pipeline accepts when the
    * vocabulary no longer fits anywhere (at 100 TB the exact token-
    * grain table is billions of rows; the CMS table is d·w = ${3 *
    * 1024} rows REGARDLESS of corpus size, and building it is one
    * partial-aggregatable groupBy whose map-side combine collapses
    * each partition to ≤ d·w cells before the shuffle — the sketch IS
    * the map-side combine). Fully integer end-to-end: estimates,
    * exacts and their difference cross engines bit-exactly with no
    * float anywhere. Top-k is a TakeOrderedAndProject (bounded heaps,
    * no vocabulary sort). */
  private def q140HeavyHitters(s: SparkSession, d: String): DataFrame =
    cmsHeavyHittersCore(Tables.documents(s, d), cmsD, cmsW, hhK)

  /** The q140 core over any (text) relation with injectable sketch
    * geometry — see the q140 scaladoc; planted-data specs shrink `w`
    * to force collisions and watch the min-of-rows estimate behave. */
  private[graft] def cmsHeavyHittersCore(docs: DataFrame, d: Int, w: Int,
                                         k: Int): DataFrame = {
    val tokC = docs
      .select(explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val tb = tokC.select(col("t"), col("cnt"),
        explode(array((0 until d).map(j =>
          struct(lit(j.toLong).as("j"),
                 (expr(s"cast(conv(substr(md5(concat('$j:', t)), 1, 15), " +
                       s"16, 10) as bigint)") % w).as("bkt"))): _*)).as("jb"))
      .select(col("t"), col("cnt"), col("jb.j").as("j"), col("jb.bkt").as("bkt"))
    val cms = tb.groupBy("j", "bkt").agg(sum("cnt").as("c"))
    val top = tokC.orderBy(col("cnt").desc, col("t")).limit(k)
    broadcast(top)
      .join(tb.select("t", "j", "bkt"), "t")
      .join(cms, Seq("j", "bkt"))
      .groupBy("t", "cnt").agg(min("c").as("cms_est"))
      .select(col("t").as("token"), col("cnt").as("exact_cnt"),
              col("cms_est"), (col("cms_est") - col("cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  /** Report size for q141. */
  private val driftK = 20

  /** q141: CORPUS DRIFT REPORT — the distribution-shift diagnostic run
    * between two crawls/snapshots before mixing them: token counts on
    * side A vs side B (here doc_id parity — the deterministic stand-in
    * for two snapshots) and the top tokens by |rate_A − rate_B|,
    * ranked by the INTEGER cross-product form |cnt_a·N_b − cnt_b·N_a|
    * (= the rate difference scaled by N_a·N_b) so ranking involves no
    * float at all; the readable per-million rate difference is one
    * floored division at the output boundary. A token surging between
    * snapshots is template/boilerplate churn or topic drift — the
    * signal that triggers re-weighting (q94) or re-sampling (q134)
    * before training on the union. Plan: token-grain count aggregate
    * (map-side combined), side totals as a ONE-ROW broadcast aggregate
    * (lazy — no driver job at build), top-k as TakeOrderedAndProject;
    * shuffles carry (token, two counts) only. The bigint cross
    * products hold to ~10^18 token corpora; past that the same
    * expressions run in decimal(38, 0) unchanged. */
  private def q141CorpusDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cnt_b"))
    val tot = counts.agg(sum("cnt_a").as("na"), sum("cnt_b").as("nb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("drift",
        abs(col("cnt_a") * col("nb") - col("cnt_b") * col("na")))
      .withColumn("rate_diff",
        floor((col("cnt_a") * col("nb") - col("cnt_b") * col("na"))
                .cast("double")
              / (col("na") * col("nb")).cast("double") * 1000000000)
          / 1000000000)
      .orderBy(col("drift").desc, col("t"))
      .limit(driftK)
      .select(col("t").as("token"), col("cnt_a"), col("cnt_b"),
              col("drift"), col("rate_diff"))
  }

  /** Low-entropy flag threshold for q142 (compared on the FLOORED
    * entropy so the flag is as deterministic as the value); shared with
    * the streaming gate so both forms agree on the boundary. */
  private[graft] val entThreshold = 2.0

  /** q142: TOKEN-ENTROPY QUALITY SIGNAL — per-document Shannon entropy
    * of the token distribution, H = ln(n) − (Σ c·ln c)/n: the
    * gibberish/repetition detector that catches what q32's ratio
    * heuristics and q49's fixed-lag repetition signals miss (a doc
    * cycling three tokens has high stopword-free ratios yet H ≈ ln 3;
    * random noise maximizes H at ln n). The identity form needs one ln
    * per DISTINCT token (not per occurrence) plus one ln(n). The
    * per-doc float sum Σ c·ln c is a token-SORTED left fold on both
    * engines (Spark `aggregate` over the sorted collect_list, DuckDB
    * `list_reduce` over `list(... ORDER BY t)`) — the q119 lesson: an
    * unordered float sum is partitioning-dependent and would break the
    * cross-engine hash. Plan: token-grain count, one doc-keyed
    * aggregation carrying (token, cnt) structs; at 100 TB the fold's
    * list is per-doc vocabulary-sized (bounded by doc length), never
    * corpus-sized. */
  private def q142TokenEntropy(s: SparkSession, d: String): DataFrame =
    tokenEntropyCore(Tables.documents(s, d))

  /** The q142 core over any (doc_id, text) relation — injectable for
    * exact-value specs (H = 0 for a one-token doc, ln k for a uniform
    * k-token doc). */
  private[graft] def tokenEntropyCore(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(expr(TextExprs.toks)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
    tc.groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
           count(lit(1)).as("distinct_tokens"),
           sort_array(collect_list(struct(col("t"), col("cnt")))).as("ts"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        (floor((log(col("n_tokens").cast("double")) -
          expr("""aggregate(transform(ts, x ->
                    cast(x.cnt as double) * ln(cast(x.cnt as double))),
                  cast(0 as double), (acc, x) -> acc + x)""")
            / col("n_tokens").cast("double")) * 1000000) / 1000000)
          .as("entropy"))
      .withColumn("low_entropy",
        when(col("entropy") < entThreshold, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** q143: NEAR-DUP DEGREE REPORT — the degree distribution of the
    * near-duplicate graph (q42's exact-verified pair set): how many
    * docs have 0, 1, 2, … near-duplicates. The shape of this histogram
    * is the first thing to read before trusting any dedup run — a
    * heavy tail means hub documents (boilerplate that near-dups
    * everything, the reason `capBuckets` exists), and the degree-0 mass
    * is the fraction of the corpus dedup will not touch at all. Plan:
    * the pair pipeline is q42's bounded LSH machinery, run exactly ONCE
    * (single-reference dataflow — one endpoint explode); the
    * zero-degree mass falls out of a left join against the corpus ids;
    * everything after the pairs is id-only (explode → doc-grain count →
    * join → degree-grain count). */
  private def q143NeardupDegree(s: SparkSession, d: String): DataFrame = {
    // single-reference dataflow: the pair pipeline feeds ONE explode
    // (both endpoints), and the zero-degree mass comes from a left join
    // against the corpus ids — the pair pipeline runs exactly once, no
    // multi-branch recompute, no subtraction row
    val deg = Dedup.minhashLshPairsCore(s, d)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("d"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** Hot keys reported by q145. */
  private val skewK = 10

  /** q145: JOIN-KEY SKEW REPORT — the diagnostic run BEFORE pointing a
    * 100 TB join at a key: per-key cardinality of the prospective join
    * key (user_id — the key the event log joins and buckets by), the
    * top-[[skewK]] hottest keys with their corpus share and their
    * skew ratio (count ÷ mean-per-key). A ratio ≫ 1 on the head key is
    * the signal that routes the join through [[Skew.saltedJoin]] or
    * AQE's skew split; without this report the first symptom is a
    * straggler task at hour three. Plan: one key-grain count aggregate
    * (map-side combined), totals as a lazy one-row broadcast aggregate,
    * top-k as TakeOrderedAndProject — the report costs one shuffle of
    * (key, count) pairs. Ratio/share are floored single divisions from
    * integer counts. */
  private def q145SkewReport(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val tot = keyed.agg(sum("cnt").as("total"), count(lit(1)).as("nkeys"))
    keyed.crossJoin(broadcast(tot))
      .select(col("user_id"), col("cnt"),
        (floor(col("cnt").cast("double") / col("total").cast("double")
               * 1000000) / 1000000).as("share"),
        (floor(col("cnt").cast("double") * col("nkeys").cast("double")
               / col("total").cast("double") * 1000) / 1000).as("skew_ratio"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(skewK)
  }

  /** q146: IQR OUTLIER AUDIT — Tukey-fence anomaly detection per group
    * (the numeric-column validation check every data-quality harness
    * ships): exact p25/p75 per event type, fences at ±1.5·IQR, count of
    * outliers and the largest high-side outlier. The inherent shape is
    * TWO passes — fences need the global distribution before any row
    * can be judged — with the first pass's output a group-count-sized
    * broadcast, which is exactly how a 100 TB scan does it (stats pass
    * → tiny broadcast → flag pass; no sort, no window). Exact
    * `percentile` interpolation is the q19-proven cross-engine surface;
    * fences are FLOORED (1e-6) before the comparison so the flag
    * boundary is the same literal double on both engines. */
  private def q146OutlierEvents(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           expr("percentile(value, 0.25)").as("p25"),
           expr("percentile(value, 0.75)").as("p75"))
      .withColumn("fence_hi",
        floor((col("p75") + (col("p75") - col("p25")) * 1.5) * 1000000)
          / 1000000)
      .withColumn("fence_lo",
        floor((col("p25") - (col("p75") - col("p25")) * 1.5) * 1000000)
          / 1000000)
    val outs = Tables.events(s, d).select(col("event_type"), col("value"))
      .join(broadcast(p.select("event_type", "fence_lo", "fence_hi")),
            "event_type")
      .groupBy("event_type")
      .agg(sum(when(col("value") > col("fence_hi")
                    || col("value") < col("fence_lo"), 1L).otherwise(0L))
             .as("n_outliers"),
           round(max(when(col("value") > col("fence_hi"), col("value"))), 2)
             .as("max_hi_outlier"))
    p.join(outs, "event_type")
      .select(col("event_type"), col("n"),
              (floor(col("p25") * 1000000) / 1000000).as("p25"),
              (floor(col("p75") * 1000000) / 1000000).as("p75"),
              col("n_outliers"), col("max_hi_outlier"))
      .orderBy("event_type")
  }

  /** Winnowing parameters for q151: token k-grams hashed, then the
    * minimum hash of every w-wide sliding window of consecutive k-gram
    * hashes is selected (Schleimer-Wilkerson-Aiken winnowing, the MOSS
    * fingerprinting scheme). */
  private val winK = 4
  private val winW = 4
  private val winMinShared = 2

  /** Document-frequency cap on the FINGERPRINT grain: a fingerprint
    * selected by more than this many documents is corpus boilerplate
    * (the q91 premise) with no pair-detection value, and it is exactly
    * what makes posting pair-generation quadratic. The cap bounds pair
    * work at cap·|postings| — linear in corpus size, the q127/q35
    * df-cut argument on winnowing's already-w×-sparser index. Measured
    * at sf0.1: uncapped self-join 2.97 s; capped SELF-JOIN 3.65 s (the
    * df pass recomputed the fingerprints — the q143 multi-reference
    * trap); join-free single-aggregation form 2.03 s. */
  private val winMaxDf = 64

  /** q151: WINNOWING FINGERPRINT OVERLAP — the MOSS algorithm: hash
    * every token [[winK]]-gram, keep only the MINIMUM hash of each
    * [[winW]]-wide sliding window, and report document pairs sharing at
    * least [[winMinShared]] selected fingerprints. Winnowing's guarantee
    * is what q111's every-window profile cannot give: a ~2/(w+1)
    * DENSITY bound — fingerprints per doc shrink by the window factor
    * while any shared substring of length ≥ k+w−1 tokens still yields a
    * shared fingerprint (the winnowing theorem), so the posting index
    * is a fraction of the full window index at the same detection
    * floor. That density factor IS the scale lever: at 100 TB the
    * fingerprint postings (8-byte hash, doc_id) are w× smaller than
    * q111's, the self-join work shrinks quadratically in it, and the
    * df-cut/capBuckets bound composes on the fingerprint grain exactly
    * as in q35/q42. Selection is per-row HOF arithmetic (no UDF, no
    * shuffle until the id-only postings); everything is md5-derived
    * integers — bit-exact cross-engine by construction. */
  private def q151Winnowing(s: SparkSession, d: String): DataFrame = {
    // join-FREE pair generation (the q116 pattern): ONE aggregation
    // keyed by fingerprint collects the (capped) sorted doc list, and
    // the ≤ cap²/2 pairs per fingerprint expand MAP-SIDE from it — no
    // posting self-join, no second winnowing pass for the df cut, and
    // the sorted list gives a < b by construction. Value-identical to
    // the df-capped self-join the oracle states.
    val byFp = winnowFingerprints(Tables.documents(s, d))
      .groupBy("fp").agg(sort_array(collect_list("doc_id")).as("ds"))
      .filter(size(col("ds")) between (2, winMaxDf))
    byFp.select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2), i ->
             transform(sequence(i + 1, size(ds) - 1), j ->
               struct(ds[i] AS a_id, ds[j] AS b_id))))""")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winMinShared)
      .orderBy("a_id", "b_id")
  }

  /** Selected fingerprints as (doc_id, fp) postings over any
    * (doc_id, text) relation — injectable for the planted guarantee
    * spec (shared substring of ≥ k+w−1 tokens ⇒ shared fingerprint).
    * Selection runs in the native one-pass kernel
    * ([[graft.functions.WinnowFingerprints]]); [[winnowExpr]] is the
    * value-identical declarative form the kernel is certified against
    * (StatsSpec) and the DuckDB oracle replays. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.NativeExprs
          .winnow_fingerprints(col("text"), winK, winW).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** Per-row winnowing selection: k-gram hashes → min-per-window →
    * distinct. Guarded for short docs (no k-gram → no fingerprint). */
  private[graft] def winnowExpr: String = {
    val kgram = (0 until winK).map(o => s"t[i + $o]").mkString(", ")
    TextExprs.let1(TextExprs.toks, "t",
      TextExprs.let1(
        s"""CASE WHEN size(t) >= $winK THEN
              transform(sequence(0, size(t) - $winK), i ->
                cast(conv(substr(md5(concat_ws(' ', $kgram)), 1, 15),
                          16, 10) as bigint))
            ELSE array() END""", "hs",
        s"""CASE WHEN size(hs) >= $winW THEN
              array_distinct(transform(sequence(1, size(hs) - ${winW - 1}),
                p -> array_min(slice(hs, p, $winW))))
            ELSE array() END"""))
  }

  /** Report size for q147. */
  private val bpeK = 20

  /** q147: BPE MERGE-PAIR STATISTICS — the table byte-pair-encoding
    * training is built on: occurrence-weighted counts of adjacent
    * character pairs inside tokens, reported for the top-[[bpeK]]
    * pairs. The highest-count pair IS the first BPE merge; training a
    * vocabulary is this statistic iterated over a shrinking symbol
    * table, and the distributed shape stays exactly this query's
    * (tokenizer training at corpus scale — the step before q30's
    * token counting can exist). Plan: the pair grain derives from the
    * DISTINCT-token vocabulary (Zipf-bounded), not the token stream —
    * each vocabulary entry explodes into its ≤ len−1 pairs weighted by
    * the token's occurrence count, so the explode touches vocab·len
    * rows regardless of corpus size; top-k is a TakeOrderedAndProject.
    * Fully integer. */
  private def q147BpePairs(s: SparkSession, d: String): DataFrame = {
    val tokC = Tables.documents(s, d)
      .select(explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    tokC.filter(length(col("t")) >= 2)
      .select(col("cnt"),
        explode(expr("transform(sequence(1, length(t) - 1), " +
                     "i -> substring(t, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("cnt").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(bpeK)
  }

  /** The corpus vocabulary as space-delimited symbol strings (' c a t ')
    * with occurrence counts — round 0 of BPE training. */
  private def bpeVocab0(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .select(expr(
        """concat(' ', array_join(
             transform(sequence(1, length(t)), i -> substring(t, i, 1)), ' '),
           ' ')""").as("s"),
        col("cnt"))

  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"), expr("split(trim(s), ' ')").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(w) - 1),
             i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"""))
        .as("g"))
      .select(col("cnt"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(sum("cnt").as("n"))

  private def bpeTop(pc: DataFrame): DataFrame =
    pc.agg(min(struct((-col("n")).as("negn"), col("w1"), col("w2"))).as("m"))
      .select(col("m.w1").as("mw1"), col("m.w2").as("mw2"),
              (-col("m.negn")).as("mn"))

  /** The 4-deep non-overlapping replace chain applying one merge whose
    * halves are the SQL expressions `a`/`b`, over symbol string `src`. */
  private def bpeReplaceChain(src: String, a: String, b: String): String =
    (1 to 4).foldLeft(src)((acc, _) =>
      s"replace($acc, concat(' ', $a, ' ', $b, ' '), concat(' ', $a, $b, ' '))")

  private def bpeApplyMerge(vocab: DataFrame, t: DataFrame): DataFrame =
    vocab.crossJoin(broadcast(t))
      .select(expr(bpeReplaceChain("s", "mw1", "mw2")).as("s"), col("cnt"))


  /** The learned 3-round merge chain — three lazy one-row elections
    * (shared by q186, which REPORTS them, and q202, which APPLIES them
    * to the corpus), memoized per (session, dataset) with each round's
    * election lazily checkpointed BEFORE the next round builds on it.
    * This is the trained-tokenizer artifact shape: the merge table is
    * trained once and every consumer reads the same artifact — and the
    * per-round checkpoints keep round n+1's plan from re-running rounds
    * 1..n's elections inside its own tree (the union/crossJoin forms
    * otherwise nest each election's full subtree in the next). */
  private def bpeMergeChain(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    graft.SessionMemo.getOrElseUpdate[(DataFrame, DataFrame, DataFrame)](s, "bpe.mergeChain", d)( {
      val vocab0 = bpeVocab0(s, d)
      val t1 = bpeTop(bpePairCounts(vocab0)).localCheckpoint(eager = false)
      val v1 = bpeApplyMerge(vocab0, t1)
      val t2 = bpeTop(bpePairCounts(v1)).localCheckpoint(eager = false)
      val v2 = bpeApplyMerge(v1, t2)
      val t3 = bpeTop(bpePairCounts(v2)).localCheckpoint(eager = false)
      (t1, t2, t3)
    })

  /** The un-memoized, un-checkpointed training chain — PlanSpec pins the
    * one-lazy-plan shape (the round-0 vocabulary exchange reused across
    * rounds) on THIS form; the declared queries read the memoized
    * artifact above. */
  private[graft] def bpeMergeChainCompute(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val vocab0 = bpeVocab0(s, d)
    val t1 = bpeTop(bpePairCounts(vocab0))
    val v1 = bpeApplyMerge(vocab0, t1)
    val t2 = bpeTop(bpePairCounts(v1))
    val v2 = bpeApplyMerge(v1, t2)
    val t3 = bpeTop(bpePairCounts(v2))
    (t1, t2, t3)
  }

  /** q186: BPE MERGE TRAINING, three rounds — q147 gives the FIRST
    * merge; this runs the actual training loop distributed: count
    * weighted symbol pairs over the vocabulary → elect the top pair →
    * apply the merge → recount, three times, emitting the learned merge
    * table (the artifact a tokenizer ships). Representation: each
    * vocabulary entry is a space-delimited SYMBOL STRING (' c a t '),
    * so applying a merge is plain string `replace` of ' a b ' with
    * ' ab ' — nested to depth 4: a deterministic replace-based
    * approximation of greedy BPE application, identical on both engines
    * (`replace` is left-to-right non-overlapping in each). For runs of
    * the merged SYMBOL the two can differ — an odd run of ≥5 merged
    * symbols replaces as 'aa a aa' where strict greedy BPE scans to
    * 'aa aa a' — so later rounds' pair counts are the replace
    * semantics' counts, not necessarily textbook BPE's; cross-engine
    * parity is unaffected because the oracle applies the identical
    * replace chain. Election
    * is one lazy broadcast `min(struct(-n, w1, w2))` row (n DESC, then
    * lexicographic — fully deterministic); each round's recount is the
    * q147/q180 bigram shape over the Zipf-bounded vocabulary, so the
    * whole 3-round chain is ONE lazy plan: three vocabulary-grain
    * map+agg passes with broadcast merge rows, no driver-side loop, no
    * job at construction. At corpus scale this is exactly how BPE
    * training distributes — the corpus contributes only token counts
    * once, and every iteration is vocabulary-sized. */
  private def q186BpeMerges(s: SparkSession, d: String): DataFrame = {
    val (t1, t2, t3) = bpeMergeChain(s, d)
    // filter the all-NULL election row: min(struct(...)) over an EMPTY
    // pair relation yields one null row, while the oracle's ORDER BY ...
    // LIMIT 1 yields zero — on a degenerate corpus (all single-character
    // tokens by some round) both engines must emit zero rows for that step
    def row(step: Int, t: DataFrame): DataFrame =
      t.filter(col("mw1").isNotNull)
        .select(lit(step.toLong).as("step"), col("mw1").as("sym1"),
                col("mw2").as("sym2"), col("mn").as("n_occurrences"))
    row(1, t1).unionByName(row(2, t2)).unionByName(row(3, t3))
      .orderBy("step")
  }

  /** q202: TOKENIZER APPLY — closes q186's train → apply loop: the
    * learned 3-merge table ENCODES the corpus, reporting per document
    * the whitespace token count, the BPE token count after the merges,
    * and fertility (BPE tokens per whitespace token, the standard
    * tokenizer-quality metric — higher means the vocabulary splits this
    * document's words into more pieces). Application is MAP-SIDE: the
    * three one-row elections broadcast onto the corpus scan, and each
    * document pays one projection — per token, char-split to a symbol
    * string, the same 4-deep replace chain per merge (q186's apply
    * semantics verbatim, so train and apply agree by construction), and
    * a symbol count — summed by a HOF `aggregate`; the corpus never
    * shuffles. At 100 TB this is exactly how tokenizer encoding
    * distributes: the merge table is vocabulary-sized and broadcast,
    * the corpus is embarrassingly parallel map work. Oracle: the q186
    * CTE chain producing the same three merges, then the same
    * replace-chain symbol count per document in SQL. */
  private def q202BpeApply(s: SparkSession, d: String): DataFrame = {
    val (t1, t2, t3) = bpeMergeChain(s, d)
    val merges = t1.select(col("mw1").as("a1"), col("mw2").as("b1"))
      .crossJoin(t2.select(col("mw1").as("a2"), col("mw2").as("b2")))
      .crossJoin(t3.select(col("mw1").as("a3"), col("mw2").as("b3")))
    val sym =
      """concat(' ', array_join(
           transform(sequence(1, length(t)), i -> substring(t, i, 1)), ' '),
         ' ')"""
    val applied = bpeReplaceChain(
      bpeReplaceChain(bpeReplaceChain(sym, "a1", "b1"), "a2", "b2"),
      "a3", "b3")
    Tables.documents(s, d)
      .select(col("doc_id"), expr(TextExprs.toks).as("w"))
      .crossJoin(broadcast(merges))
      .select(col("doc_id"), size(col("w")).cast("long").as("ws_tokens"),
        expr(s"""aggregate(w, cast(0 as bigint),
                   (acc, t) -> acc + size(split(trim($applied), ' ')))""")
          .as("bpe_tokens"))
      .withColumn("fertility", expr(
        """IF(ws_tokens = 0, cast(0 as double),
             floor(cast(bpe_tokens as double) * 1000 / ws_tokens) / 1000)"""))
      .orderBy("doc_id")
  }

  /** Sketch size for q195 — the k of the bottom-k MinHash. */
  private val srcSketchK = 128

  /** HLL bucket count for q208/q209 (p = 6). */
  private val hllM = 64
  /** alpha_m for m = 64 (Flajolet et al.'s bias constant). */
  private val hllAlpha = 0.709

  /** The map-side half of [[hllRegisters]] — (source, b, rho) rows
    * before the max-aggregation, factored so the combined streaming
    * register gate (StreamGate.docRegisters) can union this branch into
    * its one shared aggregation. */
  private[graft] def hllRegisterRows(sh: DataFrame): DataFrame =
    sh.select(col("source"), expr(s"h % $hllM").as("b"),
        expr(s"""CASE WHEN h div $hllM = 0 THEN 55
                 ELSE 55 - length(bin(h div $hllM)) END""").as("rho"))

  /** Deterministic HLL registers from the distinct (source, 60-bit h)
    * relation: bucket = h mod m, rho = leading-zero count of the
    * remaining 54 bits + 1 via the q198 binary-string-length kernel
    * (no log2, no libm). */
  private[graft] def hllRegisters(sh: DataFrame): DataFrame =
    hllRegisterRows(sh).groupBy("source", "b").agg(max("rho").as("m"))

  /** Close HLL registers into the raw estimate. Parity-hardened: each
    * register's harmonic term is INTEGERIZED as 2^(55 − M_b) (exact
    * BIGINT, so the per-source sum is exact in any partition order —
    * summing the dyadic doubles directly would need 56 mantissa bits
    * and become order-dependent); empty buckets contribute 2^55 each;
    * the estimate is alpha·m²·2^55 / that exact integer — double
    * conversions and the one division are single-rounded identically in
    * both engines. Raw formula only (no small-range linear counting —
    * it needs libm log, and the operating regime here is n ≫ 2.5 m
    * where the raw estimator is the correct branch anyway). */
  private[graft] def hllEstimate(reg: DataFrame): DataFrame =
    reg.groupBy("source")
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - m as int))"))
             .as("si"),
           count(lit(1)).as("nb"))
      .select(col("source"),
        expr(s"""cast(floor($hllAlpha * ${hllM * hllM}
                     * cast(shiftleft(cast(1 as bigint), 55) as double)
                     / cast(si + shiftleft(cast($hllM as bigint) - nb, 55)
                            as double)) as bigint)""").as("hll_est"))

  /** Linear-counting literal table: m·ln(m/V) for V = m − nb empty
    * buckets, all 63 small-range values BAKED as integer literals at
    * plan build (the q45 generated-literal pattern) and shared verbatim
    * with the oracle string — the correction runs with no libm call in
    * either engine, so it is exactly as parity-safe as the raw
    * formula. q208's operating regime (n ≫ 2.5 m) never takes this
    * branch; q255's low-NDV catalog columns live in it. */
  private def lcCase(nbCol: String): String = {
    val whens = (1 until hllM).map { nb =>
      val v = hllM - nb
      s"WHEN $nbCol = $nb THEN ${Math.round(hllM * Math.log(hllM.toDouble / v)).toInt}"
    }.mkString(" ")
    s"CASE $whens ELSE -1 END"
  }

  /** [[hllEstimate]] with the standard small-range branch: when buckets
    * remain empty and the raw estimate is ≤ 2.5 m, linear counting
    * (via [[lcCase]]'s baked table) replaces the raw formula. */
  private def hllEstimateCorrected(reg: DataFrame): DataFrame =
    reg.groupBy("source")
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - m as int))"))
             .as("si"),
           count(lit(1)).as("nb"))
      .select(col("source"), col("nb"),
        expr(s"""cast(floor($hllAlpha * ${hllM * hllM}
                     * cast(shiftleft(cast(1 as bigint), 55) as double)
                     / cast(si + shiftleft(cast($hllM as bigint) - nb, 55)
                            as double)) as bigint)""").as("raw"))
      .select(col("source"),
        expr(s"""cast(CASE WHEN nb < $hllM AND raw <= ${(2.5 * hllM).toInt}
                 THEN ${lcCase("nb")} ELSE raw END as bigint)""").as("hll_est"))

  /** q208: DETERMINISTIC HLL DISTINCT SKETCH — per-source distinct-
    * shingle cardinality from 64 max-registers instead of the full
    * distinct set: the gateable version of what q28's built-in
    * approx_count_distinct can only bound with a tolerance boolean
    * (engine-private HLL internals differ; THIS sketch is deterministic
    * arithmetic both engines compute identically, so the gate proves
    * the estimator itself, value-exactly). The exact distinct count
    * rides along per source with the floored error ratio — estimator
    * certified against ground truth at test scale, the q195 pattern on
    * the cardinality axis. Plan: the register build folds into the
    * distinct-shingle scan (64 rows per source leave it); the exact
    * side is certification-only at 100 TB. */
  private def q208HllDistinct(s: SparkSession, d: String): DataFrame = {
    val sh = srcShingles(s, d)
    val est = hllEstimate(hllRegisters(sh))
    val exact = sh.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, "source")
      .withColumn("err_ratio", expr(
        """IF(exact_distinct = 0, cast(0 as double),
             floor(cast(abs(hll_est - exact_distinct) as double) * 1000
                   / exact_distinct) / 1000)"""))
      .orderBy("source")
  }

  /** q209: HLL MERGE ≡ REBUILD — the property that makes the q208
    * sketch operationally useful: registers from independent corpus
    * shards merge by per-bucket MAX without rescanning (max is the
    * union's max). The corpus splits into two halves by doc_id, each
    * half builds its own registers, the halves merge by max, and the
    * merged registers drive the SAME estimator — while the ORACLE
    * recomputes the estimate from the full corpus in one pass, so a
    * hash match PROVES merge ≡ rebuild (q196's certification on the
    * cardinality axis; how a daily-ingest pipeline keeps per-source
    * cardinality dashboards current without weekly full scans). */
  private def q209HllMerge(s: SparkSession, d: String): DataFrame = {
    val shHalf = Tables.documents(s, d)
      .select(col("source"), (col("doc_id") >= 250).as("half"),
              explode(NativeExprs.word_shingles(col("text"))).as("sg"))
      .select(col("source"), col("half"),
              expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)")
                .as("h"))
      .distinct()
    val perHalf = shHalf
      .select(col("source"), col("half"), expr(s"h % $hllM").as("b"),
        expr(s"""CASE WHEN h div $hllM = 0 THEN 55
                 ELSE 55 - length(bin(h div $hllM)) END""").as("rho"))
      .groupBy("source", "half", "b").agg(max("rho").as("m"))
    val merged = perHalf.groupBy("source", "b").agg(max("m").as("m"))
    hllEstimate(merged).orderBy("source")
  }

  /** Columns q255 profiles — integer/char lineitem columns whose string
    * casts are engine-identical (doubles/dates are excluded: their
    * string renderings differ across engines). */
  private val analyzeCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus")

  /** q255: ANALYZE-STYLE COLUMN STATISTICS — per-column distinct-value
    * cardinality (NDV), the catalog statistic every cost-based planner
    * reads before choosing join order, broadcast side and shuffle
    * partition counts (q249 predicts one join's size from degree
    * relations; NDV is the one-number summary the planner uses when it
    * has no degrees). One pass fans each row out to (column, value)
    * pairs map-side; the q208 deterministic HLL folds them into 64
    * max-registers per column — so at 100 TB the ANALYZE sweep ships
    * S·64 register rows, one scan for every column at once, and shards
    * merge by max (q209) — with the exact NDV riding beside the
    * estimate as the certification side, error ratio floored. */
  private def q255AnalyzeStats(s: SparkSession, d: String): DataFrame = {
    val structs = analyzeCols
      .map(c => s"named_struct('source', '$c', 'v', cast($c as string))")
      .mkString(", ")
    val vals = Tables.lineitem(s, d)
      .select(explode(expr(s"array($structs)")).as("p"))
      .select(col("p.source").as("source"), col("p.v").as("v"))
      .distinct()
      .select(col("source"),
              expr("cast(conv(substr(md5(v), 1, 15), 16, 10) as bigint)")
                .as("h"))
    val est = hllEstimateCorrected(hllRegisters(vals))
    val exact = vals.groupBy("source").agg(count(lit(1)).as("exact_ndv"))
    exact.join(est, "source")
      .withColumn("err_ratio", expr(
        """IF(exact_ndv = 0, cast(0 as double),
             floor(cast(abs(hll_est - exact_ndv) as double) * 1000
                   / exact_ndv) / 1000)"""))
      .select(col("source").as("col_name"), col("exact_ndv"),
              col("hll_est"), col("err_ratio"))
      .orderBy("col_name")
  }

  /** The distinct (source, 60-bit shingle hash) relation both sides of
    * q195 derive from — the per-source shingle universe. */
  private def srcShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
              explode(NativeExprs.word_shingles(col("text"))).as("sg"))
      .select(col("source"),
              expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)")
                .as("h"))
      .distinct()

  /** CERTIFICATION-ONLY exact pairwise overlap (src_a, src_b, nab): the
    * full h-keyed self-join of the shingle relation, Σ df² over the
    * shared-hash vocabulary. This exists so the q195 gate can certify
    * the bottom-k ESTIMATOR against its ground truth at test scale — a
    * production run at 100 TB ships the S×k sketches alone (one
    * bounded-heap pass riding the corpus scan) and never executes this
    * join. Kept separate from q116's overlap matrix deliberately: q116
    * counts shared 8-token WINDOW hashes (span-level diagnostic), this
    * counts shared 3-word SHINGLES (the resemblance universe) — same
    * shape, different vocabulary, not a shareable relation. */
  private def srcOverlapExact(sh: DataFrame): DataFrame =
    sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("nab"))

  /** SOURCE-LEVEL SKETCH SIMILARITY — dataset-to-dataset resemblance at
    * sketch cost: each source's distinct-shingle set collapses to its
    * bottom-[[srcSketchK]] MinHash (smallest 60-bit md5 hashes, the
    * Broder bottom-k sketch), and every source pair's Jaccard is
    * estimated as |S_k(A∪B) ∩ S(A) ∩ S(B)| / k — the two-crawls-overlap
    * question q116 answers exactly, answered from S × k longs instead
    * of the full window-hash matrix (at 100 TB the sketches are the
    * only thing that leaves the corpus scan). The exact distinct-
    * shingle Jaccard rides along per pair, so the gate certifies the
    * ESTIMATOR against its ground truth, not just its plumbing.
    * Parity: bottom-k via the bounded-heap TopKAgg ranked by −h —
    * double rounding of a 60-bit score is monotone non-strict and ties
    * break by the exact integer id, so the selected set is exactly
    * ORDER BY h LIMIT k; everything after is integer list arithmetic.
    * Plan: one distinct (source, h) relation feeds the per-source heap
    * (≤ k rows per map partition into the shuffle), the pair grid is
    * S² rows of sketches, and the exact side is [[srcOverlapExact]] —
    * CERTIFICATION-ONLY (see its doc): the 100 TB production plan
    * ships the sketches alone. Not shared with q116: that operator's
    * overlap universe is 8-token window hashes (the exact-substring
    * span diagnostic), this one's is 3-word shingles (the resemblance
    * estimator's own universe) — one relation cannot serve both
    * without changing an operator's semantics. */
  private def q195SourceSketch(s: SparkSession, d: String): DataFrame = {
    val sh = srcShingles(s, d)
    val sk = sh.groupBy("source")
      .agg(TopKAgg.top_k_by_score((-col("h")).cast("double"), col("h"),
                                  srcSketchK).as("top"),
           count(lit(1)).as("sz"))
      .select(col("source"), expr("transform(top, e -> e.id)").as("sketch"),
              col("sz"))
    val pairs = sk.select(col("source").as("src_a"), col("sketch").as("sa"),
                          col("sz").as("za"))
      .crossJoin(sk.select(col("source").as("src_b"), col("sketch").as("sb"),
                           col("sz").as("zb")))
      .filter(col("src_a") < col("src_b"))
    pairs.join(srcOverlapExact(sh), Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("nab"))
      .select(col("src_a"), col("src_b"),
        expr(s"""floor(size(filter(slice(array_sort(array_distinct(concat(sa, sb))),
                                         1, $srcSketchK),
                               x -> array_contains(sa, x) AND array_contains(sb, x)))
                       * cast(1000 as double) / $srcSketchK) / 1000""")
          .as("j_est"),
        expr("floor(cast(nab as double) * 1000 / (za + zb - nab)) / 1000")
          .as("j_exact"))
      .orderBy("src_a", "src_b")
  }

  /** SKETCH MERGE ≡ REBUILD — the property that makes bottom-k sketches
    * operationally useful: a new batch's sketch merges into the stored
    * one WITHOUT rescanning the corpus (bottom-k of the union = bottom-k
    * of the two bottom-ks — any global bottom-k element is bottom-k
    * within its own half). The corpus splits into two halves by doc_id,
    * each half builds its own per-source sketch, the halves merge by
    * pure list arithmetic, and the merged sketches drive the SAME pair
    * estimator as q195 — while the ORACLE recomputes the estimate from
    * the FULL corpus in one pass, so a hash match PROVES merge ≡
    * rebuild (the q157 append-equals-rebuild certification applied to
    * the sketch tier; this is how a daily-ingest pipeline keeps
    * dataset-overlap dashboards current without weekly full scans). */
  private def q196SketchMerge(s: SparkSession, d: String): DataFrame = {
    val shHalf = Tables.documents(s, d)
      .select(col("source"), (col("doc_id") >= 250).as("half"),
              explode(NativeExprs.word_shingles(col("text"))).as("sg"))
      .select(col("source"), col("half"),
              expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)")
                .as("h"))
      .distinct()
    val perHalf = shHalf.groupBy("source", "half")
      .agg(TopKAgg.top_k_by_score((-col("h")).cast("double"), col("h"),
                                  srcSketchK).as("top"))
      .select(col("source"), expr("transform(top, e -> e.id)").as("sketch"))
    val merged = perHalf.groupBy("source")
      .agg(collect_list(col("sketch")).as("sks"))
      .select(col("source"),
        expr(s"slice(array_sort(array_distinct(flatten(sks))), 1, $srcSketchK)")
          .as("sketch"))
    merged.select(col("source").as("src_a"), col("sketch").as("sa"))
      .crossJoin(merged.select(col("source").as("src_b"), col("sketch").as("sb")))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        expr(s"""floor(size(filter(slice(array_sort(array_distinct(concat(sa, sb))),
                                         1, $srcSketchK),
                               x -> array_contains(sa, x) AND array_contains(sb, x)))
                       * cast(1000 as double) / $srcSketchK) / 1000""")
          .as("j_est"))
      .orderBy("src_a", "src_b")
  }

  /** q215: TWO-SAMPLE KS DISTANCE BETWEEN SOURCE LENGTH DISTRIBUTIONS —
    * the distribution-level drift test run when deciding whether two
    * acquisition sources (or two crawl snapshots) can share one
    * length-sensitive processing config (packing length q206, chunk
    * width q90, length-normalized quality cuts q32): the
    * Kolmogorov–Smirnov statistic D = max_v |F_a(v) − F_b(v)| over
    * per-source document-length ECDFs, for every source pair. The
    * token-level complement of q141 (which ranks individual tokens by
    * rate shift; this compares whole marginal distributions in one
    * number with a distribution-free null). Parity hardening: ECDF
    * differences are compared as the INTEGER cross-product
    * |cum_a·n_b − cum_b·n_a| (the q141 trick), so the max is exact in
    * any partition order and the reported D is one single-rounded
    * floored division. Shape: the corpus collapses to per-(source,
    * length) counts in one partial-folding aggregate — the only
    * corpus-sized pass; everything after lives on the |V|·S evaluation
    * grid (V = distinct length values, S = sources), which is
    * value-domain-sized, not corpus-sized. The grid completes each
    * source's step function at every global value via a
    * values×sources cross join + one cumulative window per source,
    * and the pair join runs on the value key with per-value fan-out
    * S². At 100 TB the identical plan runs over BINNED lengths
    * (width-b histogram ECDF, DKW-bounded error b·density), which
    * caps |V| regardless of domain. */
  private def q215LengthKs(s: SparkSession, d: String): DataFrame =
    lengthKsCore(Tables.documents(s, d), binWidth = 1L)

  /** The q215 core over any (source, n_chars) relation, parameterized
    * by the SCALE KNOB: `binWidth` buckets lengths before the ECDF, so
    * the evaluation grid is |domain|/binWidth values regardless of how
    * many distinct lengths the corpus has. Binning only SHRINKS the
    * statistic — the binned ECDFs agree with the exact ones at every
    * bin boundary, so the binned max runs over a subset of the exact
    * max's evaluation points: D_binned ≤ D_exact always, with the gap
    * bounded by the largest per-bin mass (the DKW-style argument);
    * ScaleSpec asserts both the subset bound and that binWidth = 1
    * reproduces the declared query exactly.
    *
    * BROADCAST INVARIANT (ADVICE r15): [[lengthKsFromCounts]] force-
    * broadcasts the |V|·S ECDF grid, and |V| ≤ max(n_chars)/binWidth —
    * the knob's value IS the broadcast-safety bound. A caller widening
    * the value domain (raw byte lengths, token counts, a new fixture)
    * must raise binWidth so |V|·S stays in the low millions of rows;
    * binWidth = 1 is safe here only because n_chars is capped by the
    * document generator (max ~10⁴ distinct lengths at any corpus
    * scale). Misconfiguring the knob risks a driver/executor OOM, not
    * a graceful sort-merge fallback — the hint bypasses AQE's size
    * check by design (the register sink is stats-free). */
  private[graft] def lengthKsCore(docsIn: DataFrame,
                                  binWidth: Long): DataFrame =
    lengthKsFromCounts(docsIn
      .select(col("source"), expr(s"n_chars div $binWidth").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("c")))

  /** The KS tail over a pre-aggregated (source, v, c) count relation —
    * the registers q240 maintains in-stream; everything here is
    * value-domain-sized. */
  private[graft] def lengthKsFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy("source").agg(sum("c").as("n"))
    val values = counts.select("v").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val ecdf = values.crossJoin(broadcast(totals))
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("n"),
              coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum", sum("c").over(w))
    // the pair join's right side is the |V|·S grid itself —
    // value-domain-sized BY CONSTRUCTION (the binWidth knob caps |V| at
    // any corpus scale), so broadcasting it is safe at 100 TB and
    // collapses what the stats-free register sink otherwise plans as a
    // sort-merge join (two extra shuffles + sorts on a tiny relation —
    // measured as most of q240's 1.6 s steady-state tail)
    ecdf.as("a").join(broadcast(ecdf.as("b")),
        col("a.v") === col("b.v") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
               col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(max(abs(col("a.cum") * col("b.n") - col("b.cum") * col("a.n")))
             .as("d_int"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("d_int"),
        expr("""floor(cast(d_int as double)
                      / (cast(n_a as double) * n_b) * 1000000) / 1000000""")
          .as("ks"))
      .orderBy("src_a", "src_b")
  }

  /** q222: VOCABULARY GROWTH CURVE — Heaps'-law saturation: distinct
    * vocabulary and type/token ratio at each decile prefix of the
    * corpus in doc_id (arrival) order. The curve answers the
    * acquisition question q141/q215 frame between snapshots — is more
    * of THIS source still adding types, or has its vocabulary
    * saturated (a flattening curve means new data is recombination,
    * not novelty — the diminishing-returns signal corpus planning
    * reads). One token explode feeds a per-token min(doc_id)
    * FIRST-OCCURRENCE aggregate (partial-folding; the same relation
    * as q113's novelty but token-grain); after that everything is
    * vocabulary-sized: the 10-row cut relation (from a lazy one-row
    * count broadcast) joins the first-occurrence table and the
    * per-doc token counts, both bounded fan-out ×10. Integer counts
    * everywhere, one floored division per output row. */
  private def q222VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val firstDoc = docs
      .select(col("doc_id"), explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(min("doc_id").as("fd"))
    val perDoc = docs.select(col("doc_id"),
      expr(s"size(${TextExprs.toks})").cast("long").as("n_tok"))
    val cuts = perDoc.agg(count(lit(1)).as("nd"))
      .select(explode(expr("sequence(1, 10)")).as("k"), col("nd"))
      .select(col("k").cast("long").as("decile"),
              expr("cast((nd * k) div 10 as bigint)").as("n_docs"))
    val vocab = firstDoc.crossJoin(broadcast(cuts))
      .filter(col("fd") < col("n_docs"))
      .groupBy("decile", "n_docs").agg(count(lit(1)).as("vocab"))
    val toksum = perDoc.crossJoin(broadcast(cuts))
      .filter(col("doc_id") < col("n_docs"))
      .groupBy("decile", "n_docs").agg(sum("n_tok").as("cum_tokens"))
    vocab.join(toksum, Seq("decile", "n_docs"))
      .select(col("decile"), col("n_docs"), col("cum_tokens"), col("vocab"),
        expr("""floor(cast(vocab as double) / cum_tokens * 1000000)
                / 1000000""").as("ttr"))
      .orderBy("decile")
  }

  /** q225: SOURCE LEXICAL DIVERSITY — Simpson concentration and
    * inverse-Simpson effective vocabulary per source: the probability
    * two tokens drawn from the source coincide (Σc² / N²) and its
    * reciprocal, the "effective number of distinct tokens" — the
    * source-grain diversity index beside q142's per-document entropy
    * (and, like q198/q208, chosen over Shannon-at-source precisely
    * because it needs NO log: Σc² is an exact BIGINT in any partition
    * order and both outputs are one floored division of exact
    * integers). The procurement read: two sources with equal token
    * mass but 10× different effective vocabulary contribute very
    * different diversity per token to a mixture (q205/q220), and a
    * crashing eff_vocab across a crawl's snapshots flags template
    * flooding. One (source, token) count aggregate — partial-folding,
    * count rows only — then an S-row rollup. */
  private def q225SourceDiversity(s: SparkSession, d: String): DataFrame = {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(expr(TextExprs.toks)).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    tc.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("distinct_tokens"),
           sum(col("c") * col("c")).as("sumsq"))
      .select(col("source"), col("n_tokens"), col("distinct_tokens"),
        col("sumsq"),
        expr("""floor(cast(sumsq as double)
                      / (cast(n_tokens as double) * n_tokens) * 1000000)
                / 1000000""").as("simpson"),
        expr("""floor(cast(n_tokens as double) * n_tokens / sumsq * 1000)
                / 1000""").as("eff_vocab"))
      .orderBy("source")
  }

  /** Support floor and per-source k for q228. */
  private val dtMinCount = 5
  private val dtK = 5

  /** q228: DISTINCTIVE TERMS PER SOURCE — each source's top-k
    * characteristic vocabulary by rate lift (term rate in the source
    * vs the corpus, the q180 ratio form: integer-derived doubles, no
    * log — TF-IDF's signal without libm in the gate). The qualitative
    * companion to q225's diversity scalar and q141's cross-snapshot
    * drift: "what IS this source about", read before weighting it in
    * a q205 mixture and after any crawl refresh (a source whose
    * distinctive terms turn navigational went template-flooded).
    * Per-group top-k with STRING payloads through the long-id
    * bounded heap: terms rank under their 60-bit md5-prefix id (the
    * q81/q120 hash idiom — ties on floored lift break by term id on
    * both engines) and the winning ids join back to the scored
    * relation to recover the term and its count — two joins of
    * count rows, vocabulary-sized; the corpus contributes one
    * (source, term) count pass. */
  private def q228DistinctTerms(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("source"), explode(expr(TextExprs.toks)).as("t"))
    // FOUR independent aggregation grains over the token stream — the
    // r15 form, RESTORED in r17 after paired adjudication. The r16
    // "one tokenize pass" rewrite (tt/ns/tot re-derived from st by
    // integer sums) reads better on paper (guide §2.4) but measured
    // SLOWER everywhere it was checked in-suite: the driver's r16
    // bench (1.00 → 1.27 s) and both r17 alternating subset pairs
    // (load-normalized revert ratio 0.92 / 0.83). Cause: deriving
    // every grain from st serializes the plan behind st's (source, t)
    // exchange — a longer stage critical path — while the four
    // independent aggregates pipeline off one scan with partial
    // aggregation each; at this corpus the extra tokenize passes are
    // cheaper than the lost overlap. Revisit only at a scale where
    // tokenize dominates the stage graph.
    val st = tk.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
    val tt = tk.groupBy("t").agg(count(lit(1)).as("c_t"))
    val ns = tk.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = tk.agg(count(lit(1)).as("n_tot"))
    val scored = st.join(tt, Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .filter(col("c_st") >= dtMinCount)
      .select(col("source"), col("t"), col("c_st"),
        expr("""floor(cast(c_st as double) * n_tot
                      / (cast(c_t as double) * n_s) * 1000) / 1000""")
          .as("lift"),
        expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").as("tid"))
    val top = scored.groupBy("source")
      .agg(TopKAgg.top_k_by_score(col("lift"), col("tid"), dtK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("source"), (col("i") + 1).cast("long").as("rnk"),
              col("e.id").as("tid"))
    top.join(scored, Seq("source", "tid"))
      .select(col("source"), col("rnk"), col("t").as("term"), col("c_st"),
              col("lift"))
      .orderBy("source", "rnk")
  }

  /** Context window radius for q233 (±2, the word2vec default grain). */
  private val sgWindow = 2

  /** The map-side (center, context) pair fan-out of q233: every
    * directed token pair within the ± [[sgWindow]] window, one nested
    * transform per document — no positional self-join, no (doc, pos)
    * shuffle. Scale adjudication (round-14, ×10/×100 Zipf corpora):
    * the operator is SCAN-BOUND and linear at the second decade
    * (1.15 s → 18.7 → 199 ≈ ×10.6 per decade warm) — the first-decade
    * ×16 is fixed-cost amortization plus the partial-agg spill
    * constant, not an asymptote. A deterministic frequency-bound prune
    * (pair count ≤ min unigram count; threshold from an exact top-M
    * sub-universe head) was built and MEASURED WORSE at every decade
    * (sf0.1 3.5 vs 1.15; ×10 22.6 vs 18.7; ×100 248 vs 199): the
    * prune's second fan-out pass costs more than the pruned aggregate
    * saves, because the map-side partial agg already collapses the hot
    * pair mass and rare pair types cross the exchange once each —
    * recorded negative, PERF.md round 14. */
  private def sgPairs(docs: DataFrame): DataFrame =
    docs.select(expr(TextExprs.toks).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, size(w)), i ->
              transform(sequence(greatest(1, i - $sgWindow),
                                 least(size(w), i + $sgWindow)), j ->
                IF(i = j, null,
                   struct(element_at(w, i) AS t,
                          element_at(w, j) AS ctx)))))""")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.t").as("t"), col("p.ctx").as("ctx"))

  /** q233: SKIP-GRAM CO-OCCURRENCE COUNTS — the (center, context)
    * count table word-embedding training (word2vec SGNS, GloVe's
    * X_ij) is built from: every directed token pair within a ±2
    * window, counted corpus-wide, top-50 by count. The WINDOW grain
    * distinguishes it from q180's strict-adjacency collocations — a
    * context two tokens away still counts here, which is what makes
    * the table an embedding-training input rather than a phrase
    * detector. Plan shape is the part that matters at 100 TB: the
    * pair fan-out is MAP-SIDE (one nested `transform` over each
    * document's token array — no positional self-join, no (doc, pos)
    * shuffle; the naive join form shuffles the whole token stream
    * with positions), counts partial-fold, and the output is
    * TakeOrderedAndProject; the oracle computes the same multiset
    * through DuckDB's positional self-join, so the gate also proves
    * the map-side fan-out ≡ the relational definition. */
  private def q233SkipgramCounts(s: SparkSession, d: String): DataFrame =
    sgPairs(Tables.documents(s, d))
      .groupBy("t", "ctx").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"), col("ctx"))
      .limit(50)

  /** q234: NEGATIVE-SAMPLING NOISE DISTRIBUTION — the unigram^(3/4)
    * table word2vec-style training draws negatives from (the 0.75
    * exponent that up-weights rare words relative to natural
    * frequency is the published constant): per token, count,
    * integerized weight and noise probability beside the natural
    * frequency, top-50 by count. The q233 pair: together they are
    * the complete data-prep input of an SGNS trainer. Parity: c^0.75
    * evaluates as sqrt(c·sqrt(c)) — two IEEE-correctly-rounded sqrts
    * and one exact product (c·sqrt(c) < 2^53 at any real count), so
    * the floored weight is bit-identical cross-engine with no pow();
    * the weight total is an exact BIGINT and each probability one
    * single-rounded floored division. One vocabulary-grain count
    * pass; the corpus never shuffles tokens twice. */
  private def q234NoiseDistribution(s: SparkSession, d: String): DataFrame = {
    val uc = Tables.documents(s, d)
      .select(explode(expr(TextExprs.toks)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .withColumn("w",
        expr("""cast(floor(sqrt(cast(c as double) * sqrt(cast(c as double)))
                           * 1000) as bigint)"""))
    val tot = uc.agg(sum("w").as("wtot"), sum("c").as("ctot"))
    uc.crossJoin(broadcast(tot))
      .select(col("t"), col("c"), col("w"),
        expr("floor(cast(w as double) / wtot * 1000000000) / 1000000000")
          .as("noise_p"),
        expr("floor(cast(c as double) / ctot * 1000000000) / 1000000000")
          .as("natural_p"))
      .orderBy(col("c").desc, col("t"))
      .limit(50)
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q233_skipgram_counts" -> q233SkipgramCounts _,
    "q234_noise_distribution" -> q234NoiseDistribution _,
    "q228_distinct_terms" -> q228DistinctTerms _,
    "q225_source_diversity" -> q225SourceDiversity _,
    "q222_vocab_growth" -> q222VocabGrowth _,
    "q215_length_ks" -> q215LengthKs _,
    "q196_sketch_merge" -> q196SketchMerge _,
    "q195_source_sketch" -> q195SourceSketch _,
    "q208_hll_distinct" -> q208HllDistinct _,
    "q255_analyze_stats" -> q255AnalyzeStats _,
    "q209_hll_merge" -> q209HllMerge _,
    "q186_bpe_merges" -> q186BpeMerges _,
    "q202_bpe_apply" -> q202BpeApply _,
    "q151_winnowing" -> q151Winnowing _,
    "q147_bpe_pairs" -> q147BpePairs _,
    "q145_skew_report" -> q145SkewReport _,
    "q146_outlier_events" -> q146OutlierEvents _,
    "q137_weighted_sample" -> q137WeightedSample _,
    "q138_cluster_purity" -> q138ClusterPurity _,
    "q139_mmr_rerank" -> q139MmrRerank _,
    "q140_heavy_hitters" -> q140HeavyHitters _,
    "q141_corpus_drift" -> q141CorpusDrift _,
    "q142_token_entropy" -> q142TokenEntropy _,
    "q143_neardup_degree" -> q143NeardupDegree _,
  )

  /** The DuckDB 4-deep replace chain applying merge CTE `t` (columns
    * w1/w2) over the symbol-string expression `src`. */
  private def bpeOracleReplaceChain(src: String, t: String): String = {
    val pat = s"' ' || $t.w1 || ' ' || $t.w2 || ' '"
    val rep = s"' ' || $t.w1 || $t.w2 || ' '"
    (1 to 4).foldLeft(src)((acc, _) => s"replace($acc, $pat, $rep)")
  }

  /** The 3-round training CTE chain (v0..t3), generated mechanically:
    * each round is the q180-shape bigram recount over the symbol
    * strings, a (n DESC, w1, w2) LIMIT-1 election, and the same 4-deep
    * `replace` application; `replace` is left-to-right non-overlapping
    * in DuckDB exactly as in the JVM, so the rounds agree by
    * construction. Shared by the q186 (report merges) and q202 (apply
    * merges) oracles. */
  private def bpeChainCtes: String = {
    def pc(v: String, name: String) =
      s"""$name AS (SELECT split_part(gram, ' ', 1) AS w1,
                split_part(gram, ' ', 2) AS w2,
                CAST(sum(cnt) AS BIGINT) AS n
         FROM (SELECT cnt,
                      unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
                        AS gram
               FROM (SELECT cnt, w FROM
                       (SELECT cnt, string_split(trim(s), ' ') AS w FROM $v)
                     WHERE len(w) >= 2))
         GROUP BY 1, 2)"""
    def tp(p: String, name: String) =
      s"$name AS (SELECT w1, w2, n FROM $p ORDER BY n DESC, w1, w2 LIMIT 1)"
    def ap(v: String, t: String, name: String) =
      s"$name AS (SELECT ${bpeOracleReplaceChain(s"$v.s", t)} AS s, cnt FROM $v, $t)"
    s"""v0 AS (
           SELECT ' ' || array_to_string([t[i] for i in range(1, len(t) + 1)], ' ')
                  || ' ' AS s, cnt
           FROM (SELECT t, count(*) AS cnt
                 FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
                       FROM documents)
                 GROUP BY t)),
         ${pc("v0", "pc1")},
         ${tp("pc1", "t1")},
         ${ap("v0", "t1", "v1")},
         ${pc("v1", "pc2")},
         ${tp("pc2", "t2")},
         ${ap("v1", "t2", "v2")},
         ${pc("v2", "pc3")},
         ${tp("pc3", "t3")}"""
  }

  private def bpeMergesOracleSql: String =
    s"""WITH $bpeChainCtes
         SELECT CAST(1 AS BIGINT) AS step, w1 AS sym1, w2 AS sym2,
                n AS n_occurrences FROM t1
         UNION ALL SELECT 2, w1, w2, n FROM t2
         UNION ALL SELECT 3, w1, w2, n FROM t3
         ORDER BY step"""

  /** The distinct (source, 60-bit shingle hash) oracle CTE `sh`, shared
    * by the HLL pair and the q195/q196 sketches. */
  private def sourceShCte: String =
    s"""sh AS (SELECT DISTINCT source,
                CAST(('0x' || substr(md5(sg), 1, 15)) AS BIGINT) AS h
           FROM (SELECT source, unnest(shingles) AS sg
                 FROM (${TextExprs.duckShingleSet("source")})))"""

  /** q195/q196's per-source bottom-k sketch over [[sourceShCte]]. */
  private def sourceSketchCtes: String =
    s"""$sourceShCte,
         rk AS (SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM sh),
         sk AS (SELECT source, list(h ORDER BY h) AS sketch
                FROM rk WHERE rn <= $srcSketchK GROUP BY source)"""

  /** HLL register CTE over `sh` — bucket h % m, rho via len(bin()). */
  private def hllRegCte: String =
    s"""reg AS (SELECT source, h % $hllM AS b,
                       max(CASE WHEN h // $hllM = 0 THEN 55
                                ELSE 55 - len(bin(h // $hllM)) END) AS m
                FROM sh GROUP BY 1, 2)"""

  /** HLL raw-estimate CTE over `reg` — the integerized harmonic sum. */
  private def hllEstCte: String =
    s"""est AS (SELECT source,
                       CAST(floor($hllAlpha * ${hllM * hllM}
                            * CAST(1::BIGINT << 55 AS DOUBLE)
                            / CAST(sum(1::BIGINT << (55 - m))
                                   + (($hllM - count(*))::BIGINT << 55)
                                   AS DOUBLE)) AS BIGINT) AS hll_est
                FROM reg GROUP BY source)"""

  /** HLL estimate CTE with the baked linear-counting branch (q255). */
  private def hllEstCorrCte: String =
    s"""est AS (SELECT source,
                 CAST(CASE WHEN nb < $hllM AND raw <= ${(2.5 * hllM).toInt}
                      THEN ${lcCase("nb")} ELSE raw END AS BIGINT) AS hll_est
          FROM (SELECT source,
                       CAST(floor($hllAlpha * ${hllM * hllM}
                            * CAST(1::BIGINT << 55 AS DOUBLE)
                            / CAST(sum(1::BIGINT << (55 - m))
                                   + (($hllM - count(*))::BIGINT << 55)
                                   AS DOUBLE)) AS BIGINT) AS raw,
                       count(*) AS nb
                FROM reg GROUP BY source))"""

  /** q202's oracle: the same training CTEs, then the same replace-chain
    * symbol count per document — per-token char-split, three merges
    * applied, symbols counted and summed per doc. */
  private def bpeApplyOracleSql: String = {
    val s0 =
      "' ' || array_to_string([t[i] for i in range(1, len(t) + 1)], ' ') || ' '"
    val applied = bpeOracleReplaceChain(
      bpeOracleReplaceChain(bpeOracleReplaceChain(s"($s0)", "t1"), "t2"), "t3")
    s"""WITH $bpeChainCtes,
         tok AS (SELECT doc_id,
                        unnest(string_split_regex(trim(text), '\\s+')) AS t
                 FROM documents),
         agg AS (SELECT doc_id, CAST(sum(ns) AS BIGINT) AS bpe
                 FROM (SELECT doc_id,
                              len(string_split(trim($applied), ' ')) AS ns
                       FROM tok, t1, t2, t3)
                 GROUP BY doc_id)
         SELECT d.doc_id AS doc_id,
                CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
                  AS ws_tokens,
                coalesce(agg.bpe, 0) AS bpe_tokens,
                CASE WHEN len(string_split_regex(trim(d.text), '\\s+')) = 0
                     THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(coalesce(agg.bpe, 0) AS DOUBLE) * 1000
                                / len(string_split_regex(trim(d.text), '\\s+')))
                          / 1000 END AS fertility
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id"""
  }

  override def oraclesFor(dir: String): Map[String, String] =
    oracles +
      ("q138_cluster_purity" -> Option(cpCodebooks.get(dir))
        .map(cpOracleSql)
        .getOrElse("SELECT 1 AS q138_not_built_for_this_dataset"))

  // `def`, not `val`: the q138 fallback branch reads the codebook cache,
  // which is empty at object init (the Similarity.oracles contract)
  override def oracles: Map[String, String] = Map(
    // q233: the positional self-join form — same multiset as the
    // map-side fan-out, so the gate proves the equivalence
    "q233_skipgram_counts" ->
      s"""WITH d AS (SELECT doc_id,
                            string_split_regex(trim(text), '\\s+') AS w
                     FROM documents),
          tk AS (SELECT doc_id, unnest(w) AS t,
                        generate_subscripts(w, 1) AS i
                 FROM d),
          p AS (SELECT a.t AS t, b.t AS ctx
                FROM tk a JOIN tk b
                  ON a.doc_id = b.doc_id AND a.i <> b.i
                 AND abs(a.i - b.i) <= $sgWindow)
          SELECT t, ctx, count(*) AS n
          FROM p GROUP BY 1, 2
          ORDER BY n DESC, t, ctx LIMIT 50""",
    // q234: c^0.75 as sqrt(c·sqrt(c)) — two correctly-rounded sqrts,
    // exact product; integer weight sums; floored divisions
    "q234_noise_distribution" ->
      """WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
                     FROM documents),
         uc AS (SELECT t, count(*) AS c,
                       CAST(floor(sqrt(CAST(count(*) AS DOUBLE)
                                       * sqrt(CAST(count(*) AS DOUBLE)))
                                  * 1000) AS BIGINT) AS w
                FROM tk GROUP BY 1),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot,
                        CAST(sum(c) AS BIGINT) AS ctot FROM uc)
         SELECT t, c, w,
                floor(CAST(w AS DOUBLE) / wtot * 1000000000) / 1000000000
                  AS noise_p,
                floor(CAST(c AS DOUBLE) / ctot * 1000000000) / 1000000000
                  AS natural_p
         FROM uc, tot ORDER BY c DESC, t LIMIT 50""",
    // q228: same integer counts, same ratio lift, row_number in
    // (lift DESC, tid) ≡ the bounded heap's total order; md5-prefix id
    // via the '0x' parse (q120's oracle idiom)
    "q228_distinct_terms" ->
      s"""WITH tk AS (SELECT source,
                             unnest(string_split_regex(trim(text), '\\s+')) AS t
                      FROM documents),
          st AS (SELECT source, t, count(*) AS c_st FROM tk GROUP BY 1, 2),
          tt AS (SELECT t, count(*) AS c_t FROM tk GROUP BY 1),
          ns AS (SELECT source, count(*) AS n_s FROM tk GROUP BY 1),
          tot AS (SELECT count(*) AS n_tot FROM tk),
          scored AS (SELECT st.source, st.t, st.c_st,
                            floor(CAST(st.c_st AS DOUBLE) * n_tot
                                  / (CAST(tt.c_t AS DOUBLE) * ns.n_s) * 1000)
                              / 1000 AS lift,
                            CAST(('0x' || substr(md5(st.t), 1, 15)) AS BIGINT)
                              AS tid
                     FROM st JOIN tt USING (t)
                             JOIN ns ON ns.source = st.source, tot
                     WHERE st.c_st >= $dtMinCount),
          rk AS (SELECT source, t, c_st, lift,
                        row_number() OVER (PARTITION BY source
                          ORDER BY lift DESC, tid) AS rnk
                 FROM scored)
          SELECT source, CAST(rnk AS BIGINT) AS rnk, t AS term, c_st, lift
          FROM rk WHERE rnk <= $dtK ORDER BY source, rnk""",
    // q225: exact BIGINT Σc² in any order; both indices one floored
    // division of exact integers, identical parenthesization
    "q225_source_diversity" ->
      """WITH tk AS (SELECT source,
                            unnest(string_split_regex(trim(text), '\s+')) AS t
                     FROM documents),
         tc AS (SELECT source, t, count(*) AS c FROM tk GROUP BY 1, 2),
         agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                        count(*) AS distinct_tokens,
                        CAST(sum(c * c) AS BIGINT) AS sumsq
                 FROM tc GROUP BY 1)
         SELECT source, n_tokens, distinct_tokens, sumsq,
                floor(CAST(sumsq AS DOUBLE)
                      / (CAST(n_tokens AS DOUBLE) * n_tokens) * 1000000)
                  / 1000000 AS simpson,
                floor(CAST(n_tokens AS DOUBLE) * n_tokens / sumsq * 1000)
                  / 1000 AS eff_vocab
         FROM agg ORDER BY source""",
    // q222: same first-occurrence aggregate, same integer decile cuts,
    // one floored type/token division
    "q222_vocab_growth" ->
      """WITH tk AS (SELECT doc_id,
                            unnest(string_split_regex(trim(text), '\s+')) AS t
                     FROM documents),
         fd AS (SELECT t, min(doc_id) AS fd FROM tk GROUP BY 1),
         pd AS (SELECT doc_id,
                       len(string_split_regex(trim(text), '\s+')) AS n_tok
                FROM documents),
         n AS (SELECT count(*) AS nd FROM pd),
         cuts AS (SELECT CAST(k AS BIGINT) AS decile,
                         CAST((nd * k) // 10 AS BIGINT) AS n_docs
                  FROM n, (SELECT unnest(range(1, 11)) AS k) u),
         v AS (SELECT decile, n_docs, count(*) AS vocab
               FROM fd, cuts WHERE fd.fd < cuts.n_docs GROUP BY 1, 2),
         s AS (SELECT decile, n_docs, CAST(sum(n_tok) AS BIGINT) AS cum_tokens
               FROM pd, cuts WHERE pd.doc_id < cuts.n_docs GROUP BY 1, 2)
         SELECT v.decile, v.n_docs, cum_tokens, vocab,
                floor(CAST(vocab AS DOUBLE) / cum_tokens * 1000000) / 1000000
                  AS ttr
         FROM v JOIN s ON s.decile = v.decile AND s.n_docs = v.n_docs
         ORDER BY v.decile""",
    // q215: identical grid (global distinct values × sources), window
    // cumsum per source, integer cross-product max, one floored division
    "q215_length_ks" ->
      """WITH dl AS (SELECT source, n_chars AS v FROM documents),
         cnt AS (SELECT source, v, count(*) AS c FROM dl GROUP BY 1, 2),
         tot AS (SELECT source, count(*) AS n FROM dl GROUP BY 1),
         vals AS (SELECT DISTINCT v FROM dl),
         ecdf AS (SELECT tot.source, vals.v, tot.n,
                         CAST(sum(coalesce(cnt.c, 0)) OVER (
                           PARTITION BY tot.source ORDER BY vals.v
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                  FROM vals CROSS JOIN tot
                  LEFT JOIN cnt ON cnt.source = tot.source AND cnt.v = vals.v)
         SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b,
                CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS d_int,
                floor(CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS DOUBLE)
                      / (CAST(a.n AS DOUBLE) * b.n) * 1000000) / 1000000 AS ks
         FROM ecdf a JOIN ecdf b ON a.v = b.v AND a.source < b.source
         GROUP BY 1, 2, 3, 4 ORDER BY src_a, src_b""",
    // dir-agnostic fallback, usable only when exactly one codebook was
    // trained this process; oraclesFor(dir) is the precise path
    "q138_cluster_purity" -> (if (cpCodebooks.size == 1)
        cpOracleSql(cpCodebooks.values.iterator.next())
      else "SELECT 1 AS q138_not_built_unambiguously_this_process"),
    // identical A-ES arithmetic: 60-bit md5 prefix → double in the same
    // operation order (cast, +1.0, divide), one ln, one division by the
    // weight; top-k per source by (key DESC, doc_id)
    "q137_weighted_sample" ->
      s"""WITH k AS (SELECT source, doc_id,
                 ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                    / $ws2p60) / CAST(n_chars AS DOUBLE) AS skey
               FROM documents),
          r AS (SELECT source, doc_id, skey,
                       row_number() OVER (PARTITION BY source
                         ORDER BY skey DESC, doc_id) AS rnk FROM k)
          SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id,
                 floor(skey * 1000000000) / 1000000000 AS skey
          FROM r WHERE rnk <= $wsK ORDER BY source, rank""",
    "q139_mmr_rerank" -> mmrOracleSql,
    // fully integer: same md5-bucket derivation, bucket sums, min over
    // the d rows, exact-vs-estimate difference
    "q140_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                        AS t FROM documents),
          tc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
                 FROM tk GROUP BY 1),
          tb AS (SELECT t, cnt, j,
                        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                          || t), 1, 15)) AS BIGINT) % $cmsW AS bkt
                 FROM tc, (SELECT unnest([0, 1, 2]) AS j)),
          cms AS (SELECT j, bkt, CAST(sum(cnt) AS BIGINT) AS c
                  FROM tb GROUP BY 1, 2),
          top AS (SELECT t, cnt FROM tc ORDER BY cnt DESC, t LIMIT $hhK),
          est AS (SELECT top.t, top.cnt, min(cms.c) AS cms_est
                  FROM top JOIN tb ON tb.t = top.t
                  JOIN cms ON cms.j = tb.j AND cms.bkt = tb.bkt
                  GROUP BY 1, 2)
          SELECT t AS token, cnt AS exact_cnt, cms_est,
                 cms_est - cnt AS overestimate
          FROM est ORDER BY exact_cnt DESC, token""",
    // identical k-gram hashing (md5 → 60-bit bigint), identical window
    // min selection (1-based p..p+w-1 slices both engines), id-only join
    "q151_winnowing" ->
      s"""WITH t AS (SELECT doc_id,
                 string_split_regex(trim(text), '\\s+') AS t
               FROM documents),
          hs AS (SELECT doc_id,
                   CASE WHEN len(t) >= $winK THEN
                     [CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
                        || t[i+2] || ' ' || t[i+3]), 1, 15)) AS BIGINT)
                      for i in range(1, len(t) - ${winK - 2})]
                   ELSE [] END AS hs
                 FROM t),
          fp0 AS (SELECT doc_id, unnest(list_distinct(
                   CASE WHEN len(hs) >= $winW THEN
                     [list_min(hs[p:p + ${winW - 1}])
                      for p in range(1, len(hs) - ${winW - 2})]
                   ELSE [] END)) AS fp
                 FROM hs),
          rare AS (SELECT fp FROM fp0 GROUP BY fp
                   HAVING count(*) <= $winMaxDf),
          fp AS (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN rare USING (fp))
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $winMinShared
          ORDER BY a_id, b_id""",
    "q186_bpe_merges" -> bpeMergesOracleSql,
    "q202_bpe_apply" -> bpeApplyOracleSql,
    // q195: bottom-k via row_number ORDER BY h ≡ the heap's total order
    // (monotone score rounding + exact-integer tiebreak); list
    // arithmetic integer throughout, two floored divisions per pair
    // q208/q209: the deterministic HLL — rho via len(bin()) (the q198
    // kernel), harmonic sum integerized as Σ 2^(55−M_b) (exact BIGINT,
    // order-free), one single-rounded division; the q209 oracle is the
    // FULL-corpus rebuild, so a hash pass proves merge ≡ rebuild
    // q255: the same HLL CTEs over per-column (name, stringified
    // value) pairs instead of shingles; exact NDV beside the estimate
    "q255_analyze_stats" ->
      s"""WITH sh AS (SELECT source,
                CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
           FROM (${analyzeCols.map(c =>
             s"SELECT DISTINCT '$c' AS source, CAST($c AS VARCHAR) AS v FROM lineitem")
             .mkString("\n                 UNION ALL ")})),
         $hllRegCte,
         $hllEstCorrCte,
         ex AS (SELECT source, count(*) AS exact_ndv FROM sh
                GROUP BY source)
         SELECT ex.source AS col_name,
                CAST(exact_ndv AS BIGINT) AS exact_ndv, hll_est,
                CASE WHEN exact_ndv = 0 THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(abs(hll_est - exact_ndv) AS DOUBLE)
                                * 1000 / exact_ndv) / 1000 END
                  AS err_ratio
         FROM ex JOIN est ON ex.source = est.source
         ORDER BY col_name""",
    "q208_hll_distinct" ->
      s"""WITH $sourceShCte,
         $hllRegCte,
         $hllEstCte,
         ex AS (SELECT source, count(*) AS exact_distinct FROM sh
                GROUP BY source)
         SELECT ex.source AS source, CAST(exact_distinct AS BIGINT)
                  AS exact_distinct, hll_est,
                CASE WHEN exact_distinct = 0 THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(abs(hll_est - exact_distinct) AS DOUBLE)
                                * 1000 / exact_distinct) / 1000 END
                  AS err_ratio
         FROM ex JOIN est ON ex.source = est.source
         ORDER BY ex.source""",
    "q209_hll_merge" ->
      s"""WITH $sourceShCte,
         $hllRegCte,
         $hllEstCte
         SELECT source, hll_est FROM est ORDER BY source""",
    "q195_source_sketch" ->
      s"""WITH $sourceSketchCtes,
         sz AS (SELECT source, count(*) AS z FROM sh GROUP BY source),
         pr AS (SELECT a.source AS src_a, b.source AS src_b,
                       a.sketch AS sa, b.sketch AS sb
                FROM sk a, sk b WHERE a.source < b.source),
         ix AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS nab
                FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2)
         SELECT pr.src_a, pr.src_b,
                floor(len([x for x in
                           list_sort(list_distinct(pr.sa || pr.sb))[1:$srcSketchK]
                           if list_contains(pr.sa, x)
                              AND list_contains(pr.sb, x)])
                      * CAST(1000 AS DOUBLE) / $srcSketchK) / 1000 AS j_est,
                floor(CAST(coalesce(ix.nab, 0) AS DOUBLE) * 1000
                      / (za.z + zb.z - coalesce(ix.nab, 0))) / 1000 AS j_exact
         FROM pr JOIN sz za ON za.source = pr.src_a
                 JOIN sz zb ON zb.source = pr.src_b
                 LEFT JOIN ix ON ix.src_a = pr.src_a AND ix.src_b = pr.src_b
         ORDER BY pr.src_a, pr.src_b""",
    // q196: the oracle rebuilds the sketch from the FULL corpus in one
    // pass — a hash match proves the two-half merge ≡ rebuild
    "q196_sketch_merge" ->
      s"""WITH $sourceSketchCtes,
         pr AS (SELECT a.source AS src_a, b.source AS src_b,
                       a.sketch AS sa, b.sketch AS sb
                FROM sk a, sk b WHERE a.source < b.source)
         SELECT src_a, src_b,
                floor(len([x for x in
                           list_sort(list_distinct(sa || sb))[1:$srcSketchK]
                           if list_contains(sa, x)
                              AND list_contains(sb, x)])
                      * CAST(1000 AS DOUBLE) / $srcSketchK) / 1000 AS j_est
         FROM pr ORDER BY src_a, src_b""",
    // fully integer: vocabulary counts, substr pair explode, sum, top-k
    "q147_bpe_pairs" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                        AS t FROM documents),
          tc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
                 FROM tk GROUP BY 1),
          pr AS (SELECT cnt, unnest([substr(t, i, 2)
                                     for i in range(1, length(t))]) AS pair
                 FROM tc WHERE length(t) >= 2)
          SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
          FROM pr GROUP BY 1
          ORDER BY n_occurrences DESC, pair LIMIT $bpeK""",
    // integer counts, one floored division each for share and ratio,
    // identical operand order
    "q145_skew_report" ->
      s"""WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                     FROM events GROUP BY 1),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS nkeys FROM k)
          SELECT user_id, cnt,
                 floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
                       * 1000000) / 1000000 AS share,
                 floor(CAST(cnt AS DOUBLE) * CAST(nkeys AS DOUBLE)
                       / CAST(total AS DOUBLE) * 1000) / 1000 AS skew_ratio
          FROM k, t ORDER BY cnt DESC, user_id LIMIT $skewK""",
    // exact-percentile fences floored before the comparison; max over an
    // empty outlier set is NULL on both engines
    "q146_outlier_events" ->
      """WITH p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                           quantile_cont("value", 0.25) AS p25,
                           quantile_cont("value", 0.75) AS p75
                    FROM events GROUP BY 1),
         f AS (SELECT *,
                      floor((p75 + (p75 - p25) * 1.5) * 1000000) / 1000000
                        AS fence_hi,
                      floor((p25 - (p75 - p25) * 1.5) * 1000000) / 1000000
                        AS fence_lo
               FROM p),
         o AS (SELECT e.event_type,
                      CAST(sum(CASE WHEN e."value" > f.fence_hi
                                      OR e."value" < f.fence_lo
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                      round(max(CASE WHEN e."value" > f.fence_hi
                                THEN e."value" END), 2) AS max_hi_outlier
               FROM events e JOIN f USING (event_type) GROUP BY 1)
         SELECT f.event_type, f.n,
                floor(p25 * 1000000) / 1000000 AS p25,
                floor(p75 * 1000000) / 1000000 AS p75,
                o.n_outliers, o.max_hi_outlier
         FROM f JOIN o USING (event_type) ORDER BY event_type""",
    // one ln per distinct token + one ln(n); the per-doc float sum is a
    // token-sorted list_reduce ↔ Spark's sorted aggregate left fold
    // (0.0 seed vs first-element seed are IEEE-identical: 0.0 + x == x)
    "q142_token_entropy" ->
      s"""WITH tk AS (SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS t
               FROM documents),
          tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
                 FROM tk GROUP BY 1, 2),
          g AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS distinct_tokens,
                       list_reduce(list(CAST(cnt AS DOUBLE)
                           * ln(CAST(cnt AS DOUBLE)) ORDER BY t),
                         (acc, x) -> acc + x) AS s
                FROM tc GROUP BY doc_id)
          SELECT doc_id, n_tokens, distinct_tokens,
                 floor((ln(CAST(n_tokens AS DOUBLE))
                        - s / CAST(n_tokens AS DOUBLE)) * 1000000)
                   / 1000000 AS entropy,
                 CAST(CASE WHEN floor((ln(CAST(n_tokens AS DOUBLE))
                        - s / CAST(n_tokens AS DOUBLE)) * 1000000) / 1000000
                        < $entThreshold THEN 1 ELSE 0 END AS BIGINT)
                   AS low_entropy
          FROM g ORDER BY doc_id""",
    // q42's exact inverted-index pair SQL (the q131 shape) closed with
    // the degree/histogram aggregates and the subtraction zero row
    "q143_neardup_degree" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")},
         nd AS (SELECT a_id, b_id FROM pairs
                WHERE common / (asz + bsz - common) >= 0.8),
         dg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS d FROM (
                  SELECT a_id AS doc_id FROM nd
                  UNION ALL SELECT b_id AS doc_id FROM nd) GROUP BY 1),
         alld AS (SELECT CAST(coalesce(dg.d, 0) AS BIGINT) AS degree
                  FROM documents LEFT JOIN dg
                    ON dg.doc_id = documents.doc_id)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         FROM alld GROUP BY 1 ORDER BY degree""",
    // integer cross-product ranking; one floored division per output row
    "q141_corpus_drift" ->
      s"""WITH tk AS (SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS t
               FROM documents),
          c AS (SELECT t,
                  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_a,
                  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_b
                FROM tk GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
                         CAST(sum(cnt_b) AS BIGINT) AS nb FROM c)
          SELECT t AS token, cnt_a, cnt_b,
                 abs(cnt_a * nb - cnt_b * na) AS drift,
                 floor(CAST(cnt_a * nb - cnt_b * na AS DOUBLE)
                       / CAST(na * nb AS DOUBLE) * 1000000000) / 1000000000
                   AS rate_diff
          FROM c, tot ORDER BY drift DESC, token LIMIT $driftK""",
  )
}
