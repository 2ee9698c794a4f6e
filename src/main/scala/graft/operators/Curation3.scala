package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6b curation closers (SURVEY.md §2 row 13 [extension]):
  *
  *  - q119 STATISTICAL LM QUALITY SCORE — the CCNet-style filter beside
  *    q93's linear model: a bigram language model with add-one smoothing
  *    trained ON the corpus itself scores every document by mean
  *    negative log-likelihood; high-NLL docs read "unlike the corpus"
  *    (OCR noise, wrong language, random strings), the signal CCNet
  *    buckets on. term(a,b) = ln((c(a,b) + 1) / (c(a) + V)).
  *  - q120 DETERMINISTIC SPLIT ASSIGNMENT — train/val/test via an
  *    md5-derived bucket of the doc id (80/10/10): rerun-stable,
  *    join-free, and uniform within every source, so the split is
  *    stratified in expectation at any corpus size (the exact-quantile
  *    per-source variant needs a per-source rank — a sort the hash form
  *    deliberately avoids; at 100 TB nobody sorts a corpus to split it).
  *
  * Scale notes:
  *  - q119's model tables are corpus aggregates with Zipf-bounded
  *    cardinality (unigram + bigram vocabularies); scoring is two
  *    posting-keyed joins (q85's shape) and one doc-keyed fold.
  *    Vocabulary size V rides a one-row broadcast (the q39 corpus-N
  *    pattern — query construction stays job-silent).
  *  - q119's per-doc mean of ln terms is a SORTED POSITION-ORDER left
  *    fold on both engines (Spark `aggregate` over the pos-sorted
  *    collect_list; DuckDB `list_reduce` over `list(... ORDER BY pos)`)
  *    — an unordered float SUM would be partitioning-dependent and
  *    break the cross-engine hash (the q97 lesson).
  *  - q120 is pure per-row map work; the md5 bucket replicates exactly
  *    in DuckDB via the '0x' || substr(md5(...)) parse q81's oracle
  *    established.
  */
object Curation3 extends QueryPack {

  private val toks = graft.functions.TextExprs.toks

  private def q119LmScore(s: SparkSession, d: String): DataFrame =
    lmScoreMemo(s, d).orderBy("doc_id")

  /** Session-scoped memo of the corpus LM score relation
    * (doc_id, n_bigrams, nll) — the statistical-filter artifact a
    * curation pipeline scores ONCE and every consumer reads (q119
    * reports it, q241 fuses it into the ensemble); the bigram
    * count/join/aggregate chain is the most expensive of the three
    * quality signals. */
  private[graft] def lmScoreMemo(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "lm.scores", d)(
      lmScoreCore(Tables.documents(s, d)).localCheckpoint(eager = false))

  /** The q119 chain over any (doc_id, text) relation, pre-sort — the
    * q241 ensemble re-partitions by source anyway and must not inherit
    * a wasted global sort. */
  private[graft] def lmScoreCore(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), expr(toks).as("w"))
    val bg = t.filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(1, size(w) - 1), i ->
               struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"""))
          .as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
              col("g.a").as("a"), col("g.b").as("b"))
    val bc = bg.groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val uc = t.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val vv = uc.agg(count(lit(1)).as("v"))
    val terms = bg.join(bc, Seq("a", "b"))
      .join(uc, col("a") === col("tok"))
      .crossJoin(broadcast(vv))
      .withColumn("term", expr("ln((c2 + 1e0) / (c1 + cast(v as double)))"))
    terms.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("term")))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_bigrams"),
        (floor(expr(
          """-aggregate(transform(ts, x -> x.term), cast(0 as double),
                        (acc, x) -> acc + x) / size(ts)""") * 1e6) / 1e6)
          .as("nll"))
  }

  /** q236: HELD-OUT LM EVAL — q119's add-one bigram LM trained on the
    * q120 TRAIN split only and scoring the TEST split: the eval-
    * hygiene form of the statistical filter (a self-trained score,
    * q119's, can never reveal overfitting; the held-out score is the
    * one an LM-quality threshold should be calibrated on, and the
    * train/test separation is exactly what q120/q122/q124 exist to
    * make trustworthy). New over q119: OOV handling — a test bigram
    * unseen in training falls back to add-one mass over the trained
    * vocabulary via LEFT joins + coalesce (c2 → 0, c1 → 0), and the
    * per-doc unseen-bigram count rides beside the score (a doc that
    * is mostly OOV is scored by smoothing, not by the model, and the
    * reader should know). Same Zipf-bounded model tables, same
    * position-sorted left fold for the cross-engine float sum, same
    * plan shape — two extra split filters at the scan. */
  private def q236LmHeldout(s: SparkSession, d: String): DataFrame = {
    val bucket =
      expr("""cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)
              as bigint) % 100""")
    val docs = Tables.documents(s, d).select(col("doc_id"), expr(toks).as("w"))
    val train = docs.filter(bucket < 80)
    val test = docs.filter(bucket >= 90)
    def bigrams(t: DataFrame): DataFrame = t.filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(1, size(w) - 1), i ->
               struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"""))
          .as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
              col("g.a").as("a"), col("g.b").as("b"))
    val bc = bigrams(train).groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val uc = train.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val vv = uc.agg(count(lit(1)).as("v"))
    val terms = bigrams(test)
      .join(bc, Seq("a", "b"), "left")
      .join(uc, col("a") === col("tok"), "left")
      .crossJoin(broadcast(vv))
      .withColumn("term", expr(
        "ln((coalesce(c2, 0) + 1e0) / (coalesce(c1, 0) + cast(v as double)))"))
      .withColumn("oov", when(col("c2").isNull, 1L).otherwise(0L))
    terms.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("term")))).as("ts"),
           sum("oov").as("oov_bigrams"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_bigrams"),
        col("oov_bigrams"),
        (floor(expr(
          """-aggregate(transform(ts, x -> x.term), cast(0 as double),
                        (acc, x) -> acc + x) / size(ts)""") * 1e6) / 1e6)
          .as("nll"))
      .orderBy("doc_id")
  }

  private def q120SplitAssign(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("bucket",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
             "as bigint) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise(lit("test")))
      .orderBy("doc_id")

  /** q122: SPLIT-LEAKAGE AUDIT — the train/test contamination check run
    * before any eval is trusted: near-duplicate pairs (q42's exact-
    * verified MinHash set) whose members landed in DIFFERENT q120
    * splits. A test doc with a train-side near-duplicate inflates eval
    * scores; this query names every such pair with both assignments.
    * Plan: the pair set is the existing bounded LSH pipeline; the split
    * columns are two broadcast-sized probes of the per-row hash bucket
    * (recomputed, not joined — the split is a pure function of doc_id).
    * leaky = the pair crosses any split boundary. */
  private def q122SplitLeakage(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: String) = expr(
      s"""CASE WHEN cast(conv(substr(md5(cast($c as string)), 1, 15), 16, 10)
                    as bigint) % 100 < 80 THEN 'train'
              WHEN cast(conv(substr(md5(cast($c as string)), 1, 15), 16, 10)
                    as bigint) % 100 < 90 THEN 'val'
              ELSE 'test' END""")
    Dedup.minhashLshPairsCore(s, d)
      .select(col("a_id"), col("b_id"),
              splitOf("a_id").as("split_a"), splitOf("b_id").as("split_b"))
      .withColumn("leaky",
        when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
      .orderBy("a_id", "b_id")
  }

  /** q124: CLUSTER-AWARE SPLIT — the FIX for the leakage q122 measures:
    * hash the dedup-family canonical id (q73's connected-component
    * cluster_id) instead of the doc id, so every member of a near-dup
    * family lands in the SAME split by construction — zero leaky pairs,
    * structurally (the q42 pairs ARE the component edges; Curation3Spec
    * proves it executable). This is why dedup runs before splitting:
    * the family relation must exist to split by it. Reads the
    * session-memoized q73 assignment (q101's access pattern); the split
    * itself is per-row map work over (doc_id, cluster_id). */
  private def q124SplitByCluster(s: SparkSession, d: String): DataFrame = {
    def bucketOf(c: String) = expr(
      s"cast(conv(substr(md5(cast($c as string)), 1, 15), 16, 10) " +
      s"as bigint) % 100")
    Dedup.clusterAssignmentOf(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("bucket", bucketOf("cluster_id"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** Cells / per-cell budget for q128. */
  private val cbsK = 8
  private val cbsM = 5

  /** Codebooks trained by q128 builds, keyed by dataset dir — the
    * [[Similarity]] cache contract for generated oracles. */
  private val cbsCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Double]]]()

  /** q128: CLUSTER-BALANCED SUBSET SELECTION — the diversity-aware
    * counterpart of q94's domain mix: instead of balancing on a LABELED
    * facet (source), balance on the embedding geometry itself. Assign
    * each embedded document to its coarse IVF cell (the q45 trained
    * codebook — [[Similarity.trainCentroids]], cached per dir so the
    * oracle embeds the same literals), score every document with the
    * q93 quality model (the SAME [[Curation2.qualityScoreCore]]
    * definition), and keep the top-[[cbsM]] by (score, doc_id) PER
    * CELL. Uniform-per-cluster selection is the standard cure for
    * quality-only selection's mode collapse (top-k by score alone
    * over-samples the dominant content cluster; cluster-balanced
    * capping keeps the tails — the SemDeDup/DC-dedup family's
    * selection step). Linkage: vec_id = doc_id, an inner join — the
    * embedded subset IS the selectable pool, which is the production
    * shape (you select among what you embedded). Plan: k centroid rows
    * broadcast, assignment collapses map-side (max-struct partial agg),
    * scoring is per-row map work, the per-cell cap is the bounded-heap
    * TopKAgg — one shuffle keyed by vec_id, one by cell; no vectors,
    * no text in either. Ranking uses the FLOORED (1e-6) score, whose
    * cross-engine equality q93's gate already proves, with doc_id
    * tiebreak — a total order, so the selected set is deterministic. */
  private def q128ClusterBalanced(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = cbsCodebooks.computeIfAbsent(d,
      _ => Similarity.trainCentroids(e, cbsK))
    val asg = Similarity.ivfAssignCodebook(s, e, cents)
      .select(col("vec_id"), col("centroid"))
    val scored = Curation2.qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"), col("score"))
    asg.join(scored, col("doc_id") === col("vec_id"))
      .groupBy("centroid")
      .agg(graft.functions.TopKAgg
        .top_k_by_score(col("score"), col("doc_id"), cbsM).as("top"))
      .select(col("centroid"), posexplode(col("top")))
      .select(col("centroid"), (col("pos") + 1).cast("long").as("cell_rank"),
              col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("centroid", "cell_rank")
  }

  /** q128's generated oracle: trained codebook literals + the q45
    * assignment argmax (ties: highest cosine, then highest c_id —
    * max(struct) order) + q93's score CTE verbatim + per-cell
    * row_number over the floored score. */
  private def cbsOracleSql(cents: Array[Array[Double]]): String = {
    val rows = cents.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n             ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT * FROM (VALUES
             $rows) AS t(c_id, cv)),
        sc AS (SELECT e.vec_id, c.c_id,
                      list_cosine_similarity(e.v, c.cv) AS cc FROM e, c),
        asg AS (SELECT vec_id, c_id AS centroid FROM (
                  SELECT vec_id, c_id,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY cc DESC, c_id DESC) AS rn FROM sc)
                WHERE rn = 1),
        t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents),
        f AS (SELECT doc_id, len(w) AS n,
                     len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                     list_aggregate(list_transform(w, x -> length(x)), 'sum')
                       AS sl
              FROM t),
        q AS (SELECT doc_id,
                     floor((0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                            - 0.25 * (sl / CAST(n AS DOUBLE))) * 1000000)
                       / 1000000 AS score
              FROM f),
        j AS (SELECT asg.centroid, q.doc_id, q.score
              FROM asg JOIN q ON q.doc_id = asg.vec_id),
        r AS (SELECT centroid, doc_id, score,
                     row_number() OVER (PARTITION BY centroid
                       ORDER BY score DESC, doc_id) AS rnk FROM j)
        SELECT CAST(centroid AS BIGINT) AS centroid,
               CAST(rnk AS BIGINT) AS cell_rank, doc_id, score
        FROM r WHERE rnk <= $cbsM ORDER BY centroid, cell_rank"""
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q119_lm_score" -> q119LmScore _,
    "q236_lm_heldout" -> q236LmHeldout _,
    "q120_split_assign" -> q120SplitAssign _,
    "q122_split_leakage" -> q122SplitLeakage _,
    "q124_split_by_cluster" -> q124SplitByCluster _,
    "q128_cluster_balanced" -> q128ClusterBalanced _,
  )

  override def oraclesFor(dir: String): Map[String, String] =
    oracles +
      ("q128_cluster_balanced" -> Option(cbsCodebooks.get(dir))
        .map(cbsOracleSql)
        .getOrElse("SELECT 1 AS q128_not_built_for_this_dataset"))

  // `def`, not `val`: the q128 fallback branch reads the codebook cache,
  // which is empty at object init (the Similarity.oracles contract)
  override def oracles: Map[String, String] = Map(
    // dir-agnostic fallback, usable only when exactly one codebook was
    // trained this process (the Similarity codebook contract);
    // oraclesFor(dir) is the precise path
    "q128_cluster_balanced" -> (if (cbsCodebooks.size == 1)
        cbsOracleSql(cbsCodebooks.values.iterator.next())
      else "SELECT 1 AS q128_not_built_unambiguously_this_process"),
    // q236: q119's model CTEs filtered to the train bucket, test-side
    // LEFT joins with coalesce smoothing, same position-sorted fold
    "q236_lm_heldout" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) % 100 AS bucket
                    FROM documents),
         tr AS (SELECT doc_id, w FROM t WHERE bucket < 80),
         te AS (SELECT doc_id, w FROM t WHERE bucket >= 90),
         bc AS (SELECT w[i] AS a, w[i+1] AS b, count(*) AS c2
                FROM (SELECT w, unnest(range(1, len(w))) AS i
                      FROM tr WHERE len(w) >= 2) GROUP BY 1, 2),
         uc AS (SELECT tok, count(*) AS c1
                FROM (SELECT unnest(w) AS tok FROM tr) GROUP BY tok),
         vv AS (SELECT count(*) AS v FROM uc),
         bg AS (SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
                FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                      FROM te WHERE len(w) >= 2)),
         terms AS (SELECT bg.doc_id, bg.pos,
                          ln((coalesce(c2, 0) + 1e0)
                             / (coalesce(c1, 0) + CAST(v AS DOUBLE))) AS term,
                          CASE WHEN c2 IS NULL THEN 1 ELSE 0 END AS oov
                   FROM bg LEFT JOIN bc USING (a, b)
                   LEFT JOIN uc ON uc.tok = bg.a, vv),
         folded AS (SELECT doc_id, list(term ORDER BY pos) AS ts,
                           CAST(sum(oov) AS BIGINT) AS oov_bigrams
                    FROM terms GROUP BY doc_id)
         SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_bigrams, oov_bigrams,
                floor((-(list_reduce(ts, (acc, x) -> acc + x)) / len(ts))
                      * 1000000) / 1000000 AS nll
         FROM folded ORDER BY doc_id""",
    "q119_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         bg AS (SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
                FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                      FROM t WHERE len(w) >= 2)),
         bc AS (SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b),
         uc AS (SELECT tok, count(*) AS c1
                FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
         vv AS (SELECT count(*) AS v FROM uc),
         terms AS (SELECT bg.doc_id, bg.pos,
                          ln((c2 + 1e0) / (c1 + CAST(v AS DOUBLE))) AS term
                   FROM bg JOIN bc USING (a, b)
                   JOIN uc ON uc.tok = bg.a, vv),
         folded AS (SELECT doc_id, list(term ORDER BY pos) AS ts
                    FROM terms GROUP BY doc_id)
         SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_bigrams,
                floor((-(list_reduce(ts, (acc, x) -> acc + x)) / len(ts))
                      * 1000000) / 1000000 AS nll
         FROM folded ORDER BY doc_id""",
    "q120_split_assign" ->
      """SELECT doc_id, source,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 80 THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // q42's exact pair SQL (recall 1) closed with the same per-id split
    // bucket function on both pair members
    "q122_split_leakage" -> {
      def splitOf(c: String) =
        s"""CASE WHEN CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))
                      AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))
                      AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END"""
      s"""WITH pairs AS (SELECT a_id, b_id
                         FROM (${Dedup.oracles("q42_minhash_lsh")})),
          sp AS (SELECT a_id, b_id,
                        ${splitOf("a_id")} AS split_a,
                        ${splitOf("b_id")} AS split_b
                 FROM pairs)
          SELECT a_id, b_id, split_a, split_b,
                 CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END
                      AS BIGINT) AS leaky
          FROM sp ORDER BY a_id, b_id"""
    },
    // q73's recursive-CTE cluster oracle closed with the same bucket
    // function applied to the CLUSTER id
    "q124_split_by_cluster" -> {
      val bucketOf =
        """CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 100"""
      s"""WITH asg AS (SELECT doc_id, cluster_id
                       FROM (${Dedup.oracles("q73_dedup_clusters")}))
          SELECT doc_id, cluster_id, $bucketOf AS bucket,
                 CASE WHEN $bucketOf < 80 THEN 'train'
                      WHEN $bucketOf < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM asg ORDER BY doc_id"""
    },
  )
}
