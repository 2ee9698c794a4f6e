package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{NativeExprs, TopKAgg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned linear projection of the embedding column — PCA trained on a
  * fixed sample, applied corpus-wide as a map-side expression. The
  * training-data-pipeline story: q123 measured what RAW prefix
  * truncation costs in recall (the matryoshka trade needs MRL-trained
  * embeddings to be cheap); PCA is the classical learned alternative —
  * rotate to the directions of maximal variance FIRST, then truncate —
  * and ships in every vector store's compression tier (FAISS
  * `PCAMatrix`, OPQ's pre-rotation). q125 evaluates it with exactly
  * q123's harness (same queries, same exact-cosine baseline, same
  * recall@5 metric, k ∈ {8, 16, 32} prefix widths of the 32-component
  * projection), so the two curves are directly comparable: the delta
  * between q125 and q123 at equal k IS the value of the learned
  * rotation on this corpus — measured at sf0.01, PCA doubles raw
  * truncation's recall at k=16 (0.16 vs 0.08) and wins 0.38 vs 0.30 at
  * k=32, even on a synthetic corpus with a near-flat spectrum (real
  * embedding spectra decay fast, widening the gap).
  *
  * Training is the IVF-codebook shape ([[Similarity.trainCentroids]]):
  * a fixed, sorted, corpus-size-independent sample (vec_id < 256) is
  * collected to the driver — the standard FAISS training step — then
  * mean, covariance, and a cyclic-Jacobi eigendecomposition run in
  * fully deterministic order, so the trained (mean, components) embed
  * as DuckDB oracle literals exactly like the LSH planes and PQ
  * codebooks. Projection itself is one codegen'd higher-order
  * expression per row (transform over the component literals of the
  * zip_with/aggregate left-fold dot product): no shuffle, no UDF, no
  * driver participation — at 100 TB it composes into any scan at map
  * cost k·d FLOPs/row, and the projected column is what gets stored,
  * ANN-indexed (q45/q86 machinery), or both.
  *
  * Reference tie-in: the reference engine has no vector surface at all
  * (SURVEY.md §2 "Explicit absences" — kafka-etl-consumer is an
  * ingest-only consumer, `ETLTask.java` end-to-end); this pack is part
  * of the mandated LLM-training-data extension tier.
  */
object Projection extends QueryPack {

  /** Trained projection: mean vector, components in eigenvalue-descending
    * order (rows are unit eigenvectors of the sample covariance), and
    * the matching eigenvalues (sample variances along each component). */
  final case class Pca(mu: Array[Double], comps: Array[Array[Double]],
                       eigvals: Array[Double])

  /** Prefix widths swept by q125 — plan literals. kMax = last = the
    * number of trained components. */
  private[graft] val kSweep = Seq(8, 16, 32)

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — fixed
    * (p, q) sweep order and a fixed sweep cap, so the result is
    * bit-deterministic for a given input (the property the generated
    * oracle depends on). Returns (eigenvalues, eigenvectors as rows),
    * unsorted. d = 64 here: Jacobi converges in ~8 sweeps and costs
    * milliseconds — driver-side math on a constant-size matrix, same
    * budget class as Lloyd iterations on a 256-row sample. At most 30
    * sweeps run. */
  private def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    // eigenvector accumulator, COLUMNS are eigenvectors while iterating
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 30 && !done) {
      var off = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { off += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      if (off < 1e-22) done = true
      else {
        var p = 0
        while (p < n - 1) {
          var q = p + 1
          while (q < n) {
            val apq = a(p)(q)
            if (apq != 0.0) {
              val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
              val t =
                if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
              val c = 1.0 / math.sqrt(t * t + 1.0)
              val s = t * c
              var k = 0
              while (k < n) {
                val akp = a(k)(p); val akq = a(k)(q)
                a(k)(p) = c * akp - s * akq
                a(k)(q) = s * akp + c * akq
                k += 1
              }
              k = 0
              while (k < n) {
                val apk = a(p)(k); val aqk = a(q)(k)
                a(p)(k) = c * apk - s * aqk
                a(q)(k) = s * apk + c * aqk
                k += 1
              }
              k = 0
              while (k < n) {
                val vkp = v(k)(p); val vkq = v(k)(q)
                v(k)(p) = c * vkp - s * vkq
                v(k)(q) = s * vkp + c * vkq
                k += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    val eig = Array.tabulate(n)(i => a(i)(i))
    val rows = Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j)))
    (eig, rows)
  }

  /** Deterministic sampled PCA: sample = the 256 lowest vec_ids
    * sorted ascending (the [[Similarity.trainCentroids]] sample
    * contract), mean + covariance accumulated in that fixed order,
    * Jacobi on the covariance, eigenpairs sorted (eigenvalue desc,
    * original index asc), each component sign-normalized so its
    * largest-|coefficient| entry is positive (eigenvectors are only
    * defined up to sign; fixing it makes the literals reproducible). */
  private[graft] def trainPca(e: DataFrame, kMax: Int): Pca = {
    val sample = Similarity.collectSample(e, Similarity.trainSampleN)
    require(sample.length > 1, s"need > 1 sample vectors, got ${sample.length}")
    val n = sample.length
    val d = sample(0).length
    require(kMax <= d, s"kMax $kMax exceeds dimension $d")
    val mu = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mu(i) += v(i); i += 1 } }
    var i = 0
    while (i < d) { mu(i) /= n; i += 1 }
    val cov = Array.fill(d)(new Array[Double](d))
    sample.foreach { v =>
      val c = new Array[Double](d)
      var a = 0
      while (a < d) { c(a) = v(a) - mu(a); a += 1 }
      a = 0
      while (a < d) {
        var b = a
        while (b < d) { cov(a)(b) += c(a) * c(b); b += 1 }
        a += 1
      }
    }
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        cov(i)(j) /= (n - 1)
        cov(j)(i) = cov(i)(j)
        j += 1
      }
      i += 1
    }
    val (eig, vecs) = jacobiEigen(cov)
    val order = (0 until d).sortBy(k => (-eig(k), k)).take(kMax)
    val comps = order.map { k =>
      val r = vecs(k)
      var mi = 0
      var j = 1
      while (j < d) { if (math.abs(r(j)) > math.abs(r(mi))) mi = j; j += 1 }
      if (r(mi) < 0) r.map(x => -x) else r
    }.toArray
    Pca(mu, comps, order.map(eig(_)).toArray)
  }

  /** Projected column y = comps · (v − mu) as ONE higher-order
    * expression over literal arrays: per row k·d multiply-adds, each
    * dot the left-to-right `aggregate` fold (bit-reproducible in the
    * oracle as an explicit left-associated sum). Map-side only. */
  private[graft] def projectExpr(p: Pca, vecCol: Column): Column = {
    val vm = zip_with(transform(vecCol, _.cast("double")),
                      typedLit(p.mu.toSeq), (a, b) => a - b)
    transform(typedLit(p.comps.map(_.toSeq).toSeq),
      pv => aggregate(zip_with(vm, pv, (a, b) => a * b),
                      lit(0.0), (acc, x) => acc + x))
  }

  /** Optional whitening on top of [[projectExpr]]: divide component j by
    * sqrt(eigval_j) so the training sample has unit variance along every
    * kept direction — the preconditioner form (OPQ / ZCA pipelines).
    * Components with vanishing variance pass through unscaled (nothing
    * to whiten). Covered by ProjectionSpec's unit-variance assertion;
    * the declared q125 uses the plain rotation so its recall curve is
    * comparable to q123's raw-truncation curve. */
  private[graft] def whitenExpr(p: Pca, yCol: Column): Column = {
    val scale = p.eigvals.map(l => if (l > 1e-12) 1.0 / math.sqrt(l) else 1.0)
    zip_with(yCol, typedLit(scale.toSeq), (y, s) => y * s)
  }

  /** Projections trained by q125 builds, keyed by dataset dir —
    * [[Similarity]]'s codebook-cache contract: `oraclesFor(dir)` embeds
    * the literals captured for THAT dir's run. */
  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pca]()

  /** Per query (vec_id < 10): the exact-cosine top-`k` ids of `e`
    * (vec_id, embedding) as a heap-ranked `top` array (cos desc, id asc)
    * — the baseline every recall harness here scores against. */
  private def exactTopK(e: DataFrame, k: Int): DataFrame = {
    val qo = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    e.crossJoin(broadcast(qo))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", NativeExprs.cosine_sim(col("embedding"), col("qv")))
      .groupBy("q_id")
      .agg(TopKAgg.top_k_by_score(col("cos"), col("vec_id"), k).as("top"))
  }

  /** Per query (vec_id < 10): the top-`k` ids of `sigs` (vec_id, sig) by
    * Hamming distance as a heap-ranked `top` array (ham asc, id asc). */
  private def hammingTopK(sigs: DataFrame, k: Int): DataFrame = {
    val q = sigs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("sig").as("qsig"))
    sigs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham", expr("bit_count(sig ^ qsig)").cast("long"))
      .groupBy("q_id")
      .agg(TopKAgg.top_k_by_score((lit(64L) - col("ham")).cast("double"),
             col("vec_id"), k).as("top"))
  }

  /** A top-k relation's `top` arrays exploded to (q_id, n_id) rows. */
  private def topIds(top: DataFrame): DataFrame =
    top.select(col("q_id"), explode(expr("transform(top, x -> x.id)")).as("n_id"))

  /** The 64-bit sign signature Σ_j [c_j ≥ zero]·2^j of the 64-dim array
    * column `c`; `zero` is the element type's 0 literal. */
  private def signSig(c: String, zero: String): Column =
    expr(s"""aggregate(sequence(0, 63), 0L, (acc, j) ->
        acc + IF(element_at($c, j + 1) >= $zero,
                 shiftleft(1L, j), 0L))""")

  /** q135/q136's recall@5: the Hamming top-5 over `sigs` scored against
    * the exact-cosine top-5 over `e`, one row per query. */
  private def binaryRecall(e: DataFrame, sigs: DataFrame): DataFrame =
    topIds(exactTopK(e, 5))
      .join(topIds(hammingTopK(sigs, 5)).withColumn("hit", lit(1)),
            Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count("hit").as("hits"))
      .select(col("q_id"), col("hits").cast("long").as("hits"),
              (floor(col("hits") / 5.0 * 1000) / 1000).as("recall"))
      .orderBy("q_id")

  /** PCA DIMENSION-RECALL SWEEP — q123's harness over the LEARNED
    * rotation: project every vector to kMax = 32 components (trained
    * rotation, mean-centered), score exact cosine top-5 inside each
    * prefix width k ∈ {8, 16, 32}, and count hits against the
    * full-dimension exact top-5 over the ORIGINAL embeddings (the same
    * baseline q123 uses, so recall values are comparable row-for-row).
    * Note centering: PCA's contract moves the origin to the sample
    * mean, so even k = d would not be recall-1 by construction — the
    * measured quantity is end-task recall of the compressed store, the
    * number a deployment actually cares about. One corpus scan computes
    * the projection (map-side literal matmul); ranking is the bounded-
    * heap TopKAgg per (k, query); |Q| and |ks| are broadcast literals.
    * At 100 TB the projected column is 2× (k=32) to 8× (k=8) fewer
    * bytes scanned per ANN probe, and the projection composes with the
    * q45/q86 index builds unchanged. */
  private def q125PcaSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val p = pcaCache.computeIfAbsent(d, _ => trainPca(e, kSweep.max))
    val proj = e.select(col("vec_id"), projectExpr(p, col("embedding")).as("y"))
    val qp = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("y").as("qy"))
    val ks = kSweep.toDF("k")
    val top = proj.crossJoin(broadcast(qp))
      .filter(col("vec_id") =!= col("q_id"))
      .crossJoin(broadcast(ks))
      .withColumn("cos", NativeExprs.cosine_sim(
        expr("slice(y, 1, k)"), expr("slice(qy, 1, k)")))
      .groupBy("k", "q_id")
      .agg(TopKAgg.top_k_by_score(col("cos"), col("vec_id"), 5).as("top"))
      .select(col("k"), col("q_id"),
              explode(expr("transform(top, x -> x.id)")).as("n_id"))
    topIds(exactTopK(e, 5)).crossJoin(broadcast(ks))
      .join(top.withColumn("hit", lit(1)), Seq("k", "q_id", "n_id"), "left")
      .groupBy("k", "q_id")
      .agg(count("hit").as("hits"))
      .select(col("k").cast("long").as("k"), col("q_id"),
              col("hits").cast("long").as("hits"),
              (floor(col("hits") / 5.0 * 1000) / 1000).as("recall"))
      .orderBy("k", "q_id")
  }

  private def fmt(x: Double): String = x.toString

  /** The projection CTEs of a trained [[Pca]] over `e`: mean `mu` and
    * components `p` as literals, the centered vectors `ev`, and `y`, each
    * vector's projection as the explicit left-associated fold per
    * component (term-for-term the `aggregate` fold [[projectExpr]]
    * runs). */
  private def pcaProjectionCtes(p: Pca): String = {
    val d = p.mu.length
    val muLit = s"[${p.mu.map(fmt).mkString(", ")}]::DOUBLE[]"
    val rows = p.comps.zipWithIndex.map { case (v, j) =>
      s"($j, [${v.map(fmt).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n             ")
    val foldTerms = (1 to d).map(i => s"p.pv[$i] * ev.vm[$i]").mkString(" + ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        mu AS (SELECT $muLit AS m),
        p(j, pv) AS (VALUES
             $rows),
        ev AS (SELECT vec_id,
                      list_transform(range(1, ${d + 1}), i -> v[i] - m[i]) AS vm
               FROM e, mu),
        yj AS (SELECT ev.vec_id, p.j, $foldTerms AS yv FROM ev, p),
        y AS (SELECT vec_id, list(yv ORDER BY j) AS y FROM yj GROUP BY vec_id)"""
  }

  /** [[signSig]] in DuckDB: `sg` (vec_id, sig) over the list column `c`
    * of relation `rel` — an integer fold, bit 63 as the two's-complement
    * literal (DuckDB rejects 1 << 63). */
  private def signSigCte(c: String, rel: String): String =
    s"""sg AS (SELECT vec_id,
                 CAST(list_sum(list_transform(range(0, 64), j ->
                   CASE WHEN $c[j + 1] >= 0 THEN
                     (CASE WHEN j = 63 THEN -9223372036854775808
                           ELSE (1::BIGINT << j) END)
                   ELSE 0 END)) AS BIGINT) AS sig
               FROM $rel)"""

  /** [[exactTopK]] at k = 5 in DuckDB: `base` (q_id, n_id) over `e`. */
  private val exactTop5Ctes: String =
    """qo AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        bsc AS (SELECT qo.q_id, e.vec_id AS n_id,
                       list_cosine_similarity(e.v, qo.qv) AS c
                FROM e, qo WHERE e.vec_id <> qo.q_id),
        base AS (SELECT q_id, n_id FROM (
                   SELECT q_id, n_id,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY c DESC, n_id) AS rnk FROM bsc)
                 WHERE rnk <= 5)"""

  /** [[binaryRecall]] in DuckDB over signatures `sg` and vectors `e`: the
    * integer Hamming top-5 `tp` (id tiebreak), [[exactTop5Ctes]], and one
    * recall division per query. */
  private val hammingRecallSql: String =
    s"""q AS (SELECT vec_id AS q_id, sig AS qsig FROM sg WHERE vec_id < 10),
        sc AS (SELECT q.q_id, sg.vec_id AS n_id,
                      bit_count(xor(sg.sig, q.qsig)) AS ham
               FROM sg, q WHERE sg.vec_id <> q.q_id),
        tp AS (SELECT q_id, n_id FROM (
                 SELECT q_id, n_id,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY ham ASC, n_id) AS rnk FROM sc)
               WHERE rnk <= 5),
        $exactTop5Ctes
        SELECT base.q_id, CAST(count(tp.n_id) AS BIGINT) AS hits,
               floor(count(tp.n_id) / 5.0 * 1000) / 1000 AS recall
        FROM base LEFT JOIN tp ON tp.q_id = base.q_id
                              AND tp.n_id = base.n_id
        GROUP BY base.q_id ORDER BY base.q_id"""

  /** q125's oracle: trained mean + components embedded as DOUBLE[]
    * literals; the projection is the explicit left-associated 64-term
    * fold per component (term-for-term the `aggregate` fold
    * [[projectExpr]] runs — `0.0 + t1` is IEEE-exact `t1`, so the
    * explicit sum matches the fold's zero seed bit-for-bit); prefix
    * slices + list_cosine_similarity replicate the q123 scoring; the
    * baseline half is q40's exact-cosine SQL shape over the original
    * vectors. */
  private def pcaOracleSqlTrained(p: Pca): String =
    s"""WITH ${pcaProjectionCtes(p)},
        q AS (SELECT vec_id AS q_id, y AS qy FROM y WHERE vec_id < 10),
        ks(k) AS (VALUES ${kSweep.map(x => s"($x)").mkString(", ")}),
        sc AS (SELECT ks.k, q.q_id, y.vec_id AS n_id,
                      list_cosine_similarity(y.y[1:ks.k], q.qy[1:ks.k]) AS c
               FROM y, q, ks WHERE y.vec_id <> q.q_id),
        tp AS (SELECT k, q_id, n_id FROM (
                 SELECT k, q_id, n_id,
                        row_number() OVER (PARTITION BY k, q_id
                          ORDER BY c DESC, n_id) AS rnk
                 FROM sc) WHERE rnk <= 5),
        $exactTop5Ctes,
        xp AS (SELECT ks.k, base.q_id, base.n_id FROM base, ks)
        SELECT CAST(xp.k AS BIGINT) AS k, xp.q_id AS q_id,
               CAST(count(tp.n_id) AS BIGINT) AS hits,
               floor(count(tp.n_id) / 5.0 * 1000) / 1000 AS recall
        FROM xp LEFT JOIN tp ON tp.k = xp.k AND tp.q_id = xp.q_id
                            AND tp.n_id = xp.n_id
        GROUP BY xp.k, xp.q_id ORDER BY k, q_id"""

  /** q135: 1-BIT (SIGN) EMBEDDING QUANTIZATION + HAMMING RETRIEVAL —
    * the most aggressive rung of the compression ladder the engine now
    * spans (q84 int8 = 4×, q82/q86 PQ = 32×, q135 sign-bits = 64×: the
    * whole 64-dim vector packs into ONE BIGINT). Retrieval is
    * XOR + popcount per candidate — the cheapest possible scan, and the
    * standard first-pass filter in front of exact re-ranking
    * (`ivfPqSearchRerank`'s shape with a 8-byte index). The signature
    * is Σ_j [v_j ≥ 0]·2^j, a pure integer fold (bit 63 enters as the
    * two's-complement top bit; no float arithmetic anywhere in the
    * retrieval path, so the oracle needs no ordering care at all);
    * recall@5 is scored against the exact cosine top-5, q123/q125's
    * harness, making the three storage-tier curves directly comparable
    * — measured 0.24 at sf0.01: 8 bytes of sign bits beat 16-dim float
    * truncation (0.08 at 64 bytes), the angular-information argument
    * for binary codes in practice.
    * At 100 TB the signature column is what ships to the hot tier:
    * 8 B/vector, SIMD-friendly scans, vectors themselves stay cold. */
  private def q135BinaryAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    binaryRecall(e, e.select(col("vec_id"), signSig("embedding", "0.0F").as("sig")))
  }

  /** Full-rank projections trained by q136, keyed by dataset dir
    * (separate from [[pcaCache]]: q125 embeds 32 components as oracle
    * literals, q136 needs all 64 — same eigen order, distinct cache so
    * each query's oracle stays self-contained). */
  private val pca64Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Pca]()

  /** q136: PCA-ROTATED SIGN BITS — the ITQ family's first half
    * (rotate-then-binarize): q135's 1-bit quantizer applied in the
    * q125 trained basis instead of the raw coordinate basis, at the
    * SAME 64-bit budget, scored by the same exact-cosine recall@5
    * harness. On correlated real embeddings the decorrelating rotation
    * spreads information evenly across bits and lifts binary recall
    * (the reason ITQ/OPQ rotate before quantizing); on this synthetic
    * near-isotropic corpus the measured result IS the honest null —
    * recall@5 0.24, exactly q135's, because rotating an isotropic
    * cloud changes nothing — the harness is what ships, the curve is
    * the data's. Same
    * plan shape as q135 (signature fold is map work over the projected
    * values; retrieval is XOR + popcount); the mean-centering inherited
    * from PCA also removes the sign-bias a nonzero corpus mean inflicts
    * on raw sign bits. */
  private def q136PcaBinary(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val p = pca64Cache.computeIfAbsent(d, _ => trainPca(e, 64))
    val sigs = e.select(col("vec_id"),
        projectExpr(p, col("embedding")).as("y"))
      .select(col("vec_id"), signSig("y", "0.0D").as("sig"))
    binaryRecall(e, sigs)
  }

  /** q136's generated oracle: the q125 projection CTEs (mean +
    * components as literals, explicit left fold) feeding the q135
    * integer signature/Hamming machinery. */
  private def pcaBinaryOracleSql(p: Pca): String =
    s"""WITH ${pcaProjectionCtes(p)},
        ${signSigCte("y", "y")},
        $hammingRecallSql"""

  /** Truncated-RBO parameters for q153: persistence p and eval depth. */
  private val rboP = 0.9
  private val rboDepth = 5

  /** Scala-computed coefficient table shared VERBATIM by both engines:
    * a matched id whose worse-of-the-two ranks is m contributes exactly
    * coef(m) = (1−p)·Σ_{d=m..k} p^(d−1)/d to truncated RBO@k, so the
    * whole metric reduces to an integer histogram times these literal
    * doubles — every cross-engine float hazard (powers, 1−p, the inner
    * sum) collapses into constants computed once here and interpolated
    * into BOTH the Spark plan and the DuckDB oracle. */
  private val rboCoefs: Array[Double] = {
    val w = Array.iterate(1.0, rboDepth)(_ * rboP)
    Array.tabulate(rboDepth)(i =>
      (1.0 - rboP) * (i until rboDepth).map(d => w(d) / (d + 1)).sum)
  }

  /** q153: RANK-BIASED OVERLAP EVAL — the top-weighted ranking-quality
    * metric beside q109/q115's flat recall: truncated RBO@[[rboDepth]]
    * (Webber et al.) between the 64-bit sign-bit Hamming ranking
    * (q135's retrieval) and the exact-cosine ranking, per query.
    * Recall treats a hit at rank 1 and rank 5 the same; RBO's
    * geometric weights (p = [[rboP]]) score agreement where users
    * look — the metric retrieval teams actually tune compressed
    * indexes against. Shape: both rankings are the existing bounded
    * harness (broadcast queries, map-side scoring, heap top-k); the
    * metric itself is ONE integer histogram per query (worse-rank m of
    * each intersected id) dotted with the [[rboCoefs]] literals — no
    * float enters until that final dot product, whose five terms fold
    * in written order on both engines. */
  private def q153RboEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val sigs = e.select(col("vec_id"), signSig("embedding", "0.0F").as("sig"))
    val binRank = hammingTopK(sigs, rboDepth)
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("n_id"), (col("pos") + 1).as("br"))
    val exRank = exactTopK(e, rboDepth)
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("n_id"), (col("pos") + 1).as("ar"))
    val histAggs = (1 to rboDepth).map(k =>
      sum(when(col("m") === k, 1L).otherwise(0L)).as(s"h$k"))
    val hs = exRank.join(binRank, Seq("q_id", "n_id"))
      .select(col("q_id"), greatest(col("ar"), col("br")).as("m"))
      .groupBy("q_id")
      .agg(histAggs.head, histAggs.tail: _*)
    val overlap = (1 to rboDepth).map(k => col(s"h$k")).reduce(_ + _)
    val rbo = (1 to rboDepth).map(k => col(s"h$k") * lit(rboCoefs(k - 1)))
      .reduce(_ + _)
    e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .join(hs, Seq("q_id"), "left")
      .na.fill(0, (1 to rboDepth).map(k => s"h$k"))
      .select(col("q_id"), overlap.as("overlap"),
              (floor(rbo * 1000000) / 1000000).as("rbo"))
      .orderBy("q_id")
  }

  /** EMBEDDING-COLUMN AUDIT — per-dimension count/mean/std/min/max of
    * the whole embedding table in ONE aggregate pass: the data-quality
    * scan run before training codebooks or trusting an index (dead
    * dimensions read as std ≈ 0, clipped ranges as hard min/max walls,
    * scale drift as per-dim mean shift). Plan shape: values quantize to
    * exact integers map-side (×10⁶, floored — deterministic), then the
    * native [[graft.functions.VecStatsAgg]] TypedImperativeAggregate
    * folds each map task into ONE (4d+1)-long buffer — the shuffle
    * carries one buffer per task instead of the N·d exploded rows the
    * naive posexplode + groupBy(dim) plan ships (at d = 64 that is the
    * whole job). Integer accumulation is order-independent, so the
    * mean/std derivations are bit-exact cross-engine from identical
    * integer inputs — no float-sum parity hazard. */
  private def q163EmbeddingAudit(s: SparkSession, d: String): DataFrame = {
    val st = Tables.embeddings(s, d)
      .select(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
        .as("q"))
      .agg(graft.functions.VecStatsAgg.vec_int_stats(col("q")).as("st"))
    st.select(col("st.n").as("n"),
              posexplode(expr("arrays_zip(st.sums, st.sumsqs, st.mins, st.maxs)"))
                .as(Seq("d0", "z")))
      .select((col("d0") + 1).cast("long").as("dim"), col("n"),
              col("z.sums").as("sum_q"), col("z.sumsqs").as("sumsq_q"),
              col("z.mins").as("min_q"), col("z.maxs").as("max_q"))
      .withColumn("mean", expr("cast(sum_q as double) / n / 1e6"))
      // greatest(0, ·): E[x²] − E[x]² can round to a tiny NEGATIVE for a
      // (near-)constant dimension; unclamped, Spark's sqrt yields NaN
      // where DuckDB's ERRORS — clamped identically on both sides (the
      // oracle carries the same greatest), a dead axis reads std = 0
      .withColumn("std", expr(
        """sqrt(greatest(cast(0 as double),
                cast(sumsq_q as double) / n
                - (cast(sum_q as double) / n) * (cast(sum_q as double) / n))) / 1e6"""))
      .orderBy("dim")
  }

  /** PER-DIMENSION STANDARDIZATION — the z-score normalization pass run
    * before training codebooks or distance-sensitive indexes (a hot
    * dimension with 10× the variance dominates every L2/PQ subspace;
    * standardizing equalizes the axes). Shares [[dimStatsRow]] with the
    * q175 outlier audit. Two-phase at any scale: phase 1
    * is q163's ONE-buffer-per-task stats aggregate (means/stds from
    * exact quantized integers), broadcast back as a single row; phase 2
    * is a map-side zip_with over every vector — no shuffle of the
    * corpus at all. The derived mean/std doubles are bit-identical
    * cross-engine (integer inputs), so the per-element (x − μ)/σ is
    * single-rounded IEEE both sides; elements are quantized to INTEGER
    * 1e-4 units before the joined-string output (the q84 convention —
    * integers in strings are formatting-hazard-free cross-engine where
    * joined doubles are not). Zero-std dimensions pass through as 0
    * (the dead-axis convention). */
  private def q166Standardize(s: SparkSession, d: String): DataFrame = {
    val stats = dimStatsRow(s, d)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x as double))").as("v"))
      .crossJoin(broadcast(stats))
      .select(col("vec_id"),
        expr("""array_join(
                  zip_with(zip_with(v, mu, (x, m) -> x - m), sd,
                           (c, s) -> CASE WHEN s = 0 THEN 0L
                                     ELSE cast(floor(c / s * 1e4) as bigint) END),
                  ',')""").as("z4"))
      .orderBy("vec_id")
  }

  /** One-row (mu, sd) per-dimension stats of the embedding table — the
    * q163 one-buffer-per-task VecStatsAgg pass, derived to double
    * mean/std arrays. The shuffle carries one (4d+1)-long buffer per
    * map task; integer accumulation makes the derived doubles bit-exact
    * cross-engine. Shared phase 1 of q166 (standardize) and q175
    * (outlier audit); always consumed via broadcast, so the corpus
    * itself never shuffles in phase 2. */
  private[operators] def dimStatsRow(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
        .as("q"))
      .agg(graft.functions.VecStatsAgg.vec_int_stats(col("q")).as("st"))
      .select(
        expr("transform(st.sums, s -> cast(s as double) / st.n / 1e6)").as("mu"),
        // same greatest(0, ·) clamp as q163: a near-constant dimension's
        // tiny negative variance must read sd = 0 (dead axis) on both
        // engines, not NaN-vs-error
        expr("""zip_with(st.sumsqs, st.sums, (sq, s) ->
                  sqrt(greatest(cast(0 as double),
                       cast(sq as double) / st.n
                       - (cast(s as double) / st.n) * (cast(s as double) / st.n)))
                  / 1e6)""").as("sd"))

  /** EMBEDDING OUTLIER AUDIT — flag vectors whose max per-dimension
    * |z-score| exceeds 3σ: the row-level complement of q163's
    * column-level audit (q163 finds a broken DIMENSION; this finds the
    * broken VECTORS — encoder glitches, corrupted rows, out-of-
    * distribution inputs — that poison codebook training and k-means
    * seeding). Two-phase like q166: the one-row [[dimStatsRow]]
    * broadcast back, then a map-side zip_with per vector — the corpus
    * never shuffles, output is only the flagged tail. Parity: mu/sd are
    * bit-exact doubles (integer-derived), each |((x − μ)/σ)| is single-
    * rounded IEEE, max/count over exact doubles are order-independent;
    * the reported magnitude is floored to 1e-4 integer units. Dead axes
    * (σ = 0) read z = 0 — q166's convention. */
  private def q175OutlierAudit(s: SparkSession, d: String): DataFrame =
    outlierFlagOn(
      Tables.embeddings(s, d)
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x as double))").as("v")),
      dimStatsRow(s, d))
      .orderBy("vec_id")

  /** The q175 flagging pass over ANY (vec_id, v: array<double>) relation
    * against a one-row (mu, sd) stats frame — shared by batch q175 and
    * the q182 stream gate (the stats side joins on a literal key so the
    * broadcast works identically for a static or streaming left side;
    * stateless, so any trigger serves). */
  private[operators] def outlierFlagOn(vecs: DataFrame,
                                       stats: DataFrame): DataFrame =
    vecs.withColumn("__one", lit(1))
      .join(broadcast(stats.withColumn("__one", lit(1))), Seq("__one"))
      .select(col("vec_id"),
        expr("""zip_with(zip_with(v, mu, (x, m) -> x - m), sd,
                  (c, s) -> CASE WHEN s = 0 THEN cast(0 as double)
                            ELSE abs(c / s) END)""").as("z"))
      .select(col("vec_id"),
        expr("size(filter(z, x -> x > cast(3 as double)))").cast("long")
          .as("n_extreme"),
        expr("cast(floor(array_max(z) * 1e4) as bigint)").as("z4max"))
      .filter(col("n_extreme") >= 1)

  /** Per-(label, dim) integer stats rows — q163's VecStatsAgg pass
    * GROUPED BY the label column (one (4d+1)-long buffer per task PER
    * LABEL; with k labels the shuffle carries ≤ k buffers per map task).
    * Shared upstream of q178 (per-label audit) and q179 (separability). */
  private def labelDimStats(s: SparkSession, d: String): DataFrame = {
    val st = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
              expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
                .as("q"))
      .groupBy("label")
      .agg(graft.functions.VecStatsAgg.vec_int_stats(col("q")).as("st"))
    st.select(col("label"), col("st.n").as("n"),
              posexplode(expr("arrays_zip(st.sums, st.sumsqs, st.mins, st.maxs)"))
                .as(Seq("d0", "z")))
      .select(col("label"), (col("d0") + 1).cast("long").as("dim"), col("n"),
              col("z.sums").as("sum_q"), col("z.sumsqs").as("sumsq_q"),
              col("z.mins").as("min_q"), col("z.maxs").as("max_q"))
  }

  /** PER-LABEL EMBEDDING AUDIT — q163's per-dimension stats conditioned
    * on the class label: the audit that catches LABEL-dependent
    * distribution problems a global scan averages away (a class whose
    * embeddings collapsed to a point, a label whose vectors came from a
    * different encoder revision, per-class scale drift). Same one-
    * buffer-per-task plan shape as q163, grouped — at any corpus size
    * the shuffle carries k·(4d+1) longs per map task, never rows. */
  private def q178LabelAudit(s: SparkSession, d: String): DataFrame =
    labelDimStats(s, d)
      .withColumn("mean", expr("cast(sum_q as double) / n / 1e6"))
      .withColumn("std", expr(
        """sqrt(greatest(cast(0 as double),
                cast(sumsq_q as double) / n
                - (cast(sum_q as double) / n) * (cast(sum_q as double) / n)))
           / 1e6"""))
      .orderBy("label", "dim")

  /** PER-DIMENSION CLASS SEPARABILITY — the Fisher ratio
    * between-class-variance / within-class-variance of each embedding
    * dimension against the label column: the readiness score for
    * classification/probing use of an embedding table (a dimension with
    * f ≈ 0 carries no label signal; a handful of high-f dims means a
    * linear probe already works). Algebra keeps it exact: with
    * per-label integer sums s_l, n_l and global S, SQ, N, both scatter
    * terms share T = Σ_l s_l²/n_l and the ratio collapses to
    * (T − S²/N) / (SQ − T) — the 1/N factors cancel, so the ONLY
    * order-sensitive float work is the k-term T fold, which runs as a
    * LEFT FOLD IN LABEL ORDER on both engines (the q126/q153 ordered-
    * fold parity pattern); everything else is integer sums. Two-stage
    * at any scale: one grouped VecStatsAgg corpus pass, then k·d-row
    * arithmetic. Output in 1e-6 integer units; a zero within-scatter
    * dimension (all mass between classes) reads the −1 sentinel. */
  private def q179Separability(s: SparkSession, d: String): DataFrame =
    labelDimStats(s, d)
      .groupBy("dim")
      .agg(sum(col("n")).as("nn"), sum(col("sum_q")).as("ss"),
           sum(col("sumsq_q")).as("qq"),
           array_sort(collect_list(struct(col("label"), col("sum_q").as("s"),
                                          col("n").as("nl")))).as("ls"))
      .withColumn("t", expr(
        """aggregate(ls, cast(0 as double),
             (acc, e) -> acc + (cast(e.s as double) * cast(e.s as double)) / e.nl)"""))
      .withColumn("between", expr(
        "greatest(cast(0 as double), t - (cast(ss as double) * cast(ss as double)) / nn)"))
      .withColumn("within", expr("cast(qq as double) - t"))
      .select(col("dim"), col("nn").as("n"),
              expr("""CASE WHEN within <= 0 THEN CAST(-1 AS BIGINT)
                      ELSE cast(floor(between / within * 1e6) as bigint)
                      END""").as("f6"))
      .orderBy("dim")

  /** EMBEDDING SNAPSHOT DRIFT — the embedding-space counterpart of
    * q141's token-distribution drift: per dimension, how far the mean
    * moved between two corpus snapshots (first half vs second half by
    * vec_id — the arrival-ordered proxy for crawl A vs crawl B), in
    * units of the pooled per-dimension std. The report run before
    * mixing two embedding batches or after an encoder upgrade: a dim
    * with shift ≫ 0 means the two snapshots don't share a space and
    * ANN/codebook structures trained on one mis-serve the other.
    * One grouped VecStatsAgg pass (2 buffers per task), then 2·d-row
    * arithmetic: mean/std doubles derive bit-exact from integer sums;
    * the shift is a fixed-shape IEEE expression, floored to 1e-4;
    * a zero pooled-std dim reads the −1 sentinel. */
  private def q184EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val st = Tables.embeddings(s, d)
      .crossJoin(broadcast(
        Tables.embeddings(s, d).agg((count(lit(1)) / 2).cast("long").as("__half"))))
      .select((col("vec_id") >= col("__half")).cast("int").as("snap"),
              expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
                .as("q"))
      .groupBy("snap")
      .agg(graft.functions.VecStatsAgg.vec_int_stats(col("q")).as("st"))
    val per = st.select(col("snap"), col("st.n").as("n"),
        posexplode(expr("arrays_zip(st.sums, st.sumsqs)")).as(Seq("d0", "z")))
      .select(col("snap"), (col("d0") + 1).cast("long").as("dim"), col("n"),
              col("z.sums").as("s"), col("z.sumsqs").as("sq"))
      .withColumn("mu", expr("cast(s as double) / n / 1e6"))
      .withColumn("va", expr(
        """greatest(cast(0 as double),
             cast(sq as double) / n - (cast(s as double) / n) * (cast(s as double) / n))
           / 1e12"""))
    per.groupBy("dim")
      .agg(max(when(col("snap") === 0, col("n"))).as("n_a"),
           max(when(col("snap") === 1, col("n"))).as("n_b"),
           max(when(col("snap") === 0, col("mu"))).as("mu_a"),
           max(when(col("snap") === 1, col("mu"))).as("mu_b"),
           max(when(col("snap") === 0, col("va"))).as("va_a"),
           max(when(col("snap") === 1, col("va"))).as("va_b"))
      .select(col("dim"), col("n_a"), col("n_b"),
        expr("""CASE WHEN sqrt((va_a + va_b) / 2) = 0 THEN CAST(-1 AS BIGINT)
                ELSE cast(floor(abs(mu_a - mu_b) / sqrt((va_a + va_b) / 2) * 1e4)
                          as bigint) END""").as("shift4"))
      .orderBy("dim")
  }

  /** CENTROID-BASED LABEL-NOISE AUDIT — flag vectors that sit closer to
    * ANOTHER label's centroid than their own (the confident-learning-
    * style mislabel suspect list, centroid-grain): the audit run before
    * trusting labels for classifier training or per-class sampling.
    * Fully map-side after one stats pass: per-label centroids derive
    * bit-exact from [[labelDimStats]]'s integer sums, collapse to ONE
    * broadcast row (an array of (label, mu) structs in label order),
    * and each vector computes all k squared distances in a single
    * codegen'd higher-order expression — j-ordered left folds (the
    * q126/q153 parity pattern), argmin with the smaller label winning
    * ties (the fold keeps the FIRST strict minimum over the
    * label-sorted array). The corpus never shuffles; output is only
    * the flagged suspects with their margin. */
  private def q185LabelNoise(s: SparkSession, d: String): DataFrame = {
    val cents = labelDimStats(s, d)
      .withColumn("mu", expr("cast(sum_q as double) / n / 1e6"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, mu))), e -> e.mu)")
        .as("mu"))
      .agg(expr("array_sort(collect_list(struct(label, mu)))").as("cents"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
              expr("transform(embedding, x -> cast(x as double))").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("dists", expr(
        """transform(cents, c -> named_struct(
             'l', c.label,
             'd', aggregate(zip_with(v, c.mu, (x, m) -> (x - m) * (x - m)),
                            cast(0 as double), (a, t) -> a + t)))"""))
      .withColumn("near", expr(
        """aggregate(dists, named_struct('l', CAST(-1 AS BIGINT),
                                         'd', cast('Infinity' as double)),
             (acc, e) -> IF(e.d < acc.d, e, acc))"""))
      .withColumn("d_own", expr("filter(dists, e -> e.l = label)[0].d"))
      .filter(col("near.l") =!= col("label"))
      .select(col("vec_id"), col("label"), col("near.l").as("nearest"),
              expr("cast(floor((d_own - near.d) * 1e4) as bigint)").as("margin4"))
      .orderBy("vec_id")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_embedding_drift" -> q184EmbeddingDrift _,
    "q185_label_noise" -> q185LabelNoise _,
    "q178_label_audit" -> q178LabelAudit _,
    "q179_separability" -> q179Separability _,
    "q125_pca_sweep" -> q125PcaSweep _,
    "q135_binary_ann" -> q135BinaryAnn _,
    "q136_pca_binary" -> q136PcaBinary _,
    "q153_rbo_eval" -> q153RboEval _,
    "q163_embedding_audit" -> q163EmbeddingAudit _,
    "q166_standardize" -> q166Standardize _,
    "q175_outlier_audit" -> q175OutlierAudit _,
  )

  override def oraclesFor(dir: String): Map[String, String] =
    oracles +
      ("q125_pca_sweep" -> Option(pcaCache.get(dir)).map(pcaOracleSqlTrained)
        .getOrElse("SELECT 1 AS q125_not_built_for_this_dataset")) +
      ("q136_pca_binary" -> Option(pca64Cache.get(dir)).map(pcaBinaryOracleSql)
        .getOrElse("SELECT 1 AS q136_not_built_for_this_dataset"))

  /** q153's oracle: both rankings replicated with their rank positions
    * kept, the worse-rank histogram, and the [[rboCoefs]] literals in
    * the same written fold order as the Spark column expression. */
  private def rboOracleSql: String = {
    val hCols = (1 to rboDepth).map(k =>
      s"CAST(sum(CASE WHEN m = $k THEN 1 ELSE 0 END) AS BIGINT) AS h$k")
      .mkString(",\n                      ")
    val overlap = (1 to rboDepth).map(k => s"coalesce(h$k, 0)").mkString(" + ")
    // CAST the integer histogram to DOUBLE before multiplying: a bare
    // decimal literal is DECIMAL in DuckDB, and BIGINT × DECIMAL stays
    // exact-decimal arithmetic — one grid step off Spark's IEEE double
    // fold. DOUBLE × DECIMAL promotes the literal to double instead.
    val dot = (1 to rboDepth)
      .map(k => s"CAST(coalesce(h$k, 0) AS DOUBLE) * ${rboCoefs(k - 1)}")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ${signSigCte("v", "e")},
        q AS (SELECT vec_id AS q_id, sig AS qsig FROM sg WHERE vec_id < 10),
        sc AS (SELECT q.q_id, sg.vec_id AS n_id,
                      bit_count(xor(sg.sig, q.qsig)) AS ham
               FROM sg, q WHERE sg.vec_id <> q.q_id),
        tp AS (SELECT q_id, n_id, rnk AS br FROM (
                 SELECT q_id, n_id,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY ham ASC, n_id) AS rnk FROM sc)
               WHERE rnk <= $rboDepth),
        qo AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        bsc AS (SELECT qo.q_id, e.vec_id AS n_id,
                       list_cosine_similarity(e.v, qo.qv) AS c
                FROM e, qo WHERE e.vec_id <> qo.q_id),
        base AS (SELECT q_id, n_id, rnk AS ar FROM (
                   SELECT q_id, n_id,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY c DESC, n_id) AS rnk FROM bsc)
                 WHERE rnk <= $rboDepth),
        mm AS (SELECT base.q_id, greatest(base.ar, tp.br) AS m
               FROM base JOIN tp ON tp.q_id = base.q_id
                                AND tp.n_id = base.n_id),
        hh AS (SELECT q_id, $hCols
               FROM mm GROUP BY 1),
        ql AS (SELECT vec_id AS q_id FROM e WHERE vec_id < 10)
        SELECT ql.q_id, CAST($overlap AS BIGINT) AS overlap,
               floor(($dot) * 1000000) / 1000000 AS rbo
        FROM ql LEFT JOIN hh USING (q_id) ORDER BY ql.q_id"""
  }

  /** q178's co-unnest: embeddings quantized to 1e-6 integers, one `d`
    * row (label, dim, v) per element. */
  private val labelDimCtes: String =
    """q AS (SELECT CAST(label AS BIGINT) AS label,
                  [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                   for x in embedding] AS qv
           FROM embeddings),
         d AS (SELECT label, unnest(range(1, len(qv) + 1)) AS dim,
                      unnest(qv) AS v FROM q)"""

  /** q166's per-dim stats: embeddings quantized to 1e-6 integers `qv`
    * (with vec_id and the raw embedding), and `st`, the lists of
    * per-dim mean `mu` and population sd `sd` in dim order, each from
    * exact integer sums. */
  private val dimStatsCtes: String =
    """q AS (SELECT vec_id, embedding,
                  [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                   for x in embedding] AS qv
           FROM embeddings),
         d AS (SELECT unnest(range(1, len(qv) + 1)) AS dim,
                      unnest(qv) AS v FROM q),
         a AS (SELECT dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_q,
                      CAST(sum(v * v) AS BIGINT) AS sumsq_q
               FROM d GROUP BY dim),
         st AS (SELECT list(CAST(sum_q AS DOUBLE) / n / 1e6 ORDER BY dim) AS mu,
                       list(sqrt(greatest(CAST(0 AS DOUBLE),
                              CAST(sumsq_q AS DOUBLE) / n
                              - (CAST(sum_q AS DOUBLE) / n)
                                * (CAST(sum_q AS DOUBLE) / n))) / 1e6
                            ORDER BY dim) AS sd
                FROM a)"""

  // dir-agnostic fallback, usable only when exactly one projection was
  // trained this process (the Similarity codebook contract)
  override def oracles: Map[String, String] = Map(
    // q163: the zipped co-unnest + GROUP BY(dim) form over the SAME
    // integer quantization; divisions cast explicitly (DuckDB BIGINT /
    // BIGINT truncates where Spark's `/` is true division)
    "q163_embedding_audit" ->
      """WITH q AS (SELECT [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                            for x in embedding] AS qv
                    FROM embeddings),
         d AS (SELECT unnest(range(1, len(qv) + 1)) AS dim,
                      unnest(qv) AS v FROM q),
         a AS (SELECT dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_q,
                      CAST(sum(v * v) AS BIGINT) AS sumsq_q,
                      min(v) AS min_q, max(v) AS max_q
               FROM d GROUP BY dim)
         SELECT CAST(dim AS BIGINT) AS dim, n, sum_q, sumsq_q, min_q, max_q,
                CAST(sum_q AS DOUBLE) / n / 1e6 AS mean,
                sqrt(greatest(CAST(0 AS DOUBLE),
                     CAST(sumsq_q AS DOUBLE) / n
                     - (CAST(sum_q AS DOUBLE) / n) * (CAST(sum_q AS DOUBLE) / n)))
                  / 1e6 AS std
         FROM a ORDER BY dim""",
    // q166: per-dim stats from the same integer quantization, listed in
    // dim order, then the per-element (x − μ)/σ in 1e-4 integer units
    "q166_standardize" ->
      s"""WITH $dimStatsCtes
         SELECT vec_id,
                array_to_string(
                  [CASE WHEN st.sd[i] = 0 THEN 0
                        ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - st.mu[i])
                                        / st.sd[i] * 1e4) AS BIGINT) END
                   for i in range(1, len(embedding) + 1)], ',') AS z4
         FROM q, st ORDER BY vec_id""",
    // q184: same integer-stats derivation per snapshot; the shift is one
    // fixed-shape IEEE expression over bit-exact doubles
    "q184_embedding_drift" ->
      """WITH h AS (SELECT count(*) // 2 AS half FROM embeddings),
         q AS (SELECT CASE WHEN vec_id >= h.half THEN 1 ELSE 0 END AS snap,
                  [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                   for x in embedding] AS qv
               FROM embeddings, h),
         d AS (SELECT snap, unnest(range(1, len(qv) + 1)) AS dim,
                      unnest(qv) AS v FROM q),
         a AS (SELECT snap, dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
                      CAST(sum(v * v) AS BIGINT) AS sq
               FROM d GROUP BY 1, 2),
         m AS (SELECT snap, dim, n, CAST(s AS DOUBLE) / n / 1e6 AS mu,
                      greatest(CAST(0 AS DOUBLE),
                        CAST(sq AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                      / 1e12 AS va
               FROM a),
         g AS (SELECT dim,
                      max(CASE WHEN snap = 0 THEN n END) AS n_a,
                      max(CASE WHEN snap = 1 THEN n END) AS n_b,
                      max(CASE WHEN snap = 0 THEN mu END) AS mu_a,
                      max(CASE WHEN snap = 1 THEN mu END) AS mu_b,
                      max(CASE WHEN snap = 0 THEN va END) AS va_a,
                      max(CASE WHEN snap = 1 THEN va END) AS va_b
               FROM m GROUP BY dim)
         SELECT CAST(dim AS BIGINT) AS dim, n_a, n_b,
                CASE WHEN sqrt((va_a + va_b) / 2) = 0 THEN CAST(-1 AS BIGINT)
                     ELSE CAST(floor(abs(mu_a - mu_b)
                                     / sqrt((va_a + va_b) / 2) * 1e4) AS BIGINT)
                END AS shift4
         FROM g ORDER BY dim""",
    // q185: centroids from the same integer sums in label-ordered lists;
    // each distance is a j-ordered left fold; argmin ties break by the
    // smaller label on both sides (Spark's fold keeps the FIRST strict
    // minimum over the label-sorted array ≡ ORDER BY dd, cl pick-first)
    "q185_label_noise" ->
      """WITH q AS (SELECT CAST(label AS BIGINT) AS label, vec_id, embedding,
                  [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                   for x in embedding] AS qv
           FROM embeddings),
         d AS (SELECT label, unnest(range(1, len(qv) + 1)) AS dim,
                      unnest(qv) AS v FROM q),
         a AS (SELECT label, dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS s
               FROM d GROUP BY 1, 2),
         c AS (SELECT label AS cl,
                      list(CAST(s AS DOUBLE) / n / 1e6 ORDER BY dim) AS mu
               FROM a GROUP BY label),
         dist AS (SELECT q.vec_id, q.label, c.cl,
                    list_reduce(
                      [(CAST(q.embedding[j] AS DOUBLE) - c.mu[j])
                       * (CAST(q.embedding[j] AS DOUBLE) - c.mu[j])
                       for j in range(1, len(q.embedding) + 1)],
                      (x, y) -> x + y) AS dd
                  FROM q, c),
         r AS (SELECT vec_id, label, cl, dd,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dd, cl) AS rn
               FROM dist),
         own AS (SELECT vec_id, dd AS d_own FROM dist WHERE label = cl),
         nr AS (SELECT vec_id, label, cl AS nearest, dd AS d_near
                FROM r WHERE rn = 1)
         SELECT nr.vec_id, nr.label, nr.nearest,
                CAST(floor((own.d_own - nr.d_near) * 1e4) AS BIGINT) AS margin4
         FROM nr JOIN own USING (vec_id)
         WHERE nr.nearest <> nr.label
         ORDER BY nr.vec_id""",
    // q178: q163's co-unnest + GROUP BY, conditioned on label
    "q178_label_audit" ->
      s"""WITH $labelDimCtes,
         a AS (SELECT label, dim, count(*) AS n,
                      CAST(sum(v) AS BIGINT) AS sum_q,
                      CAST(sum(v * v) AS BIGINT) AS sumsq_q,
                      min(v) AS min_q, max(v) AS max_q
               FROM d GROUP BY label, dim)
         SELECT label, CAST(dim AS BIGINT) AS dim, n, sum_q, sumsq_q,
                min_q, max_q,
                CAST(sum_q AS DOUBLE) / n / 1e6 AS mean,
                sqrt(greatest(CAST(0 AS DOUBLE),
                     CAST(sumsq_q AS DOUBLE) / n
                     - (CAST(sum_q AS DOUBLE) / n) * (CAST(sum_q AS DOUBLE) / n)))
                  / 1e6 AS std
         FROM a ORDER BY label, dim""",
    // q179: per-label integer sums, then the SAME left fold in label
    // order both engines (list_reduce starts at the first element;
    // Spark's aggregate starts at 0.0 — x + 0.0 = x in IEEE, so the
    // folds are bit-identical); all other arithmetic is integer sums
    "q179_separability" ->
      s"""WITH $labelDimCtes,
         a AS (SELECT label, dim, count(*) AS n,
                      CAST(sum(v) AS BIGINT) AS s,
                      CAST(sum(v * v) AS BIGINT) AS sq
               FROM d GROUP BY label, dim),
         g AS (SELECT dim, CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(s) AS BIGINT) AS ss,
                      CAST(sum(sq) AS BIGINT) AS qq,
                      list_reduce(
                        list((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n
                             ORDER BY label),
                        (x, y) -> x + y) AS t
               FROM a GROUP BY dim)
         SELECT CAST(dim AS BIGINT) AS dim, nn AS n,
                CASE WHEN (CAST(qq AS DOUBLE) - t) <= 0 THEN CAST(-1 AS BIGINT)
                     ELSE CAST(floor(
                       greatest(CAST(0 AS DOUBLE),
                                t - (CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / nn)
                       / (CAST(qq AS DOUBLE) - t) * 1e6) AS BIGINT) END AS f6
         FROM g ORDER BY dim""",
    // q175: same st CTE as q166, then per-vector |z| list; the flag
    // comparisons run on the identical single-rounded doubles both
    // engines compute from the integer-derived mu/sd
    "q175_outlier_audit" ->
      s"""WITH $dimStatsCtes,
         z AS (SELECT vec_id,
                      [CASE WHEN st.sd[i] = 0 THEN CAST(0 AS DOUBLE)
                            ELSE abs((CAST(embedding[i] AS DOUBLE) - st.mu[i])
                                     / st.sd[i]) END
                       for i in range(1, len(embedding) + 1)] AS zz
               FROM q, st)
         SELECT vec_id,
                CAST(len([x for x in zz if x > 3.0]) AS BIGINT) AS n_extreme,
                CAST(floor(list_max(zz) * 1e4) AS BIGINT) AS z4max
         FROM z
         WHERE len([x for x in zz if x > 3.0]) >= 1
         ORDER BY vec_id""",
    "q153_rbo_eval" -> rboOracleSql,
    "q125_pca_sweep" -> (if (pcaCache.size == 1)
        pcaOracleSqlTrained(pcaCache.values.iterator.next())
      else "SELECT 1 AS q125_not_built_unambiguously_this_process"),
    "q136_pca_binary" -> (if (pca64Cache.size == 1)
        pcaBinaryOracleSql(pca64Cache.values.iterator.next())
      else "SELECT 1 AS q136_not_built_unambiguously_this_process"),
    // integer signature fold, integer Hamming ranking with id tiebreak,
    // one recall division per output row
    "q135_binary_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${signSigCte("v", "e")},
         $hammingRecallSql""",
  )
}
