package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 curation operators (SURVEY.md §2 rows 11-13 [extension] — the
  * reference at /root/reference has no query/curation surface at all;
  * these rows are the BASELINE.json north-star mandate) — the
  * corpus-hygiene steps of a training-data pipeline that sit between raw
  * dedup and final packing:
  * boilerplate-span removal, deterministic stratified sampling, broadcast
  * model scoring, domain-mix resampling, and the sharded-bloom incremental
  * dedup declared as an oracle-gated query (its OUTPUT is exact — the
  * bloom only routes rows, so the plain anti-join SQL is a valid oracle
  * for the whole sharded path).
  *
  * Scale notes (100 TB design points):
  *  - q91's hot-chunk set is a broadcast one-row aggregate (boilerplate
  *    is small by definition); the corpus itself is NEVER shuffled — the
  *    rebuild is a map-side array filter. Only chunk strings shuffle for
  *    the df count.
  *  - q92 reuses the bounded-heap TopKAgg: sampling = top-k per group by
  *    a hash score, no window sort, partial-aggregatable.
  *  - q93's model is a literal weight vector (broadcast by constant
  *    folding); scoring is per-row map work.
  *  - q94's per-group rates are a tiny groups-row aggregate joined back
  *    broadcast; the keep decision is a per-row hash compare.
  */
object Curation2 extends QueryPack {

  private val toks = graft.functions.TextExprs.toks

  /** Fixed 8-word chunking of the token array (last chunk partial), as a
    * single let-bound expression — parity with DuckDB
    * `w[i*8+1 : i*8+8]` over `range(ceil(len(w)/8))`. */
  private val chunksExpr = graft.functions.TextExprs.let1(toks, "w",
    """transform(sequence(0, cast(ceil(size(w) / 8.0) as int) - 1),
                 i -> array_join(slice(w, i * 8 + 1, 8), ' '))""")

  /** Corpus-level BOILERPLATE-SPAN removal (the CCNet/RefinedWeb shape):
    * chunk every doc into fixed 8-word spans, count each span's document
    * frequency across the corpus, and strip spans appearing in >= 2 docs
    * (shared headers/footers/templates). The hot-span set is collected
    * into a ONE-ROW broadcast aggregate — boilerplate is small by
    * definition (it is the content shared verbatim across documents) —
    * and each doc is rebuilt MAP-SIDE by an array filter against it, so
    * the corpus text never shuffles; only the span strings do, once, for
    * the df count. At a corpus scale where the hot set outgrows a
    * broadcast array, swap the array_contains for a broadcast hash join
    * on the exploded form (same df aggregate, same map-side rebuild).
    */
  private def q91Boilerplate(s: SparkSession, d: String): DataFrame = {
    val chunked = Tables.documents(s, d)
      .select(col("doc_id"), expr(chunksExpr).as("chunks"))
    // df = distinct-doc count, computed as a PLAIN count over per-doc
    // map-side-distinct chunk postings (array_distinct before explode):
    // one partial-aggregatable exchange on chunk, instead of the 2-phase
    // distinct-aggregate's pair of exchanges
    val hot = chunked
      .select(explode(array_distinct(col("chunks"))).as("chunk"))
      .groupBy("chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .agg(coalesce(collect_list(col("chunk")), expr("array()")).as("hot"))
    chunked.crossJoin(broadcast(hot))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        expr("cast(size(filter(chunks, c -> array_contains(hot, c))) as bigint)")
          .as("n_dropped"),
        expr("array_join(filter(chunks, c -> NOT array_contains(hot, c)), ' ')")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** Scale variant of [[q91Boilerplate]]: the df aggregate and the hot
    * set carry 8-byte `xxhash64(chunk)` values instead of chunk STRINGS,
    * so the one corpus-wide shuffle is fixed-width regardless of span
    * length, and the broadcast hot set is 8 bytes/entry. The rebuild
    * filters on the hash of each chunk map-side. Value-equal to the
    * declared form up to 64-bit collisions (probability ~N²/2⁶⁵ across
    * the distinct-chunk population — negligible at any practical corpus;
    * a collision would only ever DROP an extra chunk, never keep a hot
    * one). Asserted equal to the string form in Curation2Spec.
    */
  private[graft] def boilerplateHashed(s: SparkSession, d: String): DataFrame = {
    val chunked = Tables.documents(s, d)
      .select(col("doc_id"), expr(chunksExpr).as("chunks"))
    val hot = chunked
      .select(explode(array_distinct(col("chunks"))).as("chunk"))
      .select(xxhash64(col("chunk")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .agg(coalesce(collect_list(col("h")), expr("array()")).as("hot"))
    chunked.crossJoin(broadcast(hot))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        expr("cast(size(filter(chunks, c -> array_contains(hot, xxhash64(c)))) as bigint)")
          .as("n_dropped"),
        expr("array_join(filter(chunks, c -> NOT array_contains(hot, xxhash64(c))), ' ')")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** Deterministic STRATIFIED sampling: top-3 docs per source by a Knuth
    * multiplicative hash of doc_id — uniform-without-replacement per
    * stratum, reproducible across engines and runs (no RNG state). Uses
    * the bounded-heap [[graft.functions.TopKAgg]], so sampling runs as a
    * partial-aggregatable groupBy (map-side heaps of k rows per stratum,
    * no window sort of the corpus) — the same no-sort shape as q77.
    */
  private def q92StratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
              expr("cast((doc_id * 2654435761) % 1048576 as double)").as("score"))
      .groupBy("source")
      .agg(graft.functions.TopKAgg
        .top_k_by_score(col("score"), col("doc_id"), 3).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("source"), (col("rnk0") + 1).cast("long").as("rnk"),
              col("t.id").as("doc_id"), col("t.score").as("score"))
      .orderBy("source", "rnk")

  /** The scoring transform itself, factored so the STREAMING gate (q112)
    * runs the IDENTICAL code path over an unbounded DataFrame — stateless
    * projection only, so it lifts to Structured Streaming unchanged (the
    * strongest batch-equivalence: one definition, two execution modes).
    * Input needs (doc_id, text); output is unsorted (streams can't sort). */
  private[graft] def qualityScoreCore(docs: DataFrame): DataFrame = {
    val f = docs
      .select(col("doc_id"),
              expr(graft.functions.TextExprs.let1(toks, "w",
                """named_struct(
                     'n', size(w),
                     'ns', size(filter(w, x -> x IN ('a', 'the'))),
                     'sl', aggregate(w, 0, (acc, x) -> acc + length(x)))"""))
                .as("f"))
      .select(col("doc_id"), col("f.n").as("n"), col("f.ns").as("ns"),
              col("f.sl").as("sl"))
    val score = expr(
      """0.1 + 0.015 * n + 3.0 * (ns / cast(n as double))
             - 0.25 * (sl / cast(n as double))""")
    f.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
             (floor(score * 1e6) / 1e6).as("score"),
             when(score > 0, 1L).otherwise(0L).as("keep"))
  }

  /** Broadcast LINEAR QUALITY MODEL scoring — the "tiny classifier over
    * cheap features" stage (fastText-style quality filters): per-doc
    * features (token count, stopword share, mean token length) dotted
    * with a literal weight vector; keep = score > 0. Weights are plan
    * constants (constant-folded, effectively broadcast); scoring is pure
    * per-row map work — embarrassingly parallel at any corpus size. All
    * feature arithmetic is IEEE double in the same operation order as
    * the DuckDB oracle, so scores are bit-reproducible cross-engine
    * (floor-truncation only bounds the printed precision).
    */
  private def q93QualityModel(s: SparkSession, d: String): DataFrame =
    qualityScoreCore(Tables.documents(s, d)).orderBy("doc_id")

  /** DOMAIN-MIX resampling: hit target source proportions (here: 2×
    * weight for src0-src4, a 300-doc budget) by computing a per-source
    * keep rate min(1, budget·share/n_g) from a groups-row count
    * aggregate, then keeping rows whose deterministic doc_id hash
    * uniform falls under their source's rate. The rate table is tiny
    * (one row per source) and joins back broadcast; the keep decision is
    * a per-row multiply-mod-compare — the data-mixing shape (DoReMi-ish
    * static weights) at any corpus size, one count shuffle total.
    */
  private def q94DomainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val rate = docs.groupBy("source").agg(count(lit(1)).as("n_g"))
      .withColumn("r", least(lit(1.0),
        expr("""(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                      THEN 2.0 ELSE 1.0 END * 300.0 / 25.0) / n_g""")))
    val kept = docs.join(broadcast(rate), "source")
      .filter(expr("((doc_id * 2654435761) % 1048576) / 1048576.0") < col("r"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    rate.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_g").cast("long").as("n_docs"),
              (floor(col("r") * 1e6) / 1e6).as("rate"),
              coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"))
      .orderBy("source")
  }

  /** The SHARDED-BLOOM incremental dedup
    * ([[Dedup.incrementalDedupBloomSharded]]) declared as a first-class
    * query: 8 digest-prefix shards over the existing corpus, fresh rows
    * probe only their own shard, positives re-verified by the exact
    * anti-join. The bloom layer only ROUTES rows (negatives are
    * definitively new; positives are exactly verified), so the output is
    * identical to the plain anti-join and q76's NOT EXISTS SQL is a full
    * oracle for the entire sharded path — the scale machinery itself
    * sits under the cross-engine hash gate, not just under a unit test.
    */
  private def q95DedupBloomSharded(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val existing = docs.filter(col("doc_id") < 250).select(md5(col("text")).as("sig"))
    val fresh = docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), md5(col("text")).as("sig"))
    Dedup.incrementalDedupBloomSharded(fresh, existing,
        expectedItems = 256L, fpp = 0.03, nShards = 8)
      .select("doc_id", "sig")
      .orderBy("doc_id")
  }

  /** q96's held-out set bound: membership is (vec_id % 10 == 0) AND
    * vec_id < 10·knnHoldoutCap, so AT MOST [[knnHoldoutCap]] vectors
    * are ever classified per run — a labeling batch is a fixed work
    * unit, not a corpus fraction (a residue-only predicate made the
    * brute scan corpus × corpus/10: the r13 z10 run measured it ×178
    * at ×10 data — the q285-benchmark lesson again). The cap does not
    * bind at the committed sfs (max vec_id 1999 < 2560), so the gated
    * output and its hash are unchanged. */
  private val knnHoldoutCap = 256L

  /** kNN LABEL PROPAGATION — the semi-supervised step of quality
    * curation: a BOUNDED held-out batch (see [[knnHoldoutCap]]) gets a
    * label by majority vote of its 5 nearest labeled neighbors
    * (cosine), ties to the smallest label; the true label rides along
    * so the output is also the accuracy audit. The declared form is
    * brute-force over a BROADCAST query set (q40's shape — the corpus
    * never shuffles; per-partition work is corpus_rows × |Q| dot
    * products, LINEAR in the corpus at the capped |Q|) with the
    * bounded-heap TopKAgg ranking (shuffle ≤ 5·|Q| rows). At corpus
    * scale the candidate step swaps for [[Similarity]]'s IVF-PQ search
    * (`ivfPqSearchRerank`) with the same vote tail — the vote itself is
    * two tiny aggregates over 5·|Q| rows regardless of corpus size.
    */
  private def q96KnnClassify(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val isHeldOut = col("vec_id") % 10 === 0 &&
      col("vec_id") < 10L * knnHoldoutCap
    val q = e.filter(isHeldOut)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
              col("label").as("true_label"))
    val labeled = e.filter(!isHeldOut)
    val top = labeled.crossJoin(broadcast(q.select(col("q_id"), col("qv"))))
      .withColumn("cos",
        graft.functions.NativeExprs.cosine_sim(col("embedding"), col("qv")))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg
        .top_k_by_score(col("cos"), col("vec_id"), 5).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("n_id"))
    val votes = top
      .join(labeled.select(col("vec_id").as("n_id"), col("label")), "n_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
    // argmax with ties to the SMALLEST label: max over (votes, -label)
    votes.groupBy("q_id")
      .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("m"))
      .join(q.select(col("q_id"), col("true_label")), "q_id")
      .select(col("q_id"),
              (-col("m.neg")).cast("long").as("pred_label"),
              col("m.votes").cast("long").as("n_votes"),
              col("true_label").cast("long").as("true_label"),
              when(-col("m.neg") === col("true_label"), 1L).otherwise(0L)
                .as("correct"))
      .orderBy("q_id")
  }

  /** BM25 scoring tail over a (doc_id, len, term, tf) relation plus a
    * one-row (n, sl) corpus-stats relation — shared by q97 (scoring
    * straight off the scan) and q260 (scoring off the persisted,
    * appended index read back from disk). The fixed-order three-term
    * combine keeps the double sum bit-exact cross-engine (the q97
    * lesson). */
  private def bm25TopK(tf: DataFrame, stats: DataFrame): DataFrame = {
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(dfT), "term").crossJoin(broadcast(stats))
      .withColumn("s", expr(
        """((cast(n as double) - df + 0.5e0) / (df + 0.5e0))
           * (tf * 2.2e0)
           / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (len / (sl / cast(n as double)))))"""))
    val perDoc = sc.groupBy("doc_id").agg(
      (coalesce(max(when(col("term") === "spark", col("s"))), lit(0.0))
        + coalesce(max(when(col("term") === "join", col("s"))), lit(0.0))
        + coalesce(max(when(col("term") === "window", col("s"))), lit(0.0)))
        .as("score"))
    perDoc
      .agg(graft.functions.TopKAgg
        .top_k_by_score(col("score"), col("doc_id"), 10).as("top"))
      .select(posexplode(col("top")).as(Seq("rnk0", "t")))
      .select((col("rnk0") + 1).cast("long").as("rnk"),
              col("t.id").as("doc_id"),
              (floor(col("t.score") * 1e6) / 1e6).as("score"))
      .orderBy("rnk")
  }

  /** BM25 KEYWORD SEARCH — top-10 docs for a fixed 3-term query. The
    * lexical-retrieval half of a hybrid search stack (beside q96/q98's
    * vector half): per-(doc, term) tf over the QUERY'S terms only (the
    * `isin` filter rides the explode, so non-query tokens never leave
    * the scan), document frequency and corpus stats as tiny broadcast
    * aggregates, and a global bounded-heap top-10 (shuffle ≤ 10 rows per
    * partition). The per-term scores combine in a FIXED left-to-right
    * order (one conditional-max column per term), so the double
    * summation is order-deterministic and the DuckDB oracle reproduces
    * it bit-exactly. Deliberate deviation from textbook BM25: idf is
    * the rational (N − df + 0.5)/(df + 0.5) WITHOUT the log — every
    * operation stays IEEE-exact cross-engine (no libm); the log is a
    * per-term monotone transform, so single-term ranking is identical
    * and multi-term mixing is mildly re-weighted. A production deploy
    * would re-enable the log (determinism across ENGINES is a test
    * concern, not a cluster concern).
    */
  private def q97Bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    // one tokenize pass (r16): corpus stats and the query-term postings
    // both read the same projected relation, and only the QUERY TERMS
    // explode (the array filter runs before Generate instead of
    // fanning out every corpus token and filtering rows after)
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(expr(toks)).as("len"),
              expr(s"filter($toks, t -> t IN ($termList))").as("qw"))
    val stats = t.agg(count(lit(1)).as("n"), sum(col("len")).as("sl"))
    val tf = t.select(col("doc_id"), col("len"), explode(col("qw")).as("term"))
      .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf"))
    bm25TopK(tf, stats)
  }


  /** q260: PERSISTED LEXICAL INDEX + APPEND ≡ REBUILD — the index-
    * lifecycle story (q156/q157/q160/q172 on the ANN tier, q108 on the
    * band tier) extended to BM25: the inverted index is two parquet
    * relations under a WorkDirs artifact root — `postings`
    * (doc_id, term, tf) over the FULL vocabulary and `doclens`
    * (doc_id, len), the minimal state from which df, N and avgdl all
    * re-derive — built once over the pre-crawl corpus (doc_id < 250)
    * and APPENDED with the new batch's postings, never rebuilt.
    * Query-time scoring reads the index back from disk, filters the
    * query terms' postings, and runs the shared q97 scoring tail.
    * Oracle = q97's full-corpus rebuild SQL verbatim, so a hash match
    * certifies append ≡ rebuild for the lexical tier: df/N/avgdl are
    * pure additive statistics, which is exactly WHY search engines can
    * append segments without rescoring history. */
  private def q260Bm25IndexAppend(s: SparkSession, d: String): DataFrame = {
    val root = graft.SessionMemo.getOrElseUpdate[String](
      s, "bm25.index", d)({
        val r = graft.WorkDirs.artifactDir(s, "bm25index", d)
        val t = Tables.documents(s, d)
          .select(col("doc_id"), expr(toks).as("w"))
        def writeBatch(df: DataFrame, mode: String): Unit = {
          df.select(col("doc_id"), explode(col("w")).as("term"))
            .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
            .write.mode(mode).parquet(s"$r/postings")
          df.select(col("doc_id"), size(col("w")).cast("long").as("len"))
            .write.mode(mode).parquet(s"$r/doclens")
        }
        writeBatch(t.filter(col("doc_id") < 250), "overwrite")
        writeBatch(t.filter(col("doc_id") >= 250), "append")
        r
      })
    val postings = s.read.parquet(s"$root/postings")
    val doclens = s.read.parquet(s"$root/doclens")
    val stats = doclens.agg(count(lit(1)).as("n"), sum("len").as("sl"))
    val tf = postings
      .filter(col("term").isin("spark", "join", "window"))
      .join(doclens, "doc_id")
      .select(col("doc_id"), col("len"), col("term"), col("tf"))
    bm25TopK(tf, stats)
  }

  /** METADATA-FILTERED vector search (hybrid search's other half): top-5
    * cosine neighbors per query, restricted to corpus vectors whose
    * document metadata passes a predicate (lang = 'en') — PRE-FILTER
    * semantics (filter before scoring), the correct-recall form. The
    * metadata join runs BEFORE the broadcast-query scoring, so only
    * qualifying vectors are ever scored; on the IVF layout the same
    * predicate composes with cell partition-pruning (the filter reaches
    * the index scan — q45's pruned-probe machinery), keeping filtered
    * ANN sub-linear at corpus scale.
    */
  private def q98FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val lang = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val corpus = e.join(lang, "vec_id").filter(col("lang") === "en")
    corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.NativeExprs.cosine_sim(col("embedding"), col("qv")))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg
        .top_k_by_score(col("cos"), col("vec_id"), 5).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("q_id"), (col("rnk0") + 1).cast("long").as("rnk"),
              col("t.id").as("n_id"),
              (floor(col("t.score") * 100000) / 100000).as("cosine"))
      .orderBy("q_id", "rnk")
  }

  /** FILTER-CHAIN AUDIT (C4/Gopher-style rule attribution): run the
    * quality rule set and record, per document, WHICH rules failed — not
    * just the keep bit. The drop-reason breakdown is what a curation
    * team actually debugs with ("we lost 40% of src7 to the stopword
    * rule"), and emitting it costs nothing extra: all four rules read
    * the same per-doc feature struct computed once per row (let-bound,
    * one split), pure map work at any scale. Reasons concatenate in a
    * fixed rule order, so the column is deterministic text and the
    * whole audit sits under the cross-engine hash gate.
    */
  private def q99FilterAudit(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(col("doc_id"),
              expr(graft.functions.TextExprs.let1(toks, "w",
                """named_struct(
                     'n', size(w),
                     'stop_ratio', size(filter(w, x -> x IN ('a', 'the')))
                                   / cast(size(w) as double),
                     'mean_len', aggregate(w, 0, (acc, x) -> acc + length(x))
                                 / cast(size(w) as double),
                     'distinct_ratio', size(array_distinct(w))
                                       / cast(size(w) as double))"""))
                .as("f"))
    f.select(col("doc_id"),
        concat(
          when(col("f.n") < 20, lit("min_tokens;")).otherwise(lit("")),
          when(col("f.stop_ratio") < 0.01, lit("stopwords;")).otherwise(lit("")),
          when(col("f.mean_len") > 6.0, lit("mean_len;")).otherwise(lit("")),
          when(col("f.distinct_ratio") < 0.3, lit("repetition;")).otherwise(lit("")))
          .as("reasons"))
      .select(col("doc_id"),
              when(col("reasons") === "", 1L).otherwise(0L).as("keep"),
              col("reasons"))
      .orderBy("doc_id")
  }

  /** Per-source token budget for q134 — a plan literal sized so the cut
    * bites on the test corpora (mean source mass is ~1.4k tokens at
    * sf0.01). */
  private val budgetTokens = 800L

  /** q134: EXACT TOKEN-BUDGET SAMPLING — admit documents per source in
    * deterministic hash order until the source's token budget is spent:
    * the EXACT-budget complement of q94's expected-rate mix (q94 hits
    * target proportions in expectation with zero coordination; q134
    * guarantees the byte/token contract a training run actually
    * schedules against). Hash order (q94's Knuth multiplicative hash,
    * doc_id tiebreak) makes the sample rerun-stable and
    * arrival-order-free; admission is the running token sum ≤ budget —
    * an integer cumulative window per source. The one range shuffle
    * (partition by source, order by hash) is inherent to exact
    * sequential admission — per-source sort of (source, h, doc_id,
    * ntok) id-grain rows, no text; when a pipeline can tolerate ±1%
    * budget error it should use q94's rate form and skip the sort —
    * this pair IS that trade, stated. */
  private def q134TokenBudget(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
              expr(s"size($toks)").cast("long").as("ntok"),
              expr("(doc_id * 2654435761) % 1048576").as("h"))
      .withColumn("cum_tokens", sum("ntok").over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("source"), col("doc_id"), col("ntok"), col("cum_tokens"))
      .orderBy("source", "cum_tokens")
  }

  /** q207: NEAR-DUP QUALITY DISAGREEMENT — quality-score propagation
    * over the near-dup graph: near-duplicate documents should score
    * near-identically under any content-based quality model, so a doc
    * whose score diverges from its near-dup neighborhood's mean marks
    * either a noisy score or a mutated copy (spam injection into a
    * copied page is exactly this signature) — the TEXT-side twin of
    * q185's embedding label-noise audit. Edges are q42's
    * exact-verified MinHash pair set; scores are q93's model. Parity
    * hardening: each doc's floored score re-integerizes exactly
    * (round(score·1e6) recovers the floor integer — the roundtrip
    * error is ≪ 0.5), neighbor sums are exact integers in any
    * partition order, and the mean is one single-rounded division,
    * floored — summing raw doubles would be partition-order-dependent.
    * Plan: the pair pipeline's id-only shuffles + one score join on
    * the (2·|pairs|)-row edge list + one doc_id-grain aggregate. */
  private def q207QualityDisagree(s: SparkSession, d: String): DataFrame = {
    val isc = qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"),
              expr("cast(round(score * 1000000) as bigint)").as("isc"))
    val pr = Dedup.minhashLshPairsCore(s, d).select("a_id", "b_id")
    val edges = pr.select(col("a_id").as("doc_id"), col("b_id").as("nbr"))
      .unionByName(pr.select(col("b_id").as("doc_id"), col("a_id").as("nbr")))
    edges
      .join(isc.select(col("doc_id").as("nbr"), col("isc").as("nisc")), "nbr")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_neighbors"), sum("nisc").as("nsum"))
      .join(isc, "doc_id")
      .select(col("doc_id"), col("n_neighbors"),
        (col("isc").cast("double") / 1000000).as("score"),
        expr("floor(cast(nsum as double) / n_neighbors) / 1000000")
          .as("nbr_avg"))
      .withColumn("gap", expr("floor(abs(score - nbr_avg) * 1000) / 1000"))
      .orderBy("doc_id")
  }

  /** q210: QUALITY-CURRICULUM BINS — the input a curriculum schedule is
    * built from (train low→high quality, or anneal the mix toward the
    * top bin): the corpus partitioned into score QUARTILES by its own
    * percentile thresholds, reporting per bin the document count, token
    * mass, and mean score. The thresholds are ONE broadcast aggregate
    * row (q74's pattern, array form); bin assignment is three map-side
    * compares summed as integers; the per-bin mean is an exact-integer
    * sum of the re-integerized scores closed with one single-rounded
    * division (a raw double avg would be partition-order-dependent).
    * One corpus scan, one S-row… rather 4-row aggregate: nothing
    * driver-side, nothing text past the score projection. */
  private def q210CurriculumBins(s: SparkSession, d: String): DataFrame = {
    val sc = qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"), col("n_tokens"), col("score"),
              expr("cast(round(score * 1000000) as bigint)").as("isc"))
    val thr = sc.agg(expr("percentile(score, array(0.25, 0.5, 0.75))").as("t"))
    sc.crossJoin(broadcast(thr))
      .select(col("n_tokens"), col("isc"),
        (lit(1) + (col("score") > expr("t[0]")).cast("int")
                + (col("score") > expr("t[1]")).cast("int")
                + (col("score") > expr("t[2]")).cast("int")).cast("long")
          .as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
           sum("isc").as("sisc"))
      .select(col("bin"), col("n_docs"), col("bin_tokens"),
        expr("floor(cast(sisc as double) / n_docs) / 1000000").as("avg_score"))
      .orderBy("bin")
  }

  /** q237: CROSS-SOURCE SCORE NORMALIZATION — each document's quality
    * score mapped to its WITHIN-SOURCE quantile, (rank−1)/(n−1): the
    * calibration fix for a content-based scorer whose raw scale
    * drifts across sources (one source's 0.8 is another's median —
    * any global threshold then over-prunes the strict source; quantile
    * normalization is the standard cure, and q210's curriculum bins or
    * q74's gate can run on the normalized column unchanged). Rank is a
    * full-relation TRANSFORM, not a top-k, so the window is the honest
    * plan: one source-keyed shuffle ranks each partition in (score,
    * doc_id) total order; per-source counts ride a broadcast S-row
    * aggregate; the quantile is one floored division of exact
    * integers. */
  private def q237ScoreNormalize(s: SparkSession, d: String): DataFrame = {
    val sc = qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"), col("score"),
              expr("cast(round(score * 1000000) as bigint)").as("isc"))
      .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("isc"), col("doc_id"))
    val counts = sc.groupBy("source").agg(count(lit(1)).as("n"))
    sc.withColumn("src_rank", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"), col("src_rank"),
        expr("""CASE WHEN n > 1
                THEN floor(cast(src_rank - 1 as double) / (n - 1) * 1000000)
                     / 1000000 ELSE cast(0 as double) END""").as("pct"))
      .orderBy("doc_id")
  }

  /** q239: LENGTH-BIAS AUDIT — the exact Pearson correlation between
    * document length and quality score, per source AND pooled (the
    * '__ALL' row): q93's linear model has an explicit length term, so
    * some correlation is designed in — what this audit catches is the
    * Simpson's-paradox failure mode where the pooled correlation and a
    * source's own correlation DISAGREE (a length-confounded source mix
    * makes any global length-sensitive threshold systematically unfair
    * to short-doc sources). Arithmetic is q69's integral-correlation
    * technique lifted to the curation tier: x = token count, y = the
    * re-integerized score, all five moment sums exact BIGINTs in any
    * partition order, correlation one fixed-shape float expression
    * over them, floored. One grouped pass + one global pass of the
    * same 6-column relation. */
  private def q239LengthBias(s: SparkSession, d: String): DataFrame = {
    val t = qualityScoreCore(Tables.documents(s, d))
      .select(col("doc_id"), col("n_tokens").as("x"),
              expr("cast(round(score * 1000000) as bigint)").as("y"))
      .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
    def moments(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = g
      .agg(count(lit(1)).as("n_docs"), sum("x").as("sx"), sum("y").as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("y") * col("y")).as("syy"))
    val corr = expr(
      """floor(cast(n_docs * sxy - sx * sy as double)
               / (sqrt(cast(n_docs * sxx - sx * sx as double))
                  * sqrt(cast(n_docs * syy - sy * sy as double)))
               * 1000000) / 1000000""")
    moments(t.groupBy("source"))
      .unionByName(moments(t.withColumn("source", lit("__ALL"))
                             .groupBy("source")))
      .select(col("source"), col("n_docs"), corr.as("corr_len_score"))
      .orderBy("source")
  }

  /** q241: QUALITY-SIGNAL ENSEMBLE — the three independent quality
    * signals this repo gates (q93 linear model, q119 bigram-LM NLL,
    * q142 token entropy) fused into one robust score by WITHIN-SOURCE
    * percentile fusion: each signal maps to its q237 quantile
    * (oriented so higher = better: score ascending, NLL descending,
    * entropy ascending), and the fused score is the exact-integer sum
    * of the three quantiles — the rank-fusion practice (ensembling
    * weak filters beats any one; percentiles make the scales
    * commensurable) with the q237 calibration argument built in.
    * Deliberately SOURCE-partitioned rank, not global: a global exact
    * rank is a single-partition sort at corpus scale, while
    * source-keyed windows shuffle once on the key the corpus is
    * already organized by (at 100 TB a global variant would use
    * approximate quantiles). All three signals re-integerize exactly
    * from their floored 1e-6 outputs; ties break on doc_id; the fused
    * sum is exact. */
  private def q241QualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val src = docs.select(col("doc_id"), col("source"))
    val j = qualityScoreCore(docs)
      .select(col("doc_id"), expr("cast(round(score * 1000000) as bigint)").as("v93"))
      .join(Curation3.lmScoreMemo(s, d)
        .select(col("doc_id"), expr("cast(round(nll * 1000000) as bigint)").as("v119")),
        Seq("doc_id"))
      .join(Stats.tokenEntropyCore(docs)
        .select(col("doc_id"), expr("cast(round(entropy * 1000000) as bigint)").as("v142")),
        Seq("doc_id"))
      .join(src, Seq("doc_id"))
    import org.apache.spark.sql.expressions.Window
    def pct(rankCol: String): org.apache.spark.sql.Column =
      expr(s"""CASE WHEN n > 1
               THEN cast(floor(cast($rankCol - 1 as double)
                               / (n - 1) * 1000000) as bigint)
               ELSE cast(0 as bigint) END""")
    val counts = j.groupBy("source").agg(count(lit(1)).as("n"))
    j.withColumn("r93", row_number().over(
        Window.partitionBy("source").orderBy(col("v93"), col("doc_id"))))
      .withColumn("r119", row_number().over(
        Window.partitionBy("source").orderBy(col("v119").desc, col("doc_id"))))
      .withColumn("r142", row_number().over(
        Window.partitionBy("source").orderBy(col("v142"), col("doc_id"))))
      .join(broadcast(counts), Seq("source"))
      .select(col("doc_id"), col("source"), pct("r93").as("p93"),
              pct("r119").as("p119"), pct("r142").as("p142"))
      .withColumn("fused", col("p93") + col("p119") + col("p142"))
      .orderBy("doc_id")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q241_quality_ensemble" -> q241QualityEnsemble _,
    "q237_score_normalize" -> q237ScoreNormalize _,
    "q239_length_bias" -> q239LengthBias _,
    "q210_curriculum_bins" -> q210CurriculumBins _,
    "q207_quality_disagree" -> q207QualityDisagree _,
    "q134_token_budget"      -> q134TokenBudget _,
    "q91_boilerplate"        -> q91Boilerplate _,
    "q92_stratified_sample"  -> q92StratifiedSample _,
    "q93_quality_model"      -> q93QualityModel _,
    "q94_domain_mix"         -> q94DomainMix _,
    "q95_dedup_bloom_sharded" -> q95DedupBloomSharded _,
    "q96_knn_classify"       -> q96KnnClassify _,
    "q97_bm25"               -> q97Bm25 _,
    "q260_bm25_index_append" -> q260Bm25IndexAppend _,
    "q98_filtered_ann"       -> q98FilteredAnn _,
    "q99_filter_audit"       -> q99FilterAudit _,
  )

  /** q97's oracle SQL — the full-corpus rebuild; shared verbatim by
    * q260 as the append ≡ rebuild certificate. */
  private val q97OracleSql: String =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         stats AS (SELECT count(*) AS n, sum(len(w)) AS sl FROM t),
         tf AS (SELECT doc_id, len, term, count(*) AS tf
                FROM (SELECT doc_id, len(w) AS len, unnest(w) AS term FROM t)
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, len, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT tf.doc_id, tf.term,
                 ((CAST(n AS DOUBLE) - df + 0.5e0) / (df + 0.5e0))
                 * (tf * 2.2e0)
                 / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (len / (sl / CAST(n AS DOUBLE))))) AS s
                FROM tf JOIN df USING (term), stats),
         agg AS (SELECT doc_id,
                   coalesce(max(CASE WHEN term = 'spark' THEN s END), 0e0)
                   + coalesce(max(CASE WHEN term = 'join' THEN s END), 0e0)
                   + coalesce(max(CASE WHEN term = 'window' THEN s END), 0e0) AS score
                 FROM sc GROUP BY doc_id),
         r AS (SELECT doc_id, score,
                      row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
               FROM agg)
         SELECT rnk, doc_id, floor(score * 1000000) / 1000000 AS score
         FROM r WHERE rnk <= 10 ORDER BY rnk"""

  /** q93's token features: `t`, each doc's token list `w`, and `f`, its
    * length `n`, stop-word count `ns` and summed token length `sl`. */
  private[operators] val q93TokenCtes: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         f AS (SELECT doc_id, len(w) AS n,
                 len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                 list_aggregate(list_transform(w, x -> length(x)), 'sum') AS sl
               FROM t)"""

  /** q93's score over `fx` as the select columns `score` (floored to
    * 1e-6) and `isc` (the same floor as an integer in 1e-6 units). */
  private val q93ScoreCols: String =
    """floor((0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                              - 0.25 * (sl / CAST(n AS DOUBLE))) * 1000000)
                         / 1000000 AS score,
                       CAST(floor((0.1 + 0.015 * n
                                   + 3.0 * (ns / CAST(n AS DOUBLE))
                                   - 0.25 * (sl / CAST(n AS DOUBLE)))
                                  * 1000000) AS BIGINT) AS isc"""

  /** q93's per-doc quality features (token list `w`, length `n`,
    * stop-word count `ns`, summed token length `sl`) keyed by doc_id and
    * source — the shared head of the q237/q239/q241 oracles. */
  private val q93FeatureCtes: String =
    """ft AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\s+') AS w,
                            len(string_split_regex(trim(text), '\s+')) AS n
                  FROM documents),
         fx AS (SELECT doc_id, source, n,
                       len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                       list_aggregate(list_transform(w, x -> length(x)), 'sum')
                         AS sl
                FROM ft)"""

  override val oracles: Map[String, String] = Map(
    // q241: the three signal CTEs (q93 / q119 / q142 verbatim chains),
    // three per-source row_numbers in the heap-identical tie orders,
    // exact-integer quantiles and fused sum
    "q241_quality_ensemble" ->
      s"""WITH $q93FeatureCtes,
         s93 AS (SELECT doc_id, source,
                        CAST(floor((0.1 + 0.015 * n
                                    + 3.0 * (ns / CAST(n AS DOUBLE))
                                    - 0.25 * (sl / CAST(n AS DOUBLE)))
                                   * 1000000) AS BIGINT) AS v93
                 FROM fx),
         bg AS (SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
                FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                      FROM ft WHERE len(w) >= 2)),
         bc AS (SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b),
         uc AS (SELECT tok, count(*) AS c1
                FROM (SELECT unnest(w) AS tok FROM ft) GROUP BY tok),
         vv AS (SELECT count(*) AS v FROM uc),
         lmterms AS (SELECT bg.doc_id, bg.pos,
                            ln((c2 + 1e0) / (c1 + CAST(v AS DOUBLE))) AS term
                     FROM bg JOIN bc USING (a, b)
                     JOIN uc ON uc.tok = bg.a, vv),
         s119 AS (SELECT doc_id,
                         CAST(floor((-(list_reduce(list(term ORDER BY pos),
                                                   (acc, x) -> acc + x))
                                     / count(*)) * 1000000) AS BIGINT) AS v119
                  FROM lmterms GROUP BY doc_id),
         etc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT doc_id, unnest(w) AS t FROM ft) GROUP BY 1, 2),
         s142 AS (SELECT doc_id,
                         CAST(floor((ln(CAST(sum(cnt) AS DOUBLE))
                                     - list_reduce(list(CAST(cnt AS DOUBLE)
                                         * ln(CAST(cnt AS DOUBLE)) ORDER BY t),
                                         (acc, x) -> acc + x)
                                       / CAST(sum(cnt) AS DOUBLE)) * 1000000)
                           AS BIGINT) AS v142
                  FROM etc GROUP BY doc_id),
         j AS (SELECT s93.doc_id, s93.source, v93, v119, v142
               FROM s93 JOIN s119 ON s119.doc_id = s93.doc_id
                        JOIN s142 ON s142.doc_id = s93.doc_id),
         r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                        ORDER BY v93, doc_id) AS r93,
                      row_number() OVER (PARTITION BY source
                        ORDER BY v119 DESC, doc_id) AS r119,
                      row_number() OVER (PARTITION BY source
                        ORDER BY v142, doc_id) AS r142
               FROM j),
         cn AS (SELECT source, count(*) AS n FROM j GROUP BY 1),
         p AS (SELECT doc_id, r.source,
                      CASE WHEN n > 1 THEN CAST(floor(
                        CAST(r93 - 1 AS DOUBLE) / (n - 1) * 1000000) AS BIGINT)
                        ELSE 0 END AS p93,
                      CASE WHEN n > 1 THEN CAST(floor(
                        CAST(r119 - 1 AS DOUBLE) / (n - 1) * 1000000) AS BIGINT)
                        ELSE 0 END AS p119,
                      CASE WHEN n > 1 THEN CAST(floor(
                        CAST(r142 - 1 AS DOUBLE) / (n - 1) * 1000000) AS BIGINT)
                        ELSE 0 END AS p142
               FROM r JOIN cn ON cn.source = r.source)
         SELECT doc_id, source, p93, p119, p142,
                CAST(p93 + p119 + p142 AS BIGINT) AS fused
         FROM p ORDER BY doc_id""",
    // q237: q93's score CTE + per-source rank in (isc, doc_id) order,
    // one floored quantile division
    "q237_score_normalize" ->
      s"""WITH $q93FeatureCtes,
         sc AS (SELECT doc_id, source, $q93ScoreCols FROM fx),
         r AS (SELECT doc_id, source, score,
                      row_number() OVER (PARTITION BY source
                        ORDER BY isc, doc_id) AS src_rank
               FROM sc),
         cn AS (SELECT source, count(*) AS n FROM sc GROUP BY 1)
         SELECT doc_id, r.source, score, CAST(src_rank AS BIGINT) AS src_rank,
                CASE WHEN n > 1
                  THEN floor(CAST(src_rank - 1 AS DOUBLE) / (n - 1) * 1000000)
                       / 1000000 ELSE CAST(0 AS DOUBLE) END AS pct
         FROM r JOIN cn ON cn.source = r.source
         ORDER BY doc_id""",
    // q239: q69's integral-correlation sums over (length, score);
    // per-source rows + the pooled '__ALL' row, identical float shape
    "q239_length_bias" ->
      s"""WITH $q93FeatureCtes,
         t AS (SELECT source, CAST(n AS BIGINT) AS x,
                      CAST(floor((0.1 + 0.015 * n
                                  + 3.0 * (ns / CAST(n AS DOUBLE))
                                  - 0.25 * (sl / CAST(n AS DOUBLE)))
                                 * 1000000) AS BIGINT) AS y
               FROM fx),
         u AS (SELECT source, x, y FROM t
               UNION ALL SELECT '__ALL', x, y FROM t),
         a AS (SELECT source, count(*) AS n_docs,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM u GROUP BY 1)
         SELECT source, n_docs,
                floor(CAST(n_docs * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n_docs * syy - sy * sy AS DOUBLE)))
                      * 1000000) / 1000000 AS corr_len_score
         FROM a ORDER BY source""",
    // q210: quantile_cont list form ≡ Spark percentile array (the q74
    // IEEE-lerp precedent); bins from the same floored scores, means
    // from exact integer sums (DuckDB lists are 1-indexed)
    "q210_curriculum_bins" ->
      s"""WITH ft AS (SELECT doc_id,
                            string_split_regex(trim(text), '\\s+') AS w,
                            len(string_split_regex(trim(text), '\\s+')) AS n
                  FROM documents),
         fx AS (SELECT doc_id, n,
                       len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                       list_aggregate(list_transform(w, x -> length(x)), 'sum')
                         AS sl
                FROM ft),
         sc AS (SELECT doc_id, n, $q93ScoreCols FROM fx),
         th AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS t FROM sc),
         b AS (SELECT n, isc,
                      1 + (score > t[1])::INT + (score > t[2])::INT
                        + (score > t[3])::INT AS bin
               FROM sc, th)
         SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS bin_tokens,
                floor(CAST(sum(isc) AS DOUBLE) / count(*)) / 1000000
                  AS avg_score
         FROM b GROUP BY bin ORDER BY bin""",
    // q207: q35's exact pair SQL (recall 1 at the 0.8 verify threshold,
    // q42's argument) + q93's score integerized; neighbor means are
    // exact-integer sums closed with one single-rounded division
    "q207_quality_disagree" ->
      s"""WITH ${TextAnalysis.shinglePairCtes("pairs")},
         pr AS (SELECT a_id, b_id FROM pairs
                WHERE common / (asz + bsz - common) >= 0.8),
         ed AS (SELECT a_id AS doc_id, b_id AS nbr FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         ft AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents),
         fx AS (SELECT doc_id, len(w) AS n,
                       len(list_filter(w, x -> x IN ('a', 'the'))) AS ns,
                       list_aggregate(list_transform(w, x -> length(x)), 'sum')
                         AS sl
                FROM ft),
         sc AS (SELECT doc_id,
                       CAST(floor((0.1 + 0.015 * n
                                   + 3.0 * (ns / CAST(n AS DOUBLE))
                                   - 0.25 * (sl / CAST(n AS DOUBLE)))
                                  * 1000000) AS BIGINT) AS isc
                FROM fx),
         ag AS (SELECT ed.doc_id, count(*) AS n_neighbors,
                       CAST(sum(nsc.isc) AS BIGINT) AS nsum
                FROM ed JOIN sc nsc ON ed.nbr = nsc.doc_id
                GROUP BY ed.doc_id)
         SELECT ag.doc_id AS doc_id, n_neighbors,
                CAST(sc.isc AS DOUBLE) / 1000000 AS score,
                floor(CAST(nsum AS DOUBLE) / n_neighbors) / 1000000
                  AS nbr_avg,
                floor(abs(CAST(sc.isc AS DOUBLE) / 1000000
                          - floor(CAST(nsum AS DOUBLE) / n_neighbors)
                            / 1000000) * 1000) / 1000 AS gap
         FROM ag JOIN sc ON ag.doc_id = sc.doc_id
         ORDER BY ag.doc_id""",
    // integer cumulative window in identical (h, doc_id) order
    "q134_token_budget" ->
      """WITH b AS (SELECT source, doc_id,
                           len(string_split_regex(trim(text), '\s+')) AS ntok,
                           (doc_id * 2654435761) % 1048576 AS h
                    FROM documents),
         c AS (SELECT source, doc_id, ntok,
                      sum(ntok) OVER (PARTITION BY source
                        ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
                        AS cum_tokens
               FROM b)
         SELECT source, doc_id, CAST(ntok AS BIGINT) AS ntok,
                CAST(cum_tokens AS BIGINT) AS cum_tokens
         FROM c WHERE cum_tokens <= 800 ORDER BY source, cum_tokens""",
    "q91_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         ch AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                       array_to_string(w[CAST(u.i*8+1 AS BIGINT):CAST(u.i*8+8 AS BIGINT)], ' ') AS chunk
                FROM t, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(i)),
         df AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk),
         flag AS (SELECT ch.doc_id, ch.i, ch.chunk, df.df FROM ch JOIN df USING (chunk))
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                coalesce(string_agg(CASE WHEN df < 2 THEN chunk END, ' ' ORDER BY i), '')
                  AS clean_text
         FROM flag GROUP BY doc_id ORDER BY doc_id""",
    // q92: the window formulation IS the oracle — the heap aggregate must
    // reproduce it exactly (total order: score desc, doc_id asc).
    "q92_stratified_sample" ->
      """WITH h AS (SELECT source, doc_id,
             CAST((doc_id * 2654435761) % 1048576 AS DOUBLE) AS score
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY score DESC, doc_id) AS rnk FROM h)
         SELECT source, rnk, doc_id, score FROM r WHERE rnk <= 3
         ORDER BY source, rnk""",
    "q93_quality_model" ->
      s"""WITH $q93TokenCtes
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                floor((0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                       - 0.25 * (sl / CAST(n AS DOUBLE))) * 1000000) / 1000000 AS score,
                CAST(CASE WHEN (0.1 + 0.015 * n + 3.0 * (ns / CAST(n AS DOUBLE))
                       - 0.25 * (sl / CAST(n AS DOUBLE))) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM f ORDER BY doc_id""",
    "q94_domain_mix" ->
      """WITH rate AS (SELECT source, count(*) AS n_g,
             least(1.0, (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                              THEN 2.0 ELSE 1.0 END * 300.0 / 25.0) / count(*)) AS r
           FROM documents GROUP BY source),
         kept AS (SELECT d.source, count(*) AS n_kept
                  FROM documents d JOIN rate USING (source)
                  WHERE ((d.doc_id * 2654435761) % 1048576) / 1048576.0 < rate.r
                  GROUP BY d.source)
         SELECT r.source, CAST(r.n_g AS BIGINT) AS n_docs,
                floor(r.r * 1000000) / 1000000 AS rate,
                CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         FROM rate r LEFT JOIN kept k USING (source)
         ORDER BY r.source""",
    // q95: the bloom layer only routes; output ≡ plain anti-join, so the
    // exact NOT EXISTS SQL oracles the whole sharded path (q76's SQL).
    "q95_dedup_bloom_sharded" ->
      """WITH e AS (SELECT md5(text) AS sig FROM documents WHERE doc_id < 250),
         f AS (SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id >= 250)
         SELECT doc_id, sig FROM f
         WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.sig = f.sig)
         ORDER BY doc_id""",
    // q96: ranking ties break on n_id, vote ties on smallest label — a
    // total order both engines reproduce; cosine runs on DOUBLE-widened
    // lists in the same fold order (q40's proven parity).
    "q96_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv, label AS tl FROM e
               WHERE vec_id % 10 = 0 AND vec_id < ${10 * knnHoldoutCap}),
         c AS (SELECT * FROM e WHERE NOT (vec_id % 10 = 0 AND vec_id < ${10 * knnHoldoutCap})),
         scored AS (SELECT q_id, c.vec_id AS n_id, c.label,
                           list_cosine_similarity(c.v, q.qv) AS s
                    FROM c, q),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY s DESC, n_id) AS rnk FROM scored),
         votes AS (SELECT q_id, label, count(*) AS votes
                   FROM ranked WHERE rnk <= 5 GROUP BY q_id, label),
         pred AS (SELECT q_id, label, votes, row_number() OVER (PARTITION BY q_id
                    ORDER BY votes DESC, label) AS pr FROM votes)
         SELECT p.q_id, CAST(p.label AS BIGINT) AS pred_label,
                CAST(p.votes AS BIGINT) AS n_votes,
                CAST(q.tl AS BIGINT) AS true_label,
                CAST(CASE WHEN p.label = q.tl THEN 1 ELSE 0 END AS BIGINT) AS correct
         FROM pred p JOIN q USING (q_id) WHERE pr = 1 ORDER BY p.q_id""",
    // q97: every arithmetic op is IEEE double (e-notation literals defeat
    // DECIMAL inference) in the same order as the Spark plan; per-term
    // scores combine in a fixed left-to-right order.
    // q260: the full-corpus rebuild SQL verbatim (q97's) — a hash
    // match certifies append == rebuild for the persisted index
    "q260_bm25_index_append" -> q97OracleSql,
    "q97_bm25" -> q97OracleSql,
    "q98_filtered_ann" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT e.vec_id, e.v FROM e
               JOIN documents d ON e.vec_id = d.doc_id WHERE d.lang = 'en'),
         scored AS (SELECT q_id, c.vec_id AS n_id,
                           list_cosine_similarity(c.v, q.qv) AS s
                    FROM c, q WHERE c.vec_id <> q.q_id),
         ranked AS (SELECT q_id, n_id, s,
                           row_number() OVER (PARTITION BY q_id
                             ORDER BY s DESC, n_id) AS rnk
                    FROM scored)
         SELECT q_id, rnk, n_id, floor(s * 100000) / 100000 AS cosine
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "q99_filter_audit" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents),
         f AS (SELECT doc_id, len(w) AS n,
                 len(list_filter(w, x -> x IN ('a', 'the')))
                   / CAST(len(w) AS DOUBLE) AS stop_ratio,
                 list_aggregate(list_transform(w, x -> length(x)), 'sum')
                   / CAST(len(w) AS DOUBLE) AS mean_len,
                 len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS distinct_ratio
               FROM t),
         r AS (SELECT doc_id,
                 concat(CASE WHEN n < 20 THEN 'min_tokens;' ELSE '' END,
                        CASE WHEN stop_ratio < 0.01 THEN 'stopwords;' ELSE '' END,
                        CASE WHEN mean_len > 6.0e0 THEN 'mean_len;' ELSE '' END,
                        CASE WHEN distinct_ratio < 0.3e0 THEN 'repetition;' ELSE '' END)
                   AS reasons
               FROM f)
         SELECT doc_id, CAST(CASE WHEN reasons = '' THEN 1 ELSE 0 END AS BIGINT) AS keep,
                reasons
         FROM r ORDER BY doc_id""",
  )
}
