package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXACT SUBSTRING (token-window) duplication analysis — the
  * train-set-level exact-dedup family from "Deduplicating Training Data
  * Makes Language Models Better" (Lee et al., 2021): slide a fixed-width
  * token window over every document, hash each window, and find windows
  * that recur across documents. Lee et al. build suffix arrays; the
  * Spark-native shape is the window-hash posting list — embarrassingly
  * parallel, linear in corpus tokens, and the same recall for a fixed
  * window width W (their production W is 50 tokens; the declared test
  * W = 8 exercises the identical plan on the small-vocab test corpus,
  * which carries real injected near-dup families).
  *
  * Two declared operators over the shared posting relation:
  *
  *  - q111 WINDOW-DEDUP PROFILE: per document, how many of its windows
  *    also occur in ANOTHER document (the duplicated-span mass a
  *    span-level deduper would remove), as count + fraction.
  *  - q113 WINDOW NOVELTY: per document, the fraction of its DISTINCT
  *    windows whose FIRST corpus occurrence (min doc_id, ingest order)
  *    is this document — the marginal-contribution score used to rank
  *    and prune late-arriving redundant shards.
  *
  * Scale notes (100 TB design points):
  *  - The posting relation carries (window-hash, doc_id) ONLY — document
  *    text never shuffles. Corpus cost is one explode (T windows for T
  *    tokens) plus three compact aggregations: per-(wh, doc) counts
  *    (partial-aggregatable, map-side combine collapses within-doc
  *    repeats), the duplicated-hash table (HAVING count > 1 — output is
  *    only the duplicated vocabulary, Zipf-small), and the per-doc
  *    rollup keyed by doc_id.
  *  - The declared queries hash with md5 (hex string) because the DuckDB
  *    oracle must reproduce every hash bit-exactly; the scale variant
  *    [[windowProfileHashed]] carries 8-byte xxhash64 values instead
  *    (4x smaller postings, same plan — the q91 boilerplateHashed
  *    pattern), asserted count-identical in WindowSpec.
  *  - No driver-side work: both queries compose lazily (PlanSpec's
  *    job-silent gate covers them).
  *
  * Reference tie-in: the reference engine (kafka-etl-consumer) has no
  * dedup surface at all — this pack is part of the [extension] mandate
  * (SURVEY.md §2 rows 11/13) beside q22/q23/q76/q95.
  */
object WindowDedup extends QueryPack {

  /** Declared window width. Production span-dedup uses ~50 tokens (Lee
    * et al. §3); W is a plan literal, not a data-dependent value. */
  private val W = 8

  private val toks = graft.functions.TextExprs.toks

  /** (doc_id, n_windows) for every document, and the exploded
    * (doc_id, wh) window-hash postings for documents long enough to
    * have any. Hash = `hash` of the space-joined window tokens. */
  private def windows(s: SparkSession, d: String, hash: String => String)
      : (DataFrame, DataFrame) = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("w"))
      .withColumn("nw",
        greatest(size(col("w")) - (W - 1), lit(0)).cast("long"))
    val win = t.filter(col("nw") > 0)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, cast(nw as int)), i -> " +
          hash(s"concat_ws(' ', slice(w, i, $W))") + ")")).as("wh"))
    (t.select("doc_id", "nw"), win)
  }


  /** Session-scoped memo of the full POSITIONAL window-hash posting
    * relation (doc_id, source, pos, wh) — the span-posting table a
    * production span-dedup pipeline materializes ONCE and fans its
    * reports out of (Lee et al. build one suffix structure, not one
    * per report). Six declared consumers read slices of it: q111/q113
    * (doc_id, wh), q116 (source, wh), q117 (distinct (wh, doc_id)),
    * q121/q133 (doc_id, pos, wh). Same window/hash definition as
    * [[positionalWindows]] (q118's streaming twin — the stream side
    * stays inline by construction), so every oracle replays
    * unchanged; the tokenize + T-window md5 explode runs once per
    * (session, dataset) instead of once per report. */
  private[graft] def windowPostingsCore(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "window.postings", d)(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), expr(toks).as("w"))
        .withColumn("nw",
          greatest(size(col("w")) - (W - 1), lit(0)).cast("long"))
        .filter(col("nw") > 0)
        .select(col("doc_id"), col("source"),
          posexplode(expr(s"transform(sequence(1, cast(nw as int)), i -> " +
            s"md5(concat_ws(' ', slice(w, i, $W))))")).as(Seq("pos0", "wh")))
        .select(col("doc_id"), col("source"),
                (col("pos0") + 1).cast("long").as("pos"), col("wh"))
        .localCheckpoint(eager = false))

  /** (doc_id, pos, wh) POSITIONAL window hashes — the same window/hash
    * definition as the declared profile queries, shared with the
    * streaming span-containment annotator (q118) so batch and stream
    * agree by construction. Stateless projection: lifts to a streaming
    * DataFrame unchanged. */
  private[graft] def positionalWindows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(toks).as("w"))
      .withColumn("nw",
        greatest(size(col("w")) - (W - 1), lit(0)).cast("long"))
      .filter(col("nw") > 0)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, cast(nw as int)), i -> " +
          s"md5(concat_ws(' ', slice(w, i, $W))))")).as(Seq("pos0", "wh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
              col("wh"))

  /** q111: per-doc duplicated-window mass. A window position counts as
    * duplicated iff its hash occurs in at least one OTHER document
    * (within-doc repeats alone don't — intra-doc repetition is q49's
    * signal, not corpus duplication). */
  private def q111WindowDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        greatest(size(expr(toks)) - (W - 1), lit(0)).cast("long").as("nw"))
    val win = windowPostingsCore(s, d)
    val pd = win.groupBy("wh", "doc_id").agg(count(lit(1)).as("occ"))
    val dup = pd.groupBy("wh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("wh")
    val dd = pd.join(dup, "wh")
      .groupBy("doc_id").agg(sum("occ").as("dup"))
    base.join(dd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw").as("n_windows"),
        coalesce(col("dup"), lit(0L)).as("dup_windows"),
        when(col("nw") === 0, lit(0.0))
          .otherwise(floor(coalesce(col("dup"), lit(0L)).cast("double")
            / col("nw") * 1e6) / 1e6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** q113: per-doc window NOVELTY — over the doc's DISTINCT window
    * hashes, the share whose first corpus occurrence (min doc_id) is
    * this document. Docs shorter than W have no windows and no row (no
    * contribution to measure). */
  private def q113WindowNovelty(s: SparkSession, d: String): DataFrame = {
    val pd = windowPostingsCore(s, d).select("wh", "doc_id").distinct()
    // Per-doc distinct-window counts and per-doc first-occurrence wins
    // are BOTH doc-keyed aggregates, so the final join is doc-sized —
    // joining the full window vocabulary back to the postings (the
    // obvious formulation) shuffled the whole vocab twice and was 24×
    // slower at sf0.1 (2.0 s → 0.08 s family cost; PERF.md round 6b).
    val nDis = pd.groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
    val novel = pd.groupBy("wh").agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("novel"))
    nDis.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct"),
        coalesce(col("novel"), lit(0L)).as("novel"),
        (floor(coalesce(col("novel"), lit(0L)).cast("double")
          / col("n_distinct") * 1e6) / 1e6).as("novelty"))
      .orderBy("doc_id")
  }

  /** The SCALE form of q111's profile: identical plan with 8-byte
    * xxhash64 window keys instead of 32-char md5 hex (the only change is
    * the hash expression) — the form a 100 TB run ships, where the
    * posting shuffle is the cost driver. Collision risk at 64 bits is
    * negligible for any real corpus window count; WindowSpec asserts
    * count-identity with the declared query on the test corpus. */
  private[graft] def windowProfileHashed(s: SparkSession, d: String): DataFrame = {
    val (base, win) = windows(s, d, w => s"xxhash64($w)")
    val pd = win.groupBy("wh", "doc_id").agg(count(lit(1)).as("occ"))
    val dup = pd.groupBy("wh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("wh")
    val dd = pd.join(dup, "wh")
      .groupBy("doc_id").agg(sum("occ").as("dup"))
    base.join(dd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw").as("n_windows"),
        coalesce(col("dup"), lit(0L)).as("dup_windows"))
      .orderBy("doc_id")
  }

  /** q116: SOURCE-OVERLAP MATRIX — for every pair of sources, how many
    * distinct window hashes they share: the dataset-overlap diagnostic a
    * curation team runs before mixing corpora (two "independent" crawls
    * sharing half their spans are one corpus counted twice). The
    * diagonal is each source's distinct-window vocabulary. Per-hash
    * fan-out is bounded by S² with S = #sources (a small constant at
    * any corpus size), so the pair expansion is linear in distinct
    * (hash, source) postings; the final matrix is S(S+1)/2 rows. */
  private def q116SourceOverlap(s: SparkSession, d: String): DataFrame = {
    // source rides the posting store from the same document row — no
    // doc-keyed join; then ONE shuffle keyed by window hash collecting
    // the (deduped, sorted, ≤S-element) source set per hash, and the
    // pair expansion is map work over that bounded array (sorted ⇒
    // source_a <= source_b by construction). The self-join formulation
    // shuffled the vocabulary twice more and cost 2.2 s at sf0.1 vs
    // ~0.6 s for this shape.
    // group by the 8-byte xxhash64 of the window hash, not the 32-char
    // md5 hex: the hash value itself never reaches the output (only the
    // per-pair counts do), so the vocabulary-sized exchange carries
    // ~4× fewer bytes and the aggregate compares longs (guide §2.3,
    // narrower shuffle keys). Key-grain is unchanged modulo xxhash64
    // collisions across the ~1.5M-window vocabulary (~6e-8 birthday
    // odds; the q79/q107 exactness precedent) — the oracle hash-gates
    // the equality at both SFs every round, and HashCollisionSpec pins
    // xxhash64 injectivity on this vocabulary as a monitored invariant.
    // Declared tolerance at 100 TB (~1e12 windows): O(10) colliding
    // pairs expected, each merging two windows' postings — counts then
    // drift by ±1 per collision; acceptable for an overlap DIAGNOSTIC,
    // re-gate before reusing this keying in an exactness contract.
    val win = windowPostingsCore(s, d)
      .select(col("source"), xxhash64(col("wh")).as("wh"))
    win.groupBy("wh").agg(sort_array(collect_set("source")).as("ss"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ss) - 1), i ->
             transform(sequence(i, size(ss) - 1), j ->
               struct(element_at(ss, i + 1) AS source_a,
                      element_at(ss, j + 1) AS source_b))))""")).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_hashes"))
      .orderBy("source_a", "source_b")
  }

  /** q117: WINDOW-OVERLAP PAIRS — the exact span-level near-dup pair
    * detector (the pair form of Lee et al.'s exact-substring criterion):
    * document pairs sharing at least `minShared` distinct windows, with
    * the shared count. Complements q42's MinHash (estimated set overlap)
    * with exact counted span overlap. Candidate work is the inverted
    * index's Σ df² over the window-hash vocabulary — at corpus scale the
    * df distribution is the q111 dup table (HAVING count > 1 already
    * discards the unique-hash mass, which is almost all of it). */
  private val minShared = 3

  private def q117WindowPairs(s: SparkSession, d: String): DataFrame = {
    // candidate keys are xxhash64(md5) — the hash never reaches the
    // output, so the distinct + window + self-join machinery runs on
    // 8-byte longs instead of 32-char hex (HashCollisionSpec pins
    // injectivity on this vocabulary; same exactness argument and
    // collision odds as q116/q79; the oracle hash-gates it)
    val win = windowPostingsCore(s, d)
      .select(xxhash64(col("wh")).as("wh"), col("doc_id"))
    // the per-hash doc count drops df = 1 hashes before the self-join —
    // provably value-neutral (a window hash held by one doc generates no
    // a < b pair) and it removes almost the whole posting mass from both
    // join sides: window vocabulary is dominated by unique hashes (the
    // q111 dup table is Zipf-small). The window exchange on wh is the one
    // the candidate self-join reuses. Guide §2.3/§3.2 — shrink the join
    // input with what the optimizer cannot know.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("wh")
    val pd = win.select("wh", "doc_id").distinct()
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") >= 2)
      .drop("__bsz")
    pd.select(col("wh"), col("doc_id").as("a_id"))
      .join(pd.select(col("wh"), col("doc_id").as("b_id")), Seq("wh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
      .orderBy("a_id", "b_id")
  }

  /** q121: SPAN REMOVAL — the step Lee et al. actually ship (they
    * REMOVE the duplicated substrings, not just count them): every token
    * position covered by ANY cross-doc duplicated window is dropped and
    * the document is rebuilt from the surviving tokens. Token i is
    * covered iff some duplicated window starts in [i-W+1, i]. The dup
    * START-position sets ride a doc-keyed aggregate back to the doc row
    * and the rebuild is map-side over the original token array (q91's
    * boilerplate-removal shape — corpus text never shuffles; only
    * (hash, doc_id, pos) postings and the per-doc position lists move).
    * Output keeps the rebuilt text under the hash via md5 (the q90
    * convention for content columns). */
  private def q121SpanRemoval(s: SparkSession, d: String): DataFrame = {
    val win = windowPostingsCore(s, d)
    val pd = win.groupBy("wh", "doc_id")
      .agg(collect_list(col("pos")).as("ps"))
    val dup = pd.groupBy("wh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("wh")
    val dupStarts = pd.join(dup, "wh")
      .select(col("doc_id"), explode(col("ps")).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("dps"))
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("w"))
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("dps"), expr("array()")).as("dps"))
      .withColumn("kept", expr(
        s"""filter(transform(w, (t, i0) ->
              IF(exists(dps, p -> p >= i0 + 1 - ${W - 1} AND p <= i0 + 1),
                 NULL, t)), t -> t IS NOT NULL)"""))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("removed"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** q133: TOP DUPLICATED SPANS — the corpus-boilerplate diagnostic the
    * window-dedup family reads BEFORE acting (q111 measures per-doc dup
    * mass, q121 removes spans; this names the spans): the 20 most
    * widely duplicated 8-token windows by (distinct docs, occurrences),
    * each with its first corpus occurrence (lexicographic min over
    * (doc_id, pos) — one min-struct partial agg) as the span to
    * inspect. Cross-doc only (n_docs ≥ 2). The global top-20 over the
    * window-hash vocabulary is orderBy+limit — Spark plans
    * TakeOrderedAndProject: per-partition bounded heaps merged on the
    * driver, no full sort of the vocabulary at any scale. Shuffles
    * carry (wh, ids); text never moves. */
  private def q133TopSpans(s: SparkSession, d: String): DataFrame =
    windowPostingsCore(s, d)
      .groupBy("wh")
      .agg(countDistinct("doc_id").as("n_docs"),
           count(lit(1)).as("n_occ"),
           min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_docs") >= 2)
      .select(col("wh"), col("n_docs"), col("n_occ"),
              col("first.doc_id").as("first_doc"),
              col("first.pos").as("first_pos"))
      .orderBy(desc("n_docs"), desc("n_occ"), col("wh"))
      .limit(20)

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q111_window_dedup" -> q111WindowDedup _,
    "q133_top_spans" -> q133TopSpans _,
    "q113_window_novelty" -> q113WindowNovelty _,
    "q116_source_overlap" -> q116SourceOverlap _,
    "q117_window_pairs" -> q117WindowPairs _,
    "q121_span_removal" -> q121SpanRemoval _,
  )

  /** The shared window definition in DuckDB: `t`, each doc's tokens
    * `w`, and `win`, every [[W]]-token window (doc_id, 1-based start
    * `pos`, md5 `wh` of the space-joined tokens). */
  private[operators] val windowHashCtes: String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                    FROM documents),
         win AS (SELECT doc_id, i AS pos,
                        md5(array_to_string(list_slice(w, i, i + ${W - 1}), ' ')) AS wh
                 FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${W - 2})) AS i
                       FROM t WHERE len(w) >= $W))"""

  override val oracles: Map[String, String] = Map(
    // the shared W = 8 window/hash definition (q118's oracle fragment);
    // lexicographic min-struct replicated as min(doc) then min(pos)
    // within that doc; ORDER BY + LIMIT with the wh tiebreak is a total
    // order
    "q133_top_spans" ->
      s"""WITH $windowHashCtes,
         agg AS (SELECT wh, count(DISTINCT doc_id) AS n_docs,
                        count(*) AS n_occ
                 FROM win GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
         fd AS (SELECT wh, min(doc_id) AS first_doc FROM win GROUP BY wh),
         fp AS (SELECT w.wh, min(w.pos) AS first_pos
                FROM win w JOIN fd ON fd.wh = w.wh AND w.doc_id = fd.first_doc
                GROUP BY w.wh)
         SELECT agg.wh, agg.n_docs, agg.n_occ, fd.first_doc,
                CAST(fp.first_pos AS BIGINT) AS first_pos
         FROM agg JOIN fd USING (wh) JOIN fp ON fp.wh = agg.wh
         ORDER BY n_docs DESC, n_occ DESC, wh LIMIT 20""",
    // Window generation replicated via list_slice over a per-row
    // unnest(range(...)) position list; md5 of the identical joined
    // string makes the hashes — and therefore every aggregate — equal
    // bit-for-bit. dup_frac is one double division + the floor-truncate
    // convention.
    "q111_window_dedup" ->
      s"""WITH $windowHashCtes,
          pd AS (SELECT wh, doc_id, count(*) AS occ FROM win GROUP BY wh, doc_id),
          dup AS (SELECT wh FROM pd GROUP BY wh HAVING count(*) > 1),
          dd AS (SELECT doc_id, sum(occ) AS dup_windows
                 FROM pd JOIN dup USING (wh) GROUP BY doc_id),
          base AS (SELECT doc_id, CAST(greatest(len(w) - ${W - 1}, 0) AS BIGINT)
                            AS n_windows FROM t)
          SELECT b.doc_id, b.n_windows,
                 CAST(coalesce(dd.dup_windows, 0) AS BIGINT) AS dup_windows,
                 CASE WHEN b.n_windows = 0 THEN 0e0
                      ELSE floor((CAST(coalesce(dd.dup_windows, 0) AS DOUBLE)
                                  / b.n_windows) * 1000000) / 1000000
                 END AS dup_frac
          FROM base b LEFT JOIN dd USING (doc_id) ORDER BY doc_id""",
    "q113_window_novelty" ->
      s"""WITH $windowHashCtes,
          pd AS (SELECT wh, doc_id FROM win GROUP BY wh, doc_id),
          fo AS (SELECT wh, min(doc_id) AS first_doc FROM pd GROUP BY wh),
          nv AS (SELECT pd.doc_id, count(*) AS n_distinct,
                        count(*) FILTER (fo.first_doc = pd.doc_id) AS novel
                 FROM pd JOIN fo USING (wh) GROUP BY pd.doc_id)
          SELECT doc_id, CAST(n_distinct AS BIGINT) AS n_distinct,
                 CAST(novel AS BIGINT) AS novel,
                 floor((CAST(novel AS DOUBLE) / n_distinct) * 1000000) / 1000000
                   AS novelty
          FROM nv ORDER BY doc_id""",
    "q116_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\\s+') AS w
                     FROM documents),
          win AS (SELECT doc_id, source,
                         md5(array_to_string(list_slice(w, i, i + ${W - 1}), ' ')) AS wh
                  FROM (SELECT doc_id, source, w,
                               unnest(range(1, len(w) - ${W - 2})) AS i
                        FROM t WHERE len(w) >= $W)),
          ws AS (SELECT DISTINCT wh, source FROM win)
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS shared_hashes
          FROM ws a JOIN ws b ON a.wh = b.wh AND a.source <= b.source
          GROUP BY a.source, b.source ORDER BY source_a, source_b""",
    "q117_window_pairs" ->
      s"""WITH $windowHashCtes,
          pd AS (SELECT DISTINCT wh, doc_id FROM win)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_windows
          FROM pd a JOIN pd b ON a.wh = b.wh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING count(*) >= $minShared
          ORDER BY a_id, b_id""",
    // token i is covered iff a duplicated window starts in [i-W+1, i];
    // the rebuild is the identical index-filtered comprehension, and the
    // rebuilt text compares under md5 (the q90 content convention)
    "q121_span_removal" ->
      s"""WITH $windowHashCtes,
          pd AS (SELECT wh, doc_id, list(pos) AS ps FROM win GROUP BY wh, doc_id),
          dup AS (SELECT wh FROM pd GROUP BY wh HAVING count(*) > 1),
          ds AS (SELECT doc_id, list_sort(list_distinct(flatten(list(ps)))) AS dps
                 FROM pd JOIN dup USING (wh) GROUP BY doc_id),
          base AS (SELECT t.doc_id, t.w, coalesce(ds.dps, []::BIGINT[]) AS dps
                   FROM t LEFT JOIN ds USING (doc_id)),
          k AS (SELECT doc_id, len(w) AS n_tokens,
                       [w[i] for i in range(1, len(w) + 1)
                        if len(list_filter(dps, p -> p >= i - ${W - 1}
                                                 AND p <= i)) = 0] AS kept
                FROM base)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_tokens - len(kept) AS BIGINT) AS removed,
                 -- array_to_string([]) is NULL in DuckDB but '' under
                 -- Spark's concat_ws: a fully-removed doc must hash ''
                 md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
          FROM k ORDER BY doc_id""",
  )
}
