package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (the 100 TB problem AQE's skew-join
  * split handles automatically; this is the explicit form for when the
  * skew is known and extreme — e.g. a null-ish sentinel key holding 10%
  * of a fact table).
  *
  * `saltedJoin(facts, dim, key, S)`: the big side's rows are spread over
  * S sub-keys by a deterministic hash of the whole key (so one hot key
  * becomes S tasks); the small side is replicated S× by exploding a salt
  * sequence. Join on (key, salt), then drop the salt. Semantics are
  * exactly inner-join equality on `key` — asserted in ScaleSpec against
  * the unsalted join, and certified cross-engine by q171 whose oracle is
  * the PLAIN join SQL (salting must be value-neutral by construction).
  */
object Skew extends QueryPack {

  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String, salts: Int): DataFrame = {
    // salt from the key plus a per-row fingerprint so a single hot key
    // actually spreads; deterministic (hash of row content, no rand()).
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
        saltedBig("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** Salt fan-out used by q171 — a plan literal so PlanSpec can pin the
    * replication factor in the physical plan. */
  private[graft] val q171Salts = 8

  /** SALTED JOIN under the oracle gate — a DELIBERATELY skewed join
    * (l_linenumber has exactly 7 distinct values over the whole fact
    * table: each key holds ~1/7 of lineitem, the hot-key shape salting
    * exists for) routed through [[saltedJoin]] against the nation dim.
    * The oracle is the PLAIN inner-join SQL: a hash match proves the
    * salting is value-neutral row-for-row — no duplicated, dropped or
    * misrouted rows from the fan-out/replication dance. PlanSpec pins
    * the mechanics (the [[q171Salts]]-way explode on the small side and
    * the __salt equi-join key); ScaleSpec asserts equality against the
    * unsalted DataFrame join. Scale shape: the big side never shuffles
    * more than a plain shuffle join would — the salt only refines its
    * key — while the small side replicates S×, turning each hot key
    * into S independent tasks. */
  private def q171SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val dim = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    saltedJoin(big, dim, "l_linenumber", "n_nationkey", q171Salts)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
              col("n_name"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Morton interleave of two 8-bit quantized dims, emitted as portable
    * integer arithmetic (no shift operators — Spark spells integer
    * division `div`, DuckDB `//`, so the token is a parameter and the
    * SAME formula text gates both engines). Bit i of qx lands at 2i, of
    * qy at 2i+1. */
  private def mortonExpr(qx: String, qy: String, divTok: String): String =
    (0 until 8).map { i =>
      s"(($qx $divTok ${1 << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($qy $divTok ${1 << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-ORDER LAYOUT AUDIT — the data-layout decision behind multi-column
    * file skipping at 100 TB. A parquet lake prunes files by footer
    * min/max ranges; a LINEAR layout (files cut along one sort column)
    * gives perfect pruning on that column and none on any other, while a
    * Z-ORDER layout (files cut along the Morton curve over BOTH columns)
    * bounds every file to a 2-D tile so a 2-D query box touches only the
    * tiles it overlaps. This operator materializes that tradeoff as a
    * measurement: quantize (l_partkey, l_suppkey) to 8 bits each off
    * broadcast min/max, assign every row a file under both layouts (64
    * files each — top-6 Morton bits vs top-6 qx bits; pure map-side
    * arithmetic, NO global sort: at scale the file id IS the write
    * partition key), reconstruct each file's min/max footer stats, and
    * report for a fixed 32×32 query box how many files a range scan must
    * read and the row-level read amplification (rows inside hit files
    * over rows actually matching). `rows_match` is layout-invariant by
    * construction — the same gate row certifies both branches saw the
    * same data. All arithmetic is integer until the single floored
    * ratio, so the DuckDB oracle recomputes the audit bit-for-bit.
    */
  private def q245ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").cast("long").as("x"),
              col("l_suppkey").cast("long").as("y"))
    val mm = li.agg(min("x").as("minx"), max("x").as("maxx"),
                    min("y").as("miny"), max("y").as("maxy"))
    val q = li.crossJoin(broadcast(mm))
      .selectExpr("(x - minx) * 256 div (maxx - minx + 1) AS qx",
                  "(y - miny) * 256 div (maxy - miny + 1) AS qy")
    val z = q.selectExpr("qx", "qy", s"${mortonExpr("qx", "qy", "div")} AS zkey")
    val f = z
      .select(explode(expr(
        """array(named_struct('layout', 'zorder', 'file_id', zkey div 1024),
                 named_struct('layout', 'linear', 'file_id', qx div 4))""")).as("lf"),
        col("qx"), col("qy"))
      .select(col("lf.layout").as("layout"), col("lf.file_id").as("file_id"),
              col("qx"), col("qy"))
    val perFile = f.groupBy("layout", "file_id")
      .agg(min("qx").as("mnx"), max("qx").as("mxx"),
           min("qy").as("mny"), max("qy").as("mxy"),
           count(lit(1)).as("cnt"),
           sum(expr("""CASE WHEN qx BETWEEN 64 AND 95 AND qy BETWEEN 64 AND 95
                       THEN 1 ELSE 0 END""")).as("mrows"))
    perFile.groupBy("layout")
      .agg(count(lit(1)).as("files_total"),
           sum(expr("""CASE WHEN mnx <= 95 AND mxx >= 64
                            AND mny <= 95 AND mxy >= 64
                       THEN 1 ELSE 0 END""")).as("files_hit"),
           sum(expr("""CASE WHEN mnx <= 95 AND mxx >= 64
                            AND mny <= 95 AND mxy >= 64
                       THEN cnt ELSE 0 END""")).as("rows_in_hit"),
           sum(col("mrows")).as("rows_match"))
      .withColumn("read_amp",
        expr("""CASE WHEN rows_match = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor(cast(rows_in_hit as double) * 1000 / rows_match) / 1000
                END"""))
      .select("layout", "files_total", "files_hit", "rows_in_hit",
              "rows_match", "read_amp")
      .orderBy("layout")
  }

  /** JOIN-SIZE PREDICTION FROM DEGREE RELATIONS — the planning pass a
    * 100 TB join runs BEFORE shuffling anything: |A ⋈ B| on a key is
    * exactly Σ_k deg_A(k)·deg_B(k), computable from two key-grain count
    * relations that are each a partial-agg away from the scans (and
    * mergeable across days/shards, so a warehouse keeps them as
    * statistics). The per-key contributions are simultaneously the skew
    * report: the keys that dominate the predicted output are the ones
    * to salt (q171) or broadcast around — decided from key-grain rows
    * without paying the join. Subject here is the many-to-many
    * clicks×purchases self-join per user (the q219 attribution shape
    * before its interval predicate — the unconstrained size is the
    * planner's upper bound). The declared plan carries the ACTUAL join
    * count as a one-row certification rider (the q195 discipline: at
    * scale you'd ship the prediction alone); size_check = 1 certifies
    * prediction ≡ execution row-for-row. */
  private def q249JoinCardinality(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"))
    val degC = clicks.groupBy("user_id").agg(count(lit(1)).as("n_click"))
    val degP = purchases.groupBy(col("u2").as("user_id"))
      .agg(count(lit(1)).as("n_purchase"))
    val deg = degC.join(degP, "user_id")
      .withColumn("contrib", col("n_click") * col("n_purchase"))
    val tot = deg.agg(sum("contrib").as("join_total"))
    val actual = clicks.join(purchases, col("user_id") === col("u2"))
      .agg(count(lit(1)).as("actual_join"))
    deg.orderBy(col("contrib").desc, col("user_id")).limit(10)
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(actual))
      .withColumn("share",
        expr("floor(cast(contrib as double) * 1000 / join_total) / 1000"))
      .withColumn("size_check",
        expr("CAST(CASE WHEN join_total = actual_join THEN 1 ELSE 0 END AS BIGINT)"))
      .select("user_id", "n_click", "n_purchase", "contrib", "share",
              "join_total", "actual_join", "size_check")
      .orderBy(col("contrib").desc, col("user_id"))
  }

  /** Bloom geometry for q252: m bits, 2 md5-derived hash positions per
    * key (the q188 md5-prefix integerization, portable to DuckDB). */
  private val bloomM = 65536L
  private def bloomH(salt: String, key: String, divStyle: Boolean): String =
    if (divStyle)
      s"cast(conv(substr(md5(concat('$salt', cast($key as string))), 1, 15), 16, 10) as bigint) % $bloomM"
    else
      s"CAST(('0x' || substr(md5('$salt' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) % $bloomM"

  /** The two bloom positions of `key` as an array expression — shared
    * with the streaming maintenance twin (q263). */
  private[operators] def bloomPositionsExpr(key: String): String =
    s"""array(${bloomH("a-", key, divStyle = true)},
              ${bloomH("b-", key, divStyle = true)})"""

  /** SEMI-JOIN REDUCTION VIA A RELATIONAL BLOOM FILTER — the shuffle
    * killer for selective joins at 100 TB: instead of shuffling the full
    * fact table to discover that most rows have no dimension partner,
    * broadcast a bit-set of the dimension's key hashes and drop
    * non-members map-side, paying the shuffle only for survivors (plus a
    * bounded false-positive tax). The filter is modeled RELATIONALLY —
    * the occupied bit positions of a 2-hash, [[bloomM]]-bit bloom are a
    * distinct-position table (≤ m rows, broadcast), membership is two
    * position joins — so the DuckDB oracle reconstructs the exact same
    * bit-set and the gate certifies the two structural properties that
    * make bloom pruning SAFE and WORTHWHILE: n_missed = 0 (no false
    * negatives — every true match passes, by construction of the
    * positions; violating this would silently drop join rows) and the
    * measured false-positive count / reduction share (the tax actually
    * paid vs rows pruned). Dimension here is a deterministic 10% user
    * cohort (the experiment-membership shape); the exact semi-join
    * rides as the certification side (q195 discipline — production
    * ships the bloom probe alone). */
  private def q252BloomSemijoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.events(s, d).select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(10)) === 3)
    val positions = dim
      .select(explode(expr(bloomPositionsExpr("user_id"))).as("pos"))
      .distinct()
    bloomSemijoinAudit(s, d, positions)
  }

  /** The q252 probe/audit tail over an externally-built position set —
    * the streamed filter (q263) plugs its register sink in here and
    * serves the same oracle. */
  private[operators] def bloomSemijoinAudit(s: SparkSession, d: String,
                                            positions: DataFrame): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val dim = ev.select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(10)) === 3)
    val probe = ev
      .withColumn("p1", expr(bloomH("a-", "user_id", divStyle = true)))
      .withColumn("p2", expr(bloomH("b-", "user_id", divStyle = true)))
      .join(broadcast(positions.withColumn("b1", lit(1))),
            col("p1") === col("pos"), "left").drop("pos")
      .join(broadcast(positions.withColumn("b2", lit(1))),
            col("p2") === col("pos"), "left").drop("pos")
      .withColumn("pass",
        when(col("b1").isNotNull && col("b2").isNotNull, 1L).otherwise(0L))
      .join(broadcast(dim.withColumn("mt", lit(1))), Seq("user_id"), "left")
      .withColumn("match", when(col("mt").isNotNull, 1L).otherwise(0L))
    probe.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
           sum("pass").as("n_pass"),
           sum("match").as("n_match"),
           sum(expr("CASE WHEN pass = 1 AND `match` = 0 THEN 1 ELSE 0 END"))
             .as("n_fp"),
           sum(expr("CASE WHEN pass = 0 AND `match` = 1 THEN 1 ELSE 0 END"))
             .as("n_missed"))
      .withColumn("reduction",
        expr("floor(cast(n_rows - n_pass as double) * 1000 / n_rows) / 1000"))
      .select("event_type", "n_rows", "n_pass", "n_match", "n_fp",
              "n_missed", "reduction")
      .orderBy("event_type")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_salted_join" -> q171SaltedJoin _,
    "q245_zorder_layout" -> q245ZorderLayout _,
    "q249_join_cardinality" -> q249JoinCardinality _,
    "q252_bloom_semijoin" -> q252BloomSemijoin _,
  )

  override val oracles: Map[String, String] = Map(
    // the PLAIN join — value-neutrality of the salt is the contract
    "q171_salted_join" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                n_name, l_quantity
         FROM lineitem JOIN nation ON l_linenumber = n_nationkey
         ORDER BY l_orderkey, l_linenumber""",
    // q245: the SAME integer quantize/interleave/bucket arithmetic with
    // DuckDB's `//` integer division; sums cast to BIGINT (DuckDB sums
    // integers into HUGEINT)
    "q245_zorder_layout" ->
      s"""WITH mm AS (SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
                             min(l_suppkey) AS miny, max(l_suppkey) AS maxy
                      FROM lineitem),
         q AS (SELECT (l_partkey - minx) * 256 // (maxx - minx + 1) AS qx,
                      (l_suppkey - miny) * 256 // (maxy - miny + 1) AS qy
               FROM lineitem, mm),
         z AS (SELECT qx, qy, ${mortonExpr("qx", "qy", "//")} AS zkey FROM q),
         f AS (SELECT 'zorder' AS layout, zkey // 1024 AS file_id, qx, qy FROM z
               UNION ALL
               SELECT 'linear' AS layout, qx // 4 AS file_id, qx, qy FROM z),
         pf AS (SELECT layout, file_id,
                       min(qx) AS mnx, max(qx) AS mxx,
                       min(qy) AS mny, max(qy) AS mxy,
                       count(*) AS cnt,
                       sum(CASE WHEN qx BETWEEN 64 AND 95
                                 AND qy BETWEEN 64 AND 95
                            THEN 1 ELSE 0 END) AS mrows
                FROM f GROUP BY 1, 2)
         SELECT layout, count(*) AS files_total,
                CAST(sum(CASE WHEN mnx <= 95 AND mxx >= 64
                               AND mny <= 95 AND mxy >= 64
                          THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
                CAST(sum(CASE WHEN mnx <= 95 AND mxx >= 64
                               AND mny <= 95 AND mxy >= 64
                          THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_hit,
                CAST(sum(mrows) AS BIGINT) AS rows_match,
                CASE WHEN sum(mrows) = 0 THEN CAST(0 AS DOUBLE)
                     ELSE floor(CAST(sum(CASE WHEN mnx <= 95 AND mxx >= 64
                                               AND mny <= 95 AND mxy >= 64
                                          THEN cnt ELSE 0 END) AS DOUBLE)
                                * 1000 / sum(mrows)) / 1000
                END AS read_amp
         FROM pf GROUP BY 1 ORDER BY layout""",
    // q249: Σ degA·degB per key vs the executed join's count(*) — the
    // identity the prediction rests on, checked row-for-row
    "q249_join_cardinality" ->
      """WITH c AS (SELECT user_id, count(*) AS n_click FROM events
                    WHERE event_type = 'click' GROUP BY 1),
         p AS (SELECT user_id, count(*) AS n_purchase FROM events
               WHERE event_type = 'purchase' GROUP BY 1),
         deg AS (SELECT c.user_id, c.n_click, p.n_purchase,
                        c.n_click * p.n_purchase AS contrib
                 FROM c JOIN p USING (user_id)),
         tot AS (SELECT CAST(sum(contrib) AS BIGINT) AS join_total FROM deg),
         act AS (SELECT count(*) AS actual_join
                 FROM (SELECT user_id FROM events WHERE event_type = 'click') a
                 JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') b
                   ON a.user_id = b.user_id),
         top AS (SELECT * FROM deg ORDER BY contrib DESC, user_id LIMIT 10)
         SELECT top.user_id, top.n_click, top.n_purchase, top.contrib,
                floor(CAST(top.contrib AS DOUBLE) * 1000 / tot.join_total)
                  / 1000 AS share,
                tot.join_total, act.actual_join,
                CAST(CASE WHEN tot.join_total = act.actual_join
                     THEN 1 ELSE 0 END AS BIGINT) AS size_check
         FROM top, tot, act
         ORDER BY top.contrib DESC, top.user_id""",
    // q252: the same md5-position bit-set rebuilt relationally; pass =
    // both positions occupied, match = exact membership; n_missed must
    // be 0 (bloom soundness), n_fp/reduction are the measured tax/win
    "q252_bloom_semijoin" ->
      s"""WITH ev AS (SELECT event_type, user_id FROM events),
         dim AS (SELECT DISTINCT user_id FROM ev WHERE user_id % 10 = 3),
         pos AS (SELECT DISTINCT pos FROM (
                   SELECT ${bloomH("a-", "user_id", divStyle = false)} AS pos
                   FROM dim
                   UNION ALL
                   SELECT ${bloomH("b-", "user_id", divStyle = false)} AS pos
                   FROM dim)),
         pr AS (SELECT ev.event_type, ev.user_id,
                       ${bloomH("a-", "ev.user_id", divStyle = false)} AS p1,
                       ${bloomH("b-", "ev.user_id", divStyle = false)} AS p2
                FROM ev),
         fl AS (SELECT pr.event_type,
                       CASE WHEN b1.pos IS NOT NULL AND b2.pos IS NOT NULL
                            THEN 1 ELSE 0 END AS pass,
                       CASE WHEN dim.user_id IS NOT NULL THEN 1 ELSE 0 END
                         AS mt
                FROM pr
                LEFT JOIN pos b1 ON b1.pos = pr.p1
                LEFT JOIN pos b2 ON b2.pos = pr.p2
                LEFT JOIN dim ON dim.user_id = pr.user_id)
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(pass) AS BIGINT) AS n_pass,
                CAST(sum(mt) AS BIGINT) AS n_match,
                CAST(sum(CASE WHEN pass = 1 AND mt = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_fp,
                CAST(sum(CASE WHEN pass = 0 AND mt = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_missed,
                floor(CAST(count(*) - sum(pass) AS DOUBLE) * 1000 / count(*))
                  / 1000 AS reduction
         FROM fl GROUP BY 1 ORDER BY event_type""",
  )
}
