package graft

import graft.functions.NativeExprs
import graft.functions.TopKAgg
import org.apache.spark.sql.functions._

/** Contracts of the Stats pack (q137–q141): sampling, evaluation,
  * sketching and diversification invariants that the DuckDB hash gate
  * cannot state (it proves value equality, not the properties below).
  */
class StatsSpec extends SparkTestBase {

  test("q186: three BPE merge rounds match a canonical greedy brute force") {
    val got = SparkEntry.queries("q186_bpe_merges")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // brute force: canonical BPE — count weighted adjacent symbol pairs,
    // elect (count DESC, pair ASC), apply greedily left-to-right
    val counts = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    var vocab: Map[List[String], Long] =
      counts.groupBy { case (t, _) => t.map(_.toString).toList }
        .map { case (syms, m) => syms -> m.values.sum }
    val want = (1 to 3).map { step =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.sliding(2).foreach {
          case List(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + cnt
          case _ => ()
        }
      }
      val ((w1, w2), n) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      def apply1(syms: List[String]): List[String] = syms match {
        case a :: b :: rest if a == w1 && b == w2 => (a + b) :: apply1(rest)
        case a :: rest => a :: apply1(rest)
        case Nil => Nil
      }
      vocab = vocab.groupBy { case (syms, _) => apply1(syms) }
        .map { case (syms, m) => syms -> m.values.sum }
      (step.toLong, w1, w2, n)
    }
    assert(got.toSeq == want,
      s"operator != canonical BPE rounds: got ${got.toSeq}, want $want")
    // a real second round: some merge builds on a multi-char symbol or a
    // fresh pair — the table is not just the q147 top-3
    assert(got.map(r => (r._2, r._3)).distinct.length == 3)
  }

  test("q208/q209: HLL registers replay in the JVM; merged halves equal " +
       "the full rebuild exactly") {
    def md5Top60(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_))
        .mkString.take(15), 16)
    // independent register construction from the raw corpus
    val regs = scala.collection.mutable.Map.empty[(String, Long), Long]
    val exact = scala.collection.mutable.Map.empty[String, Set[Long]]
      .withDefaultValue(Set.empty)
    Tables.documents(spark, sfDir).select("source", "text").collect()
      .foreach { r =>
        val (src, t) = (r.getString(0), r.getString(1).trim.split("\\s+"))
        t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
          .foreach { sg: String =>
            val h = md5Top60(sg)
            exact(src) = exact(src) + h
            val (b, rem) = (h % 64, h / 64)
            val rho = if (rem == 0) 55L
                      else 55L - java.lang.Long.toBinaryString(rem).length
            val k = (src, b)
            if (regs.getOrElse(k, 0L) < rho) regs(k) = rho
          }
      }
    def est(src: String): Long = {
      val m = regs.collect { case ((s, _), v) if s == src => v }.toSeq
      val si = m.map(v => 1L << (55 - v)).sum + ((64L - m.length) << 55)
      math.floor(0.709 * 4096 * (1L << 55).toDouble / si.toDouble).toLong
    }
    val got = SparkEntry.queries("q208_hll_distinct")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got.foreach { case (src, ex, e, err) =>
      assert(ex.toInt == exact(src).size, s"$src exact")
      assert(e == est(src), s"$src: est $e != JVM replay ${est(src)}")
      // raw-HLL sanity at this n/m: within a loose 2x of truth
      assert(err < 1.0, s"$src err $err")
    }
    // merge ≡ rebuild: the merged-halves estimator equals the full one
    val merged = SparkEntry.queries("q209_hll_merge")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    got.foreach { case (src, _, e, _) =>
      assert(merged(src) == e, s"$src: merged ${merged(src)} != full $e") }
    // and the STREAMING register maintenance lands on the identical
    // estimates — incremental max-aggregation ≡ batch rebuild
    val streamed = SparkEntry.queries("q211_hll_stream")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    got.foreach { case (src, _, e, _) =>
      assert(streamed(src) == e, s"$src: streamed ${streamed(src)} != $e") }
  }

  test("q202: map-side BPE apply equals a per-doc JVM replace-chain replay") {
    // ground truth from a THIRD implementation of the replace semantics
    // (java.lang.String.replace is left-to-right non-overlapping, same as
    // Spark's and DuckDB's replace): encode every token of every document
    // with the learned merges and count symbols
    val merges = SparkEntry.queries("q186_bpe_merges")(spark, sfDir).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
    assert(merges.length == 3)
    def enc(t: String): Long = {
      var s = t.toCharArray.map(_.toString).mkString(" ", " ", " ")
      merges.foreach { case (a, b) =>
        (1 to 4).foreach { _ => s = s.replace(s" $a $b ", s" $a$b ") } }
      s.trim.split(" ").length.toLong
    }
    val got = SparkEntry.queries("q202_bpe_apply")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.length == docs.length)
    docs.zip(got).foreach { case ((id, text), (gid, ws, bpe, fert)) =>
      assert(id == gid)
      val toks = text.trim.split("\\s+")
      assert(ws == toks.length.toLong, s"doc $id ws_tokens")
      val want = toks.map(enc).sum
      assert(bpe == want, s"doc $id: bpe_tokens $bpe != $want")
      assert(fert == math.floor(bpe.toDouble * 1000 / ws) / 1000)
    }
    // the merges actually fired somewhere: encoding is shorter than pure
    // char-splitting for at least one document
    val chars = docs.map(_._2.trim.split("\\s+").map(_.length.toLong).sum)
    assert(got.map(_._3).zip(chars).exists { case (bpe, ch) => bpe < ch })
  }

  test("q195: full source-pair grid; the sketch estimator tracks the " +
       "exact Jaccard it rides beside") {
    val rows = SparkEntry.queries("q195_source_sketch")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val nSrc = Tables.documents(spark, sfDir)
      .select("source").distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2, "every source pair scored")
    rows.foreach { case (a, b, est, exact) =>
      assert(a < b)
      assert(est >= 0 && est <= 1 && exact >= 0 && exact <= 1)
    }
    // the k=128 bottom-k estimator is a real estimate, not noise: on the
    // deterministic corpus its error against ground truth is small
    val errs = rows.map(r => math.abs(r._3 - r._4))
    assert(errs.sum / errs.length < 0.03,
      s"mean estimator error ${errs.sum / errs.length} too large")
    assert(errs.max < 0.1, s"max estimator error ${errs.max} too large")
  }

  test("q196: two-half sketch merge estimates exactly what the " +
       "full-corpus sketch estimates") {
    val merged = SparkEntry.queries("q196_sketch_merge")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val full = SparkEntry.queries("q195_source_sketch")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(merged.nonEmpty && merged.toSeq == full.toSeq,
      "bottom-k merge must be estimate-identical to the one-pass rebuild")
  }

  test("q137: weighted sample is rerun-stable, ranked 1..k per source") {
    val a = SparkEntry.queries("q137_weighted_sample")(spark, sfDir).collect()
    val b = SparkEntry.queries("q137_weighted_sample")(spark, sfDir).collect()
    assert(a.nonEmpty && a.sameElements(b), "A-ES draw is not deterministic")
    val bySource = a.groupBy(_.getString(0))
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length),
        s"ranks not contiguous for $src")
      // keys rank-ordered descending within the source
      val keys = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(keys.zip(keys.tail).forall { case (x, y) => x >= y },
        s"sample keys not rank-ordered for $src")
    }
  }

  test("q137: selection is weight-sensitive — heavier docs win rank ties in expectation") {
    // Not a statistical test: just pins that the key actually divides by
    // the weight (a doc with weight w' = 2w and the same u has a larger
    // i.e. less-negative key).
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = SparkEntry.queries("q137_weighted_sample")(spark, sfDir)
      .collect().map(_.getLong(2))
    assert(sampled.forall(docs.contains), "sampled a doc_id not in the corpus")
    val meanSampled = sampled.map(docs).sum.toDouble / sampled.length
    val meanAll = docs.values.sum.toDouble / docs.size
    assert(meanSampled > meanAll,
      s"length-weighted sample is lighter than the corpus mean " +
        s"($meanSampled <= $meanAll) — weight not applied")
  }

  test("q138: purity in (0,1], majority <= size, sizes cover the corpus") {
    val out = SparkEntry.queries("q138_cluster_purity")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val size = r.getLong(1); val maj = r.getLong(3); val p = r.getDouble(4)
      assert(maj >= 1 && maj <= size, "majority count outside [1, size]")
      assert(p > 0.0 && p <= 1.0, s"purity $p outside (0, 1]")
    }
    val total = out.map(_.getLong(1)).sum
    assert(total == Tables.embeddings(spark, sfDir).count(),
      "cell sizes do not partition the corpus")
  }

  test("q139: MMR step 1 is the raw-relevance argmax; selections distinct; k steps per query") {
    val out = SparkEntry.queries("q139_mmr_rerank")(spark, sfDir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 4, s"query $q selected ${rows.length} != 4")
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"query $q re-selected an id")
    }
    // step-1 pick = plain cosine argmax over the corpus minus self
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val best = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cid"),
              NativeExprs.cosine_sim(col("embedding"), col("qv")).as("rel"))
      .groupBy("q_id")
      .agg(TopKAgg.top_k_by_score(col("rel"), col("cid"), 1).as("t"))
      .select(col("q_id"), col("t")(0)("id").as("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (qid, rows) =>
      val s1 = rows.find(_.getLong(1) == 1L).get.getLong(2)
      assert(s1 == best(qid), s"query $qid step-1 pick $s1 != argmax ${best(qid)}")
    }
  }

  test("q139: diversification is active — some later step deviates from plain top-k") {
    // If MMR never deviated from the cosine ranking, the operator would
    // be a worse-spelled top-k. On a corpus with near-dup embeddings
    // (q44 finds them) at least one query's selection must differ.
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val top4 = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cid"),
              NativeExprs.cosine_sim(col("embedding"), col("qv")).as("rel"))
      .groupBy("q_id")
      .agg(TopKAgg.top_k_by_score(col("rel"), col("cid"), 4).as("t"))
      .select(col("q_id"), expr("transform(t, x -> x.id)").as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val mmr = SparkEntry.queries("q139_mmr_rerank")(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(2)).toSet }
    assert(mmr.exists { case (qid, ids) => ids != top4(qid) },
      "MMR selected exactly the cosine top-4 for every query — λ inert")
  }

  test("q140: CMS never underestimates; overestimate is the difference") {
    val out = SparkEntry.queries("q140_heavy_hitters")(spark, sfDir).collect()
    assert(out.length > 0)
    out.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2); val over = r.getLong(3)
      assert(est >= exact, s"CMS underestimated ${r.getString(0)}: $est < $exact")
      assert(over == est - exact, "overestimate != est - exact")
    }
    // counts are rank-ordered (the exact top-k contract)
    val cnts = out.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }

  test("q142: entropy bounded by ln(distinct); repetition lowers it below uniform") {
    val out = SparkEntry.queries("q142_token_entropy")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val distinct = r.getLong(2); val h = r.getDouble(3)
      assert(h >= -1e-9, s"negative entropy for doc ${r.getLong(0)}")
      assert(h <= math.log(distinct.toDouble) + 1e-9,
        s"doc ${r.getLong(0)}: H=$h exceeds ln(distinct)=${math.log(distinct.toDouble)}")
      assert((r.getLong(4) == 1L) == (h < 2.0), "flag disagrees with the value")
    }
    // a doc repeating one token has H = 0; uniform-ish docs approach ln n —
    // the corpus must show spread, or the signal is constant and useless
    val hs = out.map(_.getDouble(3))
    assert(hs.max - hs.min > 0.5, "entropy signal is flat on this corpus")
  }

  test("q143: histogram masses add up — degrees cover the corpus, edges counted twice") {
    val out = SparkEntry.queries("q143_neardup_degree")(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(out.map(_.getLong(1)).sum == nDocs, "histogram does not partition the corpus")
    val pairCount = graft.operators.Dedup.minhashLshPairsCore(spark, sfDir).count()
    val edgeEndpoints = out.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(edgeEndpoints == 2 * pairCount,
      s"sum(degree * n_docs) = $edgeEndpoints != 2 * $pairCount pairs")
  }

  test("q144: intervals chain per key — one current row, valid_to = next valid_from") {
    val out = SparkEntry.queries("q144_scd2_intervals")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byKey = out.groupBy(r => (r.getLong(0), r.getString(1)))
    byKey.foreach { case (k, rows) =>
      assert(rows.count(_.getLong(5) == 1L) == 1, s"key $k: not exactly one current row")
      val chain = rows.sortBy(_.getString(3)) // valid_from ascending (ties broken below)
      chain.zip(chain.tail).foreach { case (a, b) =>
        assert(a.getString(4) == b.getString(3) || a.getString(3) == b.getString(3),
          s"key $k: interval chain broken (${a.getString(4)} -> ${b.getString(3)})")
      }
      assert(chain.last.getString(4) == "9999-12-31 00:00:00",
        s"key $k: current row not open-ended")
    }
  }

  test("q145: shares and ratios consistent; report is count-ordered") {
    val out = SparkEntry.queries("q145_skew_report")(spark, sfDir).collect()
    assert(out.length == 10)
    val cnts = out.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "not count-ordered")
    out.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0, "share outside (0,1]")
      assert(r.getDouble(3) > 0.0, "non-positive skew ratio")
    }
  }

  test("q146: outliers lie outside the fences; counts bounded by group size") {
    val out = SparkEntry.queries("q146_outlier_events")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1); val p25 = r.getDouble(2); val p75 = r.getDouble(3)
      assert(p25 <= p75, "p25 > p75")
      assert(r.getLong(4) >= 0 && r.getLong(4) < n, "outlier count out of range")
      if (!r.isNullAt(5))
        assert(r.getDouble(5) > p75, "reported max outlier not above p75")
    }
  }

  test("q147: pairs are adjacent 2-grams; report is count-ordered") {
    val out = SparkEntry.queries("q147_bpe_pairs")(spark, sfDir).collect()
    assert(out.length > 0)
    assert(out.forall(_.getString(0).length == 2), "a pair is not 2 characters")
    val cnts = out.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "not count-ordered")
    // occurrence weighting: the top pair must appear at least as often as
    // the most frequent token of length >= 2 that contains it
    assert(cnts.head > 0)
  }

  test("q152: the base+delta merge equals the direct full recompute in-engine") {
    val merged = SparkEntry.queries("q152_incremental_agg")(spark, sfDir).collect()
    val full = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy("event_type", "day").collect()
    assert(merged.length == full.length)
    merged.zip(full).foreach { case (m, f) =>
      assert(m.getString(0) == f.getString(0) && m.getString(1) == f.getString(1))
      assert(m.getLong(2) == f.getLong(2), s"count mismatch at ${m.getString(1)}")
      assert(m.getDouble(3) == f.getDouble(3),
        s"merged sum ${m.getDouble(3)} != recomputed ${f.getDouble(3)} at ${m.getString(1)}")
    }
  }

  test("q148: statuses partition the live key set; early keys never 'added'") {
    val out = SparkEntry.queries("q148_state_diff")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val statuses = out.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set("added", "changed", "unchanged")))
    val totalKeys = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct().count()
    assert(out.map(_.getLong(2)).sum == totalKeys,
      "status counts do not partition the live key set")
  }

  test("planted MMR: the duplicate of an already-selected result is skipped") {
    import spark.implicits._
    // query v0; candidates: v1 and v2 IDENTICAL (rel 0.6 to q, sim 1.0
    // to each other), v3 less relevant (0.3) but nearly orthogonal to
    // v1. Plain top-2 = {v1, v2}; MMR step 2 must skip the duplicate:
    //   m(v2) = 0.7*0.6 - 0.3*1.00 = 0.120
    //   m(v3) = 0.7*0.3 - 0.3*0.18 = 0.156  > m(v2)
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.6f, 0.8f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f)),
      (3L, Array(0.3f, 0.0f, 0.954f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Stats.mmrRerankCore(e, nQueries = 1, k = 2)
      .collect().sortBy(_.getLong(1))
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 3L),
      s"expected selection [1, 3], got ${out.map(_.getLong(2)).toSeq} — " +
        "MMR failed to skip the planted duplicate")
  }

  test("planted CMS: a colliding sketch still never underestimates, and the min matters") {
    import spark.implicits._
    // 3 distinct tokens into w=2 buckets per row forces collisions; with
    // d=3 rows the min can beat a single row's collided estimate
    val docs = Seq(
      (1L, "alpha alpha alpha alpha beta"),
      (2L, "gamma beta alpha")
    ).toDF("doc_id", "text")
    val out = graft.operators.Stats
      .cmsHeavyHittersCore(docs, d = 3, w = 2, k = 3).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"token ${r.getString(0)}: estimate below exact count")
    }
    // with 3 tokens in 2 buckets at least one token must share a bucket
    // somewhere — the total overestimate across the report is positive
    assert(out.map(_.getLong(3)).sum > 0,
      "no collision at w=2 with 3 tokens — the sketch paths are untested")
  }

  test("planted entropy: exact values — 0 for constant doc, ln k for uniform doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x x x"),
      (2L, "a b c d")
    ).toDF("doc_id", "text")
    val out = graft.operators.Stats.tokenEntropyCore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // the floored value may sit one 1e-6 grid step below the exact 0
    // (ln n and (n·ln n)/n round differently by one ulp)
    assert(math.abs(out(1L)) <= 1e-6, s"constant doc entropy ${out(1L)} != ~0")
    val lnkFloored = math.floor(math.log(4.0) * 1e6) / 1e6
    assert(math.abs(out(2L) - lnkFloored) < 1e-9,
      s"uniform 4-token doc entropy ${out(2L)} != floor(ln 4)")
  }

  test("planted winnowing: a shared >= k+w-1 token span yields a shared fingerprint") {
    import spark.implicits._
    // shared span of 10 tokens > k+w-1 = 7 — the winnowing theorem
    // guarantees at least one selected fingerprint in common, despite
    // completely different surrounding context
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two three four five $shared six seven")
    ).toDF("doc_id", "text")
    val byDoc = graft.operators.Stats.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "no shared fingerprint for a 10-token shared span — guarantee violated")
    // density: doc 1 has 15 tokens -> 12 k-gram hashes; winnowing must
    // select strictly fewer fingerprints than raw hashes
    assert(byDoc(1L).size < 12,
      s"winnowing selected ${byDoc(1L).size} of 12 hashes — no density win")
  }

  test("winnow kernel: native one-pass selection equals the declarative " +
       "HOF form on the corpus and on edge-case docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val edge = Seq(
      (9001L, ""), (9002L, "   "), (9003L, "a b c"), // < k tokens
      (9004L, "a b c d"),                            // exactly k, < w hashes
      (9005L, "x x x x x x x x x x"),                // all-equal hashes
      (9006L, "\tlead tab\nand newline bounded text here okay then")
    ).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(edge)
    val native = docs.select(col("doc_id"),
        graft.functions.NativeExprs.winnow_fingerprints(col("text"), 4, 4)
          .as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = docs.select(col("doc_id"),
        expr(graft.operators.Stats.winnowExpr).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == declarative.keySet)
    // ORDER included: array_distinct keeps first occurrence, so the two
    // forms must agree element-for-element, not just as sets
    native.foreach { case (id, fps) =>
      assert(fps == declarative(id), s"doc $id: $fps != ${declarative(id)}")
    }
  }

  test("q154: radius curve is monotone; true pairs bounded by detected pairs") {
    val out = SparkEntry.queries("q154_simhash_sweep")(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_true exceeds n_pairs")
    }
    val pairs = out.map(_.getLong(1)); val trues = out.map(_.getLong(2))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a <= b },
      "pair volume must grow with the radius")
    assert(trues.zip(trues.tail).forall { case (a, b) => a <= b },
      "true-pair count must grow with the radius")
  }

  test("q155: confusion-matrix mass covers the corpus; cells consistent with q33") {
    val out = SparkEntry.queries("q155_lang_confusion")(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(out.map(_.getLong(2)).sum == nDocs, "matrix mass != corpus size")
    // the matrix must be the exact cross-tab of the q33 per-doc classifier
    // (NOT a diagonal-majority check: the driver's synthetic corpus labels
    // docs 'fr'/'de'/… while the text shares one English-ish vocabulary,
    // so label agreement is a property of the DATA, not the operator)
    val perDoc = SparkEntry.queries("q33_langid")(spark, sfDir)
      .groupBy("predicted_lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val colSums = out.groupBy(_.getString(1))
      .map { case (p, cells) => p -> cells.map(_.getLong(2)).sum }
    assert(colSums == perDoc, "matrix column sums != q33 prediction counts")
  }

  test("planted lang-id: stopword-bearing text lands on its own diagonal") {
    import spark.implicits._
    // genuine marker-bearing sentences — the signal the heuristic keys on;
    // the driver corpus no longer carries it, so accuracy is pinned here
    val planted = Seq(
      (1L, "the quick fox is in the house and that was it", "en"),
      (2L, "der hund und die katze ist nicht ein vogel mit futter", "de"),
      (3L, "el perro es una casa que los gatos por la noche", "es"),
      (4L, "le chat est dans une maison qui les voit pas des fois", "fr"),
      (5L, "你好世界这是中文文本测试", "zh"),
    ).toDF("doc_id", "text", "lang")
    val got = graft.operators.TextAnalysis.langIdScored(planted)
      .select("lang", "predicted_lang").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for ((actual, predicted) <- got)
      assert(predicted == actual, s"$actual predicted as $predicted")
  }

  test("q141: drift ranking matches the integer cross-product identity") {
    val out = SparkEntry.queries("q141_corpus_drift")(spark, sfDir).collect()
    assert(out.length > 0)
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(graft.functions.TextExprs.toks)).as("t"))
    val na = tok.filter(col("doc_id") % 2 === 0).count()
    val nb = tok.filter(col("doc_id") % 2 === 1).count()
    out.foreach { r =>
      val (a, b, drift) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(drift == math.abs(a * nb - b * na),
        s"drift of ${r.getString(0)} != |cnt_a*nb - cnt_b*na|")
    }
    val drifts = out.map(_.getLong(3))
    assert(drifts.zip(drifts.tail).forall { case (a, b) => a >= b },
      "report not drift-ordered")
  }

  test("q215 length KS: matches an exact ECDF cross-product replay") {
    val got = SparkEntry.queries("q215_length_ks")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getDouble(5)))
    val docs = Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val values = docs.map(_._2).distinct.sorted
    def cum(src: String): Map[Long, Long] = {
      val lens = bySrc(src)
      values.map(v => v -> lens.count(_ <= v).toLong).toMap
    }
    val ss = bySrc.keys.toSeq.sorted
    val want = for (a <- ss; b <- ss if a < b) yield {
      val (ca, cb) = (cum(a), cum(b))
      val (na, nb) = (bySrc(a).length.toLong, bySrc(b).length.toLong)
      val d = values.map(v => math.abs(ca(v) * nb - cb(v) * na)).max
      (a, b, na, nb, d,
       math.floor(d.toDouble / (na.toDouble * nb) * 1000000) / 1000000)
    }
    assert(got.toSeq == want.sortBy(t => (t._1, t._2)))
    // KS is a probability-scale distance
    assert(got.forall(t => t._6 >= 0.0 && t._6 <= 1.0))
  }

  test("q222 vocab growth: replays first-occurrence deciles; curve monotone") {
    val got = SparkEntry.queries("q222_vocab_growth")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4)))
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", graft.functions.TextExprs.toks).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val nd = docs.length.toLong
    val firstDoc = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = (1L to 10L).map { k =>
      val cut = nd * k / 10
      val vocab = firstDoc.values.count(_ < cut).toLong
      val cum = docs.filter(_._1 < cut).map(_._2.size.toLong).sum
      (k, cut, cum, vocab,
       math.floor(vocab.toDouble / cum * 1000000) / 1000000)
    }
    assert(got.toSeq == want)
    // growth curve: vocabulary and token mass never shrink with more data
    assert(got.map(_._4).zip(got.map(_._4).tail).forall { case (a, b) => a <= b })
    assert(got.map(_._3).zip(got.map(_._3).tail).forall { case (a, b) => a < b })
    assert(got.last._4 == firstDoc.size.toLong)
  }

  test("q225 source diversity: exact integer replay; indices consistent") {
    val got = SparkEntry.queries("q225_source_diversity")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("source", graft.functions.TextExprs.toks).collect()
      .flatMap(r => r.getSeq[String](1).map(t => (r.getString(0), t)))
    val want = toks.groupBy(_._1).toSeq.map { case (src, ts) =>
      val counts = ts.groupBy(_._2).view.mapValues(_.size.toLong).values.toSeq
      val n = counts.sum; val d = counts.size.toLong
      val ss = counts.map(c => c * c).sum
      (src, n, d, ss,
       math.floor(ss.toDouble / (n.toDouble * n) * 1000000) / 1000000,
       math.floor(n.toDouble * n / ss * 1000) / 1000)
    }.sortBy(_._1)
    assert(got.toSeq == want)
    // Simpson in (0, 1]; effective vocab never exceeds the distinct count
    got.foreach { case (src, _, d, _, si, ev) =>
      assert(si > 0.0 && si <= 1.0, s"$src simpson $si")
      assert(ev <= d.toDouble, s"$src eff_vocab $ev > distinct $d")
    }
  }

  test("q215 scale path: binned KS never exceeds exact; width 1 is the declared form") {
    val docs = Tables.documents(spark, sfDir)
    def ks(bin: Long): Map[(String, String), Double] =
      graft.operators.Stats.lengthKsCore(docs, bin).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val exact = ks(1L)
    val declared = SparkEntry.queries("q215_length_ks")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5))
      .toMap
    assert(exact == declared, "binWidth=1 must be the declared query")
    // the binned ECDF evaluates the same step functions at a subset of
    // points, so its max can only shrink
    Seq(8L, 64L).foreach { w =>
      val binned = ks(w)
      assert(binned.keySet == exact.keySet)
      binned.foreach { case (k, v) =>
        assert(v <= exact(k) + 1e-9, s"bin $w pair $k: $v > ${exact(k)}") }
    }
  }

  test("q228 distinctive terms: matches a lift-ranked replay per source") {
    val got = SparkEntry.queries("q228_distinct_terms")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
                           r.getLong(3), r.getDouble(4)))
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("source", graft.functions.TextExprs.toks).collect()
      .flatMap(r => r.getSeq[String](1).map(t => (r.getString(0), t)))
    def md5Top60(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_))
        .mkString.take(15), 16)
    val st = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tt = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ns = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nTot = toks.length.toLong
    val want = ns.keys.toSeq.sorted.flatMap { src =>
      val cands = st.collect { case ((s, t), c) if s == src && c >= 5 =>
        val lift = math.floor(
          c.toDouble * nTot / (tt(t).toDouble * ns(src)) * 1000) / 1000
        (t, c, lift, md5Top60(t))
      }.toSeq.sortBy(x => (-x._3, x._4)).take(5)
      cands.zipWithIndex.map { case ((t, c, l, _), i) =>
        (src, (i + 1).toLong, t, c, l) }
    }
    assert(got.toSeq == want)
    // every source reports, and a genuinely over-represented term exists
    assert(got.map(_._1).distinct.length == ns.size)
    assert(got.exists(_._5 > 1.0))
  }

  test("q233 skipgram counts: matches a windowed-pair replay; wider than adjacency") {
    val got = SparkEntry.queries("q233_skipgram_counts")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val texts = Tables.documents(spark, sfDir)
      .selectExpr(graft.functions.TextExprs.toks).collect()
      .map(_.getSeq[String](0))
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    texts.foreach { w =>
      for (i <- w.indices; j <- math.max(0, i - 2) to
             math.min(w.size - 1, i + 2) if i != j)
        counts((w(i), w(j))) += 1
    }
    val want = counts.toSeq.map { case ((t, c), n) => (t, c, n) }
      .sortBy(x => (-x._3, x._1, x._2)).take(50)
    assert(got.toSeq == want)
    // the window genuinely reaches past adjacency: some pair at
    // distance 2 exists that no adjacent bigram produces
    val adj = scala.collection.mutable.Set.empty[(String, String)]
    texts.foreach(w => w.sliding(2).foreach {
      case Seq(a, b) => adj += ((a, b)); adj += ((b, a)); case _ => () })
    assert(counts.keys.exists(k => !adj.contains(k)))
  }

  test("q234 noise distribution: ^0.75 replay; rare-token boost property") {
    val got = SparkEntry.queries("q234_noise_distribution")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4)))
    val counts = Tables.documents(spark, sfDir)
      .selectExpr(graft.functions.TextExprs.toks).collect()
      .flatMap(_.getSeq[String](0))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def w(c: Long): Long =
      math.floor(math.sqrt(c.toDouble * math.sqrt(c.toDouble)) * 1000).toLong
    val wtot = counts.values.map(w).sum
    val ctot = counts.values.sum
    val want = counts.toSeq.map { case (t, c) =>
      (t, c, w(c),
       math.floor(w(c).toDouble / wtot * 1e9) / 1e9,
       math.floor(c.toDouble / ctot * 1e9) / 1e9)
    }.sortBy(x => (-x._2, x._1)).take(50)
    assert(got.toSeq == want)
    // the 0.75 exponent flattens: the most common token's noise share
    // sits below its natural share, the rarest reported one above
    assert(got.head._4 < got.head._5)
    assert(got.last._4 > got.last._5)
  }
}
