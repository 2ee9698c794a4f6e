package graft

import graft.functions.{NativeExprs, TopKAgg}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Contracts of the margin-based pair mining behind q126. */
class MiningSpec extends SparkTestBase {

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectAll(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        collectAll(r.child)
      case _ => Nil
    }
    (p +: p.children.flatMap(collectAll)) ++ nested
  }

  test("q126: every mined pair clears the margin threshold; a_ids unique") {
    val out = SparkEntry.queries("q126_margin_mine")(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) >= 1.0), "a pair below the margin cut leaked")
    val as = out.map(_.getLong(0))
    assert(as.distinct.length == as.length, "an a_id was mined twice")
  }

  test("q126: the margin denominator re-ranks hubs (differs from raw cosine argmax)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val a = e.filter(col("label") < 5)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = e.filter(col("label") >= 5)
      .select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    val cosBest = a.crossJoin(broadcast(b))
      .withColumn("c", NativeExprs.cosine_sim(col("av"), col("bv")))
      .groupBy("a_id")
      .agg(TopKAgg.top_k_by_score(col("c"), col("b_id"), 1).as("top"))
      .select(col("a_id"), col("top")(0)("id").as("cos_b"))
    val mined = SparkEntry.queries("q126_margin_mine")(spark, sfDir)
      .select(col("a_id"), col("b_id").as("margin_b"))
    val differ = mined.join(cosBest, "a_id")
      .filter(col("margin_b") =!= col("cos_b")).count()
    // measured 48/248 on this corpus; >= 10 pins "the correction is
    // active" without riding the exact data
    assert(differ >= 10,
      s"margin scoring re-ranked only $differ best-matches — hub correction inert")
  }

  test("q127: weighted Jaccard discounts repetition that set Jaccard cannot see") {
    import spark.implicits._
    // b = a's text repeated 8x: set-identical (set Jaccard would be 1.0)
    // but only ~1/8 of b by weight; c = a verbatim (weighted 1.0)
    val para = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, para),
      (2L, Seq.fill(8)(para).mkString(" ")),
      (3L, para),
    ).toDF("doc_id", "text")
    val out = graft.operators.Mining
      .weightedJaccardPairs(docs, maxDf = 64, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 3L)) == 1.0, "verbatim copy must score 1.0")
    val rep = out((1L, 2L))
    assert(rep > 0.1 && rep < 0.2,
      s"8x repetition should score ~1/8 by weight, got $rep")
  }

  test("q127: df cap bounds posting lists (a super-common token generates no pairs)") {
    import spark.implicits._
    // 'hot' appears in every doc (df 4 > cap 2) — with it cut, docs
    // sharing ONLY 'hot' must not pair at all
    val docs = Seq(
      (1L, "hot alpha beta"),
      (2L, "hot alpha beta"),
      (3L, "hot gamma delta"),
      (4L, "hot epsilon zeta"),
    ).toDF("doc_id", "text")
    val out = graft.operators.Mining
      .weightedJaccardPairs(docs, maxDf = 2, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)),
      s"only the alpha/beta pair shares sub-cap vocabulary, got $out")
  }

  test("q180 collocations match a brute-force lift recompute") {
    val got = graft.operators.Mining.queries("q180_collocations")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
                           r.getDouble(3)))
    val texts = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).trim.split("\\s+").toSeq)
    val unis = texts.flatten
    val bis = texts.filter(_.length >= 2).flatMap(_.sliding(2).map(p => (p(0), p(1))))
    val uc = unis.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bc = bis.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nn = unis.size.toLong
    val m = bis.size.toLong
    val want = bc.toSeq.collect { case ((w1, w2), nab) if nab >= 5 =>
      val lift = math.floor(
        nab.toDouble * nn * nn / (m.toDouble * uc(w1) * uc(w2)) * 1000) / 1000
      (w1, w2, nab, lift)
    }.sortBy(t => (-t._3, t._1, t._2)).take(50)
    assert(got.toSeq == want, "operator != brute-force lift recompute")
    // collocation signal exists: some bigram beats independence
    assert(got.exists(_._4 > 1.0))
  }

  test("q181 effective-token budget agrees with the q73 family election") {
    val rows = SparkEntry.queries("q181_effective_tokens")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, td, tt, ed, et, ratio) =>
      assert(ed <= td && et <= tt, s"$src: effective exceeds total")
      assert(ratio >= 0.0 && ratio < 1.0, s"$src: dup_ratio $ratio")
    }
    // cross-check against q73's own keep flags joined to sources
    val keep = SparkEntry.queries("q73_dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2) == 1L)).toMap
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val effDocs = keep.collect { case (id, true) => srcOf(id) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case (src, _, _, ed, _, _) =>
      assert(effDocs.getOrElse(src, 0L) == ed,
        s"$src: eff_docs $ed != q73 canonical count ${effDocs.get(src)}")
    }
    // dedup actually discounts something on this corpus
    assert(rows.exists(r => r._4 < r._2))
  }

  test("q292 sweep: tau=0.5 equals q205; tau ordering moves shares the " +
       "right way; epochs blow up on the smallest source as tau drops") {
    val sweep = SparkEntry.queries("q292_mixture_sweep")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                           r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(sweep.map(_._1).distinct.sorted.toSeq == Seq(25L, 50L, 100L))
    // tau = 0.5 is exactly q205's plan (shared core + identical closers)
    val mid = sweep.filter(_._1 == 50L)
      .map(t => (t._2, t._3, t._4, t._5, t._6)).sortBy(_._1).toSeq
    val q205 = SparkEntry.queries("q205_mixture_plan")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3),
                           r.getLong(4), r.getDouble(5))).sortBy(_._1).toSeq
    assert(mid == q205, "tau=50 rows must replay q205 exactly")
    // tau = 1 reproduces natural proportions (floored ppm of exact ratio)
    val nat = sweep.filter(_._1 == 100L)
    val ttot = nat.map(_._3).sum
    nat.foreach { case (_, src, t, share, _, _) =>
      val want = math.floor(t.toDouble * 1000 * 1000000 /
                            (ttot.toDouble * 1000)) / 1000000
      assert(share == want, s"$src natural share $share != $want")
    }
    // monotone temperature effect per source: smallest source's share
    // rises as tau drops, largest source's falls
    val bySrc = sweep.groupBy(_._2)
    val smallest = nat.minBy(_._3)._2; val largest = nat.maxBy(_._3)._2
    def shareAt(src: String, tau: Long) =
      bySrc(src).find(_._1 == tau).get._4
    assert(shareAt(smallest, 25) > shareAt(smallest, 50),
      "smallest source must gain share as tau drops")
    assert(shareAt(smallest, 50) > shareAt(smallest, 100),
      "smallest source must gain share as tau drops")
    assert(shareAt(largest, 25) < shareAt(largest, 50) &&
           shareAt(largest, 50) < shareAt(largest, 100),
      "largest source must lose share as tau drops")
    // the repetition-risk frontier: the smallest source's epochs are
    // maximal at the coldest temperature, and budget never over-allocates
    assert(bySrc(smallest).maxBy(_._6)._1 == 25L,
      "smallest source's epochs must peak at the coldest tau")
    for (tau <- Seq(25L, 50L, 100L))
      assert(sweep.filter(_._1 == tau).map(_._5).sum <= 1000000L,
        s"tau=$tau allocates past the budget")
  }

  test("q205: the temperature plan replays from q181's effective tokens " +
       "and up-weights small sources") {
    val eff = SparkEntry.queries("q181_effective_tokens")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val weights = eff.map { case (s, t) =>
      s -> math.floor(math.sqrt(t.toDouble) * 1000).toLong }
    val wtot = weights.values.sum
    val want = eff.keys.toSeq.sorted.map { src =>
      val w = weights(src)
      val planned = math.floor(w.toDouble * 1000000 / wtot).toLong
      val epochs = if (eff(src) == 0) 0.0
        else math.floor(planned.toDouble * 1000 / eff(src)) / 1000
      (src, eff(src), w, math.floor(w.toDouble * 1000000 / wtot) / 1000000,
       planned, epochs)
    }
    val got = SparkEntry.queries("q205_mixture_plan")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
                 r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == want, s"got ${got.take(3).toSeq}… want ${want.take(3)}…")
    // temperature < 1 property: every below-average source gets MORE than
    // its natural token share, every above-average source LESS
    val ttot = eff.values.sum.toDouble
    got.foreach { case (src, t, _, share, _, _) =>
      val natural = t / ttot
      if (t < ttot / eff.size) assert(share > natural, s"$src not boosted")
      if (t > ttot / eff.size) assert(share < natural, s"$src not damped")
    }
    // the plan spends (almost all of) the budget: flooring loses < 1
    // token per source
    val spent = got.map(_._5).sum
    assert(spent <= 1000000L && spent > 1000000L - got.length)
  }

  test("q206: padding waste replays per length and decreases with " +
       "packing-friendlier (smaller) max_len") {
    val ntoks = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.expr(
        "size(split(trim(text), '\\\\s+'))")).collect().map(_.getInt(0).toLong)
    val want = Seq(128L, 512L, 2048L).map { l =>
      val padded = ntoks.map(t => (t + l - 1) / l * l).sum
      (l, ntoks.length.toLong, ntoks.sum, padded,
       math.floor((padded - ntoks.sum).toDouble * 1000 / padded) / 1000)
    }
    val got = SparkEntry.queries("q206_padding_waste")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4)))
    assert(got.toSeq == want)
    // waste grows with max_len on a corpus of short docs — the signal
    // the sweep exists to expose
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("q126: no shuffle carries an embedding vector") {
    val df = SparkEntry.queries("q126_margin_mine")(spark, sfDir)
    df.collect()
    val shuffles = collectAll(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    // TopKAgg partial buffers (array<struct>) may shuffle; raw float/
    // double arrays — the vectors — must not
    shuffles.foreach { s =>
      val vecCols = s.output.filter(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      assert(vecCols.isEmpty,
        s"shuffle carries vector column(s): ${vecCols.map(_.name).mkString(", ")}")
    }
  }

  test("q216 pagerank: matches an integer power-iteration replay") {
    val got = SparkEntry.queries("q216_pagerank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val pairs = operators.Dedup.minhashLshPairsCore(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var r = deg.keys.map(n => n -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val m = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = deg.keys.map(n => n -> (150000L + 85L * m(n) / 100L)).toMap
    }
    val want = r.toSeq.map { case (n, rv) =>
      (n, deg(n), rv, rv.toDouble / 1000000) }
      .sortBy(t => (-t._3, t._1))
    assert(got.toSeq == want)
    // damping floor: no rank below the teleport mass
    assert(got.forall(_._3 >= 150000L))
  }

  test("q217 source centroids: matches an exact integer-sum replay") {
    val got = SparkEntry.queries("q217_source_centroids")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val srcOf = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val sums = scala.collection.mutable.Map
      .empty[String, Array[Long]].withDefault(_ => Array.fill(64)(0L))
    Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "embedding").collect().foreach { r =>
        srcOf.get(r.getLong(0)).foreach { src =>
          val v = r.getSeq[Float](1)
          val acc = sums.getOrElseUpdate(src, Array.fill(v.size)(0L))
          v.zipWithIndex.foreach { case (x, i) =>
            acc(i) += math.floor(x.toDouble * 1000000).toLong }
        }
      }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      math.floor(dot.toDouble / (na * nb) * 1000000) / 1000000
    }
    val ss = sums.keys.toSeq.sorted
    val want = for (a <- ss; b <- ss if a < b) yield (a, b, cos(sums(a), sums(b)))
    assert(got.toSeq == want.sortBy(t => (t._1, t._2)))
    assert(got.forall(t => t._3 >= -1.0 && t._3 <= 1.0))
  }

  test("q220 mixture sample: replays admission from gated q73 + q205 arithmetic") {
    val got = SparkEntry.queries("q220_mixture_sample")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    val assign = SparkEntry.queries("q73_dedup_clusters")(spark, sfDir)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "source",
        s"cast(size(${graft.functions.TextExprs.toks}) as long)").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val canon = toks.filter(t => assign(t._1) == t._1)
    val eff = canon.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val weight = eff.view.mapValues(t =>
      math.floor(math.sqrt(t.toDouble) * 1000).toLong).toMap
    val wtot = weight.values.sum
    val efftot = eff.values.sum
    val planned = weight.view.mapValues(w =>
      math.floor(w.toDouble * (efftot / 2) / wtot).toLong).toMap
    val want = canon.groupBy(_._2).toSeq.flatMap { case (srcName, ds) =>
      var cum = 0L
      ds.sortBy(t => ((t._1 * 2654435761L) % 1048576, t._1)).flatMap { t =>
        cum += t._3
        if (cum <= planned(srcName)) Some((srcName, t._1, t._3, cum,
                                          planned(srcName)))
        else None
      }
    }.sortBy(t => (t._1, t._4))
    assert(got.toSeq == want)
    // the budget binds somewhere and admits something everywhere
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.forall(r => r._4 <= r._5)) }
  }

  test("q221 negatives: deterministic, bucket-bounded, never in the anchor family") {
    val got = SparkEntry.queries("q221_negative_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    val assign = SparkEntry.queries("q73_dedup_clusters")(spark, sfDir)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ids = assign.keys.toSeq.sorted
    val want = ids.flatMap { a =>
      val pb = (a * 40503) % 16
      val cands = ids.filter(c => ((c % 2147483647L) * 2654435761L) % 16 == pb &&
                                  assign(c) != assign(a))
        .map(c => (c, ((a * 1048573 + c) % 2147483647L)
                      * 2654435761L % 2147483647L))
        .sortBy(t => (t._2, t._1)).take(3)
      cands.zipWithIndex.map { case ((c, r), i) => (a, (i + 1).toLong, c, r) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
    // exclusion: no emitted negative shares the anchor's dedup family
    assert(got.forall(t => assign(t._3) != assign(t._1)))
  }

  test("q297 epoch order: family-separated batches, exact hash replay") {
    val got = SparkEntry.queries("q297_epoch_order")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    val assign = SparkEntry.queries("q73_dedup_clusters")(spark, sfDir)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = assign.size
    val k = math.max(1L, n / 50L)
    def md5h(sx: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    // full value replay of the modular construction (the q220/q221 bar)
    val want = (0L until 2L).flatMap { e =>
      val rows = assign.toSeq.map { case (doc, cl) =>
        (doc, cl, md5h(s"$doc:$e"), md5h(s"$cl:$e")) }
      val withBatch = rows.groupBy(_._2).values.flatMap { fam =>
        fam.sortBy(t => (t._3, t._1)).zipWithIndex.map { case (t, j) =>
          (t._1, t._2, t._3, (j + t._4) % k) }
      }
      withBatch.groupBy(_._4).flatMap { case (b, ds) =>
        ds.toSeq.sortBy(t => (t._3, t._1)).zipWithIndex.map { case (t, i) =>
          (e, b, (i + 1).toLong, t._1, t._2) }
      }
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == want)
    // the headline guarantee: same-family docs never share (epoch, batch)
    got.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      assert(rows.map(_._5).distinct.length == rows.length,
        s"family co-occurrence inside a batch: ${rows.mkString(", ")}") }
    // each doc appears exactly once per epoch; batch ids live in [0, K)
    assert(got.length == 2 * n)
    assert(got.count(_._1 == 0L) == n)
    assert(got.forall(t => t._2 >= 0 && t._2 < k))
    // the epoch REshuffle is real: the two epochs' batch maps differ
    val b0 = got.filter(_._1 == 0L).map(t => t._4 -> t._2).toMap
    val b1 = got.filter(_._1 == 1L).map(t => t._4 -> t._2).toMap
    assert(b0 != b1)
  }

  test("q224 hub audit: probed graph matches a codebook replay; brute " +
       "certificate matches the exact replay") {
    import graft.operators.Mining
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // the brute A×B form is the exact certificate
    val brute = Mining.hubAuditBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exactIndeg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    vecs.foreach { case (a, av) =>
      vecs.filter(_._1 != a)
        .map { case (b, bv) => (b, cos(av, bv)) }
        .sortBy(t => (-t._2, t._1)).take(5)
        .foreach { case (b, _) => exactIndeg(b) += 1 }
    }
    val wantExact = vecs.map(v => (v._1, exactIndeg(v._1)))
      .sortBy(t => (-t._2, t._1))
    assert(brute.toSeq == wantExact.toSeq)
    assert(brute.map(_._2).sum == 5L * vecs.length)

    // the GATED plan is the IVF probed-candidate graph — replay it with
    // the codebook the build trained (declared-probes semantics)
    val got = SparkEntry.queries("q224_hub_audit")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cents = Mining.hubCodebooks.get(sfDir)
    assert(cents != null, "q224 must capture its trained codebook")
    val scored = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (cv, ci) => (ci.toLong, cos(v, cv)) }
    }.toMap
    // assignment: max cosine, ties -> highest c_id (max(struct) order)
    val assign = scored.map { case (id, cs) =>
      id -> cs.maxBy { case (ci, cc) => (cc, ci) }._1 }
    val cells = assign.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq }
    // probes: top-hubProbes cells in (cos DESC, c_id ASC) heap order
    val probes = scored.map { case (id, cs) =>
      id -> cs.sortBy { case (ci, cc) => (-cc, ci) }.take(Mining.hubProbes)
        .map(_._1) }
    val vmap = vecs.toMap
    val probedIndeg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    vecs.foreach { case (a, av) =>
      probes(a).flatMap(c => cells.getOrElse(c, Nil)).filter(_ != a)
        .map(b => (b, cos(av, vmap(b))))
        .sortBy(t => (-t._2, t._1)).take(5)
        .foreach { case (b, _) => probedIndeg(b) += 1 }
    }
    val wantProbed = vecs.map(v => (v._1, probedIndeg(v._1)))
      .sortBy(t => (-t._2, t._1))
    assert(got.toSeq == wantProbed.toSeq)
    // the probe restriction must stay a useful approximation of the
    // exact graph on this corpus: ≥ half the k·N directed edges agree.
    // These near-uniform test embeddings are the IVF WORST case (no
    // cluster structure for the quantizer to exploit) — the probed
    // graph is a DECLARED different relation certified by its own
    // generated oracle (the q45/q86 precedent), and this measured floor
    // documents the gap the q109-style eval would report, not an
    // equivalence claim
    val agree = vecs.map { case (a, av) =>
      val ex = vecs.filter(_._1 != a).map { case (b, bv) => (b, cos(av, bv)) }
        .sortBy(t => (-t._2, t._1)).take(5).map(_._1).toSet
      val pr = probes(a).flatMap(c => cells.getOrElse(c, Nil)).filter(_ != a)
        .map(b => (b, cos(av, vmap(b)))).sortBy(t => (-t._2, t._1))
        .take(5).map(_._1).toSet
      (ex intersect pr).size
    }.sum
    assert(agree.toDouble / (5.0 * vecs.length) >= 0.5,
      s"probed kNN graph agreement too low: $agree / ${5 * vecs.length}")
    // structural mass bound: every vector still finds k candidates in
    // its probed cells here, so the directed-edge mass is exactly k·N
    assert(got.map(_._2).sum <= 5L * vecs.length)
    assert(got.map(_._2).sum == 5L * vecs.length,
      "every vector has >= k candidates in its probe set on this corpus")
    // hubness exists on this corpus: some vector is over-represented
    assert(got.head._2 > 5L)
  }

  test("q231 knn purity: matches a leave-one-out agreement replay") {
    val got = SparkEntry.queries("q231_knn_purity")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>)", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val agree = vecs.map { case (a, av, la) =>
      val m = vecs.filter(_._1 != a)
        .map { case (b, bv, lb) => ((b, lb), cos(av, bv)) }
        .sortBy { case ((b, lb), c) => (-c, b * 16 + lb) }.take(5)
        .count { case ((_, lb), _) => lb == la }
      (la.toLong, m.toLong)
    }
    val want = agree.groupBy(_._1).toSeq.map { case (l, ms) =>
      val n = ms.length.toLong; val s = ms.map(_._2).sum
      (l, n, s, math.floor(s.toDouble / (n * 5) * 1000000) / 1000000)
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // labels partition the set; purity is a fraction of k
    assert(got.map(_._2).sum == vecs.length.toLong)
    assert(got.forall(t => t._4 >= 0.0 && t._4 <= 1.0))
  }

  test("q235 triplets: composed exactly from gated q42 pairs and q221 rank-1") {
    val got = SparkEntry.queries("q235_triplets")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = SparkEntry.queries("q42_minhash_lsh")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val neg1 = SparkEntry.queries("q221_negative_sample")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("rnk") === 1)
      .select("anchor_id", "neg_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .flatMap { case (an, p) => neg1.get(an).map(n => (an, p, n)) }
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
    // triplet sanity: anchor, positive, negative all distinct per row
    assert(got.forall(t => t._1 != t._3 && t._2 != t._3 && t._1 != t._2))
  }

  test("q246 triangle core: planted clique / star / path count exactly") {
    import spark.implicits._
    // 4-clique {1,2,3,4}; star 10-(11,12,13); path 20-21-22
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L))
    val path = Seq((20L, 21L), (21L, 22L))
    val pr = (clique ++ star ++ path).toDF("a_id", "b_id")
    val out = graft.operators.Mining.triangleStats(pr).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // clique: every node deg 3, in C(3,2)=3 triangles, lcc exactly 1
    (1L to 4L).foreach { n => assert(out(n) == ((3L, 3L, 1.0)), s"node $n") }
    // star center: high degree, zero closure — the strip-don't-drop shape
    assert(out(10L) == ((3L, 0L, 0.0)))
    star.foreach { case (_, leaf) => assert(out(leaf) == ((1L, 0L, 0.0))) }
    // path: middle node has two open neighbors, lcc 0
    assert(out(21L) == ((2L, 0L, 0.0)))
    assert(out(20L) == ((1L, 0L, 0.0)) && out(22L) == ((1L, 0L, 0.0)))
    // global triangle count: each clique triangle credits 3 corners
    assert(out.values.map(_._2).sum == 4L * 3L)
  }

  test("q286 probed mining: sides respected, margins cut, brute-mining agreement") {
    val e = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val aIds = e.filter(_._2 < 5).map(_._1).toSet
    val bIds = e.filter(_._2 >= 5).map(_._1).toSet
    val got = SparkEntry.queries("q286_margin_mine_probed")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "probed mining must produce pairs on this corpus")
    // structural: one row per mined A-item, ids on the declared sides,
    // every margin at/above the declared cut
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.forall(t => aIds.contains(t._1) && bIds.contains(t._2)))
    assert(got.forall(_._3 >= 1.0))
    // agreement vs the exact A×B margin miner (q126) — the q224
    // certificate style: the probed stack picks the same best match for
    // a solid fraction of items (measured 0.53 on this corpus; densities
    // over probed neighborhoods legitimately reorder near-ties, so the
    // pinned floor leaves headroom)
    val brute = SparkEntry.queries("q126_margin_mine")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = got.count(t => brute.contains((t._1, t._2)))
    assert(agree.toDouble / brute.size >= 0.4,
      s"probed mining agreement too low: $agree / ${brute.size}")
  }

  test("q289 lifecycle: persisted-index mining equals the in-plan rebuild; " +
       "the batch landed as appended files under the standing version") {
    // append ≡ rebuild at the mining grain: the persisted-leg query must
    // reproduce q286 EXACTLY (same codebooks frozen, same probe/score
    // semantics) — the two gates also share one oracle, so the driver
    // certifies the same equality cross-engine
    val lifecycle = SparkEntry.queries("q289_mining_index_lifecycle")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuild = SparkEntry.queries("q286_margin_mine_probed")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lifecycle == rebuild,
      "persisted-index mining must equal the in-plan rebuild")
    // physical evidence the batch arrived as an APPEND, not a rebuild:
    // at least one cell partition of each side index holds >1 file
    for (tag <- Seq("a", "b")) {
      // WorkDirs returns Hadoop-qualified paths (file:/… locally) —
      // strip the local scheme for java.io inspection
      val dir = new java.io.File(WorkDirs.artifactDir(spark, s"mine_idx_$tag", sfDir)
        .stripPrefix("file:"))
      val cells = dir.listFiles().filter(_.getName.startsWith("centroid="))
      assert(cells.nonEmpty, s"missing cell partitions under $dir")
      assert(cells.exists(
        _.listFiles().count(_.getName.endsWith(".parquet")) > 1),
        s"side $tag: expected appended files in at least one cell")
    }
  }

  test("mining-index staleness monitor: planted one-side drift fires, " +
       "balanced appends stay quiet (VERDICT r13 task 4)") {
    import graft.operators.{Mining, Similarity}
    // throwaway per-side indexes (NOT q289's session artifacts — an
    // append here must never mutate the gated lifecycle's state)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val aSide = e.filter(col("label") < 5).select("vec_id", "embedding")
    val bSide = e.filter(col("label") >= 5).select("vec_id", "embedding")
    val dirA = TempDirs.create("mine_stale_a")
    val dirB = TempDirs.create("mine_stale_b")
    // build on the initial slice, then the q289-shaped id-interleaved
    // BALANCED append (same distribution, frozen codebooks)
    val isAppend = col("vec_id") % 5 === 2
    Similarity.ivfPqIndex(aSide.filter(!isAppend), 8, dirA)
    Similarity.ivfPqIndex(bSide.filter(!isAppend), 8, dirB)
    Similarity.ivfPqAppend(spark, dirA, aSide.filter(isAppend))
    Similarity.ivfPqAppend(spark, dirB, bSide.filter(isAppend))
    val (staleA0, staleB0) = Mining.mineIndexStale(spark, dirA, dirB)
    assert(!staleA0 && !staleB0,
      s"balanced appends must not fire the monitor " +
      s"(skews ${Similarity.indexSkew(spark, dirA)} / " +
      s"${Similarity.indexSkew(spark, dirB)})")
    // planted ONE-SIDE drift (q172's shape on side B): the side's items
    // re-arrive blended hard toward one anchor direction — a mode the
    // frozen side-B quantizer has no centroid for, so the whole batch
    // assigns to the anchor's cell and max/median jumps ≈ 1 + k·frac
    // regardless of corpus size
    val anchor = bSide.orderBy("vec_id").limit(1)
      .select(expr("transform(embedding, x -> cast(x as double))").as("av"))
    val drift = bSide.crossJoin(broadcast(anchor))
      .select((col("vec_id") + 20000000L).as("vec_id"),
        expr("zip_with(transform(embedding, x -> cast(x as double)), av, " +
             "(x, y) -> 0.2D * x + 0.8D * y)").as("embedding"))
    Similarity.ivfPqAppend(spark, dirB, drift)
    val (staleA1, staleB1) = Mining.mineIndexStale(spark, dirA, dirB)
    assert(!staleA1, "the undrifted side must stay quiet")
    assert(staleB1,
      s"the drifted side must fire (skew ${Similarity.indexSkew(spark, dirB)})")
    // the append ≡ rebuild certificate (q289 ≡ q286, previous test +
    // the shared oracle) is untouched: the monitor only READS indexes,
    // and this fixture built its own.
  }
}
