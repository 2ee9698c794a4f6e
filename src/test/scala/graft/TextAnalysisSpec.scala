package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkTestBase {

  test("langIdScored identifies real multilingual sentences") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the quick brown fox is in the yard and it is fast"),
      (2L, "der hund ist nicht in das haus und die katze ist hier"),
      (3L, "el perro es una mascota que vive en la casa por las tardes"),
      (4L, "le chat est dans la maison qui est pas loin des arbres"),
      (5L, "你好世界这是一个测试文档"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langIdScored(samples)
      .select("doc_id", "predicted_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "es")
    assert(out(4L) == "fr")
    assert(out(5L) == "zh")
  }

  test("q34 fingerprint is stable and collides only for identical shingle sets") {
    val fp = TextAnalysis.queries("q34_fingerprint")(spark, sfDir)
    val n = fp.count()
    assert(n == Tables.documents(spark, sfDir).count())
    // deterministic across runs
    val a = fp.collect().map(_.toSeq)
    val b = TextAnalysis.queries("q34_fingerprint")(spark, sfDir).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("q35 near-dup pairs have genuinely high shingle overlap") {
    val pairs = TextAnalysis.queries("q35_ngram_jaccard")(spark, sfDir).collect()
    assert(pairs.nonEmpty, "testdata should contain planted near-duplicates")
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("q174 containment: matches a brute-force directed recompute; " +
       "catches a one-directional subset pair") {
    val got = TextAnalysis.queries("q174_containment")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute-force mirror on the driver: distinct word-3-gram shingles,
    // directed common/|A| >= 0.9, floored to 1e-3
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> {
        val t = r.getString(1).trim.split("\\s+").toSeq
        if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
        else Set.empty[String]
      }).toMap
    val inv = scala.collection.mutable.Map.empty[String, List[Long]]
    docs.foreach { case (id, sh) =>
      sh.foreach(s => inv(s) = id :: inv.getOrElse(s, Nil)) }
    val common = scala.collection.mutable.Map.empty[(Long, Long), Long]
    inv.values.foreach { ids =>
      for (a <- ids; b <- ids if a != b)
        common((a, b)) = common.getOrElse((a, b), 0L) + 1L
    }
    val want = common.toSeq.collect {
      case ((a, b), c) if c.toDouble / docs(a).size >= 0.9 =>
        (a, b, math.floor(c.toDouble / docs(a).size * 1000) / 1000)
    }.sorted
    assert(got.toSeq.sorted == want, "operator != brute-force recompute")
    // the measure is genuinely directed: at least one pair is contained
    // one way only (A inside a strictly larger B — invisible to a
    // symmetric threshold applied both ways)
    val set = got.map(p => (p._1, p._2)).toSet
    assert(got.exists(p => !set.contains((p._2, p._1))),
      "expected a one-directional containment pair in the corpus")
  }

  test("q183 incremental containment == q174 restricted to cross pairs") {
    val inc = SparkEntry.queries("q183_inc_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = SparkEntry.queries("q174_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 >= 250 && p._2 < 250).toSeq
    assert(inc.nonEmpty, "cross containment pairs must exist in testdata")
    assert(inc == full, "incremental form != full form restricted to cross pairs")
  }

  test("q201 vocab coverage: one row per source, OOV mass is real and bounded") {
    val rows = TextAnalysis.queries("q201_vocab_coverage")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3)))
    val nSrc = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.length.toLong == nSrc)
    rows.foreach { case (src, n, oov, share) =>
      assert(n > 0 && oov >= 0 && oov < n, s"$src: degenerate OOV $oov/$n")
      assert(share >= 0.0 && share < 1.0)
    }
    // the top-V cut leaves genuine OOV mass somewhere (the corpus vocab
    // exceeds V), but the head covers most of the stream everywhere
    assert(rows.exists(_._3 > 0))
    assert(rows.forall(_._4 < 0.5), "top-V must cover the majority")
  }

  test("q30 token counts are positive and ws_tokens <= re_tokens + punct slack") {
    val rows = TextAnalysis.queries("q30_tokens")(spark, sfDir).collect()
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("q85 token rarity: df bounds and near-dup docs score alike") {
    val nDocs = Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.queries("q85_token_rarity")(spark, sfDir).collect()
    assert(rows.length == nDocs, "one score row per document")
    rows.foreach { r =>
      val (n, minDf, meanDf) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n >= 1 && minDf >= 1 && minDf <= nDocs)
      assert(meanDf >= minDf && meanDf <= nDocs,
        s"mean_df $meanDf outside [min_df=$minDf, corpus=$nDocs]")
    }
    // near-duplicate docs share almost all tokens → their rarity scores
    // must be close (the signal is content-driven, not noise)
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val dups = TextAnalysis.queries("q35_ngram_jaccard")(spark, sfDir).collect()
    assert(dups.nonEmpty)
    dups.foreach { p =>
      val (a, b) = (byId(p.getLong(0)), byId(p.getLong(1)))
      assert(math.abs(a - b) / math.max(a, b) < 0.2,
        s"near-dup pair scores diverge: $a vs $b")
    }
  }

  test("q161 repetition: bounds hold; planted repeats score exactly") {
    val rows = TextAnalysis.queries("q161_repetition")(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val (n, top, dup, ratio) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(top <= n && dup <= n, "counts bounded by gram total")
      assert(top <= dup || top == 1,
        "a repeated top gram contributes to the dup mass")
      assert(ratio >= 0 && ratio <= 1)
    }
    // planted: "a b a b a" → 2-grams [a b, b a, a b, b a]: top2=2, dup=4
    import spark.implicits._
    val planted = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "w"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionOn(planted)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((4L, 2L, 4L)), s"planted repeat doc: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0L)), s"all-distinct doc: ${got(2L)}")
    assert(got(3L) == ((0L, 0L, 0L)), s"single-token doc: ${got(3L)}")
  }

  test("q291 prefix-cache: refinement invariants + planted fixture") {
    val rows = TextAnalysis.queries("q291_prefix_cache")(spark, sfDir)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
    val nDocs = Tables.documents(spark, sfDir).count()
    for (r <- rows) {
      assert(r.getAs[Long]("n_docs") == nDocs,
        "every doc lands in exactly one prefix group per depth")
      assert(r.getAs[Long]("dup_docs") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_groups"))
      assert(r.getAs[Long]("n_shared_groups") <= r.getAs[Long]("n_groups"))
    }
    // depth d+1 prefixes REFINE depth d groups: group count can only
    // grow, duplicate mass can only shrink
    val byDepth = rows.sortBy(_.getLong(0))
    for (Array(lo, hi) <- byDepth.sliding(2)) {
      assert(lo.getAs[Long]("n_groups") <= hi.getAs[Long]("n_groups"),
        "finer prefixes cannot merge groups")
      assert(lo.getAs[Long]("dup_docs") >= hi.getAs[Long]("dup_docs"),
        "finer prefixes cannot create duplicates")
    }
    // planted: at depth 2, docs 1/2 share "the cat" (saves 2 tokens),
    // docs 3/4/5 share "a dog" (saves 2·2); doc 6 is a 1-token doc whose
    // depth-2 prefix is itself. depth 4 splits the "a dog" trio into
    // {3,4} (share "a dog sat here") + {5}; depth 8 separates everything
    // (prefixes of short docs are the whole doc).
    import spark.implicits._
    val planted = Seq(
      "the cat sat here", "the cat ran off",
      "a dog sat here now", "a dog sat here later", "a dog ran away",
      "solo").toDF("text")
    val got = graft.operators.TextAnalysis.prefixCacheOn(planted)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5))).toMap
    // (n_groups, n_docs, n_shared_groups, dup_docs, saved_tokens)
    assert(got(2L) == ((3L, 6L, 2L, 3L, 6L)), s"depth 2: ${got(2L)}")
    assert(got(4L) == ((5L, 6L, 1L, 1L, 4L)), s"depth 4: ${got(4L)}")
    assert(got(8L) == ((6L, 6L, 0L, 0L, 0L)), s"depth 8: ${got(8L)}")
  }
}
