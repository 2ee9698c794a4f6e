package graft

import graft.functions.NativeExprs
import org.apache.spark.sql.functions._

/** Edge-case behavior of the native expressions. */
class NativeExprSpec extends SparkTestBase {

  test("md5_minhashes: component independence — a 64-signature's first " +
       "32 components ARE the 32-signature (the q79/q242 shared-store " +
       "contract)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              graft.functions.NativeExprs.word_shingles(col("text")).as("sh"))
      .filter(org.apache.spark.sql.functions.size(col("sh")) > 0)
    val cmp = docs
      .select(col("doc_id"),
        graft.functions.NativeExprs.md5_minhashes(col("sh"), 64).as("mh64"),
        graft.functions.NativeExprs.md5_minhashes(col("sh"), 32).as("mh32"))
      .select(col("doc_id"), expr("slice(mh64, 1, 32)").as("s64"), col("mh32"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: 64-sig prefix != 32-sig")
    }
  }

  test("word_shingles: degenerate inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"),            // < 3 tokens → empty
      (2L, "  x   y  z  "),   // irregular whitespace → one shingle
      (3L, "w w w w"),        // repeated tokens → distinct shingles only
      (4L, ""),               // empty string → empty
    ).toDF("id", "text")
      .select(col("id"), NativeExprs.word_shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(df(1L) == Nil)
    assert(df(2L) == List("x y z"))
    assert(df(3L) == List("w w w")) // two identical shingles collapse to one
    assert(df(4L) == Nil)
  }

  test("pq_adc: malformed codes fail loudly instead of corrupting distances") {
    import spark.implicits._
    // 2 subspaces × 2 centroids × 2 dims
    val cb = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.0, 0.0), Array(2.0, 2.0)))
    val q = Seq((1L, Seq(1.0, 1.0, 2.0, 2.0))).toDF("id", "qv")
    def adc(codes: Seq[Int]): Double =
      q.select(NativeExprs.pq_adc(col("qv"),
          typedLit(codes), cb).as("d"))
        .head.getDouble(0)
    assert(adc(Seq(1, 1)) == 0.0) // exact reconstruction
    assert(adc(Seq(0, 0)) == 1.0 + 1.0 + 4.0 + 4.0)
    // short code array: must throw, not silently score half the vector
    val short = intercept[Exception](adc(Seq(1)))
    assert(short.getMessage != null && short.getMessage.contains("subspaces"),
      s"got: ${short.getMessage}")
    // out-of-range code: descriptive error, not ArrayIndexOutOfBounds
    val oob = intercept[Exception](adc(Seq(1, 7)))
    assert(oob.getMessage != null && oob.getMessage.contains("out of range"),
      s"got: ${oob.getMessage}")
  }

  test("word_shingles: distinct=false preserves duplicate shingles in order") {
    import spark.implicits._
    val rows = Seq((1L, "w w w w"), (2L, "a b c a b c a b c"))
      .toDF("id", "text")
      .select(col("id"), NativeExprs.word_shingles(col("text"), 3, distinct = false).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(rows(1L) == List("w w w", "w w w"))
    assert(rows(2L) == List("a b c", "b c a", "c a b", "a b c",
                            "b c a", "c a b", "a b c"))
  }

  test("tokenizing kernels match the SQL split(trim(text)) on tab/newline-bounded text") {
    import spark.implicits._
    // SQL trim strips spaces ONLY (Java String.trim also eats \t \n) and
    // SQL split keeps trailing empty tokens — the native kernels must
    // reproduce both or their oracles diverge on whitespace-odd corpora
    val texts = Seq(
      "\tthe quick brown fox jumps high\t",  // tab-bounded: empty edge tokens
      "\nalpha beta gamma delta\n",          // newline-bounded
      "  plain spaced text here  ",          // space-bounded: trimmed clean
      "mid\ttab and\nnewline separated words")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val declarativeShingles = graft.functions.TextExprs.shingleSet
    val rows = df.select(
        col("id"),
        NativeExprs.word_shingles(col("text")).as("native_sh"),
        expr(declarativeShingles).as("sql_sh"),
        NativeExprs.simhash_sig(col("text")).as("native_sim"),
        expr(graft.functions.TextExprs.let1(
          s"transform(${graft.functions.TextExprs.toks}, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS bigint))", "th",
          """aggregate(sequence(0, 59), 0L, (acc, i) ->
               acc + IF(aggregate(th, 0L, (a2, h) ->
                          a2 + IF((shiftrightunsigned(h, i) & 1) = 1, 1L, -1L)) >= 0,
                        shiftleft(1L, i), 0L))""")).as("sql_sim"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"shingle mismatch on id ${r.getLong(0)}: " +
          s"native=${r.getSeq[String](1)} sql=${r.getSeq[String](2)}")
      assert(r.getLong(3) == r.getLong(4),
        s"simhash mismatch on id ${r.getLong(0)}")
    }
  }

  test("cosine_sim: non-array argument is an analysis error, not a runtime cast") {
    import spark.implicits._
    val df = Seq((1L, "not an array", Array(1.0f))).toDF("id", "s", "v")
    val e = intercept[Exception] {
      df.select(NativeExprs.cosine_sim(col("s"), col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
           e.getMessage.contains("DATATYPE_MISMATCH"),
           s"expected analysis-time type error, got: ${e.getMessage}")
  }

  test("cosine_sim: orthogonal, opposite, zero-vector (NaN) semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),  // orthogonal → 0
      (2L, Array(1.0f, 0.0f), Array(-1.0f, 0.0f)), // opposite → -1
      (3L, Array(0.0f, 0.0f), Array(1.0f, 0.0f)),  // zero vec → NaN (0/0)
    ).toDF("id", "a", "b")
      .select(col("id"), NativeExprs.cosine_sim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df(1L) == 0.0)
    assert(df(2L) == -1.0)
    assert(df(3L).isNaN, "zero-norm input yields NaN; callers threshold-filter it out")
  }

  test("minhash_band_keys: stable across runs, sensitive to content") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                 (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("id", "text")
      .select(col("id"),
        NativeExprs.minhash_band_keys(NativeExprs.word_shingles(col("text"))).as("bk"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val m2 = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(m == m2, "deterministic")
    assert(m(1L) != m(2L), "one word changed → some band keys must differ")
    assert(m(1L).zip(m(2L)).exists { case (a, b) => a == b } ||
           m(1L) != m(2L)) // near-dup texts typically still share bands
  }

  test("top_k_by_score: ties, k > group, nulls, partitioning-independent") {
    import graft.functions.TopKAgg
    import spark.implicits._
    // many duplicate scores (forced ties) + some null scores
    val rows = (0 until 2000).map { i =>
      (s"g${i % 7}", if (i % 97 == 0) null else java.lang.Double.valueOf((i % 13).toDouble), i.toLong)
    }
    def topk(parts: Int) = rows.toDF("g", "score", "id")
      .repartition(parts, col("id"))
      .groupBy("g")
      .agg(TopKAgg.top_k_by_score(col("score"), col("id"), 4).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("g"), col("r"), col("t.score"), col("t.id"))
      .collect().map(x => (x.getString(0), x.getInt(1), x.getDouble(2), x.getLong(3))).toSet
    val a = topk(2)
    val b = topk(37) // exercises many partial heaps + merges
    assert(a == b, "merge path must be partitioning-independent")
    // equals the window formulation exactly (nulls excluded, score desc, id asc)
    val expected = rows.filter(_._2 != null)
      .groupBy(_._1)
      .flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._2.doubleValue(), r._3)).take(4).zipWithIndex
          .map { case (r, i) => (g, i, r._2.doubleValue(), r._3) }
      }.toSet
    assert(a == expected)
    // k larger than the group: returns the whole group, ranked
    val small = Seq(("x", 2.0, 1L), ("x", 1.0, 2L)).toDF("g", "score", "id")
      .groupBy("g").agg(TopKAgg.top_k_by_score(col("score"), col("id"), 10).as("top"))
      .select(size(col("top"))).collect().head.getInt(0)
    assert(small == 2)
    // type misuse is an analysis error, not a runtime failure
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", "notadouble", 1L)).toDF("g", "score", "id")
        .groupBy("g").agg(TopKAgg.top_k_by_score(col("score"), col("id"), 2))
        .collect()
    }
  }

  test("top_k_by_score_tagged: payload integrity across partial heaps, " +
       "same ranking contract as the untagged heap") {
    import graft.functions.TopKAgg
    import spark.implicits._
    val rows = (0 until 2000).map { i =>
      (s"g${i % 7}", (i % 13).toDouble, i.toLong, s"tag-${i % 13}-${i % 7}")
    }
    def topk(parts: Int) = rows.toDF("g", "score", "id", "tag")
      .repartition(parts, col("id"))
      .groupBy("g")
      .agg(TopKAgg.top_k_by_score_tagged(
        col("score"), col("id"), col("tag"), 4).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("g"), col("r"), col("t.score"), col("t.id"), col("t.tag"))
      .collect()
      .map(x => (x.getString(0), x.getInt(1), x.getDouble(2), x.getLong(3),
                 x.getString(4))).toSet
    val a = topk(2)
    val b = topk(37) // many partial heaps + serialize/merge round-trips
    assert(a == b, "tagged merge path must be partitioning-independent")
    // ranking identical to the untagged heap; tag rides its own row
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(4).zipWithIndex
        .map { case (r, i) => (g, i, r._2, r._3, r._4) }
    }.toSet
    assert(a == expected)
    // every returned tag is the one generated WITH that id (payload
    // never crosses rows through serialize/deserialize)
    a.foreach { case (g, _, _, id, tag) =>
      assert(tag == s"tag-${id % 13}-${id % 7}" && g == s"g${id % 7}",
        s"tag $tag does not belong to id $id")
    }
  }
}
