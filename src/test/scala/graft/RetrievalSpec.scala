package graft

import graft.operators.Retrieval

/** q102 hybrid fusion + q103 semantic dedup behavior. */
class RetrievalSpec extends SparkTestBase {

  test("rrfFuse: overlap outranks single-list hits; absent ranks contribute 0") {
    import spark.implicits._
    // doc 100 is rank 2 lexically and rank 3 vectorially; docs 101/102
    // are top-1 in exactly one list. RRF: 1/62 + 1/63 > 1/61 — the
    // doubly-retrieved doc must win.
    val lex = Seq((0L, 101L, 1L), (0L, 100L, 2L)).toDF("q_id", "doc_id", "rnk")
    val vec = Seq((0L, 102L, 1L), (0L, 100L, 3L)).toDF("q_id", "doc_id", "rnk")
    val got = Retrieval.rrfFuse(lex, vec)
      .select("rnk", "doc_id", "lex_rnk", "vec_rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 100L, 2L, 3L),   // 1/62 + 1/63 ≈ 0.032
      (2L, 101L, 1L, 0L),   // 1/61 — absent vector rank contributes 0
      (3L, 102L, 0L, 1L)))  // ties impossible here; doc order by score
  }

  test("weightedFuse: min-max normalization, degenerate bounds, missing-side zero") {
    import spark.implicits._
    // lexical: spread scores; vector: ALL EQUAL (degenerate -> 0.5 each)
    val lex = Seq((0L, 10L, 1L, 4.0), (0L, 11L, 2L, 2.0), (0L, 12L, 3L, 0.0))
      .toDF("q_id", "doc_id", "rnk", "score")
    val vec = Seq((0L, 11L, 1L, 0.9), (0L, 13L, 2L, 0.9))
      .toDF("q_id", "doc_id", "rnk", "score")
    val got = Retrieval.weightedFuse(lex, vec)
      .select("rnk", "doc_id", "wscore")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 11: 0.6*0.5 + 0.4*0.5 = 0.5 ; 10: 0.6*1.0 = 0.6 ;
    // 13: 0.4*0.5 = 0.2 (no lexical hit) ; 12: 0.6*0.0 = 0.0
    assert(got.toSeq == Seq(
      (1L, 10L, 0.6), (2L, 11L, 0.5), (3L, 13L, 0.2), (4L, 12L, 0.0)))
  }

  test("q102: fused output ranks are dense per query and sourced from the halves") {
    val out = SparkEntry.queries("q102_hybrid_search")(spark, sfDir)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      val rnks = rows.map(_.getLong(1)).sorted
      assert(rnks.sameElements(1L to rnks.length), "ranks must be dense from 1")
      rows.foreach { r =>
        // every fused row cites at least one half, and cited ranks are
        // within the half's top-k
        val (l, v) = (r.getLong(4), r.getLong(5))
        assert(l > 0 || v > 0)
        assert(l <= 10 && v <= 10)
      }
    }
  }

  test("q103: drops only ever cite an in-cell smaller id (no cross-cell pairs)") {
    val out = SparkEntry.queries("q103_semantic_dedup")(spark, sfDir).collect()
    val cellOf = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    var drops = 0
    out.foreach { r =>
      val (id, cell, keep, by) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (keep == 0L) {
        drops += 1
        assert(by >= 0 && by < id, "survivor must be a smaller id")
        assert(cellOf(by) == cell,
          s"vec $id (cell $cell) dropped by $by from cell ${cellOf(by)} — " +
            "pair generation must never cross cells")
      } else assert(by == -1L)
    }
    assert(drops > 0, "declared threshold must exercise the drop path")
    assert(out.count(_.getLong(2) == 1L) > 0, "and keep survivors")
  }

  test("q285: report covers exactly the non-benchmark corpus; flags cite in-cell benchmark ids") {
    val out = SparkEntry.queries("q285_semantic_contamination")(spark, sfDir)
      .collect()
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val benchIds = (0L until n).filter(_ % 10 == 7).toSet
    assert(out.map(_.getLong(0)).toSet == (0L until n).toSet -- benchIds,
      "one row per corpus (non-benchmark) vector, benchmark rows excluded")
    val asgCell = SparkEntry.queries("q103_semantic_dedup")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var flagged = 0
    out.foreach { r =>
      val (id, cell, keep, by) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(asgCell(id) == cell, "assignment must match the shared quantizer")
      if (keep == 0L) {
        flagged += 1
        assert(benchIds.contains(by), s"vec $id flagged by non-benchmark $by")
        assert(asgCell(by) == cell,
          s"vec $id (cell $cell) flagged across cells by $by (cell ${asgCell(by)})")
      } else assert(by == -1L)
    }
    assert(flagged > 0, "declared threshold must exercise the flag path")
    assert(out.count(_.getLong(2) == 1L) > 0, "and keep clean vectors")
  }
}
