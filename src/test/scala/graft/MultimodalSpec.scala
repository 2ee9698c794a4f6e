package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {

  test("asset table: binary payload + typed metadata schema") {
    val a = Multimodal.assets(spark, sfDir)
    val sch = a.schema
    assert(sch("content").dataType == org.apache.spark.sql.types.BinaryType)
    assert(sch("media_type").dataType == org.apache.spark.sql.types.StringType)
    val types = a.select("media_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("feature extraction: deterministic, fixed-dim, partition-batched") {
    implicit val s = spark
    val feats = Multimodal.extractFeatures(
      Multimodal.assets(spark, sfDir).repartition(7), new Multimodal.StubMediaCodec(16))
    val rows = feats.collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    assert(rows.forall(_.feature_dim == 16))
    // determinism across runs and partitionings
    val again = Multimodal.extractFeatures(
      Multimodal.assets(spark, sfDir).repartition(3), new Multimodal.StubMediaCodec(16))
      .collect()
    assert(rows.map(r => r.asset_id -> r.feature_norm).toMap ==
           again.map(r => r.asset_id -> r.feature_norm).toMap)
  }

  test("resize: aspect-preserving dims, capped at maxDim, deterministic") {
    implicit val s = spark
    val r = Multimodal.resize(Multimodal.assets(spark, sfDir), maxDim = 128)
      .collect()
    assert(r.nonEmpty)
    r.foreach { a =>
      assert(math.max(a.out_width, a.out_height) <= 128)
      // aspect ratio preserved within integer truncation
      val inRatio = a.width.toDouble / a.height
      val outRatio = a.out_width.toDouble / a.out_height
      assert(math.abs(inRatio - outRatio) / inRatio < 0.05,
        s"asset ${a.asset_id}: ratio $inRatio -> $outRatio")
      // no upscale
      assert(a.out_width <= a.width && a.out_height <= a.height)
    }
    val again = Multimodal.resize(Multimodal.assets(spark, sfDir), 128).collect()
    assert(r.map(a => a.asset_id -> a.content_sig).toMap ==
           again.map(a => a.asset_id -> a.content_sig).toMap)
  }

  test("q149: media similarity excludes self, ranks descending, is deterministic") {
    val out = Multimodal.queries("q149_media_similar")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q returned ${rows.length} != 3")
      assert(rows.forall(_.getLong(2) != q), s"query $q retrieved itself")
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q not rank-ordered")
    }
    val again = Multimodal.queries("q149_media_similar")(spark, sfDir).collect()
    assert(out.sameElements(again), "retrieval is not deterministic")
  }

  test("frame sampling explodes only video assets, capped at 5 frames") {
    val fs = Multimodal.queries("q52_frame_sample")(spark, sfDir)
    val byAsset = fs.groupBy("asset_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byAsset.nonEmpty)
    byAsset.foreach { case (id, n) =>
      assert(n >= 2 && n <= 5)
      assert((id % 3 + 1) == 3, s"asset $id is not video-typed")
    }
  }

  test("q165: every pair is an (original, trimmed copy); shared count = frames - 1") {
    val rows = Multimodal.queries("q165_video_neardup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(b == a + 200000, s"unexpected pair ($a,$b) — cross-video collision")
      val nf = math.min(a % 4 + 2, 5)
      assert(nf >= 3, "only >=3-frame videos were re-uploaded")
      assert(n == nf - 1, s"pair ($a,$b): shared $n != ${nf - 1}")
    }
    // exactly the >=3-frame videos produce a pair
    val expected = Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 3 = 2 AND least(doc_id % 4 + 2, 5) >= 3"))
      .count()
    assert(rows.length == expected)
  }

  test("q187: every planted trim aligns at offset exactly 1, unanimously") {
    val rows = Multimodal.queries("q187_video_align")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, off, votes, shared) =>
      assert(b == a + 200000, s"unexpected pair ($a,$b)")
      // a head-trim by one frame: the original's local index leads the
      // copy's by 1 on EVERY shared frame — one offset, all the votes
      assert(off == 1L, s"pair ($a,$b): offset $off != 1")
      assert(votes == shared, s"pair ($a,$b): split vote $votes/$shared")
    }
    // same pair set as q165 (alignment refines, never invents pairs)
    val q165 = Multimodal.queries("q165_video_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == q165)
  }

  test("q203: the audit flags exactly the planted mismatched captions") {
    import spark.implicits._
    // fixture: 40 pairs; true pairs carry IDENTICAL media/text vectors
    // (cos = 1), the two planted bad captions carry disjoint-support
    // vectors (cos = 0) — with tail = 0.05 the audit must flag exactly
    // the planted ids, and the threshold must sit strictly below 1
    val planted = Set(7L, 23L)
    def vec(id: Long, side: String): Array[Float] = {
      val v = new Array[Float](8)
      if (planted(id) && side == "text") v(7) = 1f     // support {7}
      else { v((id % 4).toInt) = 1f; v(4) = 0.5f }     // support {id%4, 4}
      v
    }
    val media = (0L until 40L).map(i => (i, vec(i, "media")))
      .toDF("asset_id", "features")
    val text = (0L until 40L).map(i => (i, vec(i, "text")))
      .toDF("vec_id", "embedding")
    val got = Multimodal.crossModalAudit(media, text, 0.05)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == planted,
      s"flagged ${got.map(_._1).toSet}, planted $planted")
    got.foreach { case (_, cos, thr) =>
      assert(cos == 0.0)
      assert(thr < 1.0 && thr >= 0.0)
    }
    // order-insensitivity of the pairing: shuffling one side's row order
    // changes nothing (the join is by id, not by position)
    val gotShuffled = Multimodal.crossModalAudit(
      media.orderBy(rand(42)), text.orderBy(rand(43)), 0.05)
      .collect().map(_.getLong(0)).toSet
    assert(gotShuffled == planted)
  }

  test("q232 recall core: perfect retrieval on identical sides; decoy demotes R@1") {
    import spark.implicits._
    val vecs = (0L until 8L).map { i =>
      (i, Array.tabulate(8)(j => if (j == i % 8) 1.0f else 0.0f)) }
    val media = vecs.toDF("asset_id", "features")
    val text = vecs.toDF("vec_id", "embedding")
    val perfect = graft.operators.Multimodal.crossModalRecall(media, text)
      .collect()(0)
    assert(perfect.getLong(0) == 8L)
    assert(perfect.getDouble(4) == 1.0 && perfect.getDouble(6) == 1.0)
    // decoy: media asset 7's vector replaced with asset 0's → for query
    // 0 two identical media vectors tie at cos 1 and id order ranks the
    // true pair first, but query 7 can no longer retrieve its own asset
    val decoyMedia = vecs.map { case (i, v) =>
      (i, if (i == 7L) vecs(0)._2 else v) }.toDF("asset_id", "features")
    val decoyed = graft.operators.Multimodal.crossModalRecall(decoyMedia, text)
      .collect()(0)
    assert(decoyed.getLong(1) == 7L, s"R@1 hits ${decoyed.getLong(1)}")
    // query 7's true asset now scores cos 0 against its one-hot text —
    // still inside top-10 of an 8-item corpus, so R@10 stays 1
    assert(decoyed.getDouble(6) == 1.0)
  }

  test("q232 declared: chance-level recall with the stub codec, exact accounting") {
    val r = SparkEntry.queries("q232_crossmodal_recall")(spark, sfDir)
      .collect()(0)
    val n = r.getLong(0)
    assert(n > 0)
    // hits nest: R@1 <= R@5 <= R@10, and the stub codec carries no
    // signal, so recall stays far from 1
    assert(r.getLong(1) <= r.getLong(2) && r.getLong(2) <= r.getLong(3))
    assert(r.getDouble(6) < 0.5)
  }

  test("q257 shot core: planted cuts and holds segment exactly") {
    import spark.implicits._
    // video 1: hold(10,12), CUT to 200, hold(201), CUT to 50 -> 3 shots
    // video 2: all within threshold -> 1 shot; video 3: single frame
    val frames = Seq(
      (1L, 0L, 10L), (1L, 1L, 12L), (1L, 2L, 200L), (1L, 3L, 201L),
      (1L, 4L, 50L),
      (2L, 0L, 100L), (2L, 1L, 160L), (2L, 2L, 100L),
      (3L, 0L, 7L)).toDF("asset_id", "frame_idx", "v")
    val out = Multimodal.shotBoundaries(frames).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((5L, 3L, 188L, 1.666)), s"video1 ${out(1L)}")
    assert(out(2L) == ((3L, 1L, 60L, 3.0)), s"video2 ${out(2L)}")
    assert(out(3L) == ((1L, 1L, 0L, 1.0)), s"video3 ${out(3L)}")
  }
}
