package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §2 row 14 [extension]): image/audio/video
  * carried as opaque `binary` columns with typed relational metadata,
  * processed in executor-side batches.
  *
  * The Spark-side plumbing is real: schema (BinaryType + metadata
  * columns), partition-parallel batched processing via `mapPartitions`
  * (the JVM analogue of `mapInPandas` — one codec instance per partition,
  * iterator-in/iterator-out, no per-row setup), deterministic frame
  * sampling, and metadata aggregation with a SQL oracle.
  *
  * The actual media DECODE is stubbed (`StubMediaCodec`): this container
  * ships no image/audio libraries, so the codec derives deterministic fake
  * "features" from the bytes. Swapping in a real codec changes ONE class —
  * the operator shapes (batching, schema, partitioning) are what's under
  * test, exactly as the driver prompt specifies.
  *
  * Scale: assets are processed where they live (no shuffle before feature
  * extraction); per-partition codec reuse amortizes model/codec init, the
  * same property that makes mapInPandas batches efficient. Feature output
  * is k floats per asset — the downstream similarity ops (Similarity.*)
  * then apply unchanged.
  */
object Multimodal extends QueryPack {

  /** One decoded-feature row. */
  final case class MediaFeature(asset_id: Long, media_type: String,
                                feature_dim: Int, feature_norm: Double)

  /** Codec boundary: bytes + declared type → fixed-width feature vector.
    * Implementations must be Serializable (constructed on the driver,
    * one instance used per executor partition).
    */
  trait MediaCodec extends Serializable {
    def dim: Int
    def decodeAndEmbed(mediaType: String, content: Array[Byte]): Array[Float]
  }

  /** Top 60 bits of md5(payload ++ suffix) as a non-negative long — the
    * cross-engine-checkable digest primitive the stub codec is built on
    * (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`, same trick as
    * q43's SimHash token hash). */
  private[graft] def md5Top60(payload: Array[Byte], suffix: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload)
    md.update(suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val d = md.digest()
    val hex = new StringBuilder(15)
    var i = 0
    while (hex.length < 15) { // 7.5 bytes → 15 hex chars
      val b = d(i) & 0xff
      hex.append(Character.forDigit(b >> 4, 16))
      if (hex.length < 15) hex.append(Character.forDigit(b & 0xf, 16))
      i += 1
    }
    java.lang.Long.parseLong(hex.toString, 16)
  }

  /** STUB — deterministic fake decode (no media libs in this container).
    * Each feature is an md5-derived lattice point k/1024 (k in [0,1024) —
    * a power-of-two denominator, so every feature value and its square are
    * EXACT in float/double; downstream norms are single-rounded IEEE and
    * therefore cross-engine reproducible, which is what lets q51 be
    * DuckDB-oracle-checked end-to-end). Real deployments replace this
    * class with an actual image/audio decoder + model.
    */
  final class StubMediaCodec(val dim: Int = 16) extends MediaCodec {
    override def decodeAndEmbed(mediaType: String, content: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        val k = md5Top60(content, s":$mediaType:$j") % 1024
        out(j) = k / 1024.0f
        j += 1
      }
      out
    }
  }

  /** Synthetic asset table derived deterministically from `documents`:
    * text bytes play the role of the opaque media payload. At 100 TB the
    * binary column would be parquet-backed media blobs; everything
    * downstream is payload-agnostic.
    */
  private[graft] def assets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
                 (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("content"),
      octet_length(col("text")).as("n_bytes"),
      (pmod(col("doc_id"), lit(4)) + 2).cast("int").as("n_frames"),
      ((pmod(col("doc_id"), lit(8)) + 1) * 64).cast("int").as("width"),
      ((pmod(col("doc_id"), lit(6)) + 1) * 64).cast("int").as("height"))

  // Metadata aggregation over the multimodal table (pure relational —
  // binary payloads prune away; the scan reads only media_type/n_bytes).
  private def q50MediaMeta(s: SparkSession, d: String): DataFrame =
    assets(s, d)
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_assets"),
           sum("n_bytes").as("total_bytes"),
           max("n_bytes").cast("long").as("max_bytes"))
      .orderBy("media_type")

  /** Batched feature extraction: one codec per partition, iterator
    * in/out — the mapInPandas batch shape on the JVM. */
  private[graft] def extractFeatures(ds: DataFrame, codec: MediaCodec)
                                    (implicit s: SparkSession): Dataset[MediaFeature] = {
    import s.implicits._
    ds.select("asset_id", "media_type", "content")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec (init once, reused across the whole batch)
        val c = codec
        it.map { case (id, mt, bytes) =>
          val f = c.decodeAndEmbed(mt, bytes)
          val norm = math.sqrt(f.foldLeft(0.0)((a, x) => a + x.toDouble * x))
          MediaFeature(id, mt, f.length, math.floor(norm * 1000) / 1000)
        }
      }
  }

  // Feature extraction end-to-end (oracle-checked: the md5-lattice stub
  // features are exact in float/double, so the norm is bit-reproducible in
  // DuckDB; MultimodalSpec asserts determinism + batch shape).
  private def q51MediaFeatures(s: SparkSession, d: String): DataFrame =
    extractFeatures(assets(s, d), new StubMediaCodec(16))(s)
      .toDF()
      .orderBy("asset_id")

  /** One resized-asset row (payload re-encoded by the stub codec). */
  final case class ResizedAsset(asset_id: Long, media_type: String,
                                width: Int, height: Int,
                                out_width: Int, out_height: Int,
                                out_bytes: Int, content_sig: Long)

  /** Batched resize through the codec boundary: aspect-preserving target
    * dims computed relationally; the pixel work happens per partition in
    * the (stubbed) codec. Deterministic: the fake "resampled" payload
    * signature is md5 of the source bytes + target dims (cross-engine
    * checkable — q53's DuckDB oracle recomputes it exactly).
    */
  private[graft] def resize(ds: DataFrame, maxDim: Int)
                           (implicit s: SparkSession): Dataset[ResizedAsset] = {
    import s.implicits._
    ds.select("asset_id", "media_type", "content", "width", "height")
      .as[(Long, String, Array[Byte], Int, Int)]
      .mapPartitions { it =>
        it.map { case (id, mt, bytes, w, h) =>
          val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
          val (ow, oh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
          // STUB resample: deterministic digest sized to the target dims
          val outLen = math.max(1, math.min(bytes.length, ow * oh / 64))
          val sig = md5Top60(bytes, s":${ow}x$oh")
          ResizedAsset(id, mt, w, h, ow, oh, outLen, sig)
        }
      }
  }

  // Resize end-to-end (oracle-checked: the dim math is pure integer/IEEE
  // arithmetic and the stub signature is md5-derived; MultimodalSpec
  // asserts the aspect-ratio invariants and determinism).
  private def q53Resize(s: SparkSession, d: String): DataFrame =
    resize(assets(s, d), maxDim = 128)(s).toDF().orderBy("asset_id")

  // Deterministic frame sampling for video assets: explode up to 5 frame
  // indices, fingerprint each sampled frame (md5 of payload + index) —
  // SQL-expressible, so oracle-checked.
  private def q52FrameSample(s: SparkSession, d: String): DataFrame =
    assets(s, d)
      .filter(col("media_type") === "video")
      .select(col("asset_id"),
              explode(expr("sequence(0L, cast(least(n_frames, 5) - 1 AS LONG))")).as("frame_idx"),
              col("content"))
      .select(col("asset_id"), col("frame_idx"),
              md5(concat(col("content").cast("string"), lit(":"),
                         col("frame_idx").cast("string"))).as("frame_sig"))
      .orderBy("asset_id", "frame_idx")

  /** Shot segmentation core over (asset_id, frame_idx, v) frame
    * features — factored so the spec can plant controlled cut/hold
    * sequences. A boundary fires where the feature jumps by more than
    * [[shotCutThreshold]] against the previous frame (the classic
    * hard-cut detector over per-frame luminance/histogram scalars);
    * shots = boundaries + 1. The lag window is asset-grain — at scale
    * each video's frames sort locally, nothing global. */
  private[graft] val shotCutThreshold = 64L
  private[graft] def shotBoundaries(frames: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("frame_idx")
    frames
      .withColumn("pv", lag("v", 1).over(w))
      .withColumn("cut",
        when(col("pv").isNotNull &&
             abs(col("v") - col("pv")) > shotCutThreshold, 1L).otherwise(0L))
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames_sampled"),
           (sum("cut") + 1L).as("n_shots"),
           max(when(col("pv").isNotNull, abs(col("v") - col("pv")))
             .otherwise(0L)).as("max_cut"))
      .withColumn("mean_shot_len", expr(
        "floor(cast(n_frames_sampled as double) * 1000 / n_shots) / 1000"))
      .select("asset_id", "n_frames_sampled", "n_shots", "max_cut",
              "mean_shot_len")
      .orderBy("asset_id")
  }

  /** q257: SHOT-BOUNDARY DETECTION — the video preprocessing step that
    * runs before any frame-level dedup or sampling policy: segment each
    * video into shots so downstream samplers draw one frame per SHOT
    * instead of five frames of the same talking head (q52's uniform
    * sampling upgraded by content). Frame features are the stub
    * codec's md5-derived scalars (a fake luminance in [0, 256); a real
    * deployment swaps the decoder per the [[StubMediaCodec]] note);
    * the detector itself — lag-window deltas, threshold, per-video
    * shot stats — is the real Spark-side machinery and is what the
    * oracle recomputes. */
  private def q257ShotBoundaries(s: SparkSession, d: String): DataFrame =
    shotBoundaries(
      assets(s, d)
        .filter(col("media_type") === "video")
        .select(col("asset_id"),
                explode(expr(
                  "sequence(0L, cast(least(n_frames, 5) - 1 AS LONG))"))
                  .as("frame_idx"),
                col("content"))
        .select(col("asset_id"), col("frame_idx"),
                expr("""cast(conv(substr(md5(concat(cast(content as string),
                        ':', cast(frame_idx as string))), 1, 15), 16, 10)
                        as bigint) % 256""").as("v")))

  /** Exact dedup of binary assets by content digest — the "same file
    * uploaded twice" case. A deterministic re-upload set (every 7th asset,
    * re-keyed) is unioned in, then one shuffle keyed by the 128-bit md5
    * keeps the smallest asset_id per distinct payload. The shuffle carries
    * only (digest, id) — the binary column is hashed map-side and never
    * moves, which is what makes this viable when payloads are MB-scale.
    */
  private def q54MediaDedup(s: SparkSession, d: String): DataFrame = {
    val base = assets(s, d).select(col("asset_id"), col("content"))
    val reuploads = base.filter(pmod(col("asset_id"), lit(7)) === 0)
      .select((col("asset_id") + 100000).as("asset_id"), col("content"))
    base.unionByName(reuploads)
      .select(md5(col("content")).as("sig"), col("asset_id"))
      .groupBy("sig")
      .agg(min("asset_id").as("kept_id"), count(lit(1)).as("n_copies"))
      .select("kept_id", "n_copies")
      .orderBy("kept_id")
  }

  /** One feature-vector row (the codec's embedding, undigested). */
  final case class MediaVec(asset_id: Long, features: Array[Float])

  /** Session-memoized stub-codec feature relation (asset_id, features)
    * per (dataset, dim), behind a lazy localCheckpoint — extraction at
    * ingest is THE multimodal pipeline shape (features are persisted
    * once where the payloads live; re-decoding per report is the
    * anti-pattern). r16: q149 (dim 16) and q203/q232 (xmodalDim) each
    * re-ran the dim × md5(payload) extraction per invocation
    * (~120k full-payload MD5s at sf0.1); whichever consumer builds
    * first pays the one-off, the rest read cached blocks. */
  private[graft] def mediaVecs(s: SparkSession, d: String, dim: Int): DataFrame =
    graft.SessionMemo.getOrElseUpdate[DataFrame](s, "mm.mediaVecs", s"$d#$dim")({
      implicit val sp: SparkSession = s
      extractVectors(assets(s, d), new StubMediaCodec(dim)).toDF()
        .localCheckpoint(eager = false)
    })

  /** Batched embedding extraction keeping the VECTOR (not just its
    * norm) — the mapInPandas batch shape again; feeds similarity. */
  private[graft] def extractVectors(ds: DataFrame, codec: MediaCodec)
                                   (implicit s: SparkSession): Dataset[MediaVec] = {
    import s.implicits._
    ds.select("asset_id", "media_type", "content")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val c = codec
        it.map { case (id, mt, bytes) => MediaVec(id, c.decodeAndEmbed(mt, bytes)) }
      }
  }

  private val simK = 3
  private val simNQ = 10

  /** q149: MEDIA SIMILARITY SEARCH — the multimodal→ANN composition
    * closing this row: stub-codec embeddings (extracted where the
    * payloads live, mapPartitions-batched) ranked by exact feature
    * cosine for a broadcast query set, top-[[simK]] per query — the
    * "find assets like this one" retrieval that q54's digest dedup
    * cannot express (different bytes, similar content). Downstream of
    * extraction this IS the q40 plan (broadcast queries, map-side
    * cosine, bounded-heap top-k; at corpus scale the brute-force
    * candidate pass swaps for q41/q86's bucketed/coded forms over the
    * same vectors unchanged). Oracle-checkable end-to-end because the
    * stub features are exact dyadic lattice points (k/1024): dot
    * products and norms are single-rounded IEEE on both engines, so
    * the DuckDB side reconstructs the embeddings from md5 and matches
    * bit-exactly. Payloads never shuffle — only (asset_id, 16 floats)
    * rows move. */
  private def q149MediaSimilar(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{NativeExprs, TopKAgg}
    val feats = mediaVecs(s, d, 16)
    val q = feats.filter(col("asset_id") < simNQ)
      .select(col("asset_id").as("q_id"), col("features").as("qf"))
    feats.crossJoin(broadcast(q))
      .filter(col("asset_id") =!= col("q_id"))
      .select(col("q_id"), col("asset_id").as("cand_id"),
              NativeExprs.cosine_sim(col("features"), col("qf")).as("cos"))
      .groupBy("q_id")
      .agg(TopKAgg.top_k_by_score(col("cos"), col("cand_id"), simK).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
              col("col.id").as("asset_id"),
              (floor(col("col.score") * 1000000) / 1000000).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** VIDEO NEAR-DUP BY SHARED FRAMES — the content-level dedup q54's
    * whole-file digest cannot express: a TRIMMED or re-encoded copy has
    * a different file hash but shares most frame contents. Each video's
    * sampled frames are fingerprinted (q52's sigs model per-frame
    * content); a deterministic head-trimmed re-upload set is planted
    * (every ≥3-frame video re-uploaded minus its first frame, re-keyed
    * +200000 — the q54 planting convention); pairs sharing ≥ 2 frame
    * sigs are reported with the shared count. Plan shape: the inverted
    * frame-sig index — the shuffle carries (sig, id) only, payloads
    * never move, and pair generation is the bounded equi-join (a hot
    * intro-frame sig at corpus scale composes with capBuckets exactly
    * like q42's shingle buckets). */
  private def q165VideoNeardup(s: SparkSession, d: String): DataFrame = {
    val vids = assets(s, d).filter(col("media_type") === "video")
      .select(col("asset_id"), col("content"),
              expr("cast(least(n_frames, 5) as long)").as("nf"))
    val baseFrames = vids
      .select(col("asset_id"), col("content"),
              explode(expr("sequence(0L, nf - 1)")).as("fi"))
    // the trimmed copy's frame j IS the original's frame j+1, so its
    // content fingerprint carries the ORIGINAL index — position-free
    // content identity, which is what makes trim detection work
    val reupFrames = vids.filter(col("nf") >= 3)
      .select((col("asset_id") + 200000).as("asset_id"), col("content"),
              explode(expr("sequence(1L, nf - 1)")).as("fi"))
    val frames = baseFrames.unionByName(reupFrames)
      .select(col("asset_id"),
              md5(concat(col("content").cast("string"), lit(":"),
                         col("fi").cast("string"))).as("sig"))
    frames.select(col("sig"), col("asset_id").as("a_id"))
      .join(frames.select(col("sig"), col("asset_id").as("b_id")), Seq("sig"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("a_id", "b_id")
  }

  /** VIDEO TEMPORAL ALIGNMENT — the refinement step after q165's
    * shared-frame detection: for each near-dup video pair, WHERE does
    * the copy sit relative to the original? Every shared frame
    * fingerprint votes with the difference of its LOCAL positions in
    * the two videos (a trimmed copy's local index runs behind the
    * original's by the trim length); the winning offset (votes DESC,
    * offset ASC — a deterministic min-struct election) localizes the
    * copied segment, which is what turns "these two videos share
    * content" into an actionable trim/segment report. The planted
    * head-trimmed re-uploads must all align at offset exactly 1 with
    * every shared frame voting for it — MultimodalSpec asserts that.
    * Plan shape: the same (sig, id, local) inverted index as q165 —
    * payloads never move — plus one extra grouping by (pair, delta)
    * before the per-pair election; both aggregations carry id-grain
    * rows only. */
  private def q187VideoAlign(s: SparkSession, d: String): DataFrame = {
    val vids = assets(s, d).filter(col("media_type") === "video")
      .select(col("asset_id"), col("content"),
              expr("cast(least(n_frames, 5) as long)").as("nf"))
    val baseFrames = vids
      .select(col("asset_id"), col("content"),
              explode(expr("sequence(0L, nf - 1)")).as("fi"))
      .withColumn("local", col("fi"))
    // the head-trimmed copy's frame fi sits at LOCAL position fi - 1
    val reupFrames = vids.filter(col("nf") >= 3)
      .select((col("asset_id") + 200000).as("asset_id"), col("content"),
              explode(expr("sequence(1L, nf - 1)")).as("fi"))
      .withColumn("local", col("fi") - 1)
    val frames = baseFrames.unionByName(reupFrames)
      .select(col("asset_id"), col("local"),
              md5(concat(col("content").cast("string"), lit(":"),
                         col("fi").cast("string"))).as("sig"))
    frames.select(col("sig"), col("asset_id").as("a_id"), col("local").as("al"))
      .join(frames.select(col("sig"), col("asset_id").as("b_id"),
                          col("local").as("bl")), Seq("sig"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), (col("al") - col("bl")).as("delta"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("a_id", "b_id")
      .agg(min(struct((-col("votes")).as("negv"), col("delta"))).as("m"),
           sum(col("votes")).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(col("a_id"), col("b_id"), col("m.delta").as("offset"),
              (-col("m.negv")).as("votes"), col("n_shared"))
      .orderBy("a_id", "b_id")
  }

  /** Shared-space dimensionality for q203 — the media tower embeds into
    * the text table's own 64-dim space (the CLIP contract). */
  private val xmodalDim = 64
  /** Bottom-tail fraction flagged by q203. */
  private val xmodalTail = 0.05

  /** The q203 core over arbitrary sides — `media` is (asset_id,
    * features), `text` is (vec_id, embedding); returns the flagged
    * bottom-`tail` pairs as (pair_id, cos, thr). Factored so the spec
    * can plant a fixture with KNOWN mismatches (identical vectors for
    * true pairs, disjoint-support vectors for planted bad captions). */
  private[graft] def crossModalAudit(media: DataFrame, text: DataFrame,
                                     tail: Double): DataFrame = {
    import graft.functions.NativeExprs
    val pairs = media
      .join(text, media("asset_id") === text("vec_id"))
      .select(media("asset_id").as("pair_id"),
        (floor(NativeExprs.cosine_sim(media("features"), text("embedding"))
                 * 1000000) / 1000000).as("cos"))
    val thr = pairs.agg(expr(s"percentile(cos, $tail)").as("thr"))
    pairs.crossJoin(broadcast(thr))
      .filter(col("cos") <= col("thr"))
      .select(col("pair_id"), col("cos"), col("thr"))
  }

  /** q203: CROSS-MODAL PAIR AUDIT — the CLIP-style mismatched-caption
    * filter every image-text pipeline runs before training: each media
    * asset's embedding (the stub codec standing in for the media tower,
    * emitting into the SAME [[xmodalDim]]-dim space as the text-side
    * `embeddings` table — the shared-space contract that makes
    * cross-modal cosine meaningful) is paired with its caption's text
    * embedding by id, scored by exact cosine, and the bottom
    * [[xmodalTail]] tail against the corpus's own percentile threshold
    * is flagged — the pairs whose caption most disagrees with the media,
    * the ones a curation run drops or re-captions. Cosines are floored
    * to 1e-6 BEFORE the percentile so the threshold and the comparison
    * run on values both engines agree on bit-for-bit (the established
    * cosine parity granularity); the threshold is a broadcast one-row
    * aggregate (q74's quantile-gate pattern). Plan shape: the pairing is
    * one id-keyed equi-join (co-partitioned at scale, both sides large),
    * the cosine a map, the threshold one scalar agg broadcast back, the
    * flag a map filter — media payloads never shuffle (only the
    * extracted [[xmodalDim]]-float vectors move), and nothing is
    * driver-side. */
  private def q203CrossModalAudit(s: SparkSession, d: String): DataFrame = {
    val media = mediaVecs(s, d, xmodalDim)
      .select(col("asset_id"), col("features"))
    val text = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    crossModalAudit(media, text, xmodalTail)
      .select(col("pair_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
                   (pmod(col("pair_id"), lit(3)) + 1).cast("int"))
          .as("media_type"),
        col("cos"), col("thr"))
      .orderBy("pair_id")
  }

  /** q232: CROSS-MODAL RETRIEVAL EVAL — text→media recall@k, the
    * standard CLIP-style benchmark closing the multimodal eval story
    * beside q203's pair audit: each caption embedding queries the
    * media-embedding corpus, and the eval asks at what rank the
    * caption's own paired asset comes back (R@1/5/10 over all
    * queries). With the stub codec standing in for the media tower
    * the measured number is chance-level BY CONSTRUCTION (the lattice
    * vectors carry no signal about the text embeddings) — the gate
    * certifies the EVAL MACHINERY exactly (ranking, tie discipline,
    * hit accounting), and a real tower slots in through the same
    * core unchanged, which is precisely how an eval harness should be
    * testable without a model. Parity: cosines floor to 1e-6 BEFORE
    * ranking (the q203 granularity), ties break on asset_id through
    * the bounded heap; hits are exact integers, each recall one
    * floored division. Shape: queries × broadcast media vectors →
    * per-query top-10 heap → ONE summary row; payloads never move,
    * and at corpus scale the crossJoin swaps for the q86 probed
    * candidate set exactly as in q149. */
  private def q232CrossmodalRecall(s: SparkSession, d: String): DataFrame = {
    val media = mediaVecs(s, d, xmodalDim)
      .select(col("asset_id"), col("features"))
    val text = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    crossModalRecall(media, text)
  }

  /** The q232 core over arbitrary sides — factored so the spec can
    * plant a fixture where retrieval is PERFECT by construction (text
    * side = the media vectors themselves → R@1 = 1) and one where a
    * planted decoy outranks the true pair. */
  private[graft] def crossModalRecall(media: DataFrame,
                                      text: DataFrame): DataFrame = {
    import graft.functions.{NativeExprs, TopKAgg}
    val pos = text.crossJoin(broadcast(media))
      .withColumn("c",
        floor(NativeExprs.cosine_sim(col("features"), col("embedding"))
                * 1000000) / 1000000)
      .groupBy("vec_id")
      .agg(TopKAgg.top_k_by_score(col("c"), col("asset_id"), 10).as("top"))
      .select(col("vec_id"),
              expr("array_position(transform(top, x -> x.id), vec_id)")
                .as("pos"))
    pos.agg(
      count(lit(1)).as("n_queries"),
      sum(when(col("pos") === 1, 1L).otherwise(0L)).as("hits_1"),
      sum(when(col("pos").between(1, 5), 1L).otherwise(0L)).as("hits_5"),
      sum(when(col("pos") >= 1, 1L).otherwise(0L)).as("hits_10"))
      .select(col("n_queries"), col("hits_1"), col("hits_5"), col("hits_10"),
        expr("floor(cast(hits_1 as double) / n_queries * 1000000) / 1000000")
          .as("r_at_1"),
        expr("floor(cast(hits_5 as double) / n_queries * 1000000) / 1000000")
          .as("r_at_5"),
        expr("floor(cast(hits_10 as double) / n_queries * 1000000) / 1000000")
          .as("r_at_10"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_crossmodal_recall" -> q232CrossmodalRecall _,
    "q203_crossmodal_audit" -> q203CrossModalAudit _,
    "q257_shot_boundaries" -> q257ShotBoundaries _,
    "q187_video_align" -> q187VideoAlign _,
    "q165_video_neardup" -> q165VideoNeardup _,
    "q149_media_similar" -> q149MediaSimilar _,
    "q50_media_meta"     -> q50MediaMeta _,
    "q51_media_features" -> q51MediaFeatures _,
    "q52_frame_sample"   -> q52FrameSample _,
    "q53_resize"         -> q53Resize _,
    "q54_media_dedup"    -> q54MediaDedup _,
  )

  /** q149's md5 lattice reconstruction in DuckDB: each asset's media
    * type `mt` and its `dim`-wide vector `v` in `fv` (exact dyadic
    * values, so cosines match the codec bit-for-bit). */
  private def mediaVecCtes(dim: Int): String =
    s"""f AS (SELECT doc_id AS asset_id,
                 ['image','audio','video'][(doc_id % 3 + 1)::INT] AS mt,
                 text FROM documents),
          fv AS (SELECT asset_id, mt,
                   [CAST(CAST(('0x' || substr(md5(text || ':' || mt || ':'
                        || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
                      AS DOUBLE) / 1024.0
                    for j in range(0, $dim)] AS v
                 FROM f)"""

  override val oracles: Map[String, String] = Map(
    // q257: q52's frame derivation + the same md5-scalar feature, lag
    // deltas and shot stats in window SQL
    "q257_shot_boundaries" ->
      """WITH fr AS (SELECT doc_id AS asset_id, frame_idx,
                  CAST(('0x' || substr(md5(text || ':' || frame_idx::VARCHAR),
                                       1, 15)) AS BIGINT) % 256 AS v
               FROM (SELECT doc_id, text, (doc_id % 4 + 2)::INT AS n_frames,
                     ['image','audio','video'][(doc_id % 3 + 1)::INT]
                       AS media_type
                     FROM documents) a,
               unnest(range(0, least(n_frames, 5))) AS t(frame_idx)
               WHERE media_type = 'video'),
         lg AS (SELECT asset_id, v,
                       lag(v) OVER (PARTITION BY asset_id
                                    ORDER BY frame_idx) AS pv
                FROM fr),
         ag AS (SELECT asset_id, count(*) AS n_frames_sampled,
                       CAST(sum(CASE WHEN pv IS NOT NULL
                                      AND abs(v - pv) > 64
                                THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
                       CAST(max(CASE WHEN pv IS NOT NULL THEN abs(v - pv)
                                ELSE 0 END) AS BIGINT) AS max_cut
                FROM lg GROUP BY 1)
         SELECT asset_id, n_frames_sampled, n_shots, max_cut,
                floor(CAST(n_frames_sampled AS DOUBLE) * 1000 / n_shots)
                  / 1000 AS mean_shot_len
         FROM ag ORDER BY asset_id""",
    // q232: the q149/q203 lattice reconstruction; row_number in
    // (floored cos DESC, asset_id) ≡ the heap's order; min-rank hit,
    // integer sums, one floored division per recall
    "q232_crossmodal_recall" ->
      s"""WITH ${mediaVecCtes(xmodalDim)},
          e AS (SELECT vec_id, embedding::DOUBLE[] AS tv FROM embeddings),
          p AS (SELECT e.vec_id, fv.asset_id,
                       floor(list_cosine_similarity(fv.v, e.tv) * 1000000)
                         / 1000000 AS c
                FROM e, fv),
          r AS (SELECT vec_id, asset_id, row_number() OVER (
                         PARTITION BY vec_id ORDER BY c DESC, asset_id) AS rnk
                FROM p),
          h AS (SELECT vec_id, min(CASE WHEN asset_id = vec_id THEN rnk END)
                         AS pos
                FROM r WHERE rnk <= 10 GROUP BY 1)
          SELECT count(*) AS n_queries,
                 CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits_1,
                 CAST(sum(CASE WHEN pos BETWEEN 1 AND 5 THEN 1 ELSE 0 END)
                   AS BIGINT) AS hits_5,
                 CAST(sum(CASE WHEN pos >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits_10,
                 floor(CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 1000000) / 1000000 AS r_at_1,
                 floor(CAST(sum(CASE WHEN pos BETWEEN 1 AND 5 THEN 1 ELSE 0
                       END) AS DOUBLE) / count(*) * 1000000) / 1000000
                   AS r_at_5,
                 floor(CAST(sum(CASE WHEN pos >= 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 1000000) / 1000000 AS r_at_10
          FROM h""",
    // q203: the q149 md5 reconstruction at the shared 64-dim width,
    // paired to the text embeddings by id; cosines floored to 1e-6
    // before the quantile so threshold and filter run on values both
    // engines agree on exactly
    "q203_crossmodal_audit" ->
      s"""WITH ${mediaVecCtes(xmodalDim)},
          e AS (SELECT vec_id, embedding::DOUBLE[] AS tv FROM embeddings),
          p AS (SELECT asset_id AS pair_id, mt AS media_type,
                       floor(list_cosine_similarity(fv.v, e.tv) * 1000000)
                         / 1000000 AS cos
                FROM fv JOIN e ON fv.asset_id = e.vec_id),
          thr AS (SELECT quantile_cont(cos, $xmodalTail) AS thr FROM p)
          SELECT pair_id, media_type, cos, thr
          FROM p, thr WHERE cos <= thr ORDER BY pair_id""",
    // embeddings reconstructed from md5 per (asset, j) — exact dyadic
    // lattice values, so cosine matches the codec bit-for-bit
    "q149_media_similar" ->
      s"""WITH ${mediaVecCtes(16)},
          q AS (SELECT asset_id AS q_id, v AS qv FROM fv
                WHERE asset_id < $simNQ),
          sc AS (SELECT q.q_id, fv.asset_id AS cand_id,
                        list_cosine_similarity(fv.v, q.qv) AS cos
                 FROM fv, q WHERE fv.asset_id <> q.q_id),
          r AS (SELECT q_id, cand_id, cos,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand_id) AS rnk FROM sc)
          SELECT q_id, CAST(rnk AS BIGINT) AS rank, cand_id AS asset_id,
                 floor(cos * 1000000) / 1000000 AS cos
          FROM r WHERE rnk <= $simK ORDER BY q_id, rank""",
    "q50_media_meta" ->
      """SELECT media_type, count(*) AS n_assets, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         max(n_bytes) AS max_bytes
         FROM (SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
               octet_length(encode(text)) AS n_bytes FROM documents)
         GROUP BY media_type ORDER BY media_type""",
    "q54_media_dedup" ->
      """WITH base AS (SELECT doc_id AS asset_id, text FROM documents),
         reup AS (SELECT asset_id + 100000 AS asset_id, text FROM base
                  WHERE asset_id % 7 = 0),
         unioned AS (SELECT * FROM base UNION ALL SELECT * FROM reup)
         SELECT min(asset_id) AS kept_id, count(*) AS n_copies
         FROM unioned GROUP BY md5(text)
         ORDER BY kept_id""",
    // q165: the frame-sig inverted index replicated — base frames 0..n-1,
    // trimmed re-uploads carrying frames 1..n-1 under original indices
    "q165_video_neardup" ->
      """WITH v AS (SELECT doc_id AS asset_id, text,
                  CAST(least((doc_id % 4 + 2), 5) AS BIGINT) AS nf
           FROM documents WHERE doc_id % 3 = 2),
         bf AS (SELECT asset_id, md5(text || ':' || fi::VARCHAR) AS sig
                FROM v, unnest(range(0, nf)) t(fi)),
         rf AS (SELECT asset_id + 200000 AS asset_id,
                       md5(text || ':' || fi::VARCHAR) AS sig
                FROM v, unnest(range(1, nf)) t(fi) WHERE nf >= 3),
         f AS (SELECT * FROM bf UNION ALL SELECT * FROM rf)
         SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                count(*) AS n_shared
         FROM f a JOIN f b ON a.sig = b.sig AND a.asset_id < b.asset_id
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a_id, b_id""",
    // q187: the same frame relation carrying LOCAL positions; per-pair
    // offset election (votes DESC, delta ASC) via window-rank — the
    // min-struct's total order replicated
    "q187_video_align" ->
      """WITH v AS (SELECT doc_id AS asset_id, text,
                  CAST(least((doc_id % 4 + 2), 5) AS BIGINT) AS nf
           FROM documents WHERE doc_id % 3 = 2),
         bf AS (SELECT asset_id, fi AS local,
                       md5(text || ':' || fi::VARCHAR) AS sig
                FROM v, unnest(range(0, nf)) t(fi)),
         rf AS (SELECT asset_id + 200000 AS asset_id, fi - 1 AS local,
                       md5(text || ':' || fi::VARCHAR) AS sig
                FROM v, unnest(range(1, nf)) t(fi) WHERE nf >= 3),
         f AS (SELECT * FROM bf UNION ALL SELECT * FROM rf),
         d AS (SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                      a.local - b.local AS delta, count(*) AS votes
               FROM f a JOIN f b ON a.sig = b.sig
                    AND a.asset_id < b.asset_id
               GROUP BY 1, 2, 3),
         r AS (SELECT a_id, b_id, delta, votes,
                      sum(votes) OVER (PARTITION BY a_id, b_id) AS n_shared,
                      row_number() OVER (PARTITION BY a_id, b_id
                                         ORDER BY votes DESC, delta) AS rn
               FROM d)
         SELECT a_id, b_id, CAST(delta AS BIGINT) AS offset,
                CAST(votes AS BIGINT) AS votes,
                CAST(n_shared AS BIGINT) AS n_shared
         FROM r WHERE rn = 1 AND n_shared >= 2
         ORDER BY a_id, b_id""",
    "q52_frame_sample" ->
      """SELECT doc_id AS asset_id, frame_idx,
         md5(text || ':' || frame_idx::VARCHAR) AS frame_sig
         FROM (SELECT doc_id, text, (doc_id % 4 + 2)::INT AS n_frames,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type
               FROM documents) a,
         unnest(range(0, least(n_frames, 5))) AS t(frame_idx)
         WHERE media_type = 'video'
         ORDER BY asset_id, frame_idx""",
    // q51: recompute the md5-lattice features (k_j = top-60-bits-of-md5 mod
    // 1024; feature j's value is k_j/1024, exact in float/double) and the
    // single-rounded norm. sqrt(S)/1024 ≡ Spark's sqrt(S/2^20): power-of-2
    // scaling commutes with one correctly-rounded sqrt.
    "q51_media_features" ->
      """WITH a AS (SELECT doc_id AS asset_id,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
               text FROM documents),
         k AS (SELECT asset_id, media_type,
               [('0x' || substr(md5(text || ':' || media_type || ':' || j::VARCHAR), 1, 15))::BIGINT % 1024
                for j in range(0, 16)] AS ks FROM a)
         SELECT asset_id, media_type, 16::INT AS feature_dim,
                floor(sqrt(list_sum([x * x for x in ks])::DOUBLE) / 1024 * 1000) / 1000 AS feature_norm
         FROM k ORDER BY asset_id""",
    // q53: identical scale/truncation arithmetic (double ops in the same
    // order → same IEEE results) + md5-derived signature.
    "q53_resize" ->
      """WITH a AS (SELECT doc_id AS asset_id,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
               text,
               octet_length(encode(text))::INT AS n_bytes,
               ((doc_id % 8 + 1) * 64)::INT AS width,
               ((doc_id % 6 + 1) * 64)::INT AS height
             FROM documents),
         r AS (SELECT *, least(1.0::DOUBLE, 128.0::DOUBLE / greatest(width, height)) AS scale
               FROM a),
         t AS (SELECT asset_id, media_type, width, height,
                      greatest(1, trunc(width * scale)::INT)::INT AS out_width,
                      greatest(1, trunc(height * scale)::INT)::INT AS out_height,
                      text, n_bytes FROM r)
         SELECT asset_id, media_type, width, height, out_width, out_height,
                greatest(1, least(n_bytes, (out_width * out_height) // 64))::INT AS out_bytes,
                ('0x' || substr(md5(text || ':' || out_width::VARCHAR || 'x' || out_height::VARCHAR), 1, 15))::BIGINT AS content_sig
         FROM t ORDER BY asset_id""",
  )
}
