package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row kernels (SURVEY.md §4:
  * "a custom `Expression` for hot-loop hashing only if UDF overhead shows
  * up in BENCH" — it did).
  *
  * The declarative higher-order-function forms (aggregate/zip_with/
  * transform lambdas) are interpreted per element; at sf0.1 they dominate
  * BENCH (cosine all-pairs 10.4s, minhash 12.9s). These expressions do the
  * same math in tight primitive loops over ArrayData — semantics and
  * output values are IDENTICAL (verified by the unchanged DuckDB oracles);
  * only the evaluation path changes. The three hottest kernels
  * (CosineSim, PqAdc, SimHashSig) implement `doGenCode` — the generated
  * projection calls the SAME kernel method with unboxed children and a
  * primitive return, so no per-row InternalRow materialization or boxed
  * dispatch remains in the similarity scans. The rest are CodegenFallback:
  * their cost is the inner loop, not the call boundary, and the
  * surrounding projection still codegens (PERF.md records the A/B).
  */
object NativeExprs {

  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSim(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def word_shingles(text: Column, n: Int = 3, distinct: Boolean = true): Column =
    GraftColumnBridge.column(WordShingles(
      GraftColumnBridge.expression(text), n, distinct))

  def minhash_band_keys(shingles: Column, nHashes: Int = 64, nBands: Int = 16): Column =
    GraftColumnBridge.column(MinHashBandKeys(
      GraftColumnBridge.expression(shingles), nHashes, nBands))

  def hyperplane_sigs(v: Column, planes: Seq[Seq[Double]],
                      nBands: Int, bitsPerBand: Int): Column =
    GraftColumnBridge.column(HyperplaneSigs(
      GraftColumnBridge.expression(v), planes.map(_.toArray).toArray,
      nBands, bitsPerBand))

  def bloom_contains(hash: Column, serializedFilter: Array[Byte]): Column =
    GraftColumnBridge.column(BloomContains(
      GraftColumnBridge.expression(hash), serializedFilter))

  def simhash_sig(text: Column): Column =
    GraftColumnBridge.column(SimHashSig(GraftColumnBridge.expression(text)))

  def sharded_bloom_contains(shard: Column, hash: Column,
                             serializedFilters: Array[Array[Byte]]): Column =
    GraftColumnBridge.column(ShardedBloomContains(
      GraftColumnBridge.expression(shard), GraftColumnBridge.expression(hash),
      serializedFilters))

  def md5_minhashes(shingles: Column, nHashes: Int): Column =
    GraftColumnBridge.column(Md5MinHashes(
      GraftColumnBridge.expression(shingles), nHashes))

  def pq_encode(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqEncode(GraftColumnBridge.expression(v), codebook))

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowFingerprints(
      GraftColumnBridge.expression(text), k, w))

  def pq_adc(qv: Column, codes: Column, codebook: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqAdc(
      GraftColumnBridge.expression(qv), GraftColumnBridge.expression(codes), codebook))

  /** Register `cosine_sim` / `word_shingles` / `minhash_band_keys` /
    * `top_k_by_score` for the SQL surface of an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", es => CosineSim(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "word_shingles", es => WordShingles(es.head, 3, distinct = true), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_band_keys", es => MinHashBandKeys(es.head, 64, 16), "scala_udf")
    reg.createOrReplaceTempFunction(
      "simhash_sig", es => SimHashSig(es.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "top_k_by_score", es => {
        val k = es(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"top_k_by_score k must be an integer literal, got $other")
        }
        TopKByScore(es.head, es(1), k)
      }, "scala_udf")
  }
}

/** Cosine similarity of two numeric arrays (float or double elements).
  * Math is bit-identical to the declarative form it replaced: widen each
  * element to double, left-to-right dot and squared-norm folds, then
  * dot / (sqrt(na) * sqrt(nb)).
  *
  * Semantics at the edges (documented contract, matched by the specs):
  * mismatched lengths compare the common prefix (min length); null array
  * elements contribute 0.0 to dot and norms; zero-norm input yields NaN.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecLike(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (vecLike(left.dataType) && vecLike(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** The primitive loop, shared verbatim by the interpreted path and the
    * generated code (one typed call per row from codegen — children stay
    * unboxed in the generated projection, the return is a primitive). */
  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Whitespace-tokenize trimmed text and emit word n-gram shingles, one
  * pass, optionally first-occurrence-distinct. Value-identical to
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', toks[i]...)))`
  * over `split(trim(text), '\s+')`.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = SimHashSig.sqlToks(input.asInstanceOf[UTF8String].toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val count = toks.length - n + 1
    // Emission is first-occurrence ordered either way; the set only gates
    // membership when distinct=true. distinct=false preserves duplicates.
    val seen = if (distinct) new java.util.HashSet[String](count * 2) else null
    val out = new java.util.ArrayList[Any](count)
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (!distinct || seen.add(s)) out.add(UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Random-hyperplane LSH signatures (SimHash-for-cosine) in one pass:
  * band b's signature has bit i set iff the vector's dot product with
  * plane (b * bitsPerBand + i) is non-negative. Math is bit-identical to
  * the declarative nested-aggregate form it replaced (element widened to
  * double, left-to-right dot fold) — only the evaluation path changes;
  * the interpreted form allocated a zip_with array per bit per row.
  * Returns array<long> of length `nBands`.
  */
case class HyperplaneSigs(child: Expression, planes: Array[Array[Double]],
                          nBands: Int, bitsPerBand: Int)
    extends UnaryExpression with CodegenFallback {

  require(planes.length == nBands * bitsPerBand,
    s"need ${nBands * bitsPerBand} planes, got ${planes.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sigs requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var sig = 0L
      var i = 0
      while (i < bitsPerBand) {
        val plane = planes(b * bitsPerBand + i)
        val m = math.min(n, plane.length)
        var dot = 0.0
        var j = 0
        while (j < m) {
          val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
          dot += x * plane(j)
          j += 1
        }
        if (dot >= 0) sig |= (1L << i)
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Membership probe against a serialized `org.apache.spark.util.sketch
  * .BloomFilter` built with `df.stat.bloomFilter` over LONG hashes (feed
  * `xxhash64(key)` on both sides). The sketch bytes ship once per task in
  * the expression; deserialization is per-executor-instance lazy. False
  * positives only — callers exact-verify survivors (Dedup
  * .incrementalDedupBloom); a `false` is definitive.
  */
case class BloomContains(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_contains probes a BIGINT hash, got ${other.sql}")
  }

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Membership probe against an ARRAY of serialized bloom filters, one per
  * shard — the scale-out of [[BloomContains]] for existing-corpus sizes
  * past what a single broadcastable sketch covers (~1.2 GB per 10⁹
  * digests at 1% fpp). The row's shard index (left, from the same digest
  * the filters were partitioned by) selects the filter its hash (right)
  * is probed against; a shard with no existing entries is null and
  * answers false (definitively new). Same contract as the single-filter
  * form: false positives only.
  *
  * Memory story: the serialized bytes ship once per executor per stage
  * (the task binary is torrent-broadcast), and deserialization is lazy
  * PER SHARD INDEX — a task only materializes the filters its rows
  * actually probe. Callers who repartition the batch by the shard key
  * first ([[graft.operators.Dedup.incrementalDedupBloomSharded]] does)
  * touch ~one shard per task, so live filter memory is one shard, not
  * the whole sketch.
  */
case class ShardedBloomContains(left: Expression, right: Expression,
                                filterBytes: Array[Array[Byte]])
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sharded_bloom_contains probes (shard BIGINT, hash BIGINT), " +
          s"got ${l.sql} and ${r.sql}")
    }

  @transient private lazy val filters =
    new Array[org.apache.spark.util.sketch.BloomFilter](filterBytes.length)

  private def filterAt(i: Int): org.apache.spark.util.sketch.BloomFilter = {
    var f = filters(i)
    if (f == null && filterBytes(i) != null) {
      f = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(filterBytes(i)))
      filters(i) = f
    }
    f
  }

  override def nullSafeEval(shard: Any, hash: Any): Any = {
    val f = filterAt(shard.asInstanceOf[Long].toInt)
    f != null && f.mightContainLong(hash.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 60-bit SimHash of whitespace-tokenized text in one pass. Bit-exact
  * with the declarative form it replaced (and with the DuckDB oracle):
  * per token, the hash is the TOP 60 bits of md5 — i.e. the value of the
  * first 15 hex chars, `conv(substring(md5(t), 1, 15), 16, 10)` — and
  * bit i of the signature is set iff the signed vote sum over all token
  * hashes at bit i is non-negative. Tokenization is `trim` + split on
  * `\s+`, identical to [[TextExprs.toks]].
  *
  * The interpreted nested-aggregate form ran ~60 bit-lambdas × T token
  * ops per row through the HOF interpreter; here it is one md5 + one
  * 60-iteration vote loop per token. Per this repo's record (CosineSim:
  * q44 10.4s → <1s) that is the 10-50× class of win on the hot kernel
  * of a corpus-scale pass.
  */
case class SimHashSig(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires STRING input, got ${other.sql}")
  }

  /** Shared by the interpreted path and the generated code. */
  def kernel(input: UTF8String): Long = {
    val toks = SimHashSig.sqlToks(input.toString)
    val md = SimHashSig.digest.get()
    val votes = new Array[Int](60)
    var t = 0
    while (t < toks.length) {
      val h = SimHashSig.md5Top60(
        md, toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("simHashSig", this, classOf[SimHashSig].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHashSig {
  private[functions] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Tokenize exactly like the SQL fragment `split(trim(text), '\s+')`
    * (and DuckDB's `string_split_regex(trim(text), '\s+')`): SQL `trim`
    * strips SPACES only — unlike Java `String.trim`, which strips every
    * char <= U+0020 — and SQL `split` keeps leading/trailing empty
    * tokens (Java limit -1). Tab/newline-bounded text therefore yields
    * the same (possibly empty) tokens in all three places.
    */
  private[functions] def sqlToks(s: String): Array[String] = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j).split("\\s+", -1)
  }

  /** Top 60 bits of md5(bytes) — the value of the first 15 hex chars,
    * `conv(substring(md5(x), 1, 15), 16, 10)` in SQL. */
  private[functions] def md5Top60(md: java.security.MessageDigest,
                                  bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }
}

/** `nHashes` minhash components over a shingle set, md5 hash family:
  * component i is min over shingles s of md5-top-60(s + ":" + i). The md5
  * family exists so the ESTIMATOR algebra (matching-component fraction ≈
  * Jaccard) is cross-engine verifiable — DuckDB computes the identical
  * signature from `md5(s || ':' || i)`. The production minhash kernel is
  * [[MinHashBandKeys]] (XXH64, one hash per shingle per component without
  * string concat); this is the verification twin, same one-pass shape.
  */
case class Md5MinHashes(child: Expression, nHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_minhashes requires ARRAY<STRING>, got ${other.sql}")
  }

  /** The ":<j>" suffixes as UTF-8 bytes, once per expression instance:
    * md5 over (update(sBytes); update(suffix(j))) digests the IDENTICAL
    * byte stream as md5((s + ":" + j).getBytes) — same signatures, none
    * of the per-(shingle, component) String concat/realloc the naive
    * form paid (measured 3.6 s for one 64-hash pass over the sf0.1
    * corpus, almost all of it allocation; the md5 arithmetic itself is
    * a fraction of that). */
  @transient private lazy val suffixes: Array[Array[Byte]] =
    Array.tabulate(nHashes)(j =>
      (":" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Shared by the interpreted path and the generated code. */
  def kernel(input: ArrayData): ArrayData = {
    val m = input.numElements()
    val md = SimHashSig.digest.get()
    val buf = Md5MinHashes.digestBuf.get()
    val out = new Array[Long](nHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < m) {
      val sBytes = input.getUTF8String(i).getBytes
      var j = 0
      while (j < nHashes) {
        md.reset()
        md.update(sBytes)
        md.update(suffixes(j))
        md.digest(buf, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (buf(b) & 0xffL); b += 1 }
        h = h >>> 4
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("md5MinHashes", this, classOf[Md5MinHashes].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5MinHashes {
  private[functions] val digestBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
}

/** Schleimer–Wilkerson–Aiken winnowing selection in one pass: tokenize,
  * md5-hash every token k-gram to its first 60 bits, keep the minimum
  * of each w-wide sliding window, first-occurrence-distinct. Value-
  * identical to the declarative form it replaced —
  * `array_distinct(transform(sequence(1, len-w+1), p -> array_min(slice(hs, p, w))))`
  * over `hs = transform(..., i -> cast(conv(substr(md5(kgram), 1, 15), 16, 10) as bigint))`
  * — the first 15 hex chars of an md5 are its first 60 bits, the same
  * big-endian-8-bytes `>>> 4` extraction [[Md5MinHashes]] uses, and the
  * k-gram byte stream (tokens joined by ' ') is digested without the
  * hex-string/`conv`-parse/slice-array allocations the interpreted HOF
  * paid per position (the q151 hot loop). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires STRING, got ${other.sql}")
  }

  private val space = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Shared by the interpreted path and the generated code. */
  def kernel(input: UTF8String): ArrayData = {
    val toks = SimHashSig.sqlToks(input.toString)
    if (toks.length < k)
      return new GenericArrayData(Array.empty[Any])
    val nGrams = toks.length - k + 1
    val md = SimHashSig.digest.get()
    val buf = Md5MinHashes.digestBuf.get()
    val tokBytes = toks.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(space)
        md.update(tokBytes(i + j))
        j += 1
      }
      md.digest(buf, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (buf(b) & 0xffL); b += 1 }
      hs(i) = h >>> 4
      i += 1
    }
    if (nGrams < w)
      return new GenericArrayData(Array.empty[Any])
    // sliding min + first-occurrence distinct (array_distinct order)
    val seen = new java.util.LinkedHashSet[java.lang.Long](16)
    var p = 0
    while (p <= nGrams - w) {
      var mn = hs(p)
      var q = p + 1
      while (q < p + w) { if (hs(q) < mn) mn = hs(q); q += 1 }
      seen.add(mn)
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("winnow", this, classOf[WinnowFingerprints].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Product-quantization encoder: split the vector into `codebook.length`
  * contiguous subspaces and emit, per subspace m, the index of the L2
  * NEAREST centroid in `codebook(m)` (strictly-closer wins, so ties keep
  * the LOWEST code — matching the oracle's `ORDER BY d ASC, code ASC`).
  * Per-subspace distance is the left-to-right fold
  * Σ_j (x_j − c_j)² with float elements widened to double, bit-identical
  * to the generated DuckDB SQL's explicit 8-term sum.
  *
  * This is the 100 TB ANN STORAGE path: a 64-dim float vector (256 B)
  * compresses to m small codes (m bytes at ks ≤ 256) — a corpus scan for
  * candidate scoring reads ~32× fewer bytes and the codes of a trillion
  * vectors fit where the raw vectors never would.
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = codebook.length
    val out = new Array[Any](m)
    var mi = 0
    var base = 0
    while (mi < m) {
      val cents = codebook(mi)
      val sub = cents(0).length
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cents.length) {
        val cv = cents(c)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val idx = base + j
          val x = if (idx >= n) 0.0
                  else if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)
          val diff = x - cv(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(mi) = best
      base += sub
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Asymmetric-distance computation (ADC) for PQ search: approximate
  * squared L2 distance between a raw query vector (left, array<double>)
  * and a PQ-encoded corpus vector (right, the codes from [[PqEncode]]) —
  * the exact L2 between the query and the RECONSTRUCTION (concatenated
  * chosen centroids), computed as ONE left-to-right 64-term fold over the
  * full dimension so the generated DuckDB oracle (an explicit 64-term
  * left-associated sum) is bit-identical. The corpus side never touches
  * its raw vector: scoring reads m code bytes per row.
  */
case class PqAdc(left: Expression, right: Expression,
                 codebook: Array[Array[Array[Double]]])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires (ARRAY<DOUBLE> query, ARRAY<INT> codes), " +
          s"got ${l.sql} and ${r.sql}")
    }

  /** Shared by the interpreted path and the generated code. */
  def kernel(q: ArrayData, codes: ArrayData): Double = {
    // malformed codes must fail loudly: a short code array would silently
    // contribute 0 for the missing subspaces (understating the distance
    // and corrupting rankings), and an out-of-range code would surface as
    // an unexplained ArrayIndexOutOfBoundsException deep in a task
    if (codes.numElements() != codebook.length)
      throw new IllegalArgumentException(
        s"pq_adc: code array has ${codes.numElements()} entries but the " +
          s"codebook has ${codebook.length} subspaces — codes must come " +
          "from pq_encode against the same codebook")
    val n = q.numElements()
    var d = 0.0
    var mi = 0
    var base = 0
    while (mi < codebook.length) {
      val code = codes.getInt(mi)
      if (code < 0 || code >= codebook(mi).length)
        throw new IllegalArgumentException(
          s"pq_adc: code $code out of range [0, ${codebook(mi).length}) " +
            s"in subspace $mi — codes must come from pq_encode against " +
            "the same codebook")
      val cv = codebook(mi)(code)
      val sub = cv.length
      var j = 0
      while (j < sub) {
        val idx = base + j
        val x = if (idx >= n) 0.0 else q.getDouble(idx)
        val diff = x - cv(j)
        d += diff * diff
        j += 1
      }
      base += sub
      mi += 1
    }
    d
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    nullSafeCodeGen(ctx, ev, (q, c) => s"${ev.value} = $self.kernel($q, $c);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash + banded-LSH keys in one pass: `nHashes` minhashes (XXH64 of
  * each shingle's bytes, seed = hash index), folded into `nBands` band
  * keys (XXH64 over each band's minhash slice, seed = band index).
  * Returns array<long> of band keys. Only band-key EQUALITY matters
  * downstream (candidates are exact-verified), so the hash family is an
  * implementation detail.
  */
case class MinHashBandKeys(child: Expression, nHashes: Int, nBands: Int)
    extends UnaryExpression with CodegenFallback {

  private val rowsPerBand = nHashes / nBands
  require(nHashes % nBands == 0, "nHashes must divide into nBands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData]
    val m = sh.numElements()
    val mh = new Array[Long](nHashes)
    java.util.Arrays.fill(mh, Long.MaxValue)
    var i = 0
    while (i < m) {
      val s = sh.getUTF8String(i)
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val len = s.numBytes()
      var j = 0
      while (j < nHashes) {
        val h = XXH64.hashUnsafeBytes(base, off, len, j.toLong)
        if (h < mh(j)) mh(j) = h
        j += 1
      }
      i += 1
    }
    val bands = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var acc = b.toLong
      var k = 0
      while (k < rowsPerBand) {
        acc = XXH64.hashLong(mh(b * rowsPerBand + k), acc)
        k += 1
      }
      bands(b) = acc
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
