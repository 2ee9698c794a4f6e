package graft

import org.apache.spark.sql.functions._

/** Pins graft.tools.ScaleGen's output contract — above all the
  * single-FILE parquet layout, whose violation the round-11 streaming
  * study caught the hard way: StreamGate's staging symlinks
  * `<table>.parquet` into a file-stream source dir, and a symlinked
  * DIRECTORY yields zero input files, so every doc-stream measurement
  * silently became an empty-stream floor. A scale study on a corpus
  * the stream gates cannot read must FAIL here, not in a judge's
  * reading of the exponents.
  */
class ScaleGenSpec extends SparkTestBase {

  private lazy val outDir: String = {
    val dir = TempDirs.create("graft_scalegen_spec")
    // factor 1 over the tiny sf0.001 base — seconds, not minutes
    graft.tools.ScaleGen.generate(spark, sfDir, dir, 1)
    dir
  }

  test("every generated table is a single parquet FILE (stream-stageable)") {
    for (t <- Seq("documents", "embeddings", "events")) {
      val p = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      assert(java.nio.file.Files.isRegularFile(p),
        s"$t.parquet must be a regular file - the file-stream staging " +
          "symlink yields zero input files on a directory")
    }
  }

  test("row counts scale by the factor and no rows are dropped") {
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val baseEv = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(spark.read.parquet(s"$outDir/documents.parquet").count() == baseDocs)
    assert(spark.read.parquet(s"$outDir/embeddings.parquet").count() == baseEmb,
      "a label outside the assumed domain would silently drop rows here")
    assert(spark.read.parquet(s"$outDir/events.parquet").count() == baseEv)
  }

  test("generated corpus carries the base's structure: vocab, twins, schema") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    assert(docs.schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    // the rare `dup` marker exists (twins were planted)
    val nDup = docs.filter(col("text").contains("dup")).count()
    assert(nDup > 0, "no twins planted - near-dup studies would be vacuous")
    // embeddings keep the base's label domain and dimension
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val baseLabels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    val genLabels = emb.select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(genLabels.subsetOf(baseLabels))
    assert(emb.select(size(col("embedding"))).head().getInt(0) ==
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(size(col("embedding"))).head().getInt(0))
  }

  test("zipf mode grows a Heaps-law vocabulary and keeps the twin structure") {
    val dir = TempDirs.create("graft_scalegen_zipf")
    graft.tools.ScaleGen.generate(spark, sfDir, dir, 1, zipf = true)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vocab = docs.select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(countDistinct("t")).head().getLong(0)
    assert(vocab > 100, s"zipf mode must grow the vocabulary (got $vocab)")
    assert(docs.filter(col("text").contains("dup")).count() > 0,
      "twins must be planted in zipf mode too")
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$dir/documents.parquet")))
  }

  test("relational tables scale with intact keys, names and referential integrity") {
    val cust = spark.read.parquet(s"$outDir/customer.parquet")
    val ord = spark.read.parquet(s"$outDir/orders.parquet")
    val li = spark.read.parquet(s"$outDir/lineitem.parquet")
    val supp = spark.read.parquet(s"$outDir/supplier.parquet")
    // factor 1: row counts match the base
    assert(cust.count() ==
      spark.read.parquet(s"$sfDir/customer.parquet").count())
    assert(ord.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
    assert(li.count() ==
      spark.read.parquet(s"$sfDir/lineitem.parquet").count())
    // contiguous keys + the base's name layout (what q89's
    // deletion-neighborhood candidates key on)
    val c0 = cust.orderBy("c_custkey").select("c_custkey", "c_name").head()
    val base0 = spark.read.parquet(s"$sfDir/customer.parquet")
      .orderBy("c_custkey").select("c_custkey", "c_name").head()
    assert(c0 == base0, s"name layout must match the base: $c0 vs $base0")
    assert(cust.agg(max("c_custkey")).head().getLong(0) == cust.count() - 1)
    // q189's audit must PASS on a generated corpus: unique keys, zero
    // orphans, quantities in range
    assert(ord.select(countDistinct("o_orderkey")).head().getLong(0) == ord.count())
    assert(ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti")
      .count() == 0, "orders must have no orphan o_custkey")
    assert(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
      .count() == 0, "lineitem must have no orphan l_orderkey")
    assert(li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)
      .count() == 0)
    // single-file layout + schema parity with the base (the Tables
    // wrappers read these paths verbatim)
    for (t <- Seq("customer", "supplier", "orders", "lineitem")) {
      assert(java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$outDir/$t.parquet")))
      assert(spark.read.parquet(s"$outDir/$t.parquet").schema ==
        spark.read.parquet(s"$sfDir/$t.parquet").schema,
        s"$t schema must match the base")
    }
    assert(supp.count() ==
      spark.read.parquet(s"$sfDir/supplier.parquet").count())
  }

  test("generation is deterministic (same seed hashing, bit-identical)") {
    val dir2 = TempDirs.create("graft_scalegen_spec2")
    graft.tools.ScaleGen.generate(spark, sfDir, dir2, 1)
    val a = spark.read.parquet(s"$outDir/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(s"$dir2/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "re-running the generator must reproduce the corpus")
  }
}
