package graft

import graft.operators.Ingest
import graft.sources.InMemorySchemaRegistry
import graft.streaming.{EtlConfig, EtlSource, KafkaAvroProducer, KafkaEtlPipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Compaction and retention on the pipeline's real landed output:
  * `<out>/<topic>/dt=…/hour=…` with its `_spark_metadata` commit log. */
class IngestSpec extends SparkTestBase {

  private val topic = "page-view"
  private val registry = new InMemorySchemaRegistry(Map(topic ->
    """{"type":"record","name":"page_view","fields":[
       {"name":"id","type":"long"},{"name":"ts","type":"long"},
       {"name":"name","type":"string"}]}"""))

  private val Day0 = 1470009600000L // 2016-08-01 00:00:00 UTC
  private val Days = Seq("2016-08-01", "2016-08-02", "2016-08-03")
  private val Rounds = 3
  private val RowsPerRound = 12

  /** Land `Rounds` micro-batches through the pipeline; every batch touches
    * each of the 3 days × hours 05/06, so each dir holds `Rounds` files.
    * Returns the topic's landed root `<out>/<topic>`. */
  private def landed(): String = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = Files.createTempDirectory("graft-ingest-out").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    val mem = MemoryStream[(Long, Long, String)]
    val wire = KafkaAvroProducer.wireFrame(mem.toDF().toDF("id", "ts", "name"), topic, registry)
    val pipe = new KafkaEtlPipeline(spark, registry,
      EtlConfig(Seq(topic), EtlSource.Stream(wire), out, ckpt,
        trigger = Trigger.ProcessingTime("200 milliseconds"),
        eventTimeColumn = Some("ts")))
    val Seq(q) = pipe.start()
    (0 until Rounds).foreach { r =>
      mem.addData((0 until RowsPerRound).map { i =>
        val ts = Day0 + (i % 3) * 86400000L + (5 + (i / 3) % 2) * 3600000L + r * 60000L
        (r * 100L + i, ts, s"row-$r-$i")
      })
      q.processAllAvailable()
    }
    pipe.stop()
    s"$out/$topic"
  }

  private def dataFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root)).toArray.map(_.toString).toSeq
      .filter(p => p.endsWith(".parquet") && !p.contains("_spark_metadata"))

  /** Partition dirs holding data files, relative to `root`. */
  private def dirsOf(root: String): Seq[String] =
    dataFiles(root).map(p => p.substring(root.length, p.lastIndexOf('/')))

  test("compactTo collapses many small files to one per partition dir") {
    val src = landed()
    val dest = Files.createTempDirectory("graft-compact-dst").toString
    assert(dirsOf(src).groupBy(identity).values.forall(_.size == Rounds),
      s"each landed dir should hold one file per micro-batch, got ${dirsOf(src)}")
    Ingest.compactTo(spark, src, dest, Seq("dt", "hour"))
    // row parity, layout parity (hour=05 stays a string), one file per dir
    val ids = (d: String) => spark.read.parquet(d).select("id").collect().map(_.getLong(0)).toSet
    assert(ids(dest) == ids(src))
    assert(ids(dest).size == Rounds * RowsPerRound)
    val expectedDirs = for (d <- Days; h <- Seq("05", "06")) yield s"/dt=$d/hour=$h"
    assert(dirsOf(dest).sorted == expectedDirs.sorted, "one file per partition dir")
    assert(dirsOf(dest).toSet == dirsOf(src).toSet)
    assert(Ingest.readLanded(spark, dest).select("hour").distinct()
      .collect().map(_.getString(0)).toSet == Set("05", "06"))
  }

  test("expirePartitions drops only dt dirs older than the cutoff") {
    val src = landed()
    val dest = Files.createTempDirectory("graft-retain").toString
    Ingest.compactTo(spark, src, dest, Seq("dt", "hour"))
    val cutoff = Days.last // expire everything before the newest day
    val deleted = Ingest.expirePartitions(spark, dest, cutoff)
    assert(deleted.map(p => p.substring(p.indexOf("dt=") + 3)).sorted == Days.init)
    val back = Ingest.readLanded(spark, dest)
    assert(back.select("dt").distinct().collect().map(_.getString(0)).toSeq == Seq(cutoff),
      "only the newest day survives")
    // rows of the surviving day are intact
    assert(back.count() == Rounds * RowsPerRound / Days.size)
  }

  test("expirePartitions refuses a streaming sink's output directory") {
    val src = landed()
    val before = dirsOf(src).sorted
    val e = intercept[IllegalArgumentException] {
      Ingest.expirePartitions(spark, src, Days.last)
    }
    assert(e.getMessage.contains("compactTo"))
    // nothing was deleted, and the sink's output still reads in full
    assert(dirsOf(src).sorted == before)
    assert(spark.read.parquet(src).count() == Rounds * RowsPerRound)
  }
}
