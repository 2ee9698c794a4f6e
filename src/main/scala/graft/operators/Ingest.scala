package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Upkeep of the landed output: compaction and retention of what
  * [[graft.streaming.KafkaEtlPipeline]] writes (SURVEY.md §2 row 6).
  *
  * The pipeline alone decides the layout, `<out>/<topic>/dt=…/hour=…`
  * (the reference's `<out>/<topic>/<date.format>/`, `ETLTask.java:144-219`),
  * and its file sink's `_spark_metadata` commit log replaces the
  * reference's exists-probing loop. A streaming sink writes one file set
  * per micro-batch, so a long-running topic piles up small files and old
  * days: `compactTo` rewrites one topic's tree into a fresh, log-free copy
  * with one file per partition dir, and `expirePartitions` drops old `dt`
  * dirs from such a copy.
  */
object Ingest {

  /** Read a Hive-partitioned parquet tree with partition values as raw
    * strings: type inference would turn `hour=05` into int 5, so a rewrite
    * would rename directories and a value check would see `5`. The schema
    * resolves eagerly, so restoring the conf afterwards is safe. */
  def readLanded(spark: SparkSession, path: String): DataFrame = {
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(inferKey)
    spark.conf.set(inferKey, "false")
    try spark.read.parquet(path)
    finally spark.conf.set(inferKey, prev)
  }

  /** Small-file compaction for a partitioned parquet dataset — the
    * operational companion of any per-trigger streaming sink (the
    * pipeline writes one file set per micro-batch per topic; a day of
    * 1-minute triggers is 1440 file sets per partition dir). Rewrites
    * `src` into `dest` with the same Hive-style partition columns, sized
    * so each output task holds ~`targetBytes` of input: rows of one
    * partition directory hash to one task, so each dir compacts to one
    * file (a dir larger than `targetBytes` still writes one file here —
    * split with a salt column if single dirs outgrow row-group targets).
    * Destination is a NEW path: readers cut over by path swap (Spark
    * refuses overwrite-while-reading, and a swap is the atomic op HDFS/
    * object stores actually give you). Partition values are read as raw
    * strings, so the layout is preserved byte-for-byte.
    */
  def compactTo(spark: SparkSession,
                src: String, dest: String,
                partitionCols: Seq[String],
                targetBytes: Long = 256L * 1024 * 1024): Unit = {
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(src)).getLength
    val nTasks = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    readLanded(spark, src)
      .repartition(nTasks, partitionCols.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("compression", "snappy")
      .parquet(dest)
  }

  /** Time-partition retention: drop `dt=<date>` partition directories
    * strictly older than `cutoff` (ISO dates compare lexicographically,
    * so this is a pure string comparison on directory names — no data is
    * read). `root` is one topic's compacted copy (`compactTo`'s `dest`);
    * the walk descends only through `k=v` dirs, so from the pipeline's
    * `<out>` root, whose topic dirs have no `=`, it finds nothing. Returns
    * the deleted paths. Driver-side filesystem metadata work only — the
    * same shape at any data volume.
    *
    * A streaming sink's own output is refused: its `_spark_metadata` log
    * would still list the deleted files and every later read would fail.
    */
  def expirePartitions(spark: SparkSession,
                       root: String, cutoff: String,
                       dateCol: String = "dt"): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(root, "_spark_metadata")),
      s"$root is a streaming sink's output (it has a _spark_metadata log); " +
        "expire partitions on a compactTo copy instead")
    val prefix = s"$dateCol="
    def walk(p: Path): Seq[Path] = {
      val entries = fs.listStatus(p).toSeq.filter(_.isDirectory)
      val (dateDirs, others) = entries.partition(_.getPath.getName.startsWith(prefix))
      dateDirs.map(_.getPath) ++
        others.filter(_.getPath.getName.contains("="))
          .flatMap(e => walk(e.getPath))
    }
    val expired = walk(new Path(root))
      .filter(_.getName.stripPrefix(prefix) < cutoff)
    expired.foreach(p => fs.delete(p, true))
    expired.map(_.toString)
  }
}
