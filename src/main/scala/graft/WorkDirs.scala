package graft

import org.apache.spark.sql.SparkSession

/** Shared-filesystem work root for session-memoized on-disk ARTIFACTS —
  * ANN index directories (q156/q157/q172 lifecycle), the persisted
  * near-dup band index (q108), the multi-topic ingest output (q173) and
  * the release export (q188). These are the paths a real deployment
  * must be able to place on a shared filesystem (HDFS/S3/NFS) where
  * every executor writes and a successor job reads — unlike the
  * driver-local `java.io.tmpdir` scratch the streaming file-source
  * staging uses, which is genuinely process-private test scaffolding.
  *
  * Root resolution order:
  *   1. `spark.graft.workDir` session conf (e.g. `hdfs:///pipelines/graft`)
  *   2. `GRAFT_WORK_DIR` environment variable
  *   3. one per-process directory under `java.io.tmpdir` (the local-mode
  *      default), registered with [[TempDirs]] for JVM-exit cleanup.
  * A CONFIGURED root is never auto-deleted: a production artifact
  * outlives the job that wrote it, and exit-cleanup of a shared path
  * would race concurrent readers.
  *
  * Artifact dirs are `<root>/<kind>/<dataset-leaf>-s<sessionTag>`:
  * dataset-scoped so a human reading the filesystem can map artifact to
  * corpus, session-tagged so concurrent sessions in one JVM (the test
  * harness) never collide on each other's overwrite/append semantics.
  * All paths go through the Hadoop `FileSystem` of the resolved root,
  * so a scheme-qualified configured root (hdfs://, s3a://) resolves to
  * that filesystem end-to-end.
  */
object WorkDirs {
  private lazy val procDefault = TempDirs.create("graft-work")

  private def root(s: SparkSession): String =
    s.conf.getOption("spark.graft.workDir")
      .orElse(sys.env.get("GRAFT_WORK_DIR"))
      .getOrElse(procDefault)

  /** Allocate (and mkdir) the artifact directory for `kind` over the
    * dataset at `datasetDir`, unique per live SparkSession. Writers that
    * land here use `mode("overwrite")` at the dir root, so a reused
    * address (a recycled identity hash after a previous session was
    * collected) is cleared by its first write rather than appended to. */
  def artifactDir(s: SparkSession, kind: String, datasetDir: String): String = {
    val leaf = new org.apache.hadoop.fs.Path(datasetDir).getName match {
      case "" | "/" => "root"
      case n        => n.replaceAll("[^A-Za-z0-9._-]", "_")
    }
    val tag = Integer.toHexString(System.identityHashCode(s))
    val dir = new org.apache.hadoop.fs.Path(root(s), s"$kind/$leaf-s$tag")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.makeQualified(dir).toString
  }
}
