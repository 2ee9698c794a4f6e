package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Reads a streaming query's own checkpoint: which source files each
  * micro-batch took (`sources/0/<id>`, including compacted logs) and when
  * each batch committed (`commits/<id>` modification time). This is how
  * the benchmark times commits from outside the program. */
object Ckpt {
  private val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }

  /** Epoch ms (fractional) of a file's modification time. */
  def mtimeMs(p: Path): Double =
    Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0

  /** batch id → commit time in epoch ms, for committed batches. */
  def commits(ckpt: Path): Map[Long, Double] =
    list(ckpt.resolve("commits")).flatMap { p =>
      val n = p.getFileName.toString
      if (n.forall(_.isDigit)) Some(n.toLong -> mtimeMs(p)) else None
    }.toMap

  /** source file name → batch id that read it. */
  def fileBatches(ckpt: Path): Map[String, Long] =
    list(ckpt.resolve("sources").resolve("0")).flatMap { p =>
      val n = p.getFileName.toString
      if (n.forall(_.isDigit) || n.endsWith(".compact"))
        Files.readAllLines(p).asScala.iterator.collect {
          case entry(path, batch) => path.substring(path.lastIndexOf('/') + 1) -> batch.toLong
        }.toSeq
      else Nil
    }.toMap

  /** source file name → commit time (epoch ms) of the batch that read it,
    * for files whose batch has committed. */
  def fileCommits(ckpt: Path): Map[String, Double] = {
    val c = commits(ckpt)
    fileBatches(ckpt).flatMap { case (f, b) => c.get(b).map(f -> _) }
  }
}
