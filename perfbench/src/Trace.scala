package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** One timed interval: wall-clock bounds in epoch ms (so spans line up
  * with checkpoint file times and progress timestamps), a parent span id
  * (-1 at the root) and the streaming run id for micro-batch spans. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, runId: String)

/** In-memory span recorder. Disabled, [[span]] only runs its body; enabled,
  * it records every layer call and, through [[listener]], one span per
  * micro-batch from the streaming progress events. Nothing is written until
  * [[writeJson]] at exit. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Wall-clock epoch ms with the clock's sub-ms digits. */
  def nowMs: Double = { val i = java.time.Instant.now(); i.getEpochSecond * 1000.0 + i.getNano / 1e6 }

  /** Time `body` as span `name` under the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, name, t0, nowMs, parent, ""))
        stack.set(stack.get.tail)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def allProgress: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Progress events whose batch started inside a span named `within`. */
  def progressWithin(within: String): Seq[StreamingQueryProgress] = {
    val outer = allSpans.filter(_.name == within)
    allProgress.filter { p =>
      val t = startMs(p)
      outer.exists(s => t >= s.startMs - 1 && t <= s.endMs)
    }
  }

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  /** Spans plus one span per micro-batch (parent: the innermost layer
    * span containing the batch start) as a JSON document. */
  def writeJson(path: java.nio.file.Path, summary: String): Unit = {
    val layer = allSpans
    val batches = allProgress.map { p =>
      val t0 = startMs(p)
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      val parent = layer.filter(s => t0 >= s.startMs - 1 && t0 <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
      Span(ids.incrementAndGet(), s"batch.${p.name}.${p.batchId}", t0, t0 + dur, parent,
        p.runId.toString)
    }
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = (layer ++ batches).sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"name":${js(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""parent":${s.parent},"run_id":${js(s.runId)}}"""
    }
    java.nio.file.Files.writeString(path,
      rows.mkString(s"""{"summary":$summary,"spans":[\n""", ",\n", "\n]}\n"))
  }
}
