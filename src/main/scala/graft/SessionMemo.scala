package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** The ONE session-scoped memo store behind every shared-relation /
  * shared-artifact memo in the operator packs (pair tables, signature
  * stores, posting indexes, BPE merge chains, artifact paths, staged
  * stream inputs).
  *
  * Why centralized: the packs used to carry ~20 private TrieMaps each
  * keyed by `(System.identityHashCode(session), dataset)`. Identity
  * hashes are NOT unique — a GC'd session's hash can be reused by a
  * fresh SparkSession, at which point a memo keyed that way serves a
  * DataFrame bound to a dead SparkContext. Here the session OBJECT is
  * the key (reference identity, collision-free by construction) inside
  * a [[java.util.WeakHashMap]], so a memo can never outlive its
  * session and never leak across sessions.
  *
  * Lifetime: most memoized values are DataFrames, which reference
  * their session — such entries keep the key strongly reachable and
  * therefore live exactly as long as the JVM or an explicit
  * [[clear]], the same lifetime the per-pack TrieMaps had (a long-
  * lived Verify session is the intended consumer). Entries whose
  * values do NOT reference the session (artifact path strings) are
  * collected with their session. [[clear]] exists for tests and for a
  * host that cycles sessions deliberately.
  *
  * Namespacing: `ns` identifies the relation family (one string per
  * former TrieMap), `d` the dataset dir — together the former key,
  * minus the collision-prone hash.
  */
object SessionMemo {

  private val perSession =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, String), Any]]()

  private def mapFor(s: SparkSession): TrieMap[(String, String), Any] =
    perSession.synchronized {
      var m = perSession.get(s)
      if (m == null) { m = TrieMap.empty[(String, String), Any]; perSession.put(s, m) }
      m
    }

  /** Atomic get-or-build (TrieMap.getOrElseUpdate — `build` runs at
    * most once per winning thread, the former per-pack semantics). */
  def getOrElseUpdate[T](s: SparkSession, ns: String, d: String)(build: => T): T =
    mapFor(s).getOrElseUpdate((ns, d), build).asInstanceOf[T]

  def put[T](s: SparkSession, ns: String, d: String, v: T): Unit =
    mapFor(s).put((ns, d), v)

  def get[T](s: SparkSession, ns: String, d: String): Option[T] =
    mapFor(s).get((ns, d)).map(_.asInstanceOf[T])

  def getOrElse[T](s: SparkSession, ns: String, d: String)(default: => T): T =
    get[T](s, ns, d).getOrElse(default)

  /** Drop ONE memo entry (tests that must force a specific stream or
    * relation to re-run under instrumentation). The wholesale [[clear]]
    * invalidated every unrelated write-once session artifact — persisted
    * index builds, checkpointed cores — forcing rebuilds and bumping
    * index version dirs mid-session (ADVICE r14); keyed removal leaves
    * them standing. */
  def remove(s: SparkSession, ns: String, d: String): Unit =
    perSession.synchronized {
      val m = perSession.get(s)
      if (m != null) m.remove((ns, d))
    }

  /** Drop every memo of one session (tests; deliberate session cycling). */
  def clear(s: SparkSession): Unit =
    perSession.synchronized { perSession.remove(s) }
}
