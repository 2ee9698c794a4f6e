package graft

/** JVM-exit cleanup registry for memoized on-disk artifacts (staged
  * stream inputs, persisted test indexes): the memo maps keep one
  * artifact per (session, dataset) for the process lifetime — correct
  * while running, but a long-lived process would otherwise leave every
  * artifact behind on disk after exit. Deletion is recursive,
  * best-effort (exit-time cleanup must never throw). Only dirs created
  * here as scratch are registered, never production index paths. */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread("graft-tempdir-cleanup") {
      override def run(): Unit = {
        val it = dirs.iterator()
        while (it.hasNext) deleteRecursively(new java.io.File(it.next()))
      }
    })

  private def deleteRecursively(f: java.io.File): Unit = {
    try {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) {
        val children = f.listFiles()
        if (children != null) children.foreach(deleteRecursively)
      }
      f.delete()
      ()
    } catch { case _: Throwable => () }
  }

  /** Create a fresh directory under `java.io.tmpdir` named after
    * `prefix`, registered for recursive deletion at JVM exit; returns
    * its path. */
  def create(prefix: String): String = {
    hookInstalled
    val path = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(path)
    path
  }
}
