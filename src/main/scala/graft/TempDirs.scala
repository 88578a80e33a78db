package graft

/** JVM-lifetime scratch directories, reaped at JVM exit. Fixture dirs
  * are created once per (SparkContext, sf dir) through
  * [[graft.sources.SessionCache.perContext]]; checkpoint and sink dirs
  * once per use — without the exit hook they accumulate in the temp
  * volume across repeated driver runs (each Verify/Bench invocation is
  * a fresh JVM).
  * Deletion is idempotent and swallows races with Spark's own
  * shutdown hooks (a file already gone is success).
  */
object TempDirs {

  /** Create a temp dir registered for recursive deletion at JVM exit. */
  def scratch(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    deleteAtExit(p)
    p
  }

  def scratchString(prefix: String): String = scratch(prefix).toString

  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case _: java.io.IOException => () }
  }

  def deleteAtExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
}
