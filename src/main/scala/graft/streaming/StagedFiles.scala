package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.SessionCache

/** The one stager of the file-stream sources that the streaming gates
  * and [[StreamRestartProbe]] replay. `FileStreamSource` orders a
  * directory's files by modification time, and under
  * `maxFilesPerTrigger = 1` each file is one micro-batch, so a stage is
  * an ORDERED list of parts:
  *
  *  - part `i` becomes the one file `part_<i>.parquet` in a directory
  *    the stage owns, pinned at the fixed epoch `(i + 1) × 1,000,000`
  *    ms: older than any wall clock, distinct per part and the same in
  *    every JVM, so the replay order is the part order however fast,
  *    and in however many processes, the parts were written;
  *  - the stager sets a time only on a file it wrote: a file part (a
  *    read-only fixture table) is byte-copied into the stage, a frame
  *    part is written as exactly one parquet file and moved in;
  *  - a stage of ONE file part is a symlink to it with no stamp: one
  *    file is one batch in any order.
  */
private[graft] object StagedFiles {

  /** One part of an ordered stage. */
  sealed trait Part
  /** An existing parquet file, such as a fixture table. */
  final case class FilePart(path: String) extends Part
  /** A frame, written as exactly one parquet file. */
  final case class FramePart(df: DataFrame) extends Part

  /** Stage `parts` in order into a fresh scratch directory, once per
    * SparkContext under `key`; returns the directory.
    */
  def stage(spark: SparkSession, key: Any, prefix: String)
           (parts: => Seq[Part]): String =
    SessionCache.perContext(spark, key) {
      val dir = graft.TempDirs.scratch(prefix)
      parts match {
        case Seq(FilePart(p)) =>
          val src = Paths.get(p)
          Files.createSymbolicLink(dir.resolve(src.getFileName.toString), src)
        case ps => ps.zipWithIndex.foreach { case (part, i) => add(dir, i, part) }
      }
      dir.toString
    }

  /** Add part `i` of an ordered stage to `dir`, created if missing. The
    * restart probe adds its parts one phase (one JVM) at a time.
    */
  def add(dir: Path, i: Int, part: Part): Unit = {
    Files.createDirectories(dir)
    val file = dir.resolve(s"part_$i.parquet")
    part match {
      case FilePart(p) => Files.copy(Paths.get(p), file)
      case FramePart(df) => writeOne(df, file)
    }
    Files.setLastModifiedTime(file, FileTime.fromMillis((i + 1) * 1000000L))
  }

  /** Write `df` as exactly one parquet file at `file`. */
  private def writeOne(df: DataFrame, file: Path): Unit = {
    val tmp = graft.TempDirs.scratch("graft_stage_part_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val written = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      require(written.size == 1,
        s"expected one parquet part file for $file, got ${written.size}")
      Files.move(written.head, file)
    } finally graft.TempDirs.deleteRecursively(tmp)
  }

  /** A staged directory as a parquet file stream, with the schema of
    * its files; `filePerBatch` replays one file per micro-batch in
    * stage order.
    */
  def read(spark: SparkSession, dir: String,
           filePerBatch: Boolean = false): DataFrame = {
    val r = spark.readStream.schema(spark.read.parquet(dir).schema)
    (if (filePerBatch) r.option("maxFilesPerTrigger", "1") else r).parquet(dir)
  }
}
