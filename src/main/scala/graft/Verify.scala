package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `sfDir outDir [name,name,…]` → (sfDir, outDir, gate filter). The
    * optional third argument (comma-separated gate names) is an
    * iteration aid; the driver passes two and gets the full dump. A
    * missing sf dir or an unregistered name fails here, before Spark
    * starts.
    */
  private[graft] def parseArgs(args: Seq[String]): (String, String, Option[Set[String]]) = {
    require(args.length == 2 || args.length == 3,
      s"usage: Verify <sfDir> <outDir> [name,name,...] (got ${args.length} arguments)")
    val sfDir = args(0)
    require(new java.io.File(sfDir).isDirectory, s"no sf directory at $sfDir")
    val only = args.lift(2).map(_.split(',').toSet)
    val unknown = only.getOrElse(Set.empty).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no gate named ${unknown.toSeq.sorted.mkString(", ")}")
    (sfDir, args(1), only)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder("graft-verify", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
