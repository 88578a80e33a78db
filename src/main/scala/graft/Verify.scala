package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
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
    val only = args.lift(2).map(a => Driver.select(a.split(',').toSeq).toSet)
    (sfDir, args(1), only)
  }

  /** `query`'s result as one parquet file in `$outDir/$name`, deleted
    * first: a gate that fails leaves no stale result for the compare.
    */
  private[graft] def dump(outDir: String, name: String)(query: => DataFrame): Unit = {
    TempDirs.deleteRecursively(Paths.get(outDir, name))
    Driver.attempt("verify", name) {
      query.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args.toSeq)
    val spark = Driver.session("graft-verify", 4, "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => dump(outDir, name)(fn(spark, sfDir)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(SparkEntry.oracleSql
      .collect { case (k, v) if only.forall(_.contains(k)) => k -> Json.quote(v) }))
    spark.stop()
  }
}
