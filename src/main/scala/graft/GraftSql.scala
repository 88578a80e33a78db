package graft

import org.apache.spark.sql.SparkSession

/** SQL-first entry point: registers every testdata table as a temp
  * view plus the graft_* functions, so the complete engine surface is
  * reachable from `spark.sql(...)` — the "switch from the reference"
  * story for SQL users.
  */
object GraftSql {
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "embeddings")

  /** Register `<table>` views over `dir` and the graft functions.
    * `events` is registered with the normalized `ts_ms` column. The
    * views follow `dir` on every call; the functions do not depend on
    * it, so each session registers them once.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    TableNames.foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    sources.SessionCache.perSession(spark, ("GraftSql", "functions")) {
      functions.GraftFunctions.register(spark)
    }
  }
}
