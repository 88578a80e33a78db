package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.Gates
import graft.operators.WordCount

/** Driver contract (SURVEY.md §7): the flagship [[entry]] query, and
  * every registered gate's query and DuckDB oracle by name. The gates
  * themselves live in `graft.gates`, one object per family.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** Each gate's query over an sf dir. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.run).toMap

  /** Each gate's DuckDB SQL over the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    Gates.all.map(g => g.name -> g.oracle).toMap
}
