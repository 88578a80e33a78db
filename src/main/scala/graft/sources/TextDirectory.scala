package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.WordCount

/** Reference-fidelity source/sink pair.
  *
  * Source — the reference scans a directory of plain-text files
  * (`sendFileByFile.cpp:422-444`) and pull-schedules one *file* per
  * worker request (`sendFileByFile.cpp:40-64`). Spark's
  * `FileSourceScanExec` subsumes both: listing, split planning and
  * dynamic task assignment, at *split* (not whole-file) granularity —
  * strictly finer-grained load balancing than the reference's.
  *
  * Sink — each reference reducer writes `Rank_<r>_Thread_<t>.txt` of
  * `word count` lines (`sendFileByFile.cpp:376-392`), numP×4 files,
  * never merged (`README.md:11` TODO 3).
  */
object TextDirectory {

  /** One row per line with its originating file (operator 1 + 3). */
  def readLines(spark: SparkSession, dir: String): DataFrame =
    spark.read.textFile(dir).toDF("value")
      .withColumn("file", input_file_name())

  /** Word count over every file in a directory — the reference program
    * end-to-end (`README.md:4`).
    */
  def wordCountDir(spark: SparkSession, dir: String): DataFrame =
    WordCount.wordCount(spark.read.textFile(dir).toDF("text"), "text")

  /** Per-file word counts (the reference's per-file flush granularity,
    * `README.md:6`, made into a visible grouping).
    */
  def wordCountPerFile(spark: SparkSession, dir: String): DataFrame =
    WordCount.wordCountBy(readLines(spark, dir), "value", "file")

  /** Reference-layout sink: `numShards` text files of `word count`
    * lines, each shard hash-partitioned by word and sorted within the
    * shard — the moral equivalent of the numP×4 `Rank_*_Thread_*.txt`
    * outputs. `sortWithinPartitions` keeps each file alphabetical like
    * the reference's `std::map` iteration (`sendFileByFile.cpp:385`).
    *
    * One exchange from the aggregate into the files, as the reference
    * routes each word once (`sendFileByFile.cpp:256-268`): for the
    * write it sets, and afterwards restores or unsets,
    *  - `spark.sql.shuffle.partitions` to `numShards`, so a
    *    `groupBy(word)` aggregate in `counts` already shuffles into
    *    `hashpartitioning(word, numShards)` and EnsureRequirements
    *    removes the `repartition`'s own exchange;
    *  - `spark.sql.adaptive.coalescePartitions.enabled` to false,
    *    because that exchange is now the aggregate's, which AQE may
    *    coalesce: on a small corpus it merged all shards into one
    *    partition and the sink wrote one file instead of `numShards`.
    * An upstream sort on `word` (the `orderBy` of [[WordCount.wordCount]]
    * and [[WordCount.wordCountRdd]]) is dropped under the repartition.
    *
    * Both confs are scoped by [[graft.GraftConf.scoped]], whose
    * concurrency contract applies: a query planned at the same time on
    * the same session sees `numShards` shuffle partitions and no
    * coalescing, which changes how its rows are partitioned, never its
    * result.
    */
  def writeSharded(counts: DataFrame, out: String, numShards: Int): Unit =
    graft.GraftConf.scoped(counts.sparkSession,
        "spark.sql.shuffle.partitions" -> numShards.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      counts
        .repartition(numShards, col("word"))
        .sortWithinPartitions("word")
        .select(concat_ws(" ", col("word"), col("cnt")).as("value"))
        .write.mode("overwrite").text(out)
    }

  /** Single merged output file — the reference's own TODO 3
    * (`README.md:11`): globally sorted, one file.
    */
  def writeMerged(counts: DataFrame, out: String): Unit =
    counts.orderBy("word").coalesce(1)
      .select(concat_ws(" ", col("word"), col("cnt")).as("value"))
      .write.mode("overwrite").text(out)
}
