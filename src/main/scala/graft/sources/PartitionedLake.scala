package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned parquet layout: the 100 TB selective-scan
  * path. Writing a fact table partitioned on its dominant filter column
  * turns `WHERE col = v` into directory pruning — the scan never opens
  * files outside the matching partition, so a 1-of-N-type query reads
  * 1/N of the data no matter how large the lake grows. (Bucketing
  * co-locates JOINS; partitioning prunes FILTERS — the two compose.)
  */
object PartitionedLake {

  /** Write `events` partitioned by event_type once per (SparkContext, dir);
    * returns the lake path. Partition count = distinct event types
    * (5 here) — low-cardinality columns only; partitioning on a
    * high-cardinality key would produce millions of tiny files.
    */
  def eventsByTypeLake(spark: SparkSession, dir: String): String =
    SessionCache.perContext(spark, ("PartitionedLake", dir)) {
      val out = graft.TempDirs.scratchString("graft_lake_")
      graft.Tables.events(spark, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      out
    }

  /** Two-generation parquet lake for schema-evolution reads:
    * generation 1 (even event_ids) wrote (event_id, user_id,
    * event_type); generation 2 (odd event_ids) added `value_cents`.
    * The real-lake situation every long-lived pipeline hits — old
    * files keep their narrow schema forever, only new writes carry the
    * added column.
    */
  def schemaEvolutionLake(spark: SparkSession, dir: String): String =
    SessionCache.perContext(spark, ("PartitionedLake.evolve", dir)) {
      val out = graft.TempDirs.scratchString("graft_evolve_")
      val ev = graft.Tables.events(spark, dir)
      ev.where(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "event_type")
        .write.mode("append").parquet(out)
      ev.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .write.mode("append").parquet(out)
      out
    }

  /** Read the evolved lake with `mergeSchema` — the footer-merge that
    * unions all generations' schemas; generation-1 rows surface NULL
    * for the added column, so count/sum aggregate only the new data.
    * (Without mergeSchema the scan schema is whichever footer Spark
    * samples — a silent column drop; the option is the contract.)
    */
  def schemaEvolutionStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(schemaEvolutionLake(spark, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("value_cents")).as("n_v2"),
        sum(col("value_cents")).as("sum_cents"))
      .orderBy("event_type")

  /** Dynamic partition overwrite — the surgical-correction write every
    * partitioned lake needs: re-publishing ONE partition's corrected
    * rows replaces exactly that directory and leaves every other
    * partition's files untouched. Under the default `static` mode the
    * same `.mode("overwrite")` would TRUNCATE THE WHOLE TABLE first —
    * the conf is the difference between a partition patch and a data
    * loss incident, which is why this gate exists. The lake here is
    * events partitioned by type; the patch doubles the `error`
    * partition's cents. The mode is set as a per-write
    * `DataFrameWriter.option` — not a session conf flip — so a
    * concurrent `.mode("overwrite")` write elsewhere in the session
    * can never inherit dynamic semantics by accident.
    */
  def dynamicOverwriteLake(spark: SparkSession, dir: String): String =
    SessionCache.perContext(spark, ("PartitionedLake.dynov", dir)) {
      val out = graft.TempDirs.scratchString("graft_dynov_")
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("value_c"),
          col("event_type"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      ev.where(col("event_type") === "error")
        .withColumn("value_c", col("value_c") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(out)
      out
    }

  /** Read-back proof of [[dynamicOverwriteLake]]: the patched
    * partition carries the corrected (doubled) cents, every other
    * partition its original rows — survival of the non-targeted
    * partitions IS the dynamic-mode semantics under test.
    */
  def dynamicOverwriteStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dynamicOverwriteLake(spark, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_cents"))
      .orderBy("event_type")

  /** Daily spend for ONE event type through the partitioned lake — the
    * `event_type = t` predicate is a partition filter (directory
    * prune), not a row filter; `PlanAuditSpec` asserts the scan's
    * PartitionFilters carries it.
    */
  def prunedDailySpend(spark: SparkSession, dir: String,
                       eventType: String = "purchase"): DataFrame =
    spark.read.parquet(eventsByTypeLake(spark, dir))
      .where(col("event_type") === eventType)
      .select(expr("ts_ms div 86400000").as("epoch_day"),
        round(col("value") * 100).cast("long").as("value_c"))
      .groupBy("epoch_day")
      .agg(count(lit(1)).as("n_events"), sum("value_c").as("sum_value_cents"))
      .orderBy("epoch_day")
}
