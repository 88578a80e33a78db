package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session builder: the configuration posture this engine
  * assumes at scale, in one place. Local callers (tests, the driver
  * mains through [[Driver.session]]) override master/partitions; on a
  * cluster the same knobs are what matter at 100 TB:
  *
  *  - AQE on (runtime partition coalescing + skew-join splitting
  *    replace hand-tuned reducer counts);
  *  - shuffle partitions sized to cores (locally) — on a cluster set
  *    ≈ 2-3× total executor cores; AQE coalesces the excess;
  *  - 128 MiB scan splits (`files.maxPartitionBytes` default) keep
  *    per-task memory bounded regardless of input size;
  *  - UTC session timezone so timestamp arithmetic is reproducible
  *    everywhere (and matches the oracles).
  */
object GraftSession {
  def builder(appName: String = "graft",
              master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    GraftConf.applyTo(
      SparkSession.builder()
        .appName(appName)
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString),
      // the size-independent posture is SHARED with the cluster conf
      // (GraftConf.base) so local plans and DEPLOY.md cannot drift
      GraftConf.base)
      // managed tables (the bucketed-join path) land in a temp dir, not
      // the process cwd; callers may override
      .config("spark.sql.warehouse.dir",
        TempDirs.scratchString("graft_wh_"))
      // testdata `events` stores TIMESTAMP(NANOS), which Spark 4 only
      // reads as bigint nanos via this legacy flag (Tables.events then
      // normalizes to epoch-ms)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
