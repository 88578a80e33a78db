package graft

/** The 100 TB deployment posture as DATA — every cluster-mode Spark
  * conf the engine's per-operator scale arguments assume, in one
  * place, applied by a launcher via `--conf` flags or
  * [[applyTo]] on a `SparkSession.Builder`. `DEPLOY.md` is the prose
  * companion (sizing rules, submit recipe, state-store layout).
  *
  * Split in three because the knobs have different lifetimes:
  *
  *  - [[base]] — size-INDEPENDENT posture, identical locally and on a
  *    cluster (the [[GraftSession]] subset: AQE with coalescing and
  *    skew-join splitting, UTC session time). Local plans and the
  *    committed plan digests depend on exactly these, so the local
  *    builder shares this map rather than re-declaring it.
  *  - [[cluster]] — size-DEPENDENT knobs derived from the cluster
  *    shape: shuffle parallelism ≈ 3× total executor cores (AQE
  *    coalesces the excess; the 3× headroom is what lets skew
  *    splitting add partitions without a second shuffle), 128 MiB scan
  *    splits, 64 MiB AQE advisory target, 32 MiB auto-broadcast bound
  *    (small dims broadcast; anything larger must justify itself —
  *    the code's explicit `broadcast()` hints stay authoritative),
  *    dynamic allocation with shuffle tracking (no external shuffle
  *    service assumed).
  *  - [[streaming]] — the Structured Streaming state backend: RocksDB
  *    with changelog checkpointing, so state size is bounded by disk
  *    (not executor heap) and checkpoint deltas are incremental — the
  *    posture the 25 streaming gates' O(keys) state arguments assume
  *    at production key cardinalities.
  */
object GraftConf {

  /** Size-independent posture, shared verbatim by [[GraftSession]]. */
  val base: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Size-dependent cluster knobs for a cluster of `totalExecutorCores`
    * (e.g. 1000 executors × 4 cores → 4000 → 12000 shuffle
    * partitions pre-AQE).
    */
  def cluster(totalExecutorCores: Int): Map[String, String] = {
    require(totalExecutorCores > 0, "cluster size must be positive")
    base ++ Map(
      "spark.sql.shuffle.partitions" -> (totalExecutorCores * 3).toString,
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        (64L * 1024 * 1024).toString,
      // a skewed partition is split when > 5× median AND > 256 MiB —
      // the AQE runtime replan the salting-free join paths rely on
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        (256L * 1024 * 1024).toString,
      "spark.sql.autoBroadcastJoinThreshold" ->
        (32L * 1024 * 1024).toString,
      "spark.dynamicAllocation.enabled" -> "true",
      "spark.dynamicAllocation.shuffleTracking.enabled" -> "true")
  }

  /** Structured Streaming state backend (see class doc). */
  val streaming: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Apply a conf map to a builder (launcher-side convenience). */
  def applyTo(builder: org.apache.spark.sql.SparkSession.Builder,
              conf: Map[String, String]): org.apache.spark.sql.SparkSession.Builder =
    conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** The one session-conf scope: run `body` with each `key -> value`
    * set on `spark`'s session, then put every key back as it was —
    * restored to its saved value, or unset if it was unset — also when
    * `body` throws. The saved value comes from `conf.getAll`, which
    * holds only the keys set on the session: `get`/`getOption` read an
    * unset key as its default, and the restore would then set it.
    *
    * Concurrency: the keys are session-wide while `body` runs, so a
    * query planned at the same time on the same session sees them.
    * Scope only confs that change how rows are partitioned or where
    * state is kept, never what a query computes; two scopes that
    * overlap on one session each restore what they saw on entry.
    */
  def scoped[T](spark: org.apache.spark.sql.SparkSession,
                confs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val set = conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
