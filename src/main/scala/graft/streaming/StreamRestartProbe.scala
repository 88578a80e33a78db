package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpoint-recovery proof across a REAL process restart — the core
  * production claim of Structured Streaming that the 25 AvailableNow
  * gates assert but (through round 13) never exercised: a query is
  * stopped mid-stream, the JVM exits, and a NEW process resumes from
  * the on-disk checkpoint (offset log + commit log + state store) and
  * produces exactly the single-run answer.
  *
  * Three stateful shapes, each with a DURABLE sink (the memory-sink
  * gate harness cannot survive a restart by construction):
  *
  *  1. `sessions` — [[Streams.sessionCounts]] (mapGroupsWithState,
  *     update mode) → foreachBatch newest-emission-wins merge into a
  *     versioned parquet state table ([[Streams.mergeVersions]]).
  *     Recovery carries each user's
  *     (lastMs, count) state across the JVM boundary: a session whose
  *     gap straddles the phase cut is only counted once if the state
  *     genuinely survived.
  *  2. `ijoin` — the stream-stream interval join
  *     ([[Streams.intervalJoin]]: purchases ⋈ views within 10 min,
  *     both sides watermarked 1 h) → the transactional
  *     parquet FILE sink (its `_spark_metadata` commit log is the
  *     exactly-once story). Recovery reloads the buffered view state:
  *     cross-phase pairs (view before the cut, purchase after) exist
  *     only if the join state survived.
  *  3. `upsert` — the foreachBatch MERGE shape: latest-per-
  *     (user, event_type) snapshot versioned per micro-batch, where
  *     each batch merges against the newest earlier version ON DISK
  *     ([[Streams.mergeVersion]], the same helper the in-process
  *     upsert lake uses). Groups whose last event is in phase 1 win
  *     their final row from the version the FIRST JVM wrote — only the
  *     on-disk merge can carry it.
  *
  * Input staging: the events table split BY TIME at the cut into two
  * parts of one ordered stage ([[StagedFiles]], the stager every
  * streaming gate uses), part `i` one file pinned at
  * `(i + 1) × 1,000,000` ms, so the order holds across JVMs. Phase
  * `first` adds and processes the early half; phase `rest` (a NEW JVM
  * via spark-submit) adds the late half — the file source's own
  * checkpoint log knows the first file is done. Phase `single` adds
  * both and runs once — the control. All three run on the RocksDB state-store provider per
  * `GraftConf.streaming` (changelog checkpointing on), so the proof
  * covers the documented 100 TB posture, not just the default HDFS
  * provider.
  *
  * Scale note: this probe IS the deployment shape — checkpoint dir on
  * shared storage, AvailableNow batch-resume, durable sinks; nothing
  * here is test-harness-only except the tiny SF.
  */
object StreamRestartProbe {

  private val windowMs = 600000L // ijoin: views within 10 min before purchase
  private val gapMs = 1800000L   // sessions: 30-min gap

  /** spark-submit entry: args = <phase: first|rest|single> <workDir> <sfDir>. */
  def main(args: Array[String]): Unit = {
    val Array(phase, workDir, sfDir) = args.take(3)
    val builder = graft.GraftSession
      .builder("graft-stream-restart", "local[4]", shufflePartitions = 4)
    graft.GraftConf.streaming.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runPhase(spark, phase, workDir, sfDir)
    finally spark.stop()
  }

  /** Stage this phase's input files and drive all three shapes to
    * AvailableNow termination. Callable in-process (the `single`
    * control) or from [[main]] in a fresh JVM (the restart proof).
    */
  def runPhase(spark: SparkSession, phase: String, workDir: String,
               sfDir: String): Unit = {
    stageInput(spark, phase, workDir, sfDir)
    runSessions(spark, workDir)
    runIjoin(spark, workDir)
    runUpsert(spark, workDir)
  }

  /** The time-split cut, chosen so the restart proof cannot be
    * vacuous: the median view_ms over the batch interval join's
    * matched pairs. Derived once per workDir and persisted by
    * [[persistedCut]] — cross-JVM phases read the same stored value
    * rather than trusting percentile_approx to reproduce bit-for-bit. The pair whose view sits exactly
    * at the cut has its purchase strictly after it (the join is
    * v_ts < p_ts), so at least one cross-phase match exists that can
    * only be produced from RECOVERED join state, and that pair's user
    * is a session straddler (gap < 10 min across the cut). Falls back
    * to the median event time if the corpus has no matched pairs.
    */
  def cutMs(spark: SparkSession, sfDir: String): Long = {
    val ev = graft.Tables.events(spark, sfDir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_ms").as("p_ms"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_ms").as("view_ms"))
    // percentile_approx returns an OBSERVED view_ms (never interpolates
    // — the "a pair sits exactly at the cut" guarantee) and is
    // deterministic for a given accuracy, so every JVM derives the same
    // cut from a 1-row aggregate — no driver-side pair-list collect
    val row = p.join(v,
        col("p_user") === col("v_user") &&
          col("view_ms") >= col("p_ms") - windowMs &&
          col("view_ms") < col("p_ms"))
      .agg(expr("percentile_approx(view_ms, 0.5D, 100000)").as("cut"))
      .head()
    if (row.isNullAt(0))
      ev.agg(expr("percentile(ts_ms, 0.5D)")).head().getDouble(0).toLong
    else row.getLong(0)
  }

  /** The cut a PHASE actually uses: computed once per workDir and
    * PERSISTED under it (ADVICE r14 — phases `first` and `rest` run in
    * separate JVMs, and beyond its compression threshold
    * percentile_approx's result can depend on partial-aggregate merge
    * order, so "recompute identically in every JVM" is not a contract
    * the engine gives; a drifted cut would drop/duplicate events
    * between phases). The first phase to touch the workDir writes
    * `cut.ms`; every later phase reads it back verbatim.
    */
  private def persistedCut(spark: SparkSession, workDir: String,
                           sfDir: String): Long = {
    val f = java.nio.file.Paths.get(workDir, "cut.ms")
    if (java.nio.file.Files.exists(f))
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
    else {
      val cut = cutMs(spark, sfDir)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, cut.toString.getBytes("UTF-8"))
      cut
    }
  }

  /** Add this phase's parts to the shared ordered stage under
    * `workDir/input`: the early half is part 0, the late half part 1.
    */
  private def stageInput(spark: SparkSession, phase: String,
                         workDir: String, sfDir: String): Unit = {
    val input = java.nio.file.Paths.get(workDir, "input")
    val ev = graft.Tables.events(spark, sfDir)
    val cut = persistedCut(spark, workDir, sfDir)
    val halves = Seq(ev.where(col("ts_ms") <= cut), ev.where(col("ts_ms") > cut))
    val parts = phase match {
      case "first" => Seq(0)
      case "rest" => Seq(1)
      case "single" => Seq(0, 1)
      case other => throw new IllegalArgumentException(s"phase: $other")
    }
    parts.foreach(i => StagedFiles.add(input, i, StagedFiles.FramePart(halves(i))))
  }

  private def inputStream(spark: SparkSession, workDir: String): DataFrame =
    StagedFiles.read(spark, s"$workDir/input", filePerBatch = true)

  // ---------------------------------------------------------- shapes

  /** mapGroupsWithState session counts → versioned newest-wins merge. */
  private def runSessions(spark: SparkSession, workDir: String): Unit =
    Streams.mergeVersions(
        Streams.sessionCounts(spark, inputStream(spark, workDir), gapMs),
        s"$workDir/out/sessions", mode = "update",
        checkpoint = Some(s"$workDir/ckpt/sessions")) { (prev, b) =>
      // newest emission wins: mapGroupsWithState re-emits a user's
      // RUNNING total each batch that touches the user
      prev.fold(b)(_.join(b.select("user_id"), Seq("user_id"), "left_anti")
        .unionByName(b))
    }

  /** Stream-stream interval join → transactional parquet file sink. */
  private def runIjoin(spark: SparkSession, workDir: String): Unit =
    Streams.intervalJoin(inputStream(spark, workDir), windowMs)
      .writeStream
      .format("parquet")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$workDir/ckpt/ijoin")
      .option("path", s"$workDir/out/ijoin")
      .start()
      .awaitTermination()

  /** foreachBatch MERGE: latest-per-(user, event_type) versioned
    * snapshot, merging against the newest earlier version ON DISK
    * (restart-robust). The two-column key makes the proof non-vacuous
    * on corpora where every USER stays active past any cut: a rare
    * event type that a user stops emitting early wins its final row
    * from phase 1.
    */
  private def runUpsert(spark: SparkSession, workDir: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    Streams.mergeVersions(
        inputStream(spark, workDir)
          .select("user_id", "ts_ms", "event_id", "event_type", "value"),
        s"$workDir/out/upsert",
        checkpoint = Some(s"$workDir/ckpt/upsert")) { (prev, b) =>
      prev.fold(b)(_.unionByName(b))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
    }
  }

  /** The newest version of a versioned output. */
  private def newest(out: String): String =
    Streams.versionPath(out, Streams.versions(out).lastOption
      .getOrElse(sys.error(s"no version under $out")))

  /** The three final result tables of a completed workDir — what the
    * spec compares across phased-restart / single-run / batch oracle.
    */
  def finalTables(spark: SparkSession, workDir: String):
      (DataFrame, DataFrame, DataFrame) = {
    val sessions = spark.read.parquet(newest(s"$workDir/out/sessions"))
      .orderBy("user_id")
    val ijoin = spark.read.parquet(s"$workDir/out/ijoin")
      .orderBy("purchase_id", "view_ms")
    val upsert = spark.read.parquet(newest(s"$workDir/out/upsert"))
      .orderBy("user_id", "event_type")
    (sessions, ijoin, upsert)
  }
}
