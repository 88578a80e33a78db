package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamRestartProbe

/** Checkpoint recovery across a REAL JVM restart — phase `first` and
  * phase `rest` each run in their own spark-submit process (fresh JVM,
  * fresh SparkContext, RocksDB state rebuilt from the checkpoint dir),
  * and the phased result must equal both the single-run control and
  * the batch oracles, for all three stateful shapes
  * (mapGroupsWithState sessions, stream-stream interval join,
  * foreachBatch MERGE). See [[graft.streaming.StreamRestartProbe]].
  */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = sf0001

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    TempDirs.deleteAtExit(d)
    d.toString
  }

  private def buildProbeJar(): String = {
    val classes = new java.io.File("target/scala-2.13/classes")
    assert(classes.isDirectory, s"classes dir missing: $classes")
    val jar = freshDir("graft_restart_jar_") + "/probe.jar"
    val rc = new ProcessBuilder("jar", "cf", jar, "-C", classes.getPath, ".")
      .inheritIO().start().waitFor()
    assert(rc == 0, s"jar build failed: rc=$rc")
    jar
  }

  private def submit(jar: String, phase: String, workDir: String): Unit = {
    val log = java.io.File.createTempFile(s"graft_restart_${phase}_", ".log")
    val rc = new ProcessBuilder(
      "/opt/spark/bin/spark-submit",
      "--class", "graft.streaming.StreamRestartProbe",
      "--master", "local[4]",
      "--driver-memory", "4g",
      "--conf", "spark.ui.enabled=false",
      jar, phase, workDir, sfDir)
      .redirectOutput(log).redirectErrorStream(true)
      .start().waitFor()
    assert(rc == 0, s"spark-submit $phase failed (rc=$rc); log: $log\n" +
      scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30).mkString("\n"))
    log.delete()
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("all three stateful shapes survive a real JVM restart: " +
    "phased == single-run == batch oracle, recovery non-vacuous") {
    val jar = buildProbeJar()
    val phased = freshDir("graft_restart_phased_")
    val single = freshDir("graft_restart_single_")

    // phase 1 (JVM 1) -> process exits -> phase 2 (JVM 2) resumes from
    // the same checkpoint dirs with the late half staged
    submit(jar, "first", phased)
    submit(jar, "rest", phased)

    // single-run control, in-process, on the same RocksDB posture
    GraftConf.scoped(spark, GraftConf.streaming.toSeq: _*) {
      StreamRestartProbe.runPhase(spark, "single", single, sfDir)
    }

    val (psess, pijoin, pupsert) = StreamRestartProbe.finalTables(spark, phased)
    val (ssess, sijoin, supsert) = StreamRestartProbe.finalTables(spark, single)

    // ------------------------------------------------ batch oracles
    val ev = Tables.events(spark, sfDir)
    val cut = StreamRestartProbe.cutMs(spark, sfDir)

    val sessOracle = ev
      .withColumn("prev", lag("ts_ms", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_ms")))
      .withColumn("isNew",
        when(col("prev").isNull || col("ts_ms") - col("prev") > 1800000L, 1L)
          .otherwise(0L))
      .groupBy("user_id").agg(sum("isNew").as("n_sessions"))
      .orderBy("user_id")

    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_ms").as("p_ms"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_ms").as("view_ms"))
    val ijoinOracle = p.join(v,
        col("p_user") === col("v_user") &&
          col("view_ms") >= col("p_ms") - 600000L &&
          col("view_ms") < col("p_ms"))
      .select("purchase_id", "view_ms")
      .orderBy("purchase_id", "view_ms")

    val upsertOracle = ev
      .select("user_id", "ts_ms", "event_id", "event_type", "value")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("ts_ms").desc, col("event_id").desc)))
      .where(col("rn") === 1).drop("rn")
      .orderBy("user_id", "event_type")

    // ------------------------------------------------- equalities
    val sessRows = rows(psess.select("user_id", "n_sessions"))
    assert(sessRows == rows(ssess.select("user_id", "n_sessions")),
      "sessions: phased != single-run")
    assert(sessRows == rows(sessOracle), "sessions: phased != batch oracle")

    val ijoinRows = rows(pijoin.select("purchase_id", "view_ms"))
    assert(ijoinRows == rows(sijoin.select("purchase_id", "view_ms")),
      "ijoin: phased != single-run")
    assert(ijoinRows == rows(ijoinOracle), "ijoin: phased != batch oracle")

    val upsertCols = Seq("user_id", "ts_ms", "event_id", "event_type", "value")
    val upsertRows = rows(pupsert.select(upsertCols.map(col): _*))
    assert(upsertRows == rows(supsert.select(upsertCols.map(col): _*)),
      "upsert: phased != single-run")
    assert(upsertRows == rows(upsertOracle.select(upsertCols.map(col): _*)),
      "upsert: phased != batch oracle")

    // --------------------------------------------- non-vacuity: the
    // recovery actually carried state across the JVM boundary
    // (1) an interval-join pair whose view is in phase 1 and purchase
    // in phase 2 can only match through RECOVERED view state
    val crossPairs = pijoin.join(
        p.select(col("purchase_id"), col("p_ms")), Seq("purchase_id"))
      .where(col("view_ms") <= cut && col("p_ms") > cut)
    assert(crossPairs.count() > 0,
      "no cross-phase interval-join pair: the recovery assert is vacuous")
    // (2) a user whose session straddles the cut (gap <= 30 min across
    // it) is single-counted only if (lastMs, count) state survived
    val straddlers = ev.groupBy("user_id")
      .agg(max(when(col("ts_ms") <= cut, col("ts_ms"))).as("lastBefore"),
        min(when(col("ts_ms") > cut, col("ts_ms"))).as("firstAfter"))
      .where(col("lastBefore").isNotNull && col("firstAfter").isNotNull &&
        col("firstAfter") - col("lastBefore") <= 1800000L)
    assert(straddlers.count() > 0,
      "no session straddles the cut: the sessions recovery assert is vacuous")
    // (3) a (user, event_type) group with NO phase-2 events keeps its
    // final row only via the on-disk version merge (every USER here
    // stays active past any cut, hence the two-column merge key)
    val phase1Only = ev.groupBy("user_id", "event_type")
      .agg(max("ts_ms").as("mx")).where(col("mx") <= cut)
    assert(phase1Only.count() > 0,
      "every (user, type) group has phase-2 events: the merge assert is vacuous")
    val p1Groups = phase1Only.select("user_id", "event_type")
      .as[(Long, String)].collect().toSet
    val finalGroups = pupsert.select("user_id", "event_type")
      .as[(Long, String)].collect().toSet
    assert(p1Groups.subsetOf(finalGroups),
      "phase-1-only (user, type) groups missing from the final upsert snapshot")
  }
}
