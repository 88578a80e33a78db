package graft

import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

/** Scheduler-delay accounting of [[BenchMetrics]], driven with
  * hand-made listener events (no Spark context needed).
  */
class BenchMetricsSpec extends AnyFunSuite {

  private def stage(id: Int): StageInfo =
    new StageInfo(stageId = id, attemptId = 0, name = s"stage $id",
      numTasks = 1, rddInfos = Seq.empty, parentIds = Seq.empty,
      details = "", resourceProfileId = 0)

  private def taskStart(stageId: Int, launchMs: Long): SparkListenerTaskStart =
    SparkListenerTaskStart(stageId, 0, new TaskInfo(0L, 0, 0, 0, launchMs,
      "exec-1", "localhost", TaskLocality.PROCESS_LOCAL, false))

  test("a task launched after its job ended adds no scheduler delay") {
    val m = new BenchMetrics
    m.onJobStart(SparkListenerJobStart(7, 1000L, Seq(stage(3))))
    m.onJobEnd(SparkListenerJobEnd(7, 2000L, JobSucceeded))
    m.onTaskStart(taskStart(3, 1700000000000L))
    assert(m.snapshot().schedDelayMs == 0L)
  }

  test("a job's first task launch is charged once, from job submit") {
    val m = new BenchMetrics
    m.onJobStart(SparkListenerJobStart(1, 1000L, Seq(stage(5), stage(6))))
    m.onTaskStart(taskStart(5, 1250L))
    m.onTaskStart(taskStart(6, 1900L))
    m.onJobEnd(SparkListenerJobEnd(1, 2000L, JobSucceeded))
    assert(m.snapshot().schedDelayMs == 250L)
  }
}
