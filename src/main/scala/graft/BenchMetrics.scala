package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}

/** Deterministic per-query run counters for the bench (round 15,
  * VERDICT r14 #1/#2): wall seconds alone cannot distinguish a code
  * regression from host drift — the r14 round burned its adjudication
  * budget arguing seconds-vs-noise for the tiny-jobs query family.
  * Job count, task count and shuffle bytes/records ARE deterministic
  * for a fixed plan (AQE decisions at a fixed SF included, observed
  * stable across sweeps), so recording them alongside seconds makes
  * the classification mechanical: seconds up with counters flat is
  * host; counters up is code. Scheduler latency (job submit → first
  * task launch, summed per query) additionally decomposes the
  * fixed-overhead class: a query spending most of its wall time there
  * is paying per-job scheduling, not compute.
  *
  * One listener instance is registered per session and windowed with
  * [[reset]]/[[snapshot]]: the listener bus is asynchronous, so
  * [[snapshot]] first drains (bounded wait until every started job has
  * ended — by the time an action returns, its jobs are finished, only
  * the events may lag). Captures include jobs from OTHER threads
  * (streaming micro-batch executions), which is the point: the
  * stateful streaming gates' cost is per-batch machinery, invisible to
  * plan metrics.
  */
final class BenchMetrics extends SparkListener {
  private val jobsStarted = new AtomicInteger(0)
  private val jobsEnded = new AtomicInteger(0)
  private val tasks = new AtomicInteger(0)
  private val shuffleBytes = new AtomicLong(0L)
  private val shuffleRecs = new AtomicLong(0L)
  private val schedDelayMs = new AtomicLong(0L)
  // stageId -> job submit ms, dropped at first task launch of any of
  // the job's stages (its entry alone measures submit -> first launch)
  private val pendingStages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  // boxed values: `remove` of a missing job must read null, not 0L
  private val jobSubmitMs =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    jobSubmitMs.put(e.jobId, e.time)
    e.stageIds.foreach { sid => stageJob.put(sid, e.jobId); pendingStages.add(sid) }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val sid = e.stageId
    if (pendingStages.remove(sid)) {
      val jid = stageJob.get(sid)
      val sub = jobSubmitMs.remove(jid)
      if (sub != null) {
        // first task of the whole JOB: charge submit -> launch once,
        // and stop tracking the job's other stages
        schedDelayMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub.longValue))
        stageJob.forEach((s, j) => if (j == jid) pendingStages.remove(s))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    jobSubmitMs.remove(e.jobId)
  }

  def reset(): Unit = {
    jobsStarted.set(0); jobsEnded.set(0); tasks.set(0)
    shuffleBytes.set(0L); shuffleRecs.set(0L); schedDelayMs.set(0L)
    pendingStages.clear(); jobSubmitMs.clear(); stageJob.clear()
  }

  /** Drain the async bus (every started job has posted its end event,
    * bounded wait), then return the window's counters.
    */
  def snapshot(): BenchMetrics.Snap = {
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(5)
    BenchMetrics.Snap(jobsStarted.get(), tasks.get(), shuffleBytes.get(),
      shuffleRecs.get(), schedDelayMs.get())
  }
}

object BenchMetrics {
  /** One query run's deterministic counters. */
  final case class Snap(jobs: Int, tasks: Int, shuffleBytes: Long,
                        shuffleRecs: Long, schedDelayMs: Long) {
    def json: String =
      s"""{"jobs":$jobs,"tasks":$tasks,"shuffle_bytes":$shuffleBytes,""" +
        s""""shuffle_recs":$shuffleRecs,"sched_ms":$schedDelayMs}"""
  }

  /** Register a fresh windowed listener on the context. */
  def install(sc: SparkContext): BenchMetrics = {
    val m = new BenchMetrics
    sc.addSparkListener(m)
    m
  }
}
