package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the span that caused it (0 = none
  * known when recorded; the analysis assigns those by time). Times are
  * epoch milliseconds, `attrs` are the counts recorded at the boundary.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double]) {
  def json: String = {
    val a = attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"kind":${Json.str(kind)},""" +
      s""""name":${Json.str(name)},"start_ms":${Json.num(startMs)},""" +
      s""""end_ms":${Json.num(endMs)},"attrs":$a}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as the timestamps Spark puts in its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span store plus the listeners that feed it from Spark's
  * public listener APIs: [[SparkListener]] (jobs, stages, task
  * metrics), [[QueryExecutionListener]] (Catalyst phase times) and
  * [[StreamingQueryListener]] (micro-batch progress).
  *
  * Driver-side spans (query, build, execute) are opened by the harness.
  * The open span's id travels to jobs as the `perfbench.span` local
  * property, which streaming threads inherit from the thread that
  * started them, so every job knows the span that caused it.
  */
final class Trace {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { spans.add(s); touch() }
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  /** Wait until no listener event has arrived for 250 ms (at most 3 s):
    * the listener bus is asynchronous and lags the action that posted.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 3000L
    while (System.currentTimeMillis() < deadline &&
      System.currentTimeMillis() - lastEventMs.get() < 250L) Thread.sleep(20)
  }

  // --- SparkListener: jobs, stages, tasks -----------------------------
  private final case class JobOpen(span: Long, parent: Long, startMs: Long,
                                   stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, JobOpen]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSums =
    new ConcurrentHashMap[(Int, Int), ConcurrentHashMap[String, Double]]()

  private def bump(m: ConcurrentHashMap[String, Double], k: String, v: Double): Unit =
    m.merge(k, v, (a: Double, b: Double) => a + b)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanProperty))).map(_.toLong).getOrElse(0L)
      val id = nextId()
      jobs.put(e.jobId, JobOpen(id, parent, e.time, e.stageIds))
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
      touch()
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      // submit -> first task launch of the job: the scheduler's delay
      if (stageJob.containsKey(e.stageId))
        firstLaunch.merge(stageJob.get(e.stageId), e.taskInfo.launchTime,
          (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.min(a, b)))
      touch()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = stageSums.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new ConcurrentHashMap[String, Double]())
      bump(m, "tasks", 1)
      val t = e.taskMetrics
      if (t != null) {
        bump(m, "run_ms", t.executorRunTime.toDouble)
        bump(m, "cpu_ms", t.executorCpuTime / 1e6)
        bump(m, "gc_ms", t.jvmGCTime.toDouble)
        bump(m, "deser_ms", t.executorDeserializeTime.toDouble)
        bump(m, "shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
        bump(m, "shuffle_write_recs", t.shuffleWriteMetrics.recordsWritten.toDouble)
        bump(m, "shuffle_write_ms", t.shuffleWriteMetrics.writeTime / 1e6)
        bump(m, "fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime.toDouble)
        bump(m, "shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead.toDouble)
        bump(m, "shuffle_read_recs", t.shuffleReadMetrics.recordsRead.toDouble)
        bump(m, "input_bytes", t.inputMetrics.bytesRead.toDouble)
        bump(m, "input_recs", t.inputMetrics.recordsRead.toDouble)
        bump(m, "spill_bytes",
          (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
        m.merge("peak_exec_mem_bytes", t.peakExecutionMemory.toDouble,
          (a: Double, b: Double) => math.max(a, b))
      }
      touch()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val sums = Option(stageSums.remove((info.stageId, info.attemptNumber())))
        .map(_.asScala.toMap).getOrElse(Map.empty[String, Double])
      val start = info.submissionTime.getOrElse(0L).toDouble
      val end = info.completionTime.map(_.toDouble).getOrElse(start)
      val job =
        if (stageJob.containsKey(info.stageId)) Option(jobs.get(stageJob.get(info.stageId)))
        else None
      add(Span(nextId(), job.map(_.span).getOrElse(0L), "stage",
        s"stage ${info.stageId}.${info.attemptNumber()}", start, end,
        sums + ("failed" -> (if (info.failureReason.isDefined) 1.0 else 0.0))))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) {
        val launch = Option(firstLaunch.remove(e.jobId)).map(_.toLong)
        val delay = launch.map(l => math.max(0L, l - j.startMs)).getOrElse(0L)
        val failed = e.jobResult match {
          case JobSucceeded => 0.0
          case _ => 1.0
        }
        add(Span(j.span, j.parent, "job", s"job ${e.jobId}", j.startMs.toDouble,
          e.time.toDouble, Map("delay_ms" -> delay.toDouble,
            "stages" -> j.stages.size.toDouble, "failed" -> failed)))
      }
    }
  }

  // --- QueryExecutionListener: Catalyst phases --------------------------
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(Span(nextId(), 0L, "plan", phase, p.startTimeMs.toDouble,
          p.endTimeMs.toDouble, Map.empty))
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  // --- StreamingQueryListener: micro-batches ---------------------------
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      // named by stream, so the analysis can find each stream's last batch
      add(Span(nextId(), 0L, "batch", Option(p.name).getOrElse(p.id.toString), start,
        start + dur.getOrElse("triggerExecution", 0.0),
        dur.map { case (k, v) => s"${k}_ms" -> v } ++ Map(
          "batch_id" -> p.batchId.toDouble,
          "input_rows" -> p.numInputRows.toDouble,
          "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
          "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum)))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
}
