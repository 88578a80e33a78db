package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM: one closed-loop client on `local[4]`.
  *
  * Order of a run:
  *  1. set-up 1, timed from process start: session, then the warm-up
  *     query and the workload's staged derivations side by side (at
  *     most four threads);
  *  2. check pass (untimed): every query once, outputs kept for the
  *     correctness check; then the workload's warm passes (untimed);
  *  3. timed passes over the fixed query order until `seconds` have
  *     passed and the workload's fewest passes are done (at least four
  *     with tracing, half of them traced, so the difference is the
  *     tracing overhead);
  *  4. set-ups 2..n: a fresh session each, warm-up and staging again.
  *
  * Every exception is recorded with its query, class and message and
  * counted as a failure. The record goes to `<out>/record.json`; a
  * traced run also writes its spans, once, to `<out>/spans.json`.
  *
  * Usage: `perfbench.Harness --workload W --data DIR --out DIR
  *   --seconds S --trace 0|1`
  */
object Harness {
  val Cores = 4
  val SetUps = 3

  final case class Failure(phase: String, query: String, error: Throwable) {
    def json: String =
      s"""{"phase":${Json.str(phase)},"query":${Json.str(query)},""" +
        s""""class":${Json.str(error.getClass.getName)},""" +
        s""""message":${Json.str(String.valueOf(error.getMessage).take(2000))}}"""
  }

  final case class QueryRun(name: String, wallS: Double, buildS: Double,
                            execS: Double, ok: Boolean) {
    def json: String =
      s"""{"name":${Json.str(name)},"wall_s":${Json.num(wallS)},""" +
        s""""build_s":${Json.num(buildS)},"exec_s":${Json.num(execS)},"ok":$ok}"""
  }

  final case class Pass(traced: Boolean, totalS: Double, runs: Seq[QueryRun]) {
    def json: String =
      s"""{"traced":$traced,"total_s":${Json.num(totalS)},""" +
        s""""queries":${runs.map(_.json).mkString("[", ",", "]")}}"""
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = Workloads.all(opts("workload"))
    val data = opts("data")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    Files.createDirectories(Paths.get(out, "results"))
    Files.createDirectories(Paths.get(out, "scratch"))

    val failures = ArrayBuffer[Failure]()
    val attempted = new java.util.concurrent.atomic.AtomicInteger(0)
    def attempt[T](phase: String, query: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      try Some(body) catch {
        case NonFatal(e) =>
          failures.synchronized(failures += Failure(phase, query, e))
          System.err.println(s"[perfbench] $phase $query failed: $e")
          None
      }
    }

    // --- set-up 1, from process start --------------------------------
    val spark = GraftSession.builder("perfbench", s"local[$Cores]", Cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def ctx(s: SparkSession) = Ctx(s, data, s"$out/results", s"$out/scratch")

    /** Warm-up and staging chains, side by side on at most four
      * threads; returns (warm ms, per-chain seconds).
      */
    def setUp(s: SparkSession, label: String): (Double, Seq[(String, Double)]) = {
      val c = ctx(s)
      val tasks = ("warm-up" -> workload.warmUp) +: workload.staging.map {
        case (name, derive) => s"staging.$name" -> derive
      }
      val times = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, tasks.size))
      try {
        tasks.map { case (name, task) =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val t0 = System.nanoTime()
              attempt(label, name)(task(c))
              times.put(name, secondsSince(t0))
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      (times.get("warm-up") * 1000,
        workload.staging.map { case (n, _) => n -> times.get(s"staging.$n") })
    }

    val (warmMs, staging) = setUp(spark, "setup")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1000.0)

    // --- check pass ------------------------------------------------
    val c = ctx(spark)
    val queries = workload.queries(trace)
    val check0 = System.nanoTime()
    val checked = queries.filter { q =>
      attempt("check", q.name)(q.check(c, q.build(c))).isDefined
    }.map(_.name)
    val checkS = secondsSince(check0)
    val warmPassesS = (1 to workload.warmPasses).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach(q => attempt("warm", q.name)(q.sink(c, q.build(c))))
      secondsSince(t0)
    }

    // --- timed passes ----------------------------------------------
    val tracer = new Trace
    val sc = spark.sparkContext
    val passes = ArrayBuffer[Pass]()
    val minPasses = if (trace) math.max(4, workload.minPasses) else workload.minPasses
    val timed0 = System.nanoTime()
    val workloadSpan = tracer.nextId()
    val workloadStart = Clock.nowMs
    while (passes.size < minPasses || secondsSince(timed0) < seconds) {
      // untraced, traced, traced, untraced, ...: warm-up drift over the
      // run cancels out of the traced/untraced comparison
      val traced = trace && Set(1, 2).contains(passes.size % 4)
      if (traced) tracer.register(spark)
      val passSpan = if (traced) tracer.nextId() else 0L
      val passStart = Clock.nowMs
      val p0 = System.nanoTime()
      val runs = queries.map { q =>
        val querySpan = if (traced) tracer.nextId() else 0L
        val buildSpan = if (traced) tracer.nextId() else 0L
        val execSpan = if (traced) tracer.nextId() else 0L
        val qStart = Clock.nowMs
        val t0 = System.nanoTime()
        var t1 = t0
        var mid = qStart
        val ok = attempt("timed", q.name) {
          if (traced) sc.setLocalProperty(Trace.SpanProperty, buildSpan.toString)
          val df = q.build(c)
          t1 = System.nanoTime()
          mid = Clock.nowMs
          if (traced) sc.setLocalProperty(Trace.SpanProperty, execSpan.toString)
          q.sink(c, df)
        }.isDefined
        sc.setLocalProperty(Trace.SpanProperty, null)
        val t2 = System.nanoTime()
        if (ok) {
          val end = Clock.nowMs
          if (traced) {
            tracer.add(Span(querySpan, passSpan, "query", q.name, qStart, end, Map.empty))
            tracer.add(Span(buildSpan, querySpan, "build", q.name, qStart, mid, Map.empty))
            tracer.add(Span(execSpan, querySpan, "execute", q.name, mid, end, Map.empty))
          }
        }
        QueryRun(q.name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
      }
      val total = secondsSince(p0)
      if (traced) {
        tracer.add(Span(passSpan, workloadSpan, "pass", s"pass ${passes.size}",
          passStart, Clock.nowMs, Map.empty))
        tracer.drain()
        tracer.unregister(spark)
      }
      passes += Pass(traced, total, runs)
    }
    if (trace)
      tracer.add(Span(workloadSpan, 0L, "workload", workload.name, workloadStart,
        Clock.nowMs, Map.empty))

    // --- set-ups 2..n in fresh sessions ----------------------------
    for (i <- 2 to SetUps) {
      val t0 = System.nanoTime()
      setUp(spark.newSession(), s"setup$i")
      setups += secondsSince(t0)
    }

    // --- record ----------------------------------------------------
    def pairs(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble)
      .getOrElse(0.0)
    val record =
      s"""{"workload":${Json.str(workload.name)},"cores":$Cores,""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""spark_version":${Json.str(spark.version)},""" +
        s""""java_version":${Json.str(System.getProperty("java.version"))},""" +
        s""""setups_s":${setups.map(Json.num).mkString("[", ",", "]")},""" +
        s""""warm_ms":${Json.num(warmMs)},"staging_s":${pairs(staging)},""" +
        s""""check_s":${Json.num(checkS)},""" +
        s""""warm_passes_s":${warmPassesS.map(Json.num).mkString("[", ",", "]")},""" +
        s""""checked":${checked.map(Json.str).mkString("[", ",", "]")},""" +
        s""""passes":${passes.map(_.json).mkString("[", ",", "]")},""" +
        s""""attempted":${attempted.get},""" +
        s""""failures":${failures.map(_.json).mkString("[", ",", "]")},""" +
        s""""peak_rss_mb":${Json.num(hwmKb / 1024)}}"""
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(out, "oracle_sql.json"), oracle)
    if (trace)
      Files.writeString(Paths.get(out, "spans.json"),
        tracer.all.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    Files.writeString(Paths.get(out, "record.json"), record + "\n")
    spark.stop()
  }
}
