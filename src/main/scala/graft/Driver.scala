package graft

import org.apache.spark.sql.SparkSession

/** The steps the driver mains (`Bench`, `Verify`, `SoakProbe`,
  * `PlanSnapshot`) share over the [[SparkEntry]] gate registry.
  */
object Driver {

  /** `local[$SPARK_GRAFT_CPUS]` (else `defaultCpus`), as many shuffle
    * partitions, logging at `logLevel`.
    */
  def session(app: String, defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = GraftSession.builder(app, s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `names`, after a `require` that each is a registered gate: call it
    * before Spark starts.
    */
  def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains).distinct.sorted
    require(unknown.isEmpty, s"no gate named ${unknown.mkString(", ")}")
    names
  }

  /** One run of `gate` on `dir` into the noop sink: wall seconds, taken
    * before the listener bus is drained, and `meter`'s counters over
    * every job the run fired.
    */
  def runNoop(spark: SparkSession, meter: BenchMetrics, gate: String,
              dir: String): (Double, BenchMetrics.Snap) = {
    meter.reset()
    val t0 = System.nanoTime()
    SparkEntry.queries(gate)(spark, dir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext)
    (sec, meter.snapshot())
  }

  /** `body`'s value, or — whatever it throws — one stderr line
    * `[prefix] name failed: <class>: <message>` and the exception class
    * for the caller to record.
    */
  def attempt[A](prefix: String, name: String)(body: => A): Either[String, A] =
    try Right(body)
    catch { case e: Throwable =>
      Console.err.println(s"[$prefix] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      Left(e.getClass.getName)
    }
}
