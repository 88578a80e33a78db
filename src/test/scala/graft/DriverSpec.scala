package graft

import java.nio.file.{Files, Paths}

/** The driver mains' shared steps: the timed noop run, and Verify's
  * per-gate dump, which must never leave a previous run's result
  * behind a failed gate.
  */
class DriverSpec extends SparkSpec {

  test("Verify.dump: a gate that fails leaves no directory from an earlier run") {
    val out = TempDirs.scratchString("graft_verify_dump_")
    Verify.dump(out, "g")(spark.range(3).toDF())
    assert(Files.isDirectory(Paths.get(out, "g")))
    assert(spark.read.parquet(s"$out/g").count() == 3)
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err) {
      Verify.dump(out, "g")(throw new IllegalStateException("no plan"))
    }
    assert(!Files.exists(Paths.get(out, "g")))
    assert(err.toString.contains("[verify] g failed: java.lang.IllegalStateException: no plan"))
  }

  test("runNoop: seconds and the counters of every job the run fired") {
    val meter = BenchMetrics.install(spark.sparkContext)
    try {
      val (sec, snap) = Driver.runNoop(spark, meter, "wordcount", sf0001)
      assert(sec > 0)
      assert(snap.jobs > 0 && snap.tasks >= snap.jobs && snap.shuffleRecs > 0)
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
