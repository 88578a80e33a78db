package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints the per-query JSON line, BRACKETED by
  * an identical compact headline line before and after it (captures
  * truncated from either direction keep the total + failure list).
  * Queries are fully materialized through the noop sink (not count(),
  * which lets Catalyst prune most of the work); a small warmup query
  * absorbs JVM/session startup so measured numbers are steady-state.
  *
  *  - HEAVIEST-FIRST order ([[orderNames]]) from the committed
  *    ordering prior, so a sweep cut by its time budget truncates the
  *    cheap tail, never the flagship queries (an alphabetical sweep
  *    once lost its tail, `wordcount` included, at 600 s a query).
  *    The output map stays name-keyed, so ordering is invisible to
  *    consumers.
  *  - INCREMENTAL flush: the per-query map is rewritten to the output
  *    path ([[paths]]) after EVERY query (marked "partial":true until
  *    the sweep completes), so a killed sweep keeps what it measured.
  *  - ADAPTIVE repeats: run 1 pays Catalyst plan compile + JIT (~3× on
  *    complex plans), so every query reports the min of ≥ 2 runs; a
  *    third runs when the first two disagree by > 20% or the min
  *    exceeds 1 s. The heavy minimums regression adjudication reads
  *    keep min-of-3; cheap stable queries cut the sweep by ~⅓.
  *  - STAGING pre-warm: the session-staged families
  *    (DedupStage/CfIndex/AnnIndex) derive their shared state BEFORE
  *    any timed run and report its cost as the top-level `staging`
  *    field; otherwise whichever staged gate ran first would carry the
  *    derivation in its run 1, order-dependently. Deliberately-live
  *    derivations (the d=2 fuzzy gate) are not pre-warmed.
  */
object Bench {
  /** Sweep order: by DESCENDING last-capture time, alphabetical within
    * ties; queries with no prior first, as unknown cost.
    */
  private[graft] def orderNames(names: Seq[String],
                                prior: Map[String, Double]): Seq[String] =
    names.sorted.sortBy(n => -prior.getOrElse(n, Double.MaxValue))

  /** Excursion detector: a lone host stall can read 13–20× the
    * same-code steady state (`word_hits` once read 66.9 s against
    * 3.3 s) and would become both the record and the next sweep's
    * ordering prior. A measured min is an excursion worth one
    * end-of-sweep re-run when it exceeds 3× the committed prior and is
    * expensive enough (> 1 s) that the ratio is not sub-second
    * noise-floor jitter. Failed queries (−1) are not excursions — they
    * must stay loud.
    */
  private[graft] def isExcursion(min: Double, prior: Double): Boolean =
    prior > 0 && min > 3 * prior && min > 1.0

  /** (output, prior) paths from the environment and the working
    * directory. The prior defaults to the committed `BENCH_SELF.json`;
    * the output defaults to the gitignored `target/BENCH_SELF.json`,
    * so a default sweep never rewrites the prior it ordered by.
    * `SPARK_GRAFT_BENCH_OUT` and `SPARK_GRAFT_BENCH_PRIOR` override
    * either.
    */
  private[graft] def paths(env: Map[String, String],
                           cwd: String): (String, String) =
    (env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"$cwd/target/BENCH_SELF.json"),
     env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", s"$cwd/BENCH_SELF.json"))

  /** The sweep summary that both the output file and stdout print:
    * the name-sorted per-query map (JSON), the failed queries in name
    * order, and the total. A failed query (−1) must make the bench
    * LOUDER, not faster: it lands in `failed` and adds a 600 s penalty
    * to the total.
    */
  private[graft] final case class Summary(qs: String, failed: Seq[String],
                                          total: Double) {
    def failedJson: String = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  private[graft] def summarize(done: Seq[(String, Double)]): Summary = {
    val sorted = done.sortBy(_._1)
    val failed = sorted.collect { case (k, v) if v < 0 => k }
    Summary(Json.obj(sorted.map { case (k, v) => k -> v.toString }), failed,
      sorted.map(_._2).filter(_ >= 0).sum + 600.0 * failed.size)
  }

  /** [[Driver.attempt]] under the `[bench]` prefix that also records a
    * failure's exception class under `name` in `failed` (the record's
    * `failed_class`): every failure the sweep catches, not only the
    * queries that read −1.
    */
  private[graft] def attempt[A](failed: scala.collection.mutable.Map[String, String],
                                name: String)(body: => A): Option[A] =
    Driver.attempt("bench", name)(body).left.map(failed(name) = _).toOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Driver.session("graft-bench", 4, "WARN")

    // staging chains record their failures from pool threads
    val failedClass = scala.collection.concurrent.TrieMap[String, String]()
    def attempt[A](name: String)(body: => A): Option[A] =
      Bench.attempt(failedClass, name)(body)

    attempt("entry")(SparkEntry.entry(spark).count())

    // derive the session-staged family state up front (see scaladoc);
    // each getter localCheckpoints/saves on first call, so count() /
    // the cheapest consumer forces materialization.
    // The nine family chains are INDEPENDENT, so they overlap on a
    // small driver thread pool (Spark happily runs concurrent jobs;
    // each chain's tail leaves cores the next chain's tasks back-fill).
    // Within a chain order is preserved (ccLabels derives from pairs,
    // fuzzyClusters from fuzzyPairs) so dependent derivations stay
    // single-computed. Sequential staging measured
    // 36-77 s; overlapped ~⅓ of that on the same host. Best-effort: a
    // failed chain moves its cost into its gates' run 1, and is
    // reported on stderr and in `failed_class` as `staging chain <i>`.
    val stagingSec: Double = {
      val t0 = System.nanoTime()
      import graft.sources.{AnnIndex, CfIndex, DedupStage, GraphStage, MediaStage}
      val chains: Seq[() => Unit] = Seq(
        () => MediaStage.media(spark, sfDir).count(),
        () => GraphStage.copurchase(spark, sfDir).count(),
        () => GraphStage.wordEdgeCounts(spark, sfDir).count(),
        () => { DedupStage.pairs(spark, sfDir).count()
                DedupStage.ccLabels(spark, sfDir).count() },
        () => DedupStage.minhashPairs(spark, sfDir).count(),
        () => DedupStage.islands(spark, sfDir).count(),
        () => { DedupStage.fuzzyPairs(spark, sfDir).count()
                DedupStage.fuzzyClusters(spark, sfDir).count() },
        () => CfIndex.cfNeighbors(spark, sfDir).count(),
        () => AnnIndex.annIncrementDrift(spark, sfDir).count())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      chains.zipWithIndex.foreach { case (c, i) =>
        pool.execute(() => attempt(s"staging chain $i")(c()))
      }
      pool.shutdown()
      // staging ends when the workers have exited
      try pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS)
      catch {
        case _: InterruptedException =>
          pool.shutdownNow()
          Thread.currentThread().interrupt()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // deterministic run counters: jobs, tasks, shuffle bytes/records,
    // scheduler latency per query — recorded alongside seconds so
    // host-vs-code adjudication is mechanical (benchdiff
    // auto-classifies: seconds up + counters flat = host)
    val meter = BenchMetrics.install(spark.sparkContext)

    def once(name: String): Option[(Double, BenchMetrics.Snap)] =
      attempt(name)(Driver.runNoop(spark, meter, name, sfDir))

    // last-capture per-query seconds, for the heaviest-first order.
    // Regex-parsed ("name":N pairs) — the non-query headline keys it
    // also picks up ("value", "sf") never collide with query names.
    val (outPath, priorPath) = paths(sys.env, sys.props.getOrElse("user.dir", "."))
    val prior: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(priorPath)), "UTF-8")
      "\"([A-Za-z0-9_]+)\":(-?[0-9][-0-9.Ee]*)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not read ordering prior $priorPath: " +
        s"${e.getClass.getName}: ${e.getMessage}")
      Map.empty
    }
    val names = orderNames(SparkEntry.queries.keys.toSeq, prior)

    val qmetrics = scala.collection.mutable.Map[String, BenchMetrics.Snap]()
    val excursions = scala.collection.mutable.Map[String, Double]()

    def writeOut(done: Seq[(String, Double)], partial: Boolean): Unit = {
      val summary = summarize(done)
      val flag = if (partial) "\"partial\":true," else ""
      val qm = Json.obj(qmetrics.map { case (k, s) => k -> s.json })
      val exc = Json.obj(excursions.map { case (k, v) => k -> v.toString })
      val fc = Json.obj(failedClass.map { case (k, c) => k -> Json.quote(c) })
      val full = s"""{"metric":"total",$flag"value":${summary.total},""" +
        s""""unit":"sec","n_queries":${done.size},"queries":${summary.qs},""" +
        s""""failed":${summary.failedJson},"staging":$stagingSec,""" +
        s""""qmetrics":$qm,"excursions":$exc,""" +
        s""""failed_class":$fc,"sf":"$sfDir"}"""
      try {
        val out = java.nio.file.Paths.get(outPath)
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
      } catch {
        case e: Throwable => System.err.println(
          s"[bench] could not write $outPath: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

    // min-of-runs seconds AND the min run's counters (the clean run is
    // the one adjudication reads; a retried-stage excursion's inflated
    // task count must not pollute the deterministic record). A failed
    // run makes the query −1.
    def measure(name: String): Double = {
      val runs = scala.collection.mutable.ArrayBuffer(once(name), once(name))
      // third run when the first two disagree beyond host noise OR
      // the query is expensive — regression adjudication reads the
      // heavy queries' minimums, so those keep full min-of-3; the
      // ~2/3 of queries that are cheap AND stable stay at two runs
      runs.flatten.map(_._1).toList match {
        case List(t1, t2) if math.abs(t1 - t2) > 0.2 * math.min(t1, t2) ||
            math.min(t1, t2) > 1.0 => runs += once(name)
        case _ =>
      }
      if (runs.exists(_.isEmpty)) -1.0
      else {
        val (t, snap) = runs.flatten.minBy(_._1)
        qmetrics(name) = snap
        t
      }
    }

    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    names.foreach { name =>
      results += name -> measure(name)
      writeOut(results.toSeq, partial = true)
    }
    // end-of-sweep excursion retry: a min > 3× its committed prior is
    // re-measured ONCE now that the host has moved past whatever
    // stalled it; the original value is preserved in the
    // `excursions` field so the stall is recorded, not laundered, and
    // the query's reported value stays the min over ALL its runs —
    // the sweep's existing methodology.
    for (i <- results.indices) {
      val (name, t) = results(i)
      if (isExcursion(t, prior.getOrElse(name, 0.0)))
        once(name).filter(_._1 < t).foreach { case (t2, s2) =>
          excursions(name) = t
          results(i) = name -> t2
          qmetrics(name) = s2
        }
    }
    if (excursions.nonEmpty) writeOut(results.toSeq, partial = true)
    val summary = summarize(results.toSeq)
    // compact headline FIRST: a tail-truncated capture of the big
    // per-query line must still retain the total + failure list
    val headline =
      s"""{"metric":"total","value":${summary.total},"unit":"sec","n_queries":${results.size},"failed":${summary.failedJson},"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${summary.total},"unit":"sec","queries":${summary.qs},"failed":${summary.failedJson},"staging":$stagingSec,"sf":"$sfDir"}"""
    println(headline)
    println(full)
    // ...and AGAIN after it: a capture that keeps only the END of the
    // output loses the leading headline — emitting it on both sides
    // survives truncation from either direction.
    println(headline)
    // A stdout capture can keep a fraction of the per-query map; the
    // full map is also persisted at outPath, without "partial".
    writeOut(results.toSeq, partial = false)
    spark.stop()
  }
}
