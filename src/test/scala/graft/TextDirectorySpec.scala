package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExternalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.{GraftSparkInternals, HashPartitioner, ShuffleDependency}

import graft.operators.WordCount
import graft.sources.TextDirectory
import graft.streaming.Streams

/** End-to-end test of the reference-fidelity source/sink: a directory
  * of plain-text files in, `word count` text shards out — the complete
  * reference program (`README.md:4`) as one library call.
  */
class TextDirectorySpec extends SparkSpec {

  private def withCorpus[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft_corpus").toFile
    Files.writeString(new java.io.File(dir, "f1.txt").toPath, "The cat sat\non the Mat!")
    Files.writeString(new java.io.File(dir, "f2.txt").toPath, "the dog")
    try f(dir.getAbsolutePath)
    finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  test("wordCountDir counts words across all files in a folder") {
    withCorpus { dir =>
      val got = TextDirectory.wordCountDir(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("the" -> 3L, "cat" -> 1L, "sat" -> 1L, "on" -> 1L,
        "mat" -> 1L, "dog" -> 1L))
    }
  }

  test("wordCountPerFile keys by originating file") {
    withCorpus { dir =>
      val got = TextDirectory.wordCountPerFile(spark, dir).collect()
        .map(r => (r.getString(0).split('/').last, r.getString(1), r.getLong(2)))
      assert(got.count(_._1 == "f2.txt") == 2) // the, dog
      assert(got.filter(t => t._1 == "f1.txt" && t._2 == "the").head._3 == 2L)
    }
  }

  test("sharded sink writes sorted `word count` lines; merged realizes TODO 3") {
    withCorpus { dir =>
      val counts = TextDirectory.wordCountDir(spark, dir)
      val out = Files.createTempDirectory("graft_out").toFile.getAbsolutePath
      TextDirectory.writeSharded(counts, s"$out/sharded", 2)
      TextDirectory.writeMerged(counts, s"$out/merged")
      val sharded = spark.read.textFile(s"$out/sharded").collect()
      assert(sharded.toSet == Set("the 3", "cat 1", "sat 1", "on 1", "mat 1", "dog 1"))
      val merged = spark.read.textFile(s"$out/merged").collect()
      assert(merged.toSeq == merged.sorted.toSeq && merged.length == 6)
    }
  }

  /** Three files over 300 distinct words (more than the 8 shards), with
    * case and punctuation the cleaner folds and a skewed count per word.
    */
  private def withWideCorpus[T](f: String => T): T = {
    val words = for (a <- 'a' to 'o'; b <- 'a' to 't') yield s"$a$b"
    val dir = Files.createTempDirectory("graft_wide").toFile
    for (i <- 0 until 3) {
      val text = words.zipWithIndex.filter(_._2 % 3 == i).map { case (w, j) =>
        Seq.fill(1 + j % 5)(if (j % 7 == 0) w.capitalize + "!" else w).mkString(" ")
      }.mkString("\n")
      Files.writeString(new java.io.File(dir, s"f$i.txt").toPath, text)
    }
    try f(dir.getAbsolutePath)
    finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The `part-` files of a sharded write, each as its (word, count) lines. */
  private def shards(out: String): Seq[Seq[(String, Long)]] =
    new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).toSeq
      .map(f => Files.readAllLines(f.toPath).asScala.toSeq.map { l =>
        val Array(w, c) = l.split(' '); w -> c.toLong
      })

  /** Runs `f`, then returns its result, the jobs it started, the number
    * of its stages that wrote shuffle output, and the shuffle exchanges
    * of the final physical plan of each SQL command it ran.
    */
  private def executed[T](f: => T): (T, Int, Int, Seq[ShuffleExchangeExec]) = {
    val sc = spark.sparkContext
    @volatile var jobs, shuffleStages = 0
    val exchanges = new java.util.concurrent.ConcurrentLinkedQueue[ShuffleExchangeExec]()
    val stages = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffleStages += 1
    }
    val plans = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        exchanges.addAll(collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }.asJava)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSparkInternals.waitListenerBusEmpty(sc)
    sc.addSparkListener(stages)
    spark.listenerManager.register(plans)
    val result = try f
    finally {
      GraftSparkInternals.waitListenerBusEmpty(sc)
      sc.removeSparkListener(stages)
      spark.listenerManager.unregister(plans)
    }
    (result, jobs, shuffleStages, exchanges.asScala.toSeq)
  }

  /** Every shuffle dependency in an RDD's lineage. */
  private def shuffleDeps(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: shuffleDeps(s.rdd)
      case d => shuffleDeps(d.rdd)
    }

  test("sharded sink: both spines write exactly numShards sorted files, one per word") {
    withWideCorpus { dir =>
      val lines = spark.read.textFile(dir).toDF("text")
      val expected = counts(WordCount.wordCount(lines))
      assert(expected.size == 300)
      val out = Files.createTempDirectory("graft_shards").toFile.getAbsolutePath
      for ((spine, df) <- Seq("df" -> TextDirectory.wordCountDir(spark, dir),
                              "rdd" -> WordCount.wordCountRdd(spark, lines))) {
        TextDirectory.writeSharded(df, s"$out/$spine", 8)
        val files = shards(s"$out/$spine")
        val n = files.size
        assert(n == 8, s"$spine spine")
        files.foreach(f => assert(f.map(_._1) == f.map(_._1).sorted, s"$spine shard unsorted"))
        val all = files.flatten
        assert(all.map(_._1).distinct.size == all.size, s"$spine: a word in two shards")
        assert(all.toMap == expected, spine)
      }
    }
  }

  test("sharded sink: the DataFrame spine shuffles once, the RDD spine twice with no range exchange") {
    withWideCorpus { dir =>
      val out = Files.createTempDirectory("graft_stages").toFile.getAbsolutePath
      val (_, _, dfShuffles, dfExchanges) = executed(
        TextDirectory.writeSharded(TextDirectory.wordCountDir(spark, dir), s"$out/df", 8))
      assert(dfShuffles == 1 && dfExchanges.size == 1,
        s"DataFrame spine: $dfShuffles shuffle stages, exchanges $dfExchanges")
      assert(dfExchanges.head.outputPartitioning.numPartitions == 8)

      val (rdd, buildJobs, _, _) =
        executed(WordCount.wordCountRdd(spark, spark.read.textFile(dir).toDF("text")))
      assert(buildJobs == 0, "building the RDD spine ran a job (a range partitioner's sample)")
      val deps = rdd.queryExecution.logical.collect { case e: ExternalRDD[_] => e.rdd }
        .flatMap(shuffleDeps)
      assert(deps.size == 1 && deps.head.partitioner.isInstanceOf[HashPartitioner] &&
        !deps.head.mapSideCombine, s"RDD spine lineage: ${deps.map(_.partitioner)}")
      val (_, _, rddShuffles, rddExchanges) = executed(
        TextDirectory.writeSharded(rdd, s"$out/rdd", 8))
      assert(rddShuffles == 2, s"RDD spine: $rddShuffles shuffle stages")
      assert(rddExchanges.map(_.outputPartitioning) match {
        case Seq(h: HashPartitioning) => h.numPartitions == 8
        case _ => false
      }, s"RDD spine under the sink: $rddExchanges")
    }
  }

  private val partitions = "spark.sql.shuffle.partitions"
  private val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"
  private val provider = "spark.sql.streaming.stateStore.providerClass"

  /** On a fresh session whose keys start as `start` (a value, or
    * unset), runs `ok` and then `fail`, which must throw; afterwards
    * every key must read exactly as before: an unset key stays unset,
    * a set key keeps its value.
    */
  private def assertScopeExact(start: Seq[(String, Option[String])],
                               ok: SparkSession => Unit,
                               fail: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    start.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    def state = start.map { case (k, _) => (s.conf.getOption(k), s.conf.getAll.contains(k)) }
    val before = state
    assert(before.map(_._2) == start.map(_._2.isDefined), s"start state $start")
    ok(s)
    assert(state == before, s"after a normal return from $start")
    intercept[Exception](fail(s))
    assert(state == before, s"after a throwing body from $start")
  }

  /** An events table whose one row has a NULL user_id: a stream over it
    * fails at run time, when the row is decoded as a primitive Long.
    */
  private lazy val nullUserEvents: String = {
    val dir = TempDirs.scratch("graft_bad_events_")
    val tmp = TempDirs.scratch("graft_bad_events_tmp_")
    spark.createDataFrame(Seq((Option.empty[Long], 0L, 1.0, "view")))
      .toDF("user_id", "ts", "value", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("events.parquet"))
    dir.toString
  }

  // the three callers of GraftConf.scoped: (test name, starting states,
  // a normal call, a throwing call), each given the corpus dir
  private val scopeCallers: Seq[(String, Seq[Seq[(String, Option[String])]],
                                 (SparkSession, String) => Unit,
                                 (SparkSession, String) => Unit)] = Seq(
    ("writeSharded restores both confs after a write and after a failed one",
      Seq(Seq(partitions -> Some("5"), coalescing -> None),
        Seq(partitions -> None, coalescing -> Some("true"))),
      (s, dir) => TextDirectory.writeSharded(TextDirectory.wordCountDir(s, dir),
        Files.createTempDirectory("graft_scope").toString + "/ok", 2),
      (s, dir) => {
        val file = Files.createTempFile("graft_scope", ".txt")
        // an overwrite deletes a regular file at the output path itself;
        // a path beneath one cannot be created
        TextDirectory.writeSharded(TextDirectory.wordCountDir(s, dir), s"$file/sharded", 2)
      }),
    ("runAvailableNow restores the state-partition count after a run and after a failed one",
      Seq(Seq(partitions -> None), Seq(partitions -> Some("3"))),
      (s, dir) => Streams.runAvailableNow(Streams.wordCountStream(s, dir), Seq("word")),
      (s, dir) => Streams.runAvailableNow(Streams.wordCountStream(s, dir), Seq("word"),
        mode = "no_such_mode")),
    ("twsUserSpendAvailableNow restores the state-store provider after a run and after a failed one",
      Seq(Seq(provider -> None),
        Seq(provider -> Some(
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))),
      (s, _) => Streams.twsUserSpendAvailableNow(s, sf0001),
      (s, _) => Streams.twsUserSpendAvailableNow(s, nullUserEvents)))

  for ((name, starts, ok, fail) <- scopeCallers) test(name) {
    withCorpus { dir =>
      starts.foreach(st => assertScopeExact(st, ok(_, dir), fail(_, dir)))
    }
  }
}
