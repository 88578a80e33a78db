package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.Similarity
import graft.sources.{AnnIndex, BloomParquet, SessionCache}

/** Spec for the staging layer's [[SessionCache]]: the per-key
  * once-cell under contention, LRU eviction, re-entrant derive, and
  * which of the two scopes each kind of staged value lands in.
  */
class SessionCacheSpec extends SparkSpec {

  private def await(latch: CountDownLatch): Unit =
    assert(latch.await(30, TimeUnit.SECONDS), "timed out")

  test("two sessions deriving the same key concurrently stay isolated: " +
    "each is served its own session's derivation") {
    val cache = new SessionCache[String, String]()
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(() => { start.await(); cache.getOrDerive(s1, "k")("v-s1") })
      val f2 = pool.submit(() => { start.await(); cache.getOrDerive(s2, "k")("v-s2") })
      start.countDown()
      assert(f1.get(30, TimeUnit.SECONDS) == "v-s1")
      assert(f2.get(30, TimeUnit.SECONDS) == "v-s2")
      // and the cached values stay per-session afterwards
      assert(cache.getOrDerive(s1, "k")(fail("must be cached")) == "v-s1")
      assert(cache.getOrDerive(s2, "k")(fail("must be cached")) == "v-s2")
    } finally pool.shutdownNow()
  }

  test("same (session, key) under contention derives exactly once, " +
    "and two different keys derive at the same time") {
    val cache = new SessionCache[String, Int]()
    val s = spark.newSession()
    val derives = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val inDerive = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(4)
    try {
      def racer(key: String) = pool.submit(() => {
        start.await()
        cache.getOrDerive(s, key) {
          inDerive.countDown()
          // hold until keys "a" AND "b" are both inside their derives:
          // a derive under a shared lock never lets the second one in
          assert(inDerive.await(30, TimeUnit.SECONDS))
          derives.incrementAndGet()
        }
      })
      val fs = Seq(racer("a"), racer("a"), racer("b"), racer("b"))
      start.countDown()
      val vs = fs.map(_.get(30, TimeUnit.SECONDS))
      assert(derives.get == 2, "one derive per key, racers wait for it")
      assert(vs(0) == vs(1) && vs(2) == vs(3) && vs(0) != vs(2))
      assert(cache.getOrDerive(s, "a")(fail("must be cached")) == vs(0))
      assert(cache.getOrDerive(s, "b")(fail("must be cached")) == vs(2))
    } finally pool.shutdownNow()
  }

  test("5 sessions through a 4-slot LRU: the eldest is evicted and " +
    "re-derives correctly; survivors stay cached") {
    val cache = new SessionCache[String, String](maxSessions = 4)
    val sessions = (0 until 5).map(_ => spark.newSession())
    val derives = new AtomicInteger(0)
    def derive(i: Int): String = { derives.incrementAndGet(); s"v$i" }
    sessions.zipWithIndex.foreach { case (s, i) =>
      assert(cache.getOrDerive(s, "k")(derive(i)) == s"v$i")
    }
    assert(derives.get == 5)
    // session 0 (eldest by access) was evicted by session 4's insert:
    // it re-derives — deterministic and answer-identical by contract
    assert(cache.getOrDerive(sessions(0), "k")(derive(0)) == "v0")
    assert(derives.get == 6, "evicted session re-derives exactly once")
    // the most-recent 3 of the original survivors are still cached
    // (session 0's re-insert evicted the then-eldest session 1)
    (2 until 5).foreach { i =>
      assert(cache.getOrDerive(sessions(i), "k")(
        fail(s"session $i must still be cached")) == s"v$i")
    }
    assert(derives.get == 6)
  }

  test("re-entrant derive (the ccLabels stage-the-pairs-first pattern) " +
    "does not deadlock or corrupt, including under contention") {
    val cache = new SessionCache[String, String]()
    val s = spark.newSession()
    // single-threaded re-entrancy: deriving A derives B inside
    val a = cache.getOrDerive(s, "A") {
      val b = cache.getOrDerive(s, "B")("vB")
      s"vA($b)"
    }
    assert(a == "vA(vB)")
    assert(cache.getOrDerive(s, "B")(fail("B must be cached")) == "vB")
    // contended re-entrancy: N threads, each deriving its own outer
    // key, all re-entering for the same shared inner key
    val cache2 = new SessionCache[String, String]()
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map { i =>
        pool.submit(() => {
          start.await()
          cache2.getOrDerive(s, s"outer$i") {
            val inner = cache2.getOrDerive(s, "inner")("vI")
            s"v$i($inner)"
          }
        })
      }
      start.countDown()
      fs.zipWithIndex.foreach { case (f, i) =>
        assert(f.get(30, TimeUnit.SECONDS) == s"v$i(vI)")
      }
      assert(cache2.getOrDerive(s, "inner")(fail("cached")) == "vI")
    } finally pool.shutdownNow()
  }

  // ------------------------------------------------ the two scopes

  test("a per-context memo derived in one session is served to " +
    "newSession() without a re-derive") {
    val derives = new AtomicInteger(0)
    val key = ("SessionCacheSpec", "per-context")
    val v = SessionCache.perContext(spark, key) {
      derives.incrementAndGet(); "v"
    }
    val s2 = spark.newSession()
    assert(SessionCache.perContext[String](s2, key)(fail("must be cached")) eq v)
    assert(derives.get == 1)
    // a real staging: the bloom layout is written once per context
    assert(BloomParquet.stage(s2, sf0001) eq BloomParquet.stage(spark, sf0001))
  }

  test("cachedCentroids is per session: a second session is served " +
    "frames bound to itself") {
    val s2 = spark.newSession()
    val c1 = Similarity.cachedCentroids(spark, sf0001)
    val c2 = Similarity.cachedCentroids(s2, sf0001)
    assert(c1.sparkSession eq spark)
    assert(c2.sparkSession eq s2)
    assert(Similarity.cachedCentroids(s2, sf0001) eq c2)
    assert(c2.collect().map(_.toString).sorted
      .sameElements(c1.collect().map(_.toString).sorted))
  }

  test("annMaintain's rebuilt tables are readable from a newSession(), " +
    "which reuses the maintenance decision") {
    import org.apache.spark.sql.functions._
    // delta shifted +10 per coordinate: the drift wire trips (Round12Spec)
    val emb = Tables.embeddings(spark, sf0001)
    val cut = AnnIndex.incCut(spark, sf0001)
    val dir = TempDirs.scratchString("graft_scope_drift_")
    emb.withColumn("embedding",
        when(col("vec_id") >= lit(cut),
          expr("transform(embedding, x -> x + cast(10.0 as float))"))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def action(s: org.apache.spark.sql.SparkSession): String =
      AnnIndex.annMaintain(s, dir).collect()(0).getAs[String]("action")
    assert(action(spark) == "rebuild")
    val (cent, cells) = AnnIndex.servingTables(AnnIndex.maintainTag(dir))
    val s2 = spark.newSession()
    assert(action(s2) == "rebuild")
    assert(AnnIndex.servingTables(AnnIndex.maintainTag(dir)) == ((cent, cells)),
      "a new session must not retrain: serving pointer unchanged")
    assert(s2.table(cent).count() == spark.table(cent).count())
    assert(s2.table(cells).count() == emb.count())
  }
}
