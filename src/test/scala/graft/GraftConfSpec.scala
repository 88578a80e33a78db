package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftConfSpec extends AnyFunSuite {

  test("cluster conf derives shuffle parallelism from cluster size " +
    "and keeps the size-independent base") {
    val c = GraftConf.cluster(4000)
    assert(c("spark.sql.shuffle.partitions") == "12000")
    GraftConf.base.foreach { case (k, v) => assert(c(k) == v) }
    assert(c("spark.sql.autoBroadcastJoinThreshold") ==
      (32L * 1024 * 1024).toString)
    intercept[IllegalArgumentException](GraftConf.cluster(0))
  }

  test("streaming conf pins the RocksDB state backend") {
    assert(GraftConf.streaming(
      "spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
  }
}

/** The local session must share GraftConf.base verbatim (the committed
  * plan digests depend on it) — needs a live session, so it lives in a
  * SparkSpec.
  */
class GraftConfSessionSpec extends SparkSpec {
  test("GraftSession applies exactly GraftConf.base locally") {
    GraftConf.base.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"conf $k must be $v")
    }
  }

  test("scoped sets its confs for the body, then restores each or unsets it, also on a throw") {
    val s = spark.newSession()
    val (set, unset) = ("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    s.conf.set(set, "7")
    s.conf.unset(unset)
    def after() = assert(s.conf.get(set) == "7" && !s.conf.getAll.contains(unset))
    val seen = GraftConf.scoped(s, set -> "3", unset -> "false")(
      (s.conf.get(set), s.conf.get(unset)))
    assert(seen == ("3", "false"))
    after()
    intercept[IllegalStateException](
      GraftConf.scoped(s, set -> "4", unset -> "true")(throw new IllegalStateException("body")))
    after()
  }
}
