package graft

import graft.operators.{Clustering, Dedup, Graph, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The round-loop module's release rule, per loop form: once an
  * operator returns, the only checkpoint RDDs it leaves live are its
  * final frame and the inputs its result still reads. Each case counts
  * the RDDs persisted during one call that are still persisted after
  * it (suites run one at a time in the forked test JVM, so nothing
  * else persists meanwhile).
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  /** Checkpoint RDDs persisted while `f` runs that are still live after
    * it. Spark tracks persisted RDDs weakly, and its ContextCleaner
    * unpersists one whose frame was garbage collected, so a frame the
    * operator dropped without releasing could vanish before it is
    * counted. A watcher holds every new RDD it sees until the count.
    */
  private def leftLive(f: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    @volatile var running = true
    val watcher = new Thread(() =>
      while (running) {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) held.put(id, rdd)
        }
        Thread.sleep(1)
      })
    watcher.start()
    try f finally { running = false; watcher.join() }
    sc.getPersistentRDDs.keys.count(id => !before(id))
  }

  /** 1-D points at i² for i in 0..11: from the two lowest-id seeds,
    * Lloyd moves its centroids in 3 rounds and settles in the 4th.
    */
  private def squares: DataFrame =
    (0 until 12).map(i => (i.toLong, Seq((i * i).toDouble)))
      .toDF("vec_id", "embedding")

  private val graph = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
    ("c", "d"), ("d", "e"), ("e", "c"))

  private def edges: DataFrame = graph.toDF("src", "dst")

  /** One call per migrated loop form: (operator, a run of it). */
  private val forms: Seq[(String, () => DataFrame)] = Seq(
    "Clustering.lloydCentroids" -> (() => Clustering.lloydCentroids(squares, 2, 10)),
    "Clustering.lloydCentroidsTagged" -> (() => Clustering.lloydCentroidsTagged(
      squares.select(lit(1).as("tag"), col("vec_id"), col("embedding"))
        .unionByName(squares.select(lit(2).as("tag"), col("vec_id"), col("embedding"))),
      2, 10)),
    "Graph.pageRank" -> (() => Graph.pageRank(edges, 4)),
    "Graph.labelPropagation" -> (() => Graph.labelPropagation(edges, 3)),
    // a pendant path e-f-g off the triangles peels in 2 rounds
    "Graph.kCore" -> (() => Graph.kCore(
      (graph ++ Seq(("e", "f"), ("f", "g"))).toDF("src", "dst"), k = 2)),
    "Dedup.components" -> (() => Dedup.components(
      (0L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b"))),
    // a 64-edge chain runs several star rounds before it settles
    "Dedup.componentsStar" -> (() => Dedup.componentsStar(
      (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b"), maxIter = 20)))

  forms.foreach { case (op, run) =>
    test(s"$op keeps only its final frame live") {
      val added = leftLive(run().collect())
      assert(added <= 1, s"expected ≤ 1 new live checkpoint RDD, saw $added")
    }
  }

  test("the squares fixture moves Lloyd's centroids in each of 3 rounds") {
    def after(iters: Int) = Clustering.lloydCentroids(squares, 2, iters)
      .orderBy("cluster").collect().map(_.getSeq[Long](1).head).toSeq
    assert(after(2) == Seq(6000000L, 68000000L))
    assert(after(3) == Seq(13000000L, 83000000L))
    assert(after(10) == after(3))
  }

  test("pageRank, unit-weight pageRankWeighted and all-seeds personalizedPageRank are row-identical") {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val plain = rows(Graph.pageRank(edges, 3))
    assert(plain.map(_._1).toSet == Set("a", "b", "c", "d", "e"))
    assert(rows(Graph.pageRankWeighted(edges.withColumn("w", lit(1L)), 3)) == plain)
    assert(rows(Graph.personalizedPageRank(edges, nodes, 3)) == plain)
  }

  test("release refuses a projection of a checkpoint") {
    val cp = Iterate.materialize(spark.range(4).toDF())
    val e = intercept[IllegalArgumentException](
      Iterate.release(cp.select((col("id") + 1).as("id"))))
    assert(e.getMessage.contains("materialized frame"))
    Iterate.release(cp)
  }

  test("untilStable releases every superseded round and reports its bound") {
    val seed = Iterate.materialize(spark.range(4).toDF())
    var out: Iterate.Outcome = null
    val added = leftLive {
      out = Iterate.untilStable(seed, 3)(_.select((col("id") + 1).as("id"))) {
        next => next.count() < 0
      }
    }
    assert(!out.converged)
    assert(added == 1, s"expected only the final frame live; saw $added")
    assert(!spark.sparkContext.getPersistentRDDs.contains(
      seed.queryExecution.analyzed.asInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD].rdd.id), "seed still live")
    assert(out.frame.as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L))
    val e = intercept[IllegalStateException](out.orThrow("Op.demo", "maxIter", "why"))
    assert(e.getMessage == "Op.demo did not converge within 3 rounds; raise maxIter — why")
  }
}
