package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** K-means building blocks: exact scaled-integer assignment and
  * sufficient statistics.
  */
class ClusteringSpec extends SparkSpec {

  private lazy val embs = Tables.embeddings(spark, sf0001)

  test("assign labels every vector exactly once with a valid centroid") {
    val n = embs.count()
    val a = Clustering.assign(embs, k = 8).cache()
    assert(a.count() == n)
    assert(a.select("vec_id").distinct().count() == n)
    // clusters are the 8 lowest vec_ids
    val clusters = a.select("cluster").distinct()
      .collectAsList().size()
    assert(clusters <= 8)
    assert(a.where(col("cluster") > 7 || col("cluster") < 0).isEmpty)
  }

  test("seed centroids are assigned to themselves at distance 0") {
    val a = Clustering.assign(embs, k = 8)
    val self = a.where(col("vec_id") <= 7)
    assert(self.where(col("cluster") =!= col("vec_id")).isEmpty)
    assert(self.where(col("d2") =!= 0L).isEmpty)
  }

  test("assignment is the true integer argmin (brute-force check)") {
    val cent = Clustering.centroids(embs, 8)
    val brute = embs.limit(50)
      .select(col("vec_id"), Clustering.scaledVec(col("embedding")).as("ev"))
      .crossJoin(cent)
      .select(col("vec_id"), col("cluster"),
        aggregate(zip_with(col("ev"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy("d2", "cluster")))
      .where(col("rn") === 1)
      .select("vec_id", "cluster", "d2")
    val fast = Clustering.assign(embs, 8)
      .join(brute.select(col("vec_id"),
        col("cluster").as("bc"), col("d2").as("bd2")), "vec_id")
    assert(fast.where(col("cluster") =!= col("bc") ||
      col("d2") =!= col("bd2")).isEmpty)
  }

  test("step emits k·d sufficient statistics consistent with assign") {
    val dims = embs.select(size(col("embedding"))).first().getInt(0)
    val s = Clustering.step(embs, k = 8).cache()
    val byCluster = s.groupBy("cluster").agg(
      count(lit(1)).as("n_dims"), max("cnt").as("mx"), min("cnt").as("mn"))
    // every populated cluster has exactly one row per dimension, and the
    // member count is constant across its dims
    assert(byCluster.where(col("n_dims") =!= dims).isEmpty)
    assert(byCluster.where(col("mx") =!= col("mn")).isEmpty)
    // counts must agree with the assignment
    val counts = Clustering.assign(embs, 8).groupBy("cluster")
      .agg(count(lit(1)).as("n"))
    val joined = s.where(col("dim") === 1)
      .join(counts, "cluster")
    assert(joined.where(col("cnt") =!= col("n")).isEmpty)
  }

  test("prototypesKeep keeps each cluster's nKeep closest members") {
    val nKeep = 10
    val kept = Clustering.prototypesKeep(embs, k = 8, maxIters = 5, nKeep = nKeep)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept.nonEmpty)
    kept.groupBy(_._2).foreach { case (_, rs) => assert(rs.length <= nKeep) }
    // the nKeep-unbounded run is the full assignment in the same output
    // shape: every kept (d2, id) must precede every non-kept in-cluster
    val all = Clustering.prototypesKeep(embs, k = 8, maxIters = 5, nKeep = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(all.length == embs.count())
    val keptSet = kept.map(_._1).toSet
    all.groupBy(_._2).foreach { case (cluster, rs) =>
      val (in, out) = rs.partition(r => keptSet.contains(r._1))
      if (out.nonEmpty && in.nonEmpty) {
        val maxKept = in.map(r => (r._3, r._1)).max
        val minOut = out.map(r => (r._3, r._1)).min
        assert(Ordering[(Long, Long)].lteq(maxKept, minOut),
          s"cluster $cluster: kept $maxKept beyond dropped $minOut")
      }
    }
  }

  test("residualTop: a perfectly 1-D cloud has exactly zero residuals") {
    import spark.implicits._
    // every vector a multiple of e1: after centering, the direction is
    // ±e1·10⁶ exactly and the truncating projection removes everything
    val rows = (0 until 8).map(i =>
      (i.toLong, Seq(i * 3.0f, 0f, 0f, 0f), 0))
    val got = Clustering
      .residualTop(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 8 && got.forall(_._2 == 0L), got.mkString(","))
  }

  test("topDirection finds the stretched axis of an anisotropic cloud") {
    import spark.implicits._
    // variance concentrated on dim 0; tiny jitter elsewhere
    val rows = (0 until 8).map { i =>
      (i.toLong, Seq(i * 2.0f, 0.01f * (i % 2), 0.02f * (i % 3), 0.01f), 0)
    }
    val got = Clustering
      .topDirection(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val mag = got.view.mapValues(math.abs).toMap
    assert(mag(1L) == mag.values.max)   // dim 1 (1-based) dominates
    assert(mag(1L) > 10L * (mag - 1L).values.max,
      s"direction must concentrate on the stretched axis: $got")
  }

  test("top2Directions: deflation finds the second axis, orthogonal to the first") {
    import spark.implicits._
    // cross of points: x axis stretched (±2), y axis (±1), z noise-free
    val rows = Seq(
      (0L, Seq(2f, 0f, 0f), 0), (1L, Seq(-2f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 0), (3L, Seq(0f, -1f, 0f), 0))
    val got = Clustering.top2Directions(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val v1 = got.map(x => x._1 -> math.abs(x._2)).toMap
    val v2 = got.map(x => x._1 -> math.abs(x._3)).toMap
    assert(v1(1L) > 10L * v1(2L) && v1(1L) > 10L * v1(3L)) // first = x axis
    assert(v2(2L) > 10L * v2(1L) && v2(2L) > 10L * v2(3L)) // second = y axis
  }

  test("silhouetteWith/clusterDriftWith over the session-cached " +
       "centroids equal the private-Lloyd forms (r16 shared index)") {
    val cached = graft.operators.Similarity.cachedCentroids(spark, sf0001)
    val own = Clustering.lloydCentroids(embs, 8, 5)
    // the cached frame IS the same derivation — rows must be identical
    assert(cached.collect().map(_.toString).sorted
      .sameElements(own.collect().map(_.toString).sorted))
    val silA = Clustering.silhouette(embs, 8, 5).collect().map(_.toString)
    val silB = Clustering.silhouetteWith(embs, cached)
      .collect().map(_.toString)
    assert(silA.sameElements(silB))
    val drA = Clustering.clusterDrift(embs).collect().map(_.toString)
    val drB = Clustering.clusterDriftWith(embs, cached)
      .collect().map(_.toString)
    assert(drA.sameElements(drB))
  }

  test("power iteration rejects iters = 0 instead of dereferencing null") {
    intercept[IllegalArgumentException](Clustering.topDirection(embs, iters = 0))
  }
}
