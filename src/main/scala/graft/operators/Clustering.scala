package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means building blocks over the `embeddings` table —
  * the clustering step a training-data pipeline runs before IVF
  * indexing / stratified sampling / topic bucketing.
  *
  * Determinism contract (shared with the DuckDB oracle): every vector
  * element is scaled to a `round(x·10⁶)` bigint FIRST, and all distance
  * math is exact integer arithmetic from then on — squared L2 in
  * scaled² units. No float summation order anywhere, so argmin and the
  * centroid sums hash-match bit-for-bit on any engine. (Magnitudes:
  * unit-norm floats scale to ≤ ~10⁶; a squared diff is ≤ ~4·10¹², and a
  * 64-dim sum ≤ ~3·10¹⁴ — far inside int64 even under ANSI mode.)
  *
  * Scale shape: the k centroids ride a ONE-ROW broadcast (an array of
  * (cluster, vec) structs); assignment is a per-row `array_min` over
  * that array — no shuffle at all. The update step's only shuffle is
  * the (cluster, dim) partial-aggregated sum, k·d rows global. A full
  * Lloyd iteration at 100 TB is therefore scan + broadcast + one tiny
  * shuffle.
  */
object Clustering {

  /** `round(x·10⁶)` scaled-bigint view of a float vector. */
  def scaledVec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000000).cast("long"))

  /** Deterministic seed centroids: the k lowest-id embeddings
    * (cluster label = vec_id), scaled.
    */
  def centroids(embs: DataFrame, k: Int): DataFrame =
    embs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cluster"), scaledVec(col("embedding")).as("cv"))

  /** All k centroids as ONE row holding a sorted array of structs —
    * the broadcast-scalar shape for per-row argmin.
    */
  private def centroidArrayOf(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cluster"), col("cv")))).as("cents"))

  /** (vec_id, ev) scaled view of the embeddings. */
  private def scaledView(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), scaledVec(col("embedding")).as("ev"))

  /** Assignment against an arbitrary centroid set (cluster, cv): argmin
    * by (d2, cluster) — ties to the lowest cluster id — through the
    * native codegen [[graft.functions.NearestCentroidL2]] expression
    * (one primitive k·d loop per row; the interpreted
    * `array_min(transform(...))` formulation it replaces paid boxed
    * lambda evals on the same hot path).
    */
  private[graft] def assignAgainst(scaled: DataFrame, cents: DataFrame): DataFrame =
    scaled
      // 1-row scalar broadcast (k centroid structs), not a data join
      .join(broadcast(centroidArrayOf(cents)))
      .withColumn("best",
        graft.functions.functions.nearest_centroid_l2(col("ev"), col("cents")))
      .select(col("vec_id"), col("ev"),
        col("best").getField("cluster").as("cluster"),
        col("best").getField("d2").as("d2"))

  private def assignWithVec(embs: DataFrame, k: Int): DataFrame =
    assignAgainst(scaledView(embs), centroids(embs, k))

  /** Assignment step: each vector's nearest seed centroid (exact
    * scaled-integer squared L2) and that distance.
    */
  def assign(embs: DataFrame, k: Int): DataFrame =
    assignWithVec(embs, k)
      .select("vec_id", "cluster", "d2")
      .orderBy("vec_id")

  /** Update step: per-(cluster, dim) scaled coordinate sums + member
    * counts — the sufficient statistics for the next centroids
    * (mean = sum_scaled / cnt / 10⁶), kept as exact integers so the
    * result is engine-independent. `dim` is 1-based.
    */
  def step(embs: DataFrame, k: Int): DataFrame =
    assignWithVec(embs, k)
      .select(col("cluster"), posexplode(col("ev")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("v"))
      .groupBy("cluster", "dim")
      .agg(sum("v").as("sum_scaled"), count(lit(1)).as("cnt"))
      .orderBy("cluster", "dim")

  /** Full Lloyd iteration to convergence (bounded by `maxIters`):
    * assign → integer-mean update (`sum div cnt`, truncation toward
    * zero — the SAME semantics as DuckDB's `//`, so the whole iteration
    * is engine-reproducible), empty clusters keep their previous
    * centroid. Stops early when NO centroid moved; because the update
    * is a deterministic function of the centroid set, a converged state
    * is a fixed point — running "until converged, max N" returns
    * exactly the N-times-unrolled result, which is what the oracle
    * computes.
    *
    * Scale shape: ONE job per iteration (the convergence check action
    * over the k-row checkpointed centroid frame drives the scan);
    * driver holds no data — centroids stay a DataFrame, truncated with
    * an [[Iterate.untilStable]] checkpoint each round (the k·d-row
    * frame is tiny, the lineage would otherwise grow by one broadcast
    * join per round).
    */
  def lloydCentroids(embs: DataFrame, k: Int, maxIters: Int): DataFrame = {
    // r16: every iteration's assignment re-derived the scaled view from
    // parquet (maxIters scans); the checkpoint makes the loop read the
    // one materialized frame, released once the loop converges.
    // NEGATIVE RESULT (measured, reverted): fillCores here — the argmin
    // kernel over this table is microseconds of compute, so the 32-way
    // fan-out only multiplied per-iteration task overhead
    // (kmeans_converged 1.9 → 3.5 s); the loop is fixed-overhead-bound,
    // the r15 applicability rule's losing case.
    val scaled = Iterate.materialize(scaledView(embs))
    val cents0 = Iterate.materialize(centroids(embs, k))
    val cents = Iterate.untilStable(cents0, maxIters) { cur =>
      val stats = assignAgainst(scaled, cur)
        .select(col("cluster"), posexplode(col("ev")))
        .groupBy("cluster", "pos")
        .agg(expr("sum(col) div count(1)").as("m"))
        .groupBy("cluster")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("newcv"))
      val prev = cur.select(col("cluster"), col("cv").as("pcv"))
      // changed flag rides the one checkpointed frame, and the probe IS
      // the materializing action (r15): lazy checkpoint + one
      // count-changed aggregate per iteration instead of an eager
      // checkpoint job plus a limit-1 probe job
      prev.join(stats, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("newcv"), col("pcv")).as("cv"),
          (coalesce(col("newcv"), col("pcv")) =!= col("pcv")).as("changed"))
    }(Iterate.noneChanged).frame
    Iterate.release(scaled) // loop-scoped input blocks
    cents.drop("changed")
  }


  /** Each vector's nearest centroid from an arbitrary (cluster, cv)
    * set — the IVF cell-assignment step once centroids are learned.
    */
  def cellAssignments(embs: DataFrame, cents: DataFrame): DataFrame =
    assignAgainst(scaledView(embs), cents)
      .select(col("vec_id"), col("cluster").as("cell"))

  /** Simplified (centroid-based) silhouette per cluster — the
    * clustering-quality readout: a = d² to the own centroid, b = d² to
    * the nearest OTHER centroid, s = (b − a)·10⁶ div max(a, b)
    * (0 when both distances are 0). Per-row s values are exact scaled
    * integers (the vectors and centroids are already integer-scaled),
    * so the per-cluster mean is an order-independent integer fold and
    * the whole readout is engine-reproducible — the full silhouette's
    * pairwise-distance averages would be O(n²) and float-ordered.
    *
    * Scale shape: centroids from the shared Lloyd run; scoring is one
    * broadcast of k·d ints against the corpus with codegen arithmetic
    * (k rows per vector, same contract as [[probeCells]]), one
    * vec-keyed window, one k-row rollup.
    */
  def silhouette(embs: DataFrame, k: Int, iters: Int): DataFrame =
    silhouetteWith(embs, lloydCentroids(embs, k, iters))

  /** [[silhouette]] against an already-learned centroid set — pair with
    * [[Similarity.cachedCentroids]] so the quality readout shares the
    * session's one k-means run (the semdedup/prototypes/IVF discipline;
    * `kmeans_converged` stays the live Lloyd gate).
    */
  def silhouetteWith(embs: DataFrame, cents: DataFrame): DataFrame = {
    // r16 fillCores: the k-way distance explode + per-vec window ran on
    // the single scan split; hashpartitioning(vec_id) also satisfies
    // the window's clustering, so the spread costs no extra exchange
    val scored = WordCount.fillCores(scaledView(embs), "vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("d2"), col("cluster"))
    val ranked = scored
      .crossJoin(broadcast(cents.select(col("cluster"), col("cv"))))
      .withColumn("d2", expr(
        "aggregate(zip_with(ev, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("rn", row_number().over(w))
    ranked.where(col("rn") === 1)
      .select(col("vec_id"), col("cluster").as("own"), col("d2").as("a"))
      .join(ranked.where(col("rn") === 2)
        .select(col("vec_id"), col("d2").as("b")), "vec_id")
      // the (b − a)·10⁶ product can exceed long for large-magnitude
      // vectors — widen through DECIMAL(38,0) (the oracle widens through
      // HUGEINT); div still truncates toward zero in both engines
      .select(col("own"), expr(
        "CASE WHEN greatest(a, b) = 0 THEN 0L " +
          "ELSE CAST((CAST(b AS DECIMAL(38,0)) - a) * 1000000 " +
          "div greatest(a, b) AS BIGINT) END").as("s"))
      .groupBy(col("own").as("cluster"))
      .agg(count(lit(1)).as("n"),
        expr("sum(s) div count(1)").as("avg_s_x1e6"))
      .orderBy("cluster")
  }

  /** Each vector's `nProbe` NEAREST cells by (d2, cluster) — the
    * query-side assignment of a multi-probe IVF search. Meant for the
    * QUERY set (small): the k-row centroid table broadcasts and the
    * per-row work is a k-way explode + window, which is fine at query
    * cardinality but would be the wrong plan for the corpus side
    * (that stays on the single-cell codegen argmin of
    * [[cellAssignments]]).
    */
  private[graft] def probeCells(embs: DataFrame, cents: DataFrame,
                                nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("d2"), col("cluster"))
    scaledView(embs)
      .crossJoin(broadcast(cents.select(col("cluster"), col("cv"))))
      .withColumn("d2", expr(
        "aggregate(zip_with(ev, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nProbe)
      .select(col("vec_id"), col("cluster").as("cell"))
  }

  /** Prototypicality pruning (the SSL-prototypes selection of Sorscher
    * et al. 2022, arXiv:2206.14486): keep each cluster's `nKeep` most
    * prototypical members — smallest exact scaled-integer distance to
    * the converged centroid, ties to the lowest id. The d2 values are
    * the same bigints the assignment step produces, so the rank order
    * (and the output) is engine-exact with no float anywhere.
    *
    * Plan shape: assignment is broadcast-argmin (shuffle-free); the
    * per-cluster top-k runs through [[graft.plans.TopK]] bounded heaps
    * — ≤ nKeep rows per (cluster, partition) ever shuffle, so a 100 TB
    * corpus with a handful of clusters still moves only k·nKeep rows.
    */
  def prototypesKeep(embs: DataFrame, k: Int, maxIters: Int,
                     nKeep: Int): DataFrame =
    prototypesKeepWith(embs, lloydCentroids(embs, k, maxIters), nKeep)

  /** [[prototypesKeep]] against an already-learned centroid set —
    * pair with [[Similarity.cachedCentroids]] so several curation
    * passes over one corpus share one k-means run.
    */
  def prototypesKeepWith(embs: DataFrame, cents: DataFrame,
                         nKeep: Int): DataFrame = {
    val assigned = assignAgainst(scaledView(embs), cents)
      .select("vec_id", "cluster", "d2")
    graft.plans.TopK.perKey(assigned, Seq("cluster"),
        Seq(("d2", false), ("vec_id", false)), nKeep, "r")
      .select("vec_id", "cluster", "d2")
      .orderBy("vec_id")
  }

  /** m INDEPENDENT Lloyd runs fused into one job per iteration:
    * `slices` holds (tag, vec_id, embedding) and centroids are keyed
    * (tag, cluster). Per tag this computes exactly what
    * [[lloydCentroids]] computes — same lowest-k-id seeds (all tags
    * share the vec_id set), same truncating integer means, same
    * empty-cluster carry — so callers may filter by tag and get the
    * per-slice run's result bit-for-bit. A tag that converges early
    * just rides fixed-point no-op updates while the others finish.
    *
    * The point is JOB COUNT, not data volume: PQ codebook learning is
    * m small runs whose per-iteration cost is dominated by fixed job
    * overhead; fusing makes the build pay one assignment + one update
    * + one convergence probe per iteration regardless of m (measured
    * on ann_pq at sf0.1: 8.0 s → see NOTES round 7).
    */
  def lloydCentroidsTagged(slices: DataFrame, k: Int,
                           maxIters: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tag").orderBy("vec_id")
    // r16: same loop-input staging as [[lloydCentroids]] — the m-slice
    // union re-derived m parquet scans PER ITERATION before this
    // (fillCores measured and rejected here too, same reason)
    val scaled = Iterate.materialize(slices.select(col("tag"), col("vec_id"),
      scaledVec(col("embedding")).as("ev")))
    val cents0 = Iterate.materialize(
      scaled.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(col("tag"), col("vec_id").as("cluster"), col("ev").as("cv")))
    val cents = Iterate.untilStable(cents0, maxIters) { cur =>
      val centsArr = cur.groupBy("tag")
        .agg(sort_array(collect_list(struct(col("cluster"), col("cv"))))
          .as("cents"))
      val stats = scaled
        .join(broadcast(centsArr), "tag")
        .withColumn("cluster", graft.functions.functions
          .nearest_centroid_l2(col("ev"), col("cents")).getField("cluster"))
        .select(col("tag"), col("cluster"), posexplode(col("ev")))
        .groupBy("tag", "cluster", "pos")
        .agg(expr("sum(col) div count(1)").as("m"))
        .groupBy("tag", "cluster")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("newcv"))
      val prev = cur.select(col("tag"), col("cluster"), col("cv").as("pcv"))
      // the changed flag rides the ONE checkpointed frame, and the
      // probe IS the materializing action (r15, see [[lloydCentroids]])
      prev.join(stats, Seq("tag", "cluster"), "left")
        .select(col("tag"), col("cluster"),
          coalesce(col("newcv"), col("pcv")).as("cv"),
          (coalesce(col("newcv"), col("pcv")) =!= col("pcv")).as("changed"))
    }(Iterate.noneChanged).frame
    Iterate.release(scaled) // loop-scoped input blocks
    cents.drop("changed")
  }

  /** Gate shape for [[lloydCentroids]]: the converged centroids
    * unpacked to (cluster, dim, v) rows with a total ordering.
    */
  def lloydConverged(embs: DataFrame, k: Int, maxIters: Int): DataFrame =
    lloydCentroids(embs, k, maxIters)
      .select(col("cluster"), posexplode(col("cv")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("v"))
      .orderBy("cluster", "dim")

  /** Dominant principal direction of the (mean-centered) embedding
    * cloud by `iters` power iterations — the "all-but-the-top"
    * (Mu & Viswanath 2018) debiasing/whitening primitive: retrieval
    * quality improves when this direction is projected out, and it's
    * the 1-component PCA a curation pipeline actually needs.
    *
    * Determinism contract (the HITS/PageRank treatment): everything is
    * scaled-int BIGINT — truncating per-dim integer mean for
    * centering; per-row scores `s = ⟨cv, v⟩ div 10⁶`; per-dim
    * back-projection `w = Σ cv·s`; and integer MAX-normalization
    * `v ← w div greatest(max|w| div 10⁶, 1)` instead of a libm L2
    * norm — every iteration is bit-reproducible and the oracle unrolls
    * the same recurrence. Overflow audit: |cv| ≲ 2·10⁶, so
    * |s| ≤ d·10⁶ (6.4·10⁷ at d=64) and |w| ≤ n·2·10⁶·|s| ≈ n·10¹⁴ —
    * safe to n ~ 10⁴ rows; at corpus scale the `s` rescale moves up
    * (div 10⁹) and the same algebra holds.
    *
    * Shape: centering is one k·d-row aggregate broadcast back; each
    * iteration is one corpus scan (per-row dot against the broadcast
    * 1-row v) + one (dim)-keyed partial-aggregated shuffle of d rows;
    * the centered frame is checkpointed once and reused.
    */
  def topDirection(embs: DataFrame, iters: Int = 2): DataFrame = {
    val (_, v) = centeredAndDirection(embs, iters)
    v.select(posexplode(col("v")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("v"))
      .orderBy("dim")
  }

  /** The shared machinery behind [[topDirection]] and [[residualTop]]:
    * the checkpointed centered frame plus the 1-row direction after
    * `iters` integer power iterations.
    */
  private def centeredAndDirection(embs: DataFrame,
                                   iters: Int): (DataFrame, DataFrame) = {
    // (r16 NEGATIVE RESULT: fillCores on the centered frame measured
    // and rejected — emb_top_direction 0.7 → 1.6 s; the dot/project
    // kernels over this table are trivial, so the fan-out is pure
    // per-iteration task overhead)
    val scaled = scaledView(embs)
    val mean = scaled.select(posexplode(col("ev")))
      .groupBy("pos").agg(expr("sum(col) div count(1)").as("mu"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("mu")))),
        x => x.getField("mu")).as("mus"))
    val centered = scaled.join(broadcast(mean))
      .select(col("vec_id"), expr("zip_with(ev, mus, (x, m) -> x - m)").as("cv"))
      .localCheckpoint()
    (centered, powerIterate(centered, iters))
  }

  /** `iters` integer power iterations over an already-centered `cv`
    * frame — shared by the first direction and the deflated second
    * ([[top2Directions]]). The all-10⁶ start vector only reads the
    * dimension count, so `limit(1)`'s row choice is immaterial.
    */
  private def powerIterate(centered: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"power iteration needs iters >= 1, got $iters")
    // r16: the direction rides the DRIVER as d ≤ 64 longs of bounded
    // metadata (the bpeLearn 256-slot-registry precedent) instead of a
    // 1-row frame — per iteration the old shape paid a broadcast build
    // + two aggregate jobs just to move d integers (the three direction
    // gates ran ~30 jobs for four chained iterations). Now each
    // iteration is ONE job: the (pos → Σ cv·s) aggregate collect; the
    // rescale is the identical integer arithmetic (Scala Long `/` and
    // Spark `div` both truncate toward zero), so every iterate — and
    // the oracle's unrolled recurrence — is bit-for-bit unchanged.
    var v: Array[Long] = null // round 0's all-10⁶ start rides inline SQL
    for (_ <- 1 to iters) {
      val vSql =
        if (v == null) "transform(cv, x -> CAST(1000000 AS BIGINT))"
        else v.mkString("array(", "L, ", "L)")
      val wArr = centered
        .selectExpr("cv", s"aggregate(zip_with(cv, $vSql, " +
          "(x, y) -> x * y), 0L, (a, b) -> a + b) div 1000000 AS s")
        .select(posexplode(expr("transform(cv, x -> x * s)")))
        .groupBy("pos").agg(sum("col").as("w"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .sortBy(_._1).map(_._2) // d rows of metadata, driver-sorted
      val norm = math.max(wArr.map(math.abs).max / 1000000L, 1L)
      v = wArr.map(_ / norm)
    }
    // single-partition 1-row frame (range(1) would fan every consumer
    // out to defaultParallelism empty tasks)
    centered.sparkSession.range(0, 1, 1, 1)
      .select(typedLit(v.toSeq).as("v"))
  }

  /** First TWO principal directions by integer power iteration with
    * DEFLATION: the second direction is the dominant direction of the
    * residual cloud after [[residualTop]]'s truncating projection
    * removal — Hotelling deflation in the same all-BIGINT arithmetic,
    * so the oracle unrolls both chains exactly. Residuals of a
    * centered cloud stay centered (up to the documented truncation),
    * so no re-centering pass. Output: (dim, v1, v2). Shape: the first
    * chain's cost, plus one projection scan and a second chain over
    * the checkpointed residual frame.
    */
  def top2Directions(embs: DataFrame, iters: Int = 2): DataFrame = {
    val (centered, v1) = centeredAndDirection(embs, iters)
    val resid = centered.join(broadcast(v1))
      .withColumn("vv", expr(
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0L, (a, b) -> a + b)"))
      .withColumn("cc", expr(
        "aggregate(zip_with(cv, v, (x, y) -> x * y), 0L, (a, b) -> a + b) div greatest(vv div 1000000L, 1L)"))
      .select(col("vec_id"), expr(
        "zip_with(cv, v, (x, y) -> (x * 1000000L - cc * y) div 1000000L)")
        .as("cv"))
      .localCheckpoint()
    val v2 = powerIterate(resid, iters)
    val d1 = v1.select(posexplode(col("v")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("v1"))
    val d2 = v2.select(posexplode(col("v")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("v2"))
    d1.join(d2, "dim").orderBy("dim")
  }

  /** All-but-the-top APPLIED: per-vector residual squared norm after
    * projecting out [[topDirection]] — the vectors a debiasing pass
    * would change least/most. The projection coefficient
    * `c = ⟨cv,v⟩ div (⟨v,v⟩ div 10⁶)` and every residual coordinate
    * `(cv·10⁶ − c·v) div 10⁶` are truncating-integer, mirrored exactly
    * by the oracle; output = the `topK` LARGEST residuals (the most
    * direction-independent vectors — ties to the lowest id).
    *
    * Shape: one scan of the checkpointed centered frame against the
    * broadcast 1-row direction; the only shuffle is the top-k.
    */
  def residualTop(embs: DataFrame, iters: Int = 2, topK: Int = 20): DataFrame = {
    val (centered, v) = centeredAndDirection(embs, iters)
    centered.join(broadcast(v))
      .withColumn("vv", expr(
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0L, (a, b) -> a + b)"))
      .withColumn("cvv", expr(
        "aggregate(zip_with(cv, v, (x, y) -> x * y), 0L, (a, b) -> a + b)"))
      .withColumn("cc", expr("cvv div greatest(vv div 1000000L, 1L)"))
      .withColumn("res_d2", expr(
        """aggregate(zip_with(cv, v, (x, y) ->
          |  ((x * 1000000L - cc * y) div 1000000L) *
          |  ((x * 1000000L - cc * y) div 1000000L)), 0L, (a, b) -> a + b)"""
          .stripMargin))
      .orderBy(col("res_d2").desc, col("vec_id"))
      .limit(topK)
      .select(col("vec_id"), col("res_d2"))
  }

  /** Cluster-mass drift between corpus halves — the distribution-level
    * ML-ops tripwire next to the per-dim mean one
    * ([[Similarity.embDriftCheck]]): both halves (vec_id below/above
    * the id midpoint, the drift-check split) are assigned to the SAME
    * shared Lloyd centroids, and each cluster reports its ppm mass
    * share in each half plus the absolute difference. A
    * training/serving skew or a bad ingest shows up as mass moving
    * between clusters even when per-dim means stay flat.
    * Σ drift_ppm / 2 is the total-variation distance if the consumer
    * wants one number; the per-cluster rows are the diagnosis.
    *
    * Scale shape: one broadcast-argmin assignment pass (no shuffle
    * beyond the k-row rollup), centroids from the shared cached Lloyd
    * chain; output is k rows.
    */
  def clusterDrift(embs: DataFrame, k: Int = 8, iters: Int = 5): DataFrame =
    clusterDriftWith(embs, lloydCentroids(embs, k, iters))

  /** [[clusterDrift]] against an already-learned centroid set — the
    * [[Similarity.cachedCentroids]] pairing (see [[silhouetteWith]]).
    */
  def clusterDriftWith(embs: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = cellAssignments(embs, cents)
    val mid = embs.agg(expr("(max(vec_id) + 1) div 2").as("mid"))
    val g = assigned.crossJoin(broadcast(mid))
      .groupBy("cell")
      .agg(sum(when(col("vec_id") < col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("vec_id") >= col("mid"), 1L).otherwise(0L)).as("n_b"))
    g.crossJoin(broadcast(g.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))))
      .select(col("cell"), col("n_a"), col("n_b"),
        expr("n_a * 1000000L div ta").as("share_a_ppm"),
        expr("n_b * 1000000L div tb").as("share_b_ppm"),
        expr("abs(n_a * 1000000L div ta - n_b * 1000000L div tb)")
          .as("drift_ppm"))
      .orderBy("cell")
  }

  /** Grid-partitioned DBSCAN over the first two embedding dimensions
    * (milli-scaled ints): a point is CORE when ≥ `minPts` points
    * (itself included) lie within `eps` (squared-L2 in milli units),
    * core points within eps of each other form clusters (connected
    * components, labeled by min vec_id), non-core points within eps of
    * a core join that core's cluster as BORDER (min cluster label on
    * ties), everything else is NOISE (cluster −1).
    *
    * Scale shape — the textbook quadratic ε-neighborhood join is
    * replaced by the grid join: each point keys itself by its
    * `eps`-cell and probes the 3×3 cell neighborhood, so candidate
    * pairs are bounded by Σ (9·cell²) over occupied cells, not n².
    * Two cell-keyed shuffles (index + probe), one count per point,
    * then [[Dedup.componentsStar]]'s O(log n) contraction over the
    * core-adjacency edges. Cell ids use an explicit non-negative mod
    * so floor semantics agree across engines on negative coordinates.
    * At 100 TB: salt overfull cells (the skew treatment every grid
    * join shares) and raise eps-cell granularity so cell populations
    * stay bounded; the role/label logic is unchanged.
    */
  def dbscanGrid(embs: DataFrame, eps: Long = 40L, minPts: Long = 5L)
      : DataFrame = {
    // r16 fillCores before the checkpoint: the grid index/probe frames
    // and the 3×3 cell join's map sides otherwise ride one scan split
    val p = WordCount.fillCores(embs.select(col("vec_id"),
      expr("cast(round(cast(embedding[0] as double) * 1000) as long)")
        .as("x"),
      expr("cast(round(cast(embedding[1] as double) * 1000) as long)")
        .as("y")), "vec_id").localCheckpoint()
    // exact floor-division cell id: the non-negative-mod numerator is
    // divisible by eps, so truncating `div` IS floor here (stays long)
    def cellOf(c: Column): Column =
      expr(s"(${c.toString} - ((${c.toString} % $eps + $eps) % $eps)) div $eps")
    val idx = p.select(col("vec_id").as("ib"), col("x").as("xb"),
      col("y").as("yb"), cellOf(col("x")).as("cx"), cellOf(col("y")).as("cy"))
    val probe = p.select(col("vec_id").as("ia"), col("x").as("xa"),
        col("y").as("ya"), cellOf(col("x")).as("px"), cellOf(col("y")).as("py"))
      .select(col("ia"), col("xa"), col("ya"),
        explode(expr("transform(sequence(-1, 1), d -> px + d)")).as("cx"),
        col("py"))
      .select(col("ia"), col("xa"), col("ya"), col("cx"),
        explode(expr("transform(sequence(-1, 1), d -> py + d)")).as("cy"))
    val nb = probe.join(idx, Seq("cx", "cy"))
      .where((col("xa") - col("xb")) * (col("xa") - col("xb"))
        + (col("ya") - col("yb")) * (col("ya") - col("yb")) <= eps * eps)
      .select("ia", "ib").localCheckpoint()
    val core = nb.groupBy("ia").agg(count(lit(1)).as("c"))
      .where(col("c") >= minPts).select(col("ia").as("v"))
      .localCheckpoint()
    val coreEdges = nb
      .join(core.toDF("va"), col("ia") === col("va"))
      .join(core.toDF("vb"), col("ib") === col("vb"))
      .where(col("ia") =!= col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    // singleton cores never enter an edge — label them with themselves.
    // r16 NEGATIVE RESULT (measured, reverted): componentsAdaptive here
    // (propagation-first, same min-id fixed point) shuffled 2.1 M
    // records vs star's 380 k and ran 108 jobs vs 74 — the ε-blob core
    // graphs are DEEP chains (adjacent ε-balls daisy-chain through
    // dense regions), so 8 propagation rounds burn and it falls back to
    // contraction anyway. Star contraction stays.
    val lbl = core
      .join(Dedup.componentsStar(coreEdges).toDF("v", "comp"),
        Seq("v"), "left")
      .select(col("v"), coalesce(col("comp"), col("v")).as("cluster"))
    val border = nb.join(core.toDF("va"), col("ia") === col("va"), "left_anti")
      .join(lbl, col("ib") === col("v"))
      .groupBy("ia").agg(min("cluster").as("cluster"))
      .select(col("ia").as("v"), col("cluster"), lit("border").as("role"))
    val roles = lbl.select(col("v"), col("cluster"), lit("core").as("role"))
      .unionByName(border)
    p.join(roles, col("vec_id") === col("v"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"),
        coalesce(col("role"), lit("noise")).as("role"))
      .orderBy("vec_id")
  }
}
