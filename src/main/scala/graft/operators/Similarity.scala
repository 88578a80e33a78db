package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * set against the (huge) candidate corpus, so the corpus is scanned
  * once with zero shuffle of the embeddings; ranking shuffles only
  * (query_id, cand_id, score) triples. Scale path: IVF-style bucket
  * pruning ([[annIvf]]) that only scores candidates sharing the query's
  * coarse cell.
  *
  * All math is double-precision with sequential (array-order) folds so
  * results are reproducible and oracle-comparable.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — a native
    * codegen Expression ([[graft.functions.DotProductD]]); the
    * equivalent `aggregate(zip_with(...))` formulation is ~40× slower
    * (interpreted, boxing, one array allocation per pair).
    */
  def dot(a: Column, b: Column): Column = graft.functions.functions.dot_d(a, b)

  /** Cosine similarity; embeddings cast to array<double> first so both
    * engines do the identical float→double promotion and fold order.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries)
    * the k nearest other vectors. Output (query_id, neighbor_id, rank) —
    * integers only, ties broken by neighbor id. The query side is
    * broadcast: the corpus-side scan is shuffle-free and embarrassingly
    * parallel at 100 TB.
    */
  def knnBruteForce(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val pre = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = pre.select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      .where(col("query_id") < nQueries)
    val c = pre.select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cos"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine >
    * threshold. Brute quadratic form for oracle checking; the scale
    * path buckets first ([[annIvf]] cells) so only same-cell pairs are
    * scored. Output ids only — no float columns to compare.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    // Hoist the norm: one sqrt(dot(e,e)) per row instead of two per
    // pair. dot/(na*nb) is the same expression tree as the cosine()
    // formulation, so results stay bit-identical to the oracle.
    val pre = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val a = pre.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = pre.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .where(dot(col("ea"), col("eb")) / (col("na") * col("nb")) > threshold)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** kNN ranking through the custom [[graft.plans.TopKPerKey]]
    * operator instead of a window sort: per-partition bounded heaps cut
    * the shuffle to ≤ k candidates per (query, partition) — the right
    * plan when candidates/query ≫ k. Same output contract as
    * [[knnBruteForce]].
    */
  def knnTopKPlan(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = pre.select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      .where(col("query_id") < nQueries)
    val c = pre.select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cos"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("cos", true), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * curation step): for each query vector, the top-k most similar
    * candidates INSIDE a cosine annulus [floor, ceiling) — above the
    * floor so the negative is confusable (carries gradient), below the
    * ceiling so it is not a disguised positive/near-duplicate (the
    * false-negative trap). Same broadcast-query scan shape as
    * [[knnTopKPlan]]: the corpus is read once shuffle-free, the
    * annulus filter drops most rows BEFORE the top-k operator, and the
    * bounded heaps shuffle ≤ k rows per (query, partition). At 100 TB
    * the same annulus composes with the IVF cell restriction
    * ([[annIvf]]) to prune the scan side too.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int,
                    floor: Double = 0.05, ceiling: Double = 0.30): DataFrame = {
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = pre.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
      .where(col("query_id") < nQueries)
    val scored = pre.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))
      .where(col("cos") >= floor && col("cos") < ceiling)
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("cos", true), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup via banded sign-LSH — the 100 TB path for
    * [[embeddingNearDup]]: one shuffle on (band, 16-bit signature
    * chunk); only bucket-colliding pairs get an exact cosine check.
    * With bands=64, r=16: a cos≥0.99 duplicate pair collides with
    * probability ≈ 1, a random (cos≈0) pair with ≈ 0.1% — ~1000×
    * fewer exact comparisons than the quadratic baseline. Output is
    * verified, so at duplicate-level thresholds it converges to
    * [[embeddingNearDup]]'s answer.
    */
  def lshNearDup(emb: DataFrame, threshold: Double, bands: Int = 64,
                 r: Int = 16, seed: Long = 7L): DataFrame = {
    require(r > 0 && r < 64 && 64 % r == 0,
      "need r to divide 64 (band extraction reads within one packed word)")
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .withColumn("sig", graft.functions.functions.sign_lsh(col("e"), bands * r, seed))
    val banded = pre.select(col("vec_id"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), j -> struct(
           |  j AS band,
           |  (shiftrightunsigned(element_at(sig, CAST((j * $r) div 64 AS INT) + 1),
           |                      CAST((j * $r) % 64 AS INT))
           |   & ${(1L << r) - 1}L) AS v))""".stripMargin)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.v").as("v"))
    val cands = banded.as("a").join(banded.as("b"), Seq("band", "v"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cands
      .join(pre.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na")), "id_a")
      .join(pre.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb")), "id_b")
      .where(dot(col("ea"), col("eb")) / (col("na") * col("nb")) > threshold)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** The corpus ∪ deterministic near-duplicate plants: for each
    * `vec_id < nPlants` a copy at `vec_id + idOffset` with dimension 1
    * zeroed. On unit-norm vectors the planted pair's cosine is
    * √(1−e₁²) ≈ 0.99 — above any duplicate-level threshold — which
    * makes recall gates non-vacuous: an LSH path that drops candidates
    * now visibly diverges from the exact oracle instead of matching on
    * an empty set. The perturbation is exact float arithmetic (zero +
    * tail slice), so both engines see bit-identical planted vectors.
    */
  def plantNearDups(emb: DataFrame, nPlants: Int, idOffset: Long = 100000L): DataFrame =
    emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.where(col("vec_id") < nPlants).select(
        (col("vec_id") + idOffset).as("vec_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding")))

  /** Coarse cell id: sign bits of the first `bits` dimensions (fixed
    * axis-aligned hyperplanes — deterministic, data-independent).
    */
  def cellId(e: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(element_at(e, i + 1) > lit(0f), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** [[annIvf]] with LEARNED cells: k-means centroids from
    * [[Clustering.lloydCentroids]] define the IVF partitions instead of
    * fixed sign-bit hyperplanes — data-adaptive cells give better
    * recall/cost at the same cell count (the standard IVF index build).
    * The centroid frame is k·d values, broadcast; cell assignment is a
    * per-row argmin; scoring shuffles only same-cell candidates.
    */
  def annIvfKmeans(emb: DataFrame, nQueries: Int, k: Int,
                   nClusters: Int = 8, iters: Int = 5): DataFrame =
    annIvfWithCentroids(emb,
      Clustering.lloydCentroids(emb, nClusters, iters), nQueries, k)

  /** [[annIvfKmeans]] with the index build AMORTIZED: the converged
    * centroid frame is built once per (source dir, nClusters, iters)
    * and cached — it is already `localCheckpoint`ed (executor blocks,
    * zero driver rows), so the cache holds a plan reference, not data.
    * This is how an IVF index actually serves: build once, query many —
    * the same amortized-layout pattern as [[graft.sources.Bucketing]]'s
    * bucketed-write gate. The checkpoint blocks belong to the session
    * that built them, so the cache is per session.
    */
  def annIvfKmeansIndexed(spark: org.apache.spark.sql.SparkSession,
                          dir: String, nQueries: Int, k: Int,
                          nClusters: Int = 8, iters: Int = 5): DataFrame =
    annIvfWithCentroids(graft.Tables.embeddings(spark, dir),
      cachedCentroids(spark, dir, nClusters, iters), nQueries, k)

  /** The shared converged-centroid index: built once per (session,
    * source dir, nClusters, iters) and reused by every consumer (IVF
    * ANN, SemDeDup, prototype pruning) — the amortization that makes
    * running several embedding-curation passes over one corpus cost ONE
    * k-means.
    */
  private[graft] def cachedCentroids(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, nClusters: Int = 8,
                                     iters: Int = 5): DataFrame =
    graft.sources.SessionCache.perSession(spark,
        ("Similarity.ivf", dir, nClusters, iters)) {
      Clustering.lloydCentroids(
        graft.Tables.embeddings(spark, dir), nClusters, iters)
    }

  private def annIvfWithCentroids(emb: DataFrame, cents: DataFrame,
                                  nQueries: Int, k: Int): DataFrame = {
    val cells = Clustering.cellAssignments(emb, cents)
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .join(cells, "vec_id")
    val q = pre.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"))
      .where(col("query_id") < nQueries)
    val scored = pre.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF/LSH-bucketed approximate top-k: queries only score candidates
    * in their own coarse cell (2^bits cells). Recall < 1 by design;
    * cost drops by ~2^bits. Same output shape as [[knnBruteForce]].
    */
  def annIvf(emb: DataFrame, nQueries: Int, k: Int, bits: Int = 4): DataFrame = {
    val cells = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"),
        cellId(col("embedding"), bits).as("cell"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val q = cells.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("nrm").as("qn"), col("cell"))
      .where(col("query_id") < nQueries)
    val scored = cells.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** SemDeDup semantic-duplicate keep-list (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with k-means, then
    * WITHIN each cluster drop every vector that has a cosine-similar
    * neighbor with a lower id — pairwise similarity is only ever
    * computed between same-cluster vectors, which is the whole point
    * of the method: the quadratic is bounded by the largest cluster,
    * not the corpus. Keeping the lowest id of a similar pair is the
    * deterministic representative choice (the paper keeps a
    * per-group exemplar; lowest-id is the engine-reproducible one).
    *
    * Plan shape: centroid learn (cached, k·d rows) → per-row argmin
    * cell assignment (broadcast, shuffle-free) → ONE shuffle on cell
    * for the self-join → distinct drop ids → broadcast-able anti-join.
    * At 100 TB the knob is `nClusters`: more cells = smaller
    * quadratic blocks; a skew-heavy corpus would cap cell size by
    * splitting oversized cells on a secondary sign-bit, the
    * [[lshNearDup]] banding trick.
    */
  def semDedupKeep(spark: org.apache.spark.sql.SparkSession, dir: String,
                   threshold: Double, nClusters: Int = 8,
                   iters: Int = 5): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val cents = cachedCentroids(spark, dir, nClusters, iters)
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .join(Clustering.cellAssignments(emb, cents), "vec_id")
    val a = pre.select(col("cell"), col("vec_id").as("id_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = pre.select(col("cell"), col("vec_id").as("id_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val drops = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b") &&
        dot(col("ea"), col("eb")) / (col("na") * col("nb")) > threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    emb.select("vec_id")
      .join(drops, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Multi-probe IVF top-k: each query scores candidates in its
    * `nProbe` NEAREST cells instead of only its own — the standard
    * recall lever of an IVF index (a query near a cell boundary has
    * half its true neighbors on the other side; probing the runner-up
    * cell recovers them for ~nProbe× scoring cost, still ~k/nProbe
    * cheaper than exact). Corpus side is unchanged ([[cellAssignments]]
    * codegen argmin, one home cell per vector), so each (query,
    * candidate) pair arises at most once — via the candidate's home
    * cell — and needs no dedup; the query side explodes into nProbe
    * rows and broadcasts. Same output contract as [[knnBruteForce]].
    */
  def annIvfMultiprobe(spark: org.apache.spark.sql.SparkSession,
                       dir: String, nQueries: Int, k: Int, nProbe: Int = 2,
                       nClusters: Int = 8, iters: Int = 5): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val cents = cachedCentroids(spark, dir, nClusters, iters)
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .join(Clustering.cellAssignments(emb, cents), "vec_id")
    val qp = Clustering.probeCells(emb.where(col("vec_id") < nQueries),
        cents, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val q = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      .join(qp, "query_id")
    val scored = pre.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Scalar-quantized (int8) approximate top-k — the memory-side ANN
    * lever: each dimension is affinely mapped to 0..255 by its
    * corpus-wide [min, max], and ALL ranking runs on the quantized
    * codes with exact integer squared-L2 — a 4× smaller index that
    * never touches the float vectors at query time. The quantized
    * distance IS the operator's contract (not an approximation of a
    * float rank), so the result is bit-reproducible on any engine.
    *
    * Plan shape: one posexplode partial-agg for the d per-dim
    * (min, max) pairs (k·d rows global), broadcast back as two
    * arrays; quantization is per-row; ranking is the
    * [[knnBruteForce]] broadcast shape. The transform/aggregate
    * lambdas are interpreted — at 100 TB the quantize + distance
    * loops would move into a native codegen Expression, the
    * [[dot]]/NearestCentroidL2 treatment (NOTES: 40–100× on exactly
    * this kind of hot loop).
    */
  def annSq8(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val d = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // per-dim corpus min/max -> ONE row of (mns, mxs) arrays
    val stats = d.select(posexplode(col("e")))
      .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
      .agg(
        transform(sort_array(collect_list(struct(col("pos"), col("mn")))),
          x => x.getField("mn")).as("mns"),
        transform(sort_array(collect_list(struct(col("pos"), col("mx")))),
          x => x.getField("mx")).as("mxs"))
    // q_i = round((x_i - mn_i) * 255 / (mx_i - mn_i)); constant dims -> 0.
    // The expression tree (subtract, times, divide, round) is mirrored
    // verbatim in the oracle so the IEEE doubles agree bit-for-bit.
    val quant = d.join(broadcast(stats))
      .select(col("vec_id"), expr(
        """transform(sequence(1, size(e)), i ->
          |  IF(element_at(mxs, i) = element_at(mns, i), 0L,
          |     CAST(round((element_at(e, i) - element_at(mns, i)) * 255.0D
          |                / (element_at(mxs, i) - element_at(mns, i))) AS BIGINT)))"""
          .stripMargin).as("q"))
    val qs = quant.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = quant.join(broadcast(qs), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(qq, q, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
          .as("d2"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("d2", false), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Johnson–Lindenstrauss random projection with a ±1 (Achlioptas
    * 2003) matrix: scaled-integer embeddings projected to `outDims`
    * dimensions, every output coordinate an EXACT bigint
    * `Σᵢ sign(j,i)·evᵢ` — distances are preserved in expectation while
    * the vector shrinks 4× here (64→16 dims), the standard cheap
    * dimensionality reduction in front of clustering/LSH. The sign
    * matrix is deterministic — `sign(j,i)` = parity of the dual-engine
    * md5 hash of "j:i" — and is evaluated ONCE in a one-row frame that
    * broadcasts; per-row work is the `outDims × d` integer fold. (The
    * lambdas are interpreted; the 100 TB hot path would move the fold
    * into a native codegen Expression — the NearestCentroidL2
    * treatment.) Output exploded to (vec_id, dim, v) rows.
    */
  def randomProjection(emb: DataFrame, outDims: Int = 16): DataFrame = {
    val signs = emb
      .agg(max(size(col("embedding"))).as("nd"))
      .select(expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  transform(sequence(1, nd), i ->
           |    IF(pmod(cast(conv(substr(md5(concat(cast(j AS string), ':',
           |                                        cast(i AS string))), 1, 15),
           |                  16, 10) AS bigint), 2) = 0, 1L, -1L)))"""
          .stripMargin).as("sm"))
    emb.select(col("vec_id"), Clustering.scaledVec(col("embedding")).as("ev"))
      .join(broadcast(signs))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  aggregate(sequence(1, size(ev)), 0L, (acc, i) ->
           |    acc + element_at(element_at(sm, j + 1), i) * element_at(ev, i)))"""
          .stripMargin)))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("v"))
      .orderBy("vec_id", "dim")
  }

  /** Per-vector stats via higher-order array functions — `filter`,
    * `transform`, `aggregate` with no UDF and no explode (the array
    * never becomes rows, so a 100 TB scan stays one pass with zero
    * shuffle). This query IS the higher-order-function API coverage;
    * note Spark evaluates the lambdas interpreted (HigherOrderFunction
    * is CodegenFallback), so a hot 100 TB inner loop should use a
    * native codegen Expression instead — the [[dot]]/`NearestCentroidL2`
    * treatment (NOTES.md measured 40–100× for exactly this swap).
    * Integer-milli outputs: both engines do the identical float→double
    * promotion before scaling.
    */
  def arrayStats(emb: DataFrame, limit: Int = 500): DataFrame = {
    val milli = transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long"))
    emb.select(col("vec_id"),
        size(filter(col("embedding"), _ > 0f)).cast("long").as("n_pos"),
        // SQL sum-of-empty is NULL (DuckDB list_sum, SQL SUM); the
        // fold's zero element would say 0 — align to NULL so the
        // semantics (and the oracle) hold for zero-length vectors
        when(size(col("embedding")) > 0,
          aggregate(milli, lit(0L), (acc, x) => acc + x)).as("sum_milli"),
        array_max(milli).as("max_milli"))
      .orderBy("vec_id")
      .limit(limit)
  }

  /** IVF index OBSERVABILITY: the per-cell population of the sign
    * index plus each cell's share of the corpus in ppm — the balance
    * report that predicts both query cost (you scan your cell) and
    * recall risk (empty cells mean wasted partitions). The ANN
    * sibling of the join-key skew profile; one map-side-combined
    * shuffle on ≤ 2^bits keys.
    */
  def annCellHistogram(emb: DataFrame, bits: Int = 4): DataFrame = {
    val cells = emb.select(cellId(col("embedding"), bits).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"),
        expr("n * 1000000 div total").as("share_ppm"))
      .orderBy("cell")
  }

  /** ANN self-evaluation: per-query recall of the IVF index against
    * the exact brute-force top-k — the tuning report that tells an
    * operator whether `bits` is costing them neighbors BEFORE anyone
    * ships the index. Both sides are the engine's own deterministic
    * operators, so recall is oracle-able end-to-end (most ANN recall
    * harnesses aren't, because the index is randomized — ours is sign
    * structured by construction). Shape: the two top-k runs plus one
    * semi-join and a per-query count over nQ·k rows.
    */
  def annRecallReport(emb: DataFrame, nQueries: Int = 10,
                      k: Int = 5): DataFrame = {
    val exact = knnBruteForce(emb, nQueries, k)
      .select("query_id", "neighbor_id")
    val approx = annIvf(emb, nQueries, k).select("query_id", "neighbor_id")
    recallReport(exact, approx, k)
  }

  /** Per-query recall of an `approx` (query_id, neighbor_id) set
    * against `exact` truth — the shared tail of every ANN recall gate:
    * one semi-join + a per-query count over nQ·k rows.
    */
  private[graft] def recallReport(exact: DataFrame, approx: DataFrame,
                                  k: Int): DataFrame = {
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr(s"n_hits * 1000000 div $k"))
      .orderBy("query_id")
  }

  /** Embedding NORM extremes — the vector-QA screen: the `k` largest
    * and `k` smallest squared L2 norms (milli-scaled integers). Norm
    * outliers are how truncated inputs, padding bugs, and un-normalized
    * batches surface; both tails in one report. Per-row codegen math,
    * two TakeOrderedAndProject heads, no shuffle beyond the top-k
    * merges.
    */
  def normExtremes(emb: DataFrame, k: Int = 10): DataFrame = {
    val sq = emb.select(col("vec_id"), expr(
      "aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)), 0L, (a, v) -> a + v * v)")
      .as("sumsq_milli"))
    val hi = sq.orderBy(col("sumsq_milli").desc, col("vec_id")).limit(k)
      .withColumn("tail", lit("high"))
    val lo = sq.orderBy(col("sumsq_milli").asc, col("vec_id")).limit(k)
      .withColumn("tail", lit("low"))
    hi.unionByName(lo).orderBy("tail", "vec_id")
  }

  /** Embedding DRIFT check: per-dimension truncating-integer means of
    * the lower- and upper-id halves of the corpus (the
    * batch-over-batch split a feature store actually has), and their
    * absolute delta in milli units. A nonzero-everywhere drift row
    * set means the encoder or the upstream distribution moved — the
    * ML-ops tripwire run before any retrain decision. One posexplode
    * scan, one (dim)-keyed map-side-combined shuffle, d-row output;
    * the split point is a data-derived 1-row broadcast (no wall
    * clock).
    */
  def embDriftCheck(emb: DataFrame): DataFrame = {
    val mid = emb.agg(expr("(max(vec_id) + 1) div 2").as("mid"))
    emb.crossJoin(broadcast(mid))
      .select(col("vec_id"), col("mid"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        (col("vec_id") < col("mid")).as("lo"),
        expr("cast(round(cast(x as double) * 1000) as bigint)").as("xm"))
      .groupBy("dim")
      .agg(sum(when(col("lo"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("lo"), col("xm")).otherwise(0L)).as("s_a"),
        sum(when(!col("lo"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("lo"), col("xm")).otherwise(0L)).as("s_b"))
      .select(col("dim"),
        expr("s_a div n_a").as("mu_a_milli"),
        expr("s_b div n_b").as("mu_b_milli"),
        expr("abs(s_a div n_a - s_b div n_b)").as("drift_milli"))
      .orderBy("dim")
  }

  /** Per-DIMENSION corpus statistics in scaled integers — the
    * whitening/standardization pass over an embedding column: for each
    * dimension, the count, the milli-scaled sum and sum of squares,
    * and the integer variance numerator n·Σx² − (Σx)² (exact, no mean
    * subtraction pass). One posexplode + one map-side-combined shuffle
    * on ≤ d keys; at 100 TB this is the cheapest possible full-corpus
    * pass (d-row output, no second scan — the two-moment identity is
    * why). Milli scale keeps n·Σx² far from the int64 edge at any
    * realistic corpus size (1e6 · rows · 1e3).
    */
  def dimStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("cast(round(cast(x as double) * 1000) as bigint)").as("xm"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("xm").as("sum_milli"),
        sum(expr("xm * xm")).as("sumsq_milli"))
      .withColumn("var_num", expr("n * sumsq_milli - sum_milli * sum_milli"))
      .orderBy("dim")

  /** Product-quantization ANN (the coding half of IVF-ADC, Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011): the vector splits into `m` subspaces, each subspace learns
    * its own `codebookK`-centroid codebook (the same deterministic
    * integer Lloyd as [[Clustering.lloydCentroids]], on the slice),
    * and a vector is stored as just its m codes. Query-time ADC
    * (asymmetric distance): the query precomputes, per subspace, the
    * exact distance to EVERY centroid (an m×codebookK lookup table),
    * and a candidate's distance is m table lookups summed — the
    * uncompressed corpus vector is never touched again.
    *
    * This is the 100 TB memory lever in its real form: 64 float dims
    * (256 B) become m=4 codes (4 B at codebookK ≤ 256) — 64× — so the
    * index fits where the vectors can't; recall is traded via m and
    * codebookK, not corpct. Every distance is an exact scaled-int
    * BIGINT (codebooks, codes, and LUTs all integer), so the result is
    * engine-reproducible and the DuckDB oracle replays it exactly.
    *
    * Plan shape: codebook learning is m small Lloyd runs; corpus
    * encoding is ONE scan with m codegen-argmin expressions against m
    * broadcast 1-row centroid arrays (no shuffle, no join of the
    * corpus); the query LUT frame is nQueries rows (m maps of
    * codebookK entries each), broadcast; ADC scoring is a shuffle-free
    * map-side cross of corpus codes × query LUTs; ranking is the
    * bounded-heap [[graft.plans.TopKPerKey]] — ≤ k rows per (query,
    * partition) ever shuffle.
    */
  def annPq(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
            m: Int = 4, codebookK: Int = 8, iters: Int = 3): DataFrame = {
    val (codes, qlut) = pqCodesAndLut(emb, nQueries, m, codebookK, iters)
    val scored = codes
      .join(broadcast(qlut), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until m).map(s => element_at(col(s"lut$s"), col(s"code$s")))
          .reduce(_ + _).as("adc_d2"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("adc_d2", false), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ: [[annPq]]'s ADC coding composed with the IVF coarse
    * quantizer of [[annIvfKmeans]] — the full FAISS-style `IVFx,PQy`
    * index. Candidates are pruned to the query's home cell BEFORE any
    * distance work, then ranked by the exact-integer ADC sum over the
    * m code lookups. The cell id is computed in the SAME one-pass
    * corpus encode as the m subspace codes (one more broadcast argmin
    * column, not another scan or join), so the index build remains a
    * single corpus scan after the small Lloyd runs.
    *
    * 100 TB shape: the serving index is (cell, m codes) per vector —
    * bucket-partition by cell (the [[graft.sources.AnnIndex]] layout)
    * and a query reads one bucket and does m map lookups per
    * candidate; neither raw vectors nor float math appear at query
    * time.
    */
  def annIvfPq(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
               m: Int = 4, codebookK: Int = 8, iters: Int = 3,
               nCells: Int = 8, cellIters: Int = 5,
               coarseCents: Option[DataFrame] = None): DataFrame = {
    // the coarse quantizer is shareable (the cachedCentroids index the
    // other IVF/SemDeDup/prototype passes reuse); built here if not
    val cellCents = coarseCents.getOrElse(
      Clustering.lloydCentroids(emb, nCells, cellIters))
    val (codes, qlut) =
      pqCodesAndLut(emb, nQueries, m, codebookK, iters, Some(cellCents))
    val qcells = codes.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"))
    val scored = codes
      .join(broadcast(qlut.join(qcells, "query_id")),
        col("query_id") =!= col("vec_id") && col("cell") === col("qcell"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until m).map(s => element_at(col(s"lut$s"), col(s"code$s")))
          .reduce(_ + _).as("adc_d2"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("adc_d2", false), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** [[annPq]] with the codebook learning AMORTIZED via the same
    * session cache as [[cachedCentroids]]: the m per-subspace Lloyd
    * runs execute once per (dir, m, codebookK, iters) and every later
    * query pays only the one-pass encode + LUT probe — the build-once
    * / query-many serving shape of a real PQ index (the
    * [[graft.sources.AnnIndex]] persistence story applies unchanged:
    * codes and codebooks are plain frames, writable bucket-partitioned
    * by cell).
    */
  def annPqIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                   nQueries: Int = 10, k: Int = 5, m: Int = 4,
                   codebookK: Int = 8, iters: Int = 3): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val books = (0 until m).map { s =>
      graft.sources.SessionCache.perSession(spark,
          ("Similarity.pq", dir, m, s, codebookK, iters)) {
        Clustering.lloydCentroids(pqSlice(emb, s, m), codebookK, iters)
      }
    }
    val (codes, qlut) =
      pqCodesAndLut(emb, nQueries, m, codebookK, iters, books = Some(books))
    val scored = codes
      .join(broadcast(qlut), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until m).map(s => element_at(col(s"lut$s"), col(s"code$s")))
          .reduce(_ + _).as("adc_d2"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(("adc_d2", false), ("neighbor_id", false)), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private def pqSlice(emb: DataFrame, s: Int, m: Int): DataFrame =
    emb.select(col("vec_id"), expr(
      s"slice(embedding, $s * (size(embedding) div $m) + 1, " +
        s"size(embedding) div $m)").as("embedding"))

  /** Shared PQ index build: per-subspace integer-Lloyd codebooks, the
    * one-pass corpus encode (m codegen argmins against broadcast
    * centroid arrays; ties to the lowest centroid id — the
    * NearestCentroidL2 contract, mirrored by the oracle's
    * (d2, cluster) row_number order), and the per-query ADC lookup
    * tables (code → exact subspace d2, one map column per subspace —
    * tiny: nQueries × m × codebookK entries). With `cellCents` set,
    * the same corpus pass also emits the IVF home-cell argmin as a
    * `cell` column.
    */
  private def pqCodesAndLut(emb: DataFrame, nQueries: Int, m: Int,
                            codebookK: Int, iters: Int,
                            cellCents: Option[DataFrame] = None,
                            books: Option[Seq[DataFrame]] = None)
      : (DataFrame, DataFrame) = {
    def sliced(s: Int): DataFrame = pqSlice(emb, s, m)
    // the m per-subspace codebooks learn as ONE tagged Lloyd run (one
    // assignment/update/probe job per iteration instead of m of each);
    // per tag the result is bit-identical to m separate runs, so the
    // unrolled per-subspace oracle is untouched
    val theBooks = books.getOrElse {
      val slices = (0 until m)
        .map(s => sliced(s).select(lit(s).as("tag"), col("vec_id"),
          col("embedding")))
        .reduce(_ unionAll _)
      val tagged = Clustering.lloydCentroidsTagged(slices, codebookK, iters)
      (0 until m).map(s =>
        tagged.where(col("tag") === s).select(col("cluster"), col("cv")))
    }

    // r16 job-count consolidation (the tiny-jobs lever, VERDICT r14
    // #3): the old shape built one broadcast PER SUBSPACE for the
    // encode (m + 1 builds) and assembled the LUT columns through m
    // crossJoin+groupBy chains joined pairwise (each its own broadcast
    // build) — ~25 of ann_pq's 48 jobs were these builds over
    // kilobyte frames. All codebooks (+ the IVF cells at tag m) now
    // ride ONE 1-row broadcast map (tag → sorted centroid array); the
    // corpus encode reads `element_at(books, s)` per subspace in the
    // same single scan, and each query's m ADC tables are computed by
    // a per-row transform over the broadcast arrays — a projection,
    // not a join. Arithmetic is unchanged expression-for-expression
    // (same scaled ints, same (x−y)² fold, same cluster-keyed maps),
    // so codes, LUTs, and the oracle are bit-identical.
    val taggedBooks = theBooks.zipWithIndex.map { case (b, s) =>
        b.select(lit(s).as("tag"), col("cluster"), col("cv")) } ++
      cellCents.map(cc =>
        cc.select(lit(m).as("tag"), col("cluster"), col("cv"))).toSeq
    val booksRow = taggedBooks.reduce(_ unionAll _)
      .groupBy("tag")
      .agg(sort_array(collect_list(struct(col("cluster"), col("cv"))))
        .as("cents"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("tag"), col("cents"))))).as("books"))
    val withBooks = emb
      .select(col("vec_id"), Clustering.scaledVec(col("embedding")).as("ev"))
      .join(broadcast(booksRow))
    def sliceOf(s: Int) =
      expr(s"slice(ev, $s * (size(ev) div $m) + 1, size(ev) div $m)")
    val codeCols = (0 until m).map { s =>
      graft.functions.functions.nearest_centroid_l2(
          sliceOf(s), element_at(col("books"), lit(s)))
        .getField("cluster").as(s"code$s")
    } ++ cellCents.map(_ =>
      graft.functions.functions.nearest_centroid_l2(
          col("ev"), element_at(col("books"), lit(m)))
        .getField("cluster").as("cell")).toSeq
    val codes = withBooks.select(col("vec_id") +: codeCols: _*)

    val lutCols = (0 until m).map { s =>
      map_from_entries(transform(element_at(col("books"), lit(s)),
        c => struct(c.getField("cluster").as("cluster"),
          aggregate(
            zip_with(sliceOf(s), c.getField("cv"),
              (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v).as("pd2")))).as(s"lut$s")
    }
    val qlut = withBooks.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: lutCols: _*)
    (codes, qlut)
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    * — diversified top-k: greedily pick the candidate maximizing
    * `rel − max_{s∈S} sim(c, s)` (λ = ½ folded out: argmax is
    * invariant under the common factor), where `rel` is cosine to the
    * query vector (`vec_id = queryId`). The retrieval/data-selection
    * primitive the plain top-k family can't express: the 2nd pick is
    * penalized for resembling the 1st, so near-duplicate results never
    * crowd the slate.
    *
    * Loop state is the k-element selected set — the [[graft.operators
    * .TextAnalysis.bpeLearn]] pattern: a 1-row driver fetch per round
    * is the argmax, everything data-sized stays distributed. Per round
    * ONE shuffle-free scan of the candidates (the ≤k selected rows are
    * broadcast; the per-candidate penalty is a max over ≤k broadcast
    * rows computed in the map side) plus a TakeOrdered(1). 100 TB
    * shape: k scans of the corpus, zero corpus shuffles.
    *
    * Determinism: doubles with the same expression tree as the DuckDB
    * oracle (`rel − max sim`), ties by vec_id — the [[knnBruteForce]]
    * contract. Output is integer-only (sel_rank, vec_id).
    */
  def mmrSelect(emb: DataFrame, k: Int = 5, queryId: Long = 0L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e")))).localCheckpoint()
    val q = pre.where(col("vec_id") === queryId)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    val rel = pre.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("e"), col("nrm"),
        (dot(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("rel"))
      .localCheckpoint()
    var chosen = Vector.empty[Long]
    while (chosen.size < k) {
      val scored =
        if (chosen.isEmpty) rel.select(col("vec_id"), col("rel").as("score"))
        else {
          // selected-set membership via a broadcast (anti-)join on a
          // k-row frame, not isin(...) literals — the plan stays O(1)
          // in k (one join node) instead of growing a k-term predicate
          val ch = broadcast(chosen.toDF("vec_id"))
          val cand = rel.join(ch, Seq("vec_id"), "left_anti")
          val sel = rel.join(ch, Seq("vec_id"))
            .select(col("vec_id").as("sid"), col("e").as("se"),
              col("nrm").as("sn"))
          cand.crossJoin(broadcast(sel))
            .select(col("vec_id"), col("rel"),
              (dot(col("e"), col("se")) / (col("nrm") * col("sn"))).as("sim"))
            .groupBy("vec_id", "rel").agg(max("sim").as("pen"))
            .select(col("vec_id"), (col("rel") - col("pen")).as("score"))
        }
      chosen :+= scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect().head.getLong(0) // 1-row loop state, not a data plane
    }
    chosen.zipWithIndex
      .map { case (id, i) => (i + 1L, id) }
      .toDF("sel_rank", "vec_id")
  }

  /** Farthest-point sampling (greedy k-center, Gonzalez 1985) — the
    * coreset-selection primitive: starting from `seedId`, repeatedly
    * add the point whose squared L2 distance to its NEAREST selected
    * point is largest. The classic 2-approximation to k-center cover;
    * as data curation it picks a maximally spread subset (the opposite
    * failure mode of random sampling, which oversamples dense modes).
    *
    * Same loop shape, scale posture, and determinism contract as
    * [[mmrSelect]] (per-candidate MIN over the ≤k broadcast selected
    * rows, argMAX of that, ties by vec_id); distance is
    * `(‖a‖² + ‖b‖²) − 2·a·b` with the norms hoisted once per row and
    * the exact association mirrored by the oracle.
    */
  def fpsCoreset(emb: DataFrame, k: Int = 5, seedId: Long = 0L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("n2", dot(col("e"), col("e"))).localCheckpoint()
    var chosen = Vector(seedId)
    while (chosen.size < k) {
      // same broadcast-(anti-)join membership as [[mmrSelect]]: the
      // k-row selected set joins, it never becomes k isin literals
      val ch = broadcast(chosen.toDF("vec_id"))
      val sel = pre.join(ch, Seq("vec_id"))
        .select(col("e").as("se"), col("n2").as("sn2"))
      val next = pre.join(ch, Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(sel))
        .select(col("vec_id"),
          ((col("n2") + col("sn2")) - lit(2.0) * dot(col("e"), col("se")))
            .as("d2"))
        .groupBy("vec_id").agg(min("d2").as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .collect().head.getLong(0) // 1-row loop state, not a data plane
      chosen :+= next
    }
    chosen.zipWithIndex
      .map { case (id, i) => (i + 1L, id) }
      .toDF("sel_rank", "vec_id")
  }
}
