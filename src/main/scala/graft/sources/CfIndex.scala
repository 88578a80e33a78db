package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Basket

/** Persisted collaborative-filtering index: the nightly-built neighbor
  * tables a production recommender probes per serving run. Before this
  * existed, `customer_cf_neighbors`, `customer_recommendations` and
  * `customer_rec_eval` EACH rebuilt the co-purchase similarity graph
  * from `lineitem` — the single most expensive shared subtree in the
  * whole sweep (~20 s of 374 s at sf0.1). At 100 TB the similarity
  * build is an hours-long batch job; serving and offline eval must be
  * index probes, not graph rebuilds. The [[DedupIndex]]/[[AnnIndex]]
  * build-once/probe-many pattern, applied to recsys:
  *
  *  - `cp`   (c, p)                          bucketed by c — full
  *    df-unpruned incidence (candidate expansion + owned-part removal)
  *  - `nb`   (c_a, c_b, shared, score_ppm, rank) bucketed by c_b —
  *    full-history top-k neighbor graph (the probe key in
  *    candidate expansion is the NEIGHBOR id)
  *  - `cptr` / `nbtr` — the same two tables over the leave-latest-
  *    order-out TRAIN split (the offline-eval contract: the held-out
  *    basket must never reach the similarity graph, so eval probes a
  *    split-trained index, exactly as a production eval harness
  *    scores yesterday's index against today's orders)
  *  - `test` (c, p) bucketed by c — the held-out baskets
  *
  * The graph build (incidence distinct + df-prune + self-join +
  * degree join + top-k) happens ONCE at write time; every probe pays
  * only bucket-local joins, and the bucketed `cp` side of the
  * candidate-expansion join plans without an Exchange. Outputs are
  * byte-identical to the recompute operators ([[Basket.cfNeighbors]] /
  * [[Basket.recommendations]] / [[Basket.recEval]]) — the gates share
  * those oracles.
  */
object CfIndex {

  private def t(name: String, tag: String): String = s"graft_cfx_${name}_$tag"

  /** Materialize the full-history and train-split CF tables, bucketed
    * on their probe keys. One deterministic pipeline per table — the
    * write is the ONLY place the similarity graph is computed.
    */
  def writeIndex(spark: SparkSession, dir: String, tag: String,
                 maxDf: Int = 30, minShared: Int = 2, kNb: Int = 3,
                 buckets: Int = 8): Unit = {
    val lineitem = Tables.lineitem(spark, dir)
    val orders = Tables.orders(spark, dir)
    def save(df: DataFrame, name: String, cols: Seq[String]): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, cols.head, cols.tail: _*).saveAsTable(t(name, tag))
    // leave-latest-order-out split (the recEval contract): latest
    // order per customer (orderdate desc, orderkey tiebreak) held out
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val lo = orders.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey").as("last_c"), col("o_orderkey").as("last_ok"))
    // ONE lineitem⋈orders pass + ONE (c, p) aggregation derives all
    // three incidence tables: a pair is in the FULL incidence always,
    // in the TRAIN incidence iff some non-held-out order carries it,
    // and in the held-out TEST baskets iff the customer's latest order
    // carries it (the pair's customer IS that order's customer). Two
    // distinct shuffles + a semi-join collapse into one groupBy.
    val flagged = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"),
        col("o_orderkey").as("ok"))
      .join(lo.select(col("last_ok").as("ok"), lit(1).as("held")),
        Seq("ok"), "left")
      .groupBy("c", "p")
      .agg(max(when(col("held").isNull, 1).otherwise(0)).as("has_train"),
        max(coalesce(col("held"), lit(0))).as("has_held"))
      .localCheckpoint()
    val cpFull = flagged.select("c", "p")
    val cpTrain = flagged.where(col("has_train") === 1).select("c", "p")
    // the five table builds share no lineage past the checkpoint and
    // local[32] has far more slots than any one of these small jobs
    // uses — run them as concurrent Spark jobs (same pattern a real
    // cluster uses to overlap the latency-bound small writes)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      Future(save(cpFull, "cp", Seq("c"))),
      Future(save(Basket.cfNeighborsFrom(cpFull, maxDf, minShared, kNb),
        "nb", Seq("c_b"))),
      Future(save(cpTrain, "cptr", Seq("c"))),
      Future(save(Basket.cfNeighborsFrom(cpTrain, maxDf, minShared, kNb),
        "nbtr", Seq("c_b"))),
      Future(save(flagged.where(col("has_held") === 1)
        .select(col("c").as("custkey"), col("p").as("part_id")),
        "test", Seq("custkey"))))
    writes.foreach(Await.result(_, Duration.Inf))
  }

  // one index build per (SparkContext, sf dir), shared by all three
  // family gates — whichever runs first pays the build
  private def ensure(spark: SparkSession, dir: String): String =
    SessionCache.perContext(spark, ("CfIndex", dir)) {
      val tg = StagedTags.tagOf(dir)
      writeIndex(spark, dir, tg)
      tg
    }

  /** Gate query: [[Basket.cfNeighbors]] through the persisted index —
    * a bucketed scan + the output ordering, no similarity compute.
    */
  def cfNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val tag = ensure(spark, dir)
    spark.table(t("nb", tag))
      .select("c_a", "c_b", "shared", "score_ppm", "rank")
      .orderBy("c_a", "rank")
  }

  /** Gate query: [[Basket.recommendations]] probing the persisted
    * full-history neighbor + incidence tables. The candidate-expansion
    * join reads `cp` bucketed on its join key, and the merge hint PINS
    * the bucket-co-located sort-merge plan: both tables are tiny at
    * fixture SF, so Catalyst would otherwise pick a broadcast join
    * whose BUILD SIDE follows the smaller byte count — which jitters
    * with the concurrent index writes' file layout (the
    * customer_rec_eval plan-digest flake). SMJ over two bucketed scans
    * is exchange-free, deterministic, and the only shape that survives
    * 100 TB (neither the incidence nor the neighbor graph broadcasts
    * at scale).
    */
  def recommendations(spark: SparkSession, dir: String,
                      topN: Int = 3): DataFrame = {
    val tag = ensure(spark, dir)
    Basket.recommendFrom(
      spark.table(t("nb", tag)).select("c_a", "c_b", "score_ppm")
        .hint("merge"),
      spark.table(t("cp", tag)), topN)
  }

  /** Gate query: [[Basket.recEval]] probing the persisted TRAIN-split
    * tables — the offline-eval loop as production runs it: score the
    * nightly index against the held-out baskets, never rebuild the
    * graph inside the eval. Leakage-free by construction of `nbtr`
    * / `cptr` at write time.
    */
  def recEval(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    val tag = ensure(spark, dir)
    // merge hint: pin the bucket-co-located SMJ (see recommendations —
    // the broadcast side choice jitters with file-layout bytes)
    val recs = Basket.recommendFrom(
        spark.table(t("nbtr", tag)).select("c_a", "c_b", "score_ppm")
          .hint("merge"),
        spark.table(t("cptr", tag)), topN)
      .select(col("custkey"), col("part_id"))
    Basket.recHitReport(recs, spark.table(t("test", tag)))
  }

  // ------------------------------------------------------------------
  // Incremental maintenance (round 11): fold a day's delta orders into
  // the persisted neighbor graph without ever re-pairing the base
  // against itself. The nightly production loop: the base index is the
  // big batch build; each increment's cost is ∝ the delta (plus a
  // df-bounded correction for parts whose document frequency crosses
  // maxDf — ≤ maxDf² pairs per crossing part, and only delta-touched
  // parts can cross).
  // ------------------------------------------------------------------

  private def ti(name: String, tag: String): String = s"graft_cfi_${name}_$tag"

  /** The base/delta split date: orders STRICTLY BEFORE it form the
    * base index; on/after it are the increment. The fixture's orders
    * span 1995..2001-08; 2001-01-01 keeps the delta at the last ~9% —
    * big enough to exercise threshold-crossing parts at every SF,
    * small enough that the increment is visibly cheaper than the
    * build.
    */
  val CutDate = "2001-01-01"

  /** Materialize the BASE-split CF state, bucketed on each table's
    * probe key. Beyond the serving tables ([[writeIndex]]), the
    * incremental contract needs the MERGEABLE state:
    *
    *  - `cp`  (c, p)  bucket c — base incidence (the Δ anti-join probe)
    *  - `cpp` (p, c)  bucket p — the inverted incidence: the Δ×base
    *    pair expansion and the crossing-part removal both probe BY
    *    PART, so the index stores both orientations (same trick as
    *    the nb/cp dual in [[writeIndex]])
    *  - `pdf` (p, df)  bucket p — UNPRUNED part document frequency
    *    (the crossing detector needs df even for parts near the bar)
    *  - `sh`  (c_a, c_b, shared ≥ 1)  bucket c_a — PRE-threshold
    *    upper-triangle shared counts (a pair at shared = 1 can cross
    *    minShared under a delta, so top-k alone is not mergeable)
    *  - `deg` (c, deg)  bucket c
    *  - `nb`  — the ranked base top-k (untouched customers reuse it
    *    verbatim at increment time)
    */
  def writeBaseIndex(spark: SparkSession, dir: String, tag: String,
                     maxDf: Int = 30, minShared: Int = 2, kNb: Int = 3,
                     buckets: Int = 8): Unit = {
    val lineitem = Tables.lineitem(spark, dir)
    val orders = Tables.orders(spark, dir)
    def save(df: DataFrame, name: String, cols: Seq[String]): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, cols.head, cols.tail: _*).saveAsTable(ti(name, tag))
    val cp = lineitem
      .join(orders.where(col("o_orderdate") < to_timestamp(lit(CutDate))),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct().localCheckpoint()
    val kept = Basket.cfPruned(cp, maxDf)
    val shU = Basket.cfSharedUpper(kept).localCheckpoint()
    val deg = kept.groupBy("c").agg(count(lit(1)).as("deg")).localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      Future(save(cp, "cp", Seq("c"))),
      Future(save(cp.select("p", "c"), "cpp", Seq("p"))),
      Future(save(cp.groupBy("p").agg(count(lit(1)).as("df")), "pdf", Seq("p"))),
      Future(save(shU, "sh", Seq("c_a"))),
      Future(save(deg, "deg", Seq("c"))),
      Future(save(Basket.cfRankFrom(shU, deg, minShared, kNb), "nb", Seq("c_a"))))
    writes.foreach(Await.result(_, Duration.Inf))
  }

  /** Signed deltas from a raw delta incidence against the base state:
    * `(dcp, ddf, Δsh (c_a, c_b, ds), Δdeg (c, dd))` — the truly-new
    * incidence rows and part-df deltas ride along for [[writePromoted]];
    * the two signed frames carry net-nonzero rows only.
    *
    * Every emitted pair has ≥ 1 delta endpoint OR belongs to a
    * threshold-crossing part — base×base pairs of surviving parts are
    * NEVER enumerated (the spec proves this on a corpus where they
    * would dominate). Shuffle volume: the anti-join and the per-part
    * expansions move only delta-keyed rows against bucket-local scans
    * of `cp`/`cpp`/`pdf`.
    */
  private[graft] def cfDeltas(dcpRaw: DataFrame, cpB: DataFrame,
                              cppB: DataFrame, pdfB: DataFrame,
                              maxDf: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // truly-new (c, p) pairs: a delta order repeating an owned part
    // adds nothing to the DISTINCT incidence
    val dcp = dcpRaw.join(cpB, Seq("c", "p"), "left_anti").localCheckpoint()
    // df bookkeeping only matters for DELTA-TOUCHED parts: an
    // untouched part's kept/banned status cannot change (df only
    // grows, and only via delta rows), so the probe is ddf ⟕ pdf —
    // delta-sized, bucket-local on the pdf side
    val ddf = dcp.groupBy("p").agg(count(lit(1)).as("ddf"))
    val dfm = ddf.join(pdfB, Seq("p"), "left")
      .select(col("p"), coalesce(col("df"), lit(0L)).as("df0"),
        (coalesce(col("df"), lit(0L)) + col("ddf")).as("df1"))
    val keptNew = dfm.where(col("df1") <= maxDf).select("p")
    // df only grows, so crossing ⊆ delta-touched parts; a part new in
    // the delta that lands ABOVE the bar has no base pairs to remove
    val crossing = dfm.where(col("df0") <= maxDf && col("df1") > maxDf)
      .select("p")
    val dk = dcp.join(keptNew, "p").localCheckpoint()
    // Δ×base on surviving parts: c_delta ≠ c_base by construction
    // (the anti-join guarantees the delta customer does NOT own p in
    // base), so no self-pair filter is needed
    val addBase = dk.select(col("p"), col("c").as("cd"))
      .join(cppB.select(col("p"), col("c").as("cb")), "p")
      .select(least(col("cd"), col("cb")).as("c_a"),
        greatest(col("cd"), col("cb")).as("c_b"))
    val addDelta = dk.select(col("p"), col("c").as("c_a"))
      .join(dk.select(col("p"), col("c").as("c_b")), "p")
      .where(col("c_a") < col("c_b"))
      .select("c_a", "c_b")
    // crossing parts: EVERY base pair of p leaves the graph (≤ maxDf²
    // per part — the one base-side expansion, df-bounded by contract)
    val remBase = cppB.join(crossing, "p").localCheckpoint()
    val rem = remBase.select(col("p"), col("c").as("c_a"))
      .join(remBase.select(col("p"), col("c").as("c_b")), "p")
      .where(col("c_a") < col("c_b"))
      .select("c_a", "c_b")
    val dsh = addBase.withColumn("s", lit(1L))
      .unionByName(addDelta.withColumn("s", lit(1L)))
      .unionByName(rem.withColumn("s", lit(-1L)))
      .groupBy("c_a", "c_b").agg(sum("s").as("ds"))
      .where(col("ds") =!= 0)
    val ddeg = dk.groupBy("c").agg(count(lit(1)).as("dd"))
      .unionByName(remBase.groupBy("c").agg((-count(lit(1))).as("dd")))
      .groupBy("c").agg(sum("dd").as("dd"))
      .where(col("dd") =!= 0)
    (dcp, ddf, dsh, ddeg)
  }

  // base-split index staging, one build per (SparkContext, sf dir)
  private def ensureBase(spark: SparkSession, dir: String): String =
    SessionCache.perContext(spark, ("CfIndex.base", dir)) {
      val tg = StagedTags.tagOf(dir)
      writeBaseIndex(spark, dir, tg)
      tg
    }

  /** The increment's MERGED state, exposed so [[writePromoted]] can
    * persist it as the next nightly base: the new incidence rows, the
    * part-df deltas, the merged pair/degree state, and the updated
    * neighbor top-k (unordered — storage shape). The signed-delta and
    * touched-set frames ride along for [[cfIncrementStats]] — they are
    * already-checkpointed byproducts of the fold, so exposing them
    * costs nothing.
    */
  private[graft] case class IncState(dcp: DataFrame, ddf: DataFrame,
                                     sh1: DataFrame, deg1: DataFrame,
                                     nb: DataFrame, dsh: DataFrame,
                                     ddeg: DataFrame, touched: DataFrame)

  /** Gate query: the full-history neighbor graph produced by FOLDING
    * the post-[[CutDate]] delta orders into the persisted base index —
    * byte-identical to [[Basket.cfNeighbors]] over all orders (the
    * driver shares that oracle), with base×base work bounded as
    * [[cfDeltas]] documents. Re-ranking touches only customers whose
    * score inputs changed: endpoints of changed pairs, customers with
    * changed degree, and holders of a pair whose COUNTERPARTY's degree
    * changed (score = shared²·10⁶/(deg_a·deg_b) reads both degrees);
    * everyone else's rows are served verbatim from the base `nb`
    * table. The changed-degree set is delta-proportional, so it rides
    * a broadcast; the pair-table merge and every probe are keyed on
    * the bucketed tables' keys.
    */
  def cfIncrement(spark: SparkSession, dir: String, maxDf: Int = 30,
                  minShared: Int = 2, kNb: Int = 3): DataFrame =
    incrementState(spark, dir, maxDf, minShared, kNb).nb
      .orderBy("c_a", "rank")

  // the derived increment state is checkpointed frames — share ONE
  // derivation per (session, dir, params) between the increment gate
  // and writePromoted instead of paying the delta fold twice
  // (per-session scope: the frames hold localCheckpoint blocks)
  private[graft] def incrementState(spark: SparkSession, dir: String,
                                    maxDf: Int = 30, minShared: Int = 2,
                                    kNb: Int = 3): IncState =
    SessionCache.perSession(spark,
        ("CfIndex.inc", dir, maxDf, minShared, kNb)) {
      deriveIncrementState(spark, dir, maxDf, minShared, kNb)
    }

  private def deriveIncrementState(spark: SparkSession, dir: String,
                                   maxDf: Int, minShared: Int,
                                   kNb: Int): IncState = {
    val tag = ensureBase(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val orders = Tables.orders(spark, dir)
    val dcpRaw = lineitem
      .join(orders.where(col("o_orderdate") >= to_timestamp(lit(CutDate))),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val (dcp, ddf, dsh0, ddeg0) = cfDeltas(dcpRaw, spark.table(ti("cp", tag)),
      spark.table(ti("cpp", tag)), spark.table(ti("pdf", tag)), maxDf)
    val dsh = dsh0.localCheckpoint()
    val ddeg = ddeg0.localCheckpoint()
    val sh1 = spark.table(ti("sh", tag))
      .join(dsh, Seq("c_a", "c_b"), "full_outer")
      .select(col("c_a"), col("c_b"),
        (coalesce(col("shared"), lit(0L)) + coalesce(col("ds"), lit(0L)))
          .as("shared"))
      .where(col("shared") > 0)
      .localCheckpoint()
    // checkpointed: the scored re-rank joins deg1 on BOTH sides of
    // every pair — without the cut, the bucketed full-outer merge
    // would execute twice in the serving plan
    val deg1 = spark.table(ti("deg", tag))
      .join(ddeg, Seq("c"), "full_outer")
      .select(col("c"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("dd"), lit(0L)))
          .as("deg"))
      .where(col("deg") > 0)
      .localCheckpoint()
    val degChanged = ddeg.select("c")
    val t0 = degChanged
      .unionByName(dsh.select(col("c_a").as("c")))
      .unionByName(dsh.select(col("c_b").as("c")))
    val t1 = sh1.join(broadcast(degChanged.withColumnRenamed("c", "c_b")), "c_b")
      .select(col("c_a").as("c"))
      .unionByName(sh1
        .join(broadcast(degChanged.withColumnRenamed("c", "c_a")), "c_a")
        .select(col("c_b").as("c")))
    val touched = t0.unionByName(t1).distinct().localCheckpoint()
    val ranked = Basket.cfScoreRank(
      Basket.cfMirrored(sh1, minShared)
        .join(broadcast(touched.withColumnRenamed("c", "c_a")),
          Seq("c_a"), "left_semi"),
      deg1, kNb)
    val nb = spark.table(ti("nb", tag))
      .join(broadcast(touched.withColumnRenamed("c", "c_a")),
        Seq("c_a"), "left_anti")
      .unionByName(ranked)
    IncState(dcp, ddf, sh1, deg1, nb, dsh, ddeg, touched)
  }

  /** Gate query: the IVM degeneracy diagnostic — one row of increment
    * volume statistics from the SAME cached fold the increment and
    * promote gates share (no extra delta derivation). `touched_ppm` is
    * the number the round-11 cost analysis computed by hand: how much
    * of the customer population the delta's re-rank actually touches.
    * Near 10⁶ the increment is in the known IVM degeneracy regime
    * where a recompute is cheaper — production reads this row per
    * nightly run and flips to the rank-everything path past a
    * threshold, instead of discovering the regime from wall-clock.
    * Every count is a 1-row aggregate of a checkpointed frame; the
    * crossJoins below multiply 1-row frames.
    */
  def cfIncrementStats(spark: SparkSession, dir: String, maxDf: Int = 30,
                       minShared: Int = 2, kNb: Int = 3): DataFrame = {
    val st = incrementState(spark, dir, maxDf, minShared, kNb)
    def one(df: DataFrame, n: String): DataFrame =
      df.agg(count(lit(1)).as(n))
    one(st.touched, "n_touched")
      .crossJoin(one(st.deg1, "n_customers"))
      .crossJoin(one(st.dsh, "changed_pairs"))
      .crossJoin(one(st.ddeg, "changed_deg"))
      .crossJoin(one(st.dcp, "new_incidence"))
      .withColumn("touched_ppm",
        expr("n_touched * 1000000 div greatest(n_customers, 1)"))
  }

  private def tp(name: String, tag: String): String = s"graft_cfp_${name}_$tag"

  /** PROMOTE the increment: persist the merged state as the next
    * nightly base — the checkpoint step that closes the maintenance
    * loop (base → delta fold → promote → tomorrow's delta probes the
    * promoted tables). Writes the SAME six-table family shape as
    * [[writeBaseIndex]] under `graft_cfp_*`:
    * incidence = base ∪ Δ (both orientations), part df = base ⟗ Δdf,
    * pair/degree state = the merged sh1/deg1, neighbor top-k = the
    * increment's own output. By the increment's correctness proof the
    * promoted state equals a from-scratch base build over ALL orders
    * (spec-proven table by table), so promotion never recomputes the
    * similarity graph — six delta-proportional-or-linear writes.
    */
  def writePromoted(spark: SparkSession, dir: String, tag: String,
                    maxDf: Int = 30, minShared: Int = 2, kNb: Int = 3,
                    buckets: Int = 8): Unit = {
    val st = incrementState(spark, dir, maxDf, minShared, kNb)
    val baseTag = ensureBase(spark, dir)
    def save(df: DataFrame, name: String, cols: Seq[String]): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, cols.head, cols.tail: _*).saveAsTable(tp(name, tag))
    val cp1 = spark.table(ti("cp", baseTag)).unionByName(st.dcp)
    val pdf1 = spark.table(ti("pdf", baseTag))
      .join(st.ddf, Seq("p"), "full_outer")
      .select(col("p"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
          .as("df"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      Future(save(cp1, "cp", Seq("c"))),
      Future(save(cp1.select("p", "c"), "cpp", Seq("p"))),
      Future(save(pdf1, "pdf", Seq("p"))),
      Future(save(st.sh1, "sh", Seq("c_a"))),
      Future(save(st.deg1, "deg", Seq("c"))),
      Future(save(st.nb, "nb", Seq("c_a"))))
    writes.foreach(Await.result(_, Duration.Inf))
  }

  /** Gate query: the neighbor graph served from the PROMOTED tables —
    * probe-only after the one-time promote, byte-equal to the full
    * recompute (shares the cf_neighbors oracle), proving the
    * maintenance loop closes without a graph rebuild.
    */
  def cfPromote(spark: SparkSession, dir: String): DataFrame = {
    val tag = SessionCache.perContext(spark, ("CfIndex.promote", dir)) {
      val tg = StagedTags.tagOf(dir)
      writePromoted(spark, dir, tg)
      tg
    }
    spark.table(tp("nb", tag))
      .select("c_a", "c_b", "shared", "score_ppm", "rank")
      .orderBy("c_a", "rank")
  }
}
