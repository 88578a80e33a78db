package graft

import org.apache.spark.sql.functions._

import graft.operators.Basket
import graft.sources.CfIndex

/** The persisted CF index must be invisible to consumers: every probe
  * result equals the recompute operator byte-for-byte (the driver
  * gates share the recompute oracles, so this equivalence IS the
  * correctness contract of the index).
  */
class CfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("cfNeighbors probe equals the recompute operator") {
    val got = rows(CfIndex.cfNeighbors(spark, sf0001))
    val want = rows(Basket.cfNeighbors(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001)))
    assert(got == want)
  }

  test("recommendations probe equals the recompute operator") {
    val got = rows(CfIndex.recommendations(spark, sf0001))
    val want = rows(Basket.recommendations(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001)))
    assert(got == want)
  }

  test("recEval probe equals the recompute operator (same split)") {
    val got = rows(CfIndex.recEval(spark, sf0001))
    val want = rows(Basket.recEval(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001)))
    assert(got == want)
  }

  // ------------------------------------------- incremental CF index

  private def inc(rows: (Long, Long)*) = rows.toDF("c", "p")

  test("cfDeltas: every emitted pair has a delta endpoint (no crossing)") {
    // 10 base customers all share part 100 — the base×base pair set
    // C(10,2) = 45 would dominate if the delta path ever enumerated
    // it; one delta pair must touch exactly its 10 Δ×base pairs
    val cpB = inc((1L to 10L).map(c => (c, 100L)): _*)
    val (_, _, dsh, ddeg) = graft.sources.CfIndex.cfDeltas(
      inc((99L, 100L)), cpB, cpB.select("p", "c"),
      cpB.groupBy("p").agg(count(lit(1)).as("df")), maxDf = 30)
    val pairs = dsh.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == (1L to 10L).map(c => (c, 99L, 1L)).toSet)
    assert(ddeg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((99L, 1L)))
  }

  test("cfDeltas: a df-crossing part retracts exactly its base pairs") {
    // part 7 sits AT maxDf = 3; the delta pushes it over, so its three
    // base pairs retract, its three owners each lose one degree, and
    // the delta customer contributes NOTHING (the part is now banned)
    val cpB = inc((1L, 7L), (2L, 7L), (3L, 7L), (1L, 8L), (2L, 8L))
    val (_, _, dsh, ddeg) = graft.sources.CfIndex.cfDeltas(
      inc((4L, 7L)), cpB, cpB.select("p", "c"),
      cpB.groupBy("p").agg(count(lit(1)).as("df")), maxDf = 3)
    val pairs = dsh.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, -1L), (1L, 3L, -1L), (2L, 3L, -1L)))
    assert(ddeg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, -1L), (2L, -1L), (3L, -1L)))
  }

  test("cfDeltas: a repeated purchase adds nothing to the incidence") {
    val cpB = inc((1L, 7L), (2L, 7L))
    val (_, _, dsh, ddeg) = graft.sources.CfIndex.cfDeltas(
      inc((1L, 7L)), cpB, cpB.select("p", "c"),
      cpB.groupBy("p").agg(count(lit(1)).as("df")), maxDf = 3)
    assert(dsh.count() == 0 && ddeg.count() == 0)
  }

  test("cfPromote: the promoted state equals a from-scratch base build") {
    import graft.sources.CfIndex
    // probe-visible contract first: the promoted nb equals the full
    // recompute (the shared oracle)
    val got = CfIndex.cfPromote(spark, sf0001).collect().map(_.toString).toSeq
    val want = operators.Basket.cfNeighbors(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001))
      .collect().map(_.toString).toSeq
    assert(got == want)
    // state contract: every promoted table equals its from-scratch
    // derivation over the FULL incidence — so tomorrow's delta can
    // probe the promoted base exactly as today's probed the original
    val tag = graft.sources.StagedTags.tagOf(sf0001)
    val cpFull = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.table(s"graft_cfp_cp_$tag")) == rows(cpFull))
    assert(rows(spark.table(s"graft_cfp_pdf_$tag")) ==
      rows(cpFull.groupBy("p").agg(count(lit(1)).as("df"))))
    val kept = operators.Basket.cfPruned(cpFull, 30)
    assert(rows(spark.table(s"graft_cfp_sh_$tag")) ==
      rows(operators.Basket.cfSharedUpper(kept)))
    assert(rows(spark.table(s"graft_cfp_deg_$tag")) ==
      rows(kept.groupBy("c").agg(count(lit(1)).as("deg"))))
  }

  test("cfIncrement equals the full recompute, probing graft_cfi tables") {
    val got = graft.sources.CfIndex.cfIncrement(spark, sf0001)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("graft_cfi_"),
      "increment must serve from the persisted base-split index")
    val want = operators.Basket.cfNeighbors(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001))
    assert(got.collect().map(_.toString).toSeq ==
      want.collect().map(_.toString).toSeq)
  }

  // ------------------------------------- CF increment cache scoping

  test("cf increment state is session-scoped (ADVICE r11)") {
    import graft.sources.CfIndex
    val s2 = spark.newSession()
    val st1 = CfIndex.incrementState(spark, sf0001)
    val st2 = CfIndex.incrementState(s2, sf0001)
    // a second session must get frames bound to ITSELF — served from
    // its own derivation, never another session's checkpoint blocks
    assert(st1.nb.sparkSession eq spark)
    assert(st2.nb.sparkSession eq s2)
    // and the derivations agree row for row
    assert(rows(st2.nb).sorted == rows(st1.nb).sorted)
  }

  test("cf increment stats: the diagnostic matches first principles") {
    import graft.sources.CfIndex
    val st = CfIndex.incrementState(spark, sf0001)
    val stats = CfIndex.cfIncrementStats(spark, sf0001).collect()(0)
    assert(stats.getAs[Long]("n_touched") == st.touched.count())
    assert(stats.getAs[Long]("n_customers") == st.deg1.count())
    assert(stats.getAs[Long]("changed_pairs") == st.dsh.count())
    assert(stats.getAs[Long]("touched_ppm") ==
      st.touched.count() * 1000000L / st.deg1.count())
    // the ratio is the degeneracy signal: it must be a ppm in (0, 1e6]
    val ppm = stats.getAs[Long]("touched_ppm")
    assert(ppm > 0L && ppm <= 1000000L)
  }
}
