package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The scaling harness's replication generator at factor 3: copies are
  * disjoint in ids AND in cleaned text, with copy 0 the source
  * verbatim and every copy keeping copy 0's per-document structure.
  */
class SoakProbeSpec extends SparkSpec {

  private val factor = 3
  private lazy val rep = SoakProbe.replicate(spark, sf0001, factor,
    TempDirs.scratchString("graft_soakspec_") + "/f3")
  private val docShift = 10000000L

  /** `df` with its copy index and the source id it was shifted from. */
  private def withCopy(df: DataFrame, id: String, shift: Long): DataFrame =
    df.withColumn("copy", col(id).divide(shift).cast("long"))
      .withColumn("src_id", col(id) - col("copy") * shift)

  test("row counts are exactly x3 and the copies' id ranges are disjoint") {
    SoakProbe.Replicated.foreach { case (table, ids, shift) =>
      val src = Tables(spark, sf0001, table)
      val out = Tables(spark, rep, table)
      assert(out.count() == factor * src.count(), table)
      val id = ids.head
      val srcMax = src.agg(max(id)).head().getLong(0)
      assert(srcMax < shift, s"$table: $id overflows its per-copy shift")
      val ranges = withCopy(out, id, shift).groupBy("copy")
        .agg(min("src_id"), max("src_id"), count(lit(1)))
        .orderBy("copy").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val srcRange = src.agg(min(id), max(id), count(lit(1))).head()
      assert(ranges.toSeq == (0 until factor).map(c => (c.toLong,
        srcRange.getLong(0), srcRange.getLong(1), srcRange.getLong(2))), table)
    }
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      assert(Tables(spark, rep, t).count() == Tables(spark, sf0001, t).count(), t)
    }
  }

  test("copy 0's text is byte-identical to the source") {
    val src = Tables.documents(spark, sf0001).select("doc_id", "text")
    val copy0 = Tables.documents(spark, rep).where(col("doc_id") < docShift)
      .select("doc_id", "text")
    assert(copy0.exceptAll(src).isEmpty && src.exceptAll(copy0).isEmpty)
  }

  private lazy val shingles = withCopy(
    operators.Dedup.shingles(Tables.documents(spark, rep), 3), "doc_id", docShift)

  test("no cleaned 3-shingle is shared between two copies") {
    assert(shingles.where(col("copy") === factor - 1).count() > 0)
    val shared = shingles.groupBy("shingle")
      .agg(countDistinct("copy").as("copies")).where(col("copies") > 1)
    assert(shared.count() == 0)
  }

  test("every copy has copy 0's per-document shingle counts") {
    val perDoc = shingles.groupBy("copy", "src_id").agg(count(lit(1)).as("n"))
    val copy0 = perDoc.where(col("copy") === 0).select("src_id", "n")
    assert(copy0.count() > 0)
    (1 until factor).foreach { c =>
      val copyC = perDoc.where(col("copy") === c).select("src_id", "n")
      assert(copyC.exceptAll(copy0).isEmpty && copy0.exceptAll(copyC).isEmpty, s"copy $c")
    }
  }

  test("Tables.events on the replica gives copy 0 the source's ts_ms") {
    val src = Tables.events(spark, sf0001).select("event_id", "ts_ms")
    val copy0 = Tables.events(spark, rep).where(col("event_id") < docShift)
      .select("event_id", "ts_ms")
    assert(src.count() > 0)
    assert(copy0.exceptAll(src).isEmpty && src.exceptAll(copy0).isEmpty)
  }

  test("arguments: factors then gates; an unknown gate name is rejected") {
    assert(SoakProbe.parseArgs(Seq("10", "1", "100", "dedup_minhash")) ==
      (Seq(10, 100), Seq("dedup_minhash")))
    assert(SoakProbe.parseArgs(Seq("q1_pricing")) == (Nil, Seq("q1_pricing")))
    assert(SoakProbe.parseArgs(Nil)._2 == SoakProbe.DefaultGates)
    intercept[IllegalArgumentException](SoakProbe.parseArgs(Seq("10", "no_such_gate")))
  }
}
