package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERMISSIVE-mode ingest of a CSV feed with malformed rows — the
  * bad-records accounting every production ingest needs: nothing
  * throws, every malformed line is quarantined into the corrupt-record
  * column, and the good rows parse exactly.
  *
  * The fixture regenerates the feed FROM the documents table (every
  * doc_id ≡ 0 mod 7 gets a non-numeric id field), so the oracle is a
  * pure table query and any accounting drift — a dropped row, a bad
  * row silently parsed, a good row quarantined — breaks the hash.
  */
object CorruptCsv {

  /** documents → "doc_id,n_chars" lines, malformed where id % 7 == 0;
    * written once per (SparkContext, sf dir).
    */
  def feedDir(s: SparkSession, dir: String): String =
    SessionCache.perContext(s, ("CorruptCsv", dir)) {
      val out = graft.TempDirs.scratchString("graft_badcsv_")
      graft.Tables.documents(s, dir)
        .select(concat(
          when(col("doc_id") % 7 === 0, concat(lit("x"), col("doc_id")))
            .otherwise(col("doc_id").cast("string")),
          lit(","), col("n_chars").cast("string")).as("value"))
        .write.mode("overwrite").text(out)
      out
    }

  /** One-row ingest report: total, quarantined, and exact sums over
    * the rows that parsed clean. `doc_id` is null on quarantined rows
    * (the failed field), so `sum(doc_id)` is good-rows-only already;
    * `n_chars` PARSES on those rows — good-row sums must gate on the
    * corrupt column, not on field nullness.
    */
  def ingestReport(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema("doc_id LONG, n_chars LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(feedDir(s, dir))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("_corrupt_record")).as("n_bad"),
        sum(col("doc_id")).as("sum_good_ids"),
        sum(when(col("_corrupt_record").isNull, col("n_chars")))
          .as("sum_good_nchars"))
}
