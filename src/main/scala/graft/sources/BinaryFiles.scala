package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `binaryFile` source coverage: one opaque blob file per document,
  * read back through Spark's whole-file binary source — the ingest
  * shape of a media/training-blob lake (each record IS a file; the
  * engine must never line-split or charset-decode it).
  *
  * The fixture writer runs distributed (foreachPartition, one
  * `doc_<id>.bin` per row); in local mode every task sees the same
  * filesystem — on a real cluster the target would be a shared store
  * (S3/HDFS), same code path. The round-trip oracle is format-proof:
  * per doc, the byte length and md5 of the file content must equal
  * `octet_length(text)` / `md5(text)` straight off the documents
  * table, so any corruption (truncation, decoding, newline mangling)
  * hash-fails.
  */
object BinaryFiles {

  /** documents → one binary file per doc under a scratch dir, once per
    * (SparkContext, sf dir).
    */
  def docsAsBinaryDir(s: SparkSession, dir: String): String =
    SessionCache.perContext(s, ("BinaryFiles", dir)) {
      val out = graft.TempDirs.scratchString("graft_bin_")
      graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%09d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      out
    }

  /** Scan the blob dir with the binaryFile source and prove the exact
    * byte round-trip: (doc_id, n_bytes, fp). The scan itself carries
    * the length column (file metadata — no content read needed for
    * it); the md5 reads each blob exactly once, inside codegen.
    */
  def roundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.format("binaryFile").load(docsAsBinaryDir(s, dir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("fp"))
      .orderBy("doc_id")
}
