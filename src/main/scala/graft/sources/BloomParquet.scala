package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet bloom-filter layout: the point-lookup path for a fact table
  * that is NOT partitioned or sorted by the lookup key. Writing the
  * file with `parquet.bloom.filter.enabled#<col>` embeds a split-block
  * bloom filter per row group; an equality predicate on that column
  * then skips row groups whose filter reports "definitely absent"
  * WITHOUT decoding any pages — at 100 TB the difference between a
  * needle lookup reading ~one row group and scanning the table.
  *
  * Complements the other layouts in this package: partition pruning
  * (directory-level, low-cardinality keys), bucketing (join
  * co-location), z-order (multi-column range locality) — bloom filters
  * cover high-cardinality equality probes, the case the others can't.
  *
  * Reference scope: the reference scans its whole input directory
  * unconditionally (`sendFileByFile.cpp:121-140`); selective reads are
  * part of the completeness surface around it.
  */
object BloomParquet {

  /** Write `lineitem` once per (SparkContext, sf dir) with a bloom filter on
    * `l_partkey` (high-cardinality, not the sort key — exactly the
    * column bloom filters are for). Row groups kept small so the sf0.01
    * fixture has several groups for the filter to prune between.
    */
  def stage(spark: SparkSession, dir: String): String =
    // the memo's once-cell completes the write before ANY caller
    // observes the path (a check-then-act pair would let a concurrent
    // second caller read null or a directory mid-write)
    SessionCache.perContext(spark, ("BloomParquet", dir)) {
      val out = graft.TempDirs.scratchString("graft_bloom_li_")
      graft.Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"))
        .repartition(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "200000")
        // parquet-mr silently DROPS the bloom filter for chunks that end
        // fully dictionary-encoded (the dictionary already filters
        // exactly) — at test SF l_partkey is low-cardinality enough to
        // dictionary-encode, so force plain encoding for the key column,
        // which is the realistic layout for a high-cardinality key at
        // 100 TB anyway (dictionaries blow past their page threshold and
        // fall back to plain, and the bloom takes over row-group skips)
        .option("parquet.enable.dictionary#l_partkey", "false")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(out)
      out
    }

  /** Gate query: needle lookup `l_partkey = 1` through the bloom
    * layout — count and exact cents totals for the matching lines. The
    * predicate reaches the scan (`PushedFilters: [EqualTo(l_partkey,
    * 1)]`, spec-asserted) where the footer bloom filters short-circuit
    * non-matching row groups.
    */
  def pointLookup(spark: SparkSession, dir: String, key: Long = 1L): DataFrame =
    spark.read.parquet(stage(spark, dir))
      .where(col("l_partkey") === key)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"))
      .orderBy("l_partkey")
}
