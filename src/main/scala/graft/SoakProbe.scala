package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The one scaling harness: time any `SparkEntry` gate on the sf dir
  * and on factor-× row replications of it, with per-run seconds and
  * [[BenchMetrics]] counters (jobs, tasks, shuffle bytes/records,
  * scheduler delay) tallied across EVERY job the run fires — the
  * staged gates materialize checkpointed state at DataFrame
  * construction, so plan-local metrics would miss that work.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_CPUS=…] runMain
  * graft.SoakProbe [factors…] [gates…]` (default gates:
  * [[DefaultGates]]). Factor 1 always runs, on the sf dir itself and
  * after one [[SparkEntry.entry]] warm-up, so `SoakProbe dedup_minhash`
  * times a single gate and `SoakProbe 10 100 …` adds two
  * replications. Each (gate, factor) runs three times: run 1 is cold
  * (it pays the staging derivations for a fresh dir), runs 2–3 are
  * warm. Every run prints one JSON line; each gate then prints a
  * summary line with the cold seconds and the warm min, each also as
  * a ratio to factor 1.
  *
  * Replication ([[replicate]]) shifts ids per copy so copies never
  * join across, and tags every token of copy i > 0 with a fixed-length
  * lowercase prefix that survives the reference cleaner: copies are
  * fresh corpora with the same per-document structure, not planted
  * near-duplicates of each other. The tag is letters because the
  * cleaner cuts a token at its first digit: a `c<i>` tag would leave
  * every copy an exact duplicate of copy 0. Copy 0 is the source
  * verbatim, so the increment gates' bases (doc_id ≤ 250, pre-cut
  * orders) stay fixed while arrivals scale.
  */
object SoakProbe {

  /** One gate per operator family worth a scaling curve, plus the
    * three composed capstones.
    */
  val DefaultGates: Seq[String] = Seq(
    "wordcount", "doc_boilerplate_scrub", "dedup_minhash",
    "dedup_crossdoc_spans", "doc_sparse_pairs", "events_peak_window",
    "skipgram_counts", "media_phash_neardup", "events_rolling_7d",
    "word_hits", "dedup_prefix_filter", "events_pattern_match",
    "events_seq_bigrams", "events_coactivity_pairs",
    "events_since_last_error", "events_gap_regularity",
    "events_stl_decompose", "doc_hapax_ratio", "doc_hybrid_rrf",
    "word_zipf_slope", "index_increment", "customer_recommendations",
    "q1_pricing", "dedup_winnow_pairs", "word_walk_corpus",
    "doc_rake_keyphrases", "doc_char_collision", "table_checksum",
    "word_ktruss_edges", "word_triangles", "word_modularity",
    "doc_repetition_gopher", "doc_novelty", "doc_seq_pack",
    "dedup_minhash_eval", "dedup_bloom_fpr", "part_clustering_coeff",
    "lake_delete_vectors", "media_silence_profile", "customer_rec_eval",
    "proximity_search", "distinct_shingles_hll", "events_seq_patterns3",
    "customer_survival_table", "ivm_agg_delta", "lake_bitmap_index",
    "doc_classifier_score", "join_card_estimate", "hll_merge_by_source",
    "events_theilsen_trend", "events_markov_eval",
    "doc_classifier_calibration", "events_window_funnel",
    "events_window_funnel_4", "lake_file_ndv", "events_mad_outliers",
    "events_cusum_changepoint", "events_funnel_latency",
    "orders_reconciliation", "doc_classifier_train", "corpus_build_v2",
    "ann_ivf_rebuild", "ann_ivf_increment", "doc_html_extract",
    "corpus_build_v3", "dedup_increment_indexed", "customer_cf_increment")

  /** Replicated tables: (table, id columns shifted per copy, shift).
    * Order and customer keys shift together, so baskets replicate per
    * copy without cross-copy pairs. The other tables are linked as-is.
    */
  private[graft] val Replicated: Seq[(String, Seq[String], Long)] = Seq(
    ("documents", Seq("doc_id"), 10000000L),
    ("events", Seq("event_id", "user_id"), 10000000L),
    ("lineitem", Seq("l_orderkey"), 100000000L),
    ("orders", Seq("o_orderkey", "o_custkey"), 100000000L),
    ("embeddings", Seq("vec_id"), 10000000L))
  private val Linked = Seq("customer", "supplier", "part", "nation", "region")

  /** Copy tag: `copy` in base 26 as four lowercase letters. A fixed
    * length keeps `tag_i ++ w = tag_j ++ w'` impossible for i ≠ j.
    */
  private def tag(copy: Column): Column =
    concat((3 to 0 by -1).map { k =>
      lit("abcdefghijklmnopqrstuvwxyz")
        .substr(pmod(copy.divide(math.pow(26, k)).cast("long"), lit(26)) + 1,
          lit(1))
    }: _*)

  /** Prefix `prefix` to every token whose first character the cleaner
    * keeps (token boundaries as in [[operators.WordCount.cleanWords]]), so
    * `clean(lower(prefix ++ t)) = prefix ++ clean(lower(t))` for a
    * lowercase-letter prefix; tokens that clean to empty are left alone
    * and stay empty.
    */
  private def tagTokens(text: Column, prefix: Column): Column = {
    val ws = operators.WordCount.WhitespacePattern.stripSuffix("+")
    val kept = operators.WordCount.CleanPattern.stripPrefix("^").stripSuffix("*")
    regexp_replace(text, lit(s"(?<![^${ws.drop(1)})(?=$kept)"), prefix)
  }

  /** Write a `factor`× replication of the sf dir `src` to `out`, shaped
    * like an sf dir: one plan per table for any factor. Raw parquet is
    * read (not [[Tables.events]], whose normalized `ts_ms` would be
    * written back as a long that [[Tables.tsMsExpr]] reads as nanos).
    */
  def replicate(spark: SparkSession, src: String, factor: Int,
                out: String): String = {
    val copies = spark.range(factor).select(col("id").as("copy"))
    Replicated.foreach { case (table, ids, shift) =>
      val shifted = ids.foldLeft(
        Tables(spark, src, table).withColumn("row", monotonically_increasing_id())
          .crossJoin(copies)) { (df, id) =>
        df.withColumn(id, col(id) + col("copy") * shift)
      }
      val tagged = if (table != "documents") shifted
        else shifted.withColumn("text", when(col("copy") === 0, col("text"))
          .otherwise(tagTokens(col("text"), tag(col("copy")))))
      tagged.orderBy("copy", "row").drop("copy", "row")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    Linked.foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.Paths.get(s"$src/$t.parquet").toAbsolutePath)
    }
    out
  }

  /** `[factors…] [gates…]` → (replication factors, gates); unknown gate
    * names fail here, before any Spark work.
    */
  private[graft] def parseArgs(args: Seq[String]): (Seq[Int], Seq[String]) = {
    val (fs, gs) = args.span(a => a.nonEmpty && a.forall(_.isDigit))
    (fs.map(_.toInt).filter(_ > 1).distinct,
      Driver.select(if (gs.isEmpty) DefaultGates else gs))
  }

  def main(args: Array[String]): Unit = {
    val (factors, gates) = parseArgs(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name an sf dir"))
    val spark = Driver.session("graft-soak", 4, "WARN")
    SparkEntry.entry(spark).count()
    val meter = BenchMetrics.install(spark.sparkContext)
    val root = TempDirs.scratchString("graft_soak_")

    // factor -> gate -> (cold run, min warm run)
    val points = for (factor <- 1 +: factors) yield {
      val dir = if (factor == 1) sfDir else replicate(spark, sfDir, factor, s"$root/f$factor")
      factor -> gates.flatMap { gate =>
        Driver.attempt("soak", s"$gate x$factor") {
          val runs = (1 to 3).map { i =>
            val (sec, snap) = Driver.runNoop(spark, meter, gate, dir)
            println(f"""{"gate":"$gate","factor":$factor,"run":$i,"sec":$sec%.2f,"metrics":${snap.json}}""")
            (sec, snap)
          }
          gate -> (runs.head, runs.tail.minBy(_._1))
        }.toOption
      }.toMap
    }
    for (gate <- gates; base <- points.head._2.get(gate)) {
      val pts = points.flatMap { case (factor, byGate) =>
        byGate.get(gate).map { case ((cold, coldSnap), (warm, warmSnap)) =>
          f"""{"factor":$factor,"cold_sec":$cold%.2f,"warm_sec":$warm%.2f,""" +
            f""""cold_x":${cold / base._1._1}%.2f,"warm_x":${warm / base._2._1}%.2f,""" +
            s""""cold":${coldSnap.json},"warm":${warmSnap.json}}"""
        }
      }
      println(s"""{"gate":"$gate","sf":"$sfDir","points":[${pts.mkString(",")}]}""")
    }
    spark.stop()
  }
}
