package graft.operators

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core word-count pipeline — the reference's entire query surface
  * (`sendFileByFile.cpp:82-392`) re-expressed as composable Spark ops.
  *
  * Reference semantics (see SURVEY.md §2 rows 3-13):
  *   tokenize on whitespace (`sendFileByFile.cpp:88`)
  *   → keep longest prefix of {`'`, ASCII 65-122} (`sendFileByFile.cpp:89-91`)
  *   → drop empty (`sendFileByFile.cpp:92`)
  *   → lowercase (`sendFileByFile.cpp:93`)
  *   — these four steps are one pass of one kernel,
  *     [[graft.functions.CleanWords]], in both spines —
  *   → (word, 1) (`sendFileByFile.cpp:94-97`)
  *   → partial agg per mapper (`sendFileByFile.cpp:150,186-200`)
  *   → hash shuffle on word (`sendFileByFile.cpp:256-268`)
  *   → final agg (`sendFileByFile.cpp:353-374`)
  *   → alphabetic order (implicit via std::map, `sendFileByFile.cpp:385`).
  *
  * Here the partial/final aggregation split, the shuffle, and all of the
  * reference's queue/backpressure/termination machinery (~40% of its LoC)
  * are Catalyst/Tungsten built-ins: `groupBy(word).count` plans as
  * partial `HashAggregate` → `Exchange hashpartitioning(word)` → final
  * `HashAggregate`, all inside whole-stage codegen. At 100 TB the only
  * shuffle is the one exchange on `word`, with map-side combine shrinking
  * it to ~|vocabulary| rows per task. The RDD spine ([[wordCountRdd]])
  * takes the same three steps by hand: one bounded partial map per task,
  * one hash shuffle, one merge per reducer.
  */
object WordCount {

  /** Longest-allowed-prefix pattern per the reference tokenizer
    * (`sendFileByFile.cpp:89-91`): apostrophe plus ASCII 65..122, i.e.
    * `A-Z [ \ ] ^ _ backtick a-z`. The engine runs this class in
    * [[graft.functions.CleanWords]]; the pattern spells it for the
    * DuckDB oracle (RE2 reads it the same) and for the specs.
    */
  val CleanPattern = "^[A-Za-z\\[\\\\\\]^_`']*"

  /** Whitespace class written out explicitly: Java's `\s` is
    * [ \t\n\x0B\f\r] but RE2's (DuckDB's) `\s` omits vertical tab —
    * spelling the class keeps the kernel's six whitespace bytes, the
    * oracle and the reference's `isspace` (`sendFileByFile.cpp:88`) in
    * exact agreement. Also used by `regexp_replace` normalisations.
    */
  val WhitespacePattern = "[\\t\\n\\x0B\\f\\r ]+"

  /** Fill idle cores under a compute-bound per-row stage (round 15,
    * guide §2.6/§6): a parquet scan parallelizes by file SPLITS, and a
    * source whose whole input fits inside one split
    * (`files.maxPartitionBytes`) runs every downstream narrow stage as
    * ONE task — a heavy codegen projection (regex chains, per-token
    * hashing, run-length passes) then serializes on a single core
    * while the rest of the session idles. When, and only when, the
    * source is that small, redistribute by hash of `keyCol` to the
    * session's default parallelism (deterministic row placement —
    * round-robin would depend on scan order). At production scale the
    * stats exceed one split and this is the identity — the condition
    * derives from input size, never from the local core count; frames
    * without file statistics (checkpointed LogicalRDDs default to the
    * max size) are likewise left alone.
    *
    * Measured applicability rule (r15 matched A/B, min-of-3): the
    * rebalance wins when the downstream work is per-row reduce
    * (charCollision 3.3→2.4 s, simhash 2.5→1.9) or doc_id-KEYED —
    * hashpartitioning(doc_id) satisfies ClusteredDistribution for any
    * grouping that contains doc_id, so per-doc aggregations become
    * exchange-free (repetitionProfile 3.1→1.8 s, gram shuffle
    * 12.1→2.7 MB). It LOSES when downstream shuffles on other keys
    * (bigramFamiliarity 1.9→3.8 s, phraseSearchN 1.6→2.9 s: the extra
    * exchange + 32-way task fan-out buys nothing the next shuffle
    * keeps) — those operators deliberately do not call it.
    */
  def fillCores(df: DataFrame, keyCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // idempotent: a frame the caller already redistributed (the
    // corpus_build_v2 gate spreads its documents ONCE above the
    // capstone's branches) must not pay a second exchange per branch. Scoped to repartitions
    // that KEY ON keyCol (ADVICE r15): a repartition in an unrelated
    // joined/staged branch must not silently disable the fill for an
    // otherwise single-split input.
    val alreadySpread = df.queryExecution.analyzed.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.partitionExpressions.exists(_.references.exists(_.name == keyCol))
      case _ => false
    }
    if (bytes < maxSplit && target > 1 && !alreadySpread)
      df.repartition(target, col(keyCol))
    else df
  }

  /** Array of surviving, lowercased words for one document, in token
    * order (`sendFileByFile.cpp:88-93`); null for a null text. One
    * codegen call of the [[graft.functions.CleanWords]] kernel.
    */
  def cleanWords(text: Column): Column = graft.functions.functions.clean_words(text)

  /** One row per surviving token: (<keys...>, word). The kernel and the
    * `explode` generator both stay inside whole-stage codegen; a null
    * text yields no rows.
    */
  def explodeWords(docs: DataFrame, textCol: String, keep: Seq[String]): DataFrame =
    docs.select(keep.map(col) :+ explode(cleanWords(col(textCol))).as("word"): _*)

  /** The flagship query: (word, cnt) over a text column, alphabetical.
    * DataFrame formulation — partial+final HashAggregate, one Exchange.
    */
  def wordCount(docs: DataFrame, textCol: String = "text"): DataFrame =
    explodeWords(docs, textCol, Nil)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Distinct words one map task's partial count holds before it
    * flushes: 2^17 = 131,072. It is above the whole vocabulary of the
    * bench corpus (40,000 words) and of the testdata, so those never
    * flush. Heaps' law with typical English parameters (V ≈ 44·n^0.49)
    * gives ~170k distinct words for a full 128 MiB scan split (~20M
    * tokens), so such a split flushes about once; each flush re-emits
    * only the words seen since the last one, and the Zipf head that
    * carries most tokens is counted in every run. At roughly 100 bytes
    * per entry (a short `String`, a boxed count, the hash node) the
    * bound is ~13 MB per running task. 2^16 would flush a full split
    * several times; 2^18 would let a 32-core executor hold ~0.8 GB of
    * partial maps.
    */
  private[graft] val CombineCap = 1 << 17

  /** RDD formulation (BASELINE.json `spark_approach`), built on the
    * reference's own three steps. Same semantics as [[wordCount]].
    *
    *  1. Per task, a word → count map ([[partialCounts]]), flushed
    *     whenever it holds [[CombineCap]] distinct words: the
    *     reference's per-file partial map (`sendFileByFile.cpp:150,
    *     186-200`) with the flush bound on size instead of file end.
    *  1. One hash shuffle on the word (`sendFileByFile.cpp:256-268`),
    *     `combineByKey` with `mapSideCombine = false`, and
    *  1. its merge on each reducer (`sendFileByFile.cpp:353-374`).
    *  1. Alphabetic order is a Catalyst `orderBy`, so a sink that
    *     repartitions by word ([[graft.sources.TextDirectory.writeSharded]])
    *     drops the sort, and building the frame runs no job.
    *
    * Why not `reduceByKey(_ + _).sortByKey()`: in a Java Flight
    * Recorder profile Spark's generic map-side combine
    * (`AppendOnlyMap.changeValue`: boxing, `BoxesRunTime.equals`,
    * `SizeEstimator` sampling) took ~15% of executor samples and
    * `ExternalSorter` sorted its output by key hash even without a
    * spill (~5%). A per-task map followed by a shuffle with no
    * map-side combine takes the bypass-merge writer, which does no
    * sort; `sortByKey` added a range shuffle and a sampling job that
    * ran while the frame was being built. Measured effect in NOTES
    * "Word-count profile".
    */
  def wordCountRdd(spark: SparkSession, docs: DataFrame, textCol: String = "text"): DataFrame =
    wordCountRdd(spark, docs, textCol, CombineCap)

  /** [[wordCountRdd]] with the partial map flushed at `cap` distinct words. */
  private[graft] def wordCountRdd(spark: SparkSession, docs: DataFrame, textCol: String,
                                  cap: Int): DataFrame = {
    import spark.implicits._
    val partial = docs.select(col(textCol)).na.drop().as[String].rdd
      .mapPartitions(lines => partialCounts(lines.flatMap(graft.functions.CleanWords.words), cap))
    partial
      .combineByKey((c: Long) => c, (a: Long, c: Long) => a + c, (a: Long, b: Long) => a + b,
        Partitioner.defaultPartitioner(partial), mapSideCombine = false)
      .toDF("word", "cnt")
      .orderBy("word")
  }

  /** Counts of `words`, emitted in runs: each run is a map filled until
    * it holds `cap` distinct words or the input ends. A word can appear
    * in several runs; the counts of one word sum to its occurrences.
    */
  private[graft] def partialCounts(words: Iterator[String], cap: Int): Iterator[(String, Long)] = {
    require(cap > 0, s"cap must be positive, got $cap")
    Iterator.continually {
      val m = mutable.HashMap.empty[String, Long]
      while (words.hasNext && m.size < cap) {
        val w = words.next()
        m.update(w, m.getOrElse(w, 0L) + 1L)
      }
      m
    }.takeWhile(_.nonEmpty).flatten
  }

  /** Word count keyed by extra grouping columns (e.g. source, lang). */
  def wordCountBy(docs: DataFrame, textCol: String, keys: String*): DataFrame =
    explodeWords(docs, textCol, keys)
      .groupBy(keys.head, (keys.tail :+ "word"): _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(keys.head, (keys.tail :+ "word"): _*)

  /** Number of distinct surviving words. */
  def distinctWords(docs: DataFrame, textCol: String = "text"): DataFrame =
    explodeWords(docs, textCol, Nil)
      .agg(count_distinct(col("word")).as("n_words"))

  /** Top-k words by count (desc), ties broken alphabetically — plans as
    * TakeOrderedAndProject: no global sort, no driver-side collect.
    */
  def topK(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    explodeWords(docs, textCol, Nil)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Skew-resistant word count: two-phase aggregation through a salt.
    * Phase 1 shuffles on (word, salt) — a hot key (think "the" at
    * 100 TB) spreads over `buckets` reducers — phase 2 merges the tiny
    * per-salt partials on word alone. Result is salt-assignment
    * independent, so it shares the plain wordcount oracle.
    */
  def wordCountSalted(docs: DataFrame, buckets: Int, textCol: String = "text"): DataFrame =
    explodeWords(docs, textCol, Nil)
      .withColumn("salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
      .groupBy("word", "salt").agg(count(lit(1)).as("c"))
      .groupBy("word").agg(sum("c").as("cnt"))
      .orderBy("word")

  /** Top-k words per group (e.g. per source): count + rank window.
    * At scale: one shuffle for the (key, word) aggregation, one for the
    * per-key window — both on the same key prefix, so AQE can co-plan.
    */
  def topKPerGroup(docs: DataFrame, textCol: String, key: String, k: Int): DataFrame = {
    val counts = explodeWords(docs, textCol, Seq(key))
      .groupBy(key, "word").agg(count(lit(1)).as("cnt"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col("cnt").desc, col("word"))
    counts.withColumn("rn", row_number().over(win).cast("long"))
      .where(col("rn") <= k)
      .orderBy(col(key), col("rn"))
  }

  /** Set operations over per-group vocabularies: the distinct words of
    * group `a` INTERSECT / EXCEPT the distinct words of group `b`.
    */
  def vocabIntersect(docs: DataFrame, keyCol: String, a: String, b: String): DataFrame =
    explodeWords(docs.where(col(keyCol) === a), "text", Nil).distinct()
      .intersect(explodeWords(docs.where(col(keyCol) === b), "text", Nil).distinct())
      .orderBy("word")

  def vocabExcept(docs: DataFrame, keyCol: String, a: String, b: String): DataFrame =
    explodeWords(docs.where(col(keyCol) === a), "text", Nil).distinct()
      .except(explodeWords(docs.where(col(keyCol) === b), "text", Nil).distinct())
      .orderBy("word")

  /** Histogram of word lengths over surviving tokens. */
  def wordLengthHist(docs: DataFrame, textCol: String = "text"): DataFrame =
    explodeWords(docs, textCol, Nil)
      .groupBy(length(col("word")).cast("long").as("word_len"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word_len")
}
