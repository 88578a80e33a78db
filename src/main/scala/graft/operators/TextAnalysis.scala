package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: per-document token statistics, quality scoring,
  * token counting (whitespace + BPE-ish regex), fingerprinting, and a
  * stopword-scoring language-ID heuristic.
  *
  * Design rules for 100 TB:
  *  - everything is per-document array math inside whole-stage codegen —
  *    zero shuffles except the final presentation `orderBy`;
  *  - all derived metrics are integers (counts, x100 fixed-point) so the
  *    DuckDB oracle compares bit-exactly — no float summation anywhere.
  */
object TextAnalysis {

  /** BPE-ish tokenizer regex: letter runs, digit runs, or single
    * non-space symbols (the common pre-tokenizer shape used by BPE
    * vocabularies). Identical syntax in Java regex and RE2.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]"

  private def ws: Column = WordCount.cleanWords(col("text"))

  /** Per-document token statistics: token count, distinct count, char
    * count, summed word length (fixed-point mean via `sum_word_len`).
    */
  def docStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), ws.as("ws"), length(col("text")).cast("long").as("n_chars"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).as("sum_word_len"))
      .orderBy("doc_id")

  /** Whitespace-token count vs BPE-ish regex-token count per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(ws).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** A tiny English-ish stopword list used by the quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is")

  /** Per-document quality heuristics, all integer/boolean valued:
    * token count, mean word length ×100, stopword hits, and a composite
    * `quality_ok` (length in range, mean word length sane, has at least
    * one stopword) — the usual cheap pre-filters before LLM training.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), ws.as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).as("swl"),
        size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("long").as("stopword_hits"))
      .select(
        col("doc_id"), col("n_tokens"), col("stopword_hits"),
        when(col("n_tokens") > 0, col("swl") * 100 / col("n_tokens"))
          .otherwise(lit(0L)).cast("long").as("mean_wlen_x100"))
      .withColumn("quality_ok",
        col("n_tokens").between(5, 100000) &&
        col("mean_wlen_x100").between(150, 1500) &&
        (col("stopword_hits") > 0))
      .orderBy("doc_id")
  }

  /** Symbol character class shared with the oracle: anything that is
    * not a letter, digit, or whitespace. Same syntax in Java regex and
    * RE2.
    */
  val SymbolPattern = "[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]"

  /** Gopher-style composite quality rule screen (Rae et al. 2021,
    * appendix A1.1, adapted to this corpus's structure): per-document
    * boolean flags for token-count range, mean-word-length range,
    * symbol-to-token ratio, distinct-token fraction, and stopword
    * evidence, plus the composite `gopher_ok` conjunction. This is the
    * cheap rule screen every corpus build runs before any model-based
    * quality filter; each flag is emitted so downstream can attribute
    * rejections. All integer/boolean per-row math inside whole-stage
    * codegen — zero shuffles except the presentation sort.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), ws.as("ws"), col("text"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).as("swl"),
        size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("long").as("stop_hits"),
        size(regexp_extract_all(col("text"), lit(SymbolPattern), lit(0)))
          .cast("long").as("n_symbols"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("stop_hits"), col("n_symbols"),
        when(col("n_tokens") > 0, expr("swl * 100 div n_tokens"))
          .otherwise(lit(0L)).as("mean_wlen_x100"))
      .withColumn("flag_len", col("n_tokens").between(10L, 100000L))
      .withColumn("flag_mwl", col("mean_wlen_x100").between(300L, 1000L))
      .withColumn("flag_symbol", col("n_symbols") * 10 <= col("n_tokens"))
      .withColumn("flag_distinct", col("n_distinct") * 10 >= col("n_tokens") * 3)
      .withColumn("flag_stop", col("stop_hits") >= 2)
      .withColumn("gopher_ok",
        col("flag_len") && col("flag_mwl") && col("flag_symbol") &&
          col("flag_distinct") && col("flag_stop"))
      .orderBy("doc_id")

  /** Gopher REPETITION screen (Rae et al. 2021 appendix A1.1 — the
    * duplication rules [[gopherRules]]' static screen doesn't cover;
    * [[graft.operators.Dedup.repetitionStats]] counts total-vs-distinct
    * grams, this computes the paper's CHARACTER fractions and flags):
    * per document,
    *  - `top2_char_ppm`: characters inside every occurrence of the
    *    single most-repeated word 2-gram, as ppm of total word chars
    *    (Gopher "fraction of characters in most common n-gram");
    *  - `dup3_char_ppm`: characters inside ALL occurrences of 3-grams
    *    that appear ≥ 2 times (Gopher "fraction of characters in
    *    duplicated n-grams"; overlaps double-count, as in the paper —
    *    the value is a screen, not a measure, so raw determinism
    *    beats overlap bookkeeping);
    *  - `rep_ok`: thresholds adapted to this corpus (top2 ≤ 20%,
    *    dup3 ≤ 30% — Gopher table A1 scaled to short documents).
    * Boilerplate-heavy and templated documents fail exactly these
    * rules while passing every static Gopher flag.
    *
    * Scale shape: gram counting is ONE hash shuffle on (doc_id, gram)
    * per n — the wordcount shape, state bounded by distinct grams per
    * doc; the top-1 window partitions by doc_id (never global). Char
    * lengths are `length(gram) − (n−1)` so both engines derive them
    * from the same string; ties on the most-common gram break
    * lexicographically (ASCII-identical ordering in both engines).
    */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).as("n_chars"))
    def gramCounts(n: Int) = base
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), col("n_chars"), explode(expr(
        s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', slice(ws, i + 1, $n)))"))
        .as("g"))
      .withColumn("gchars", (length(col("g")) - lit(n - 1)).cast("long"))
      .groupBy("doc_id", "n_chars", "g", "gchars")
      .agg(count(lit(1)).as("cnt"))
    val top2 = gramCounts(2)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("cnt").desc, col("g"))))
      .where(col("rn") === 1)
      .select(col("doc_id"),
        expr("cnt * gchars * 1000000 div greatest(1L, n_chars)")
          .as("top2_char_ppm"))
    val dup3 = gramCounts(3)
      .where(col("cnt") >= 2)
      .groupBy("doc_id", "n_chars")
      .agg(sum(expr("cnt * gchars")).as("dupchars"))
      .select(col("doc_id"),
        expr("dupchars * 1000000 div greatest(1L, n_chars)")
          .as("dup3_char_ppm"))
    base.select(col("doc_id"), col("n_chars"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("top2_char_ppm"), lit(0L)).as("top2_char_ppm"),
        coalesce(col("dup3_char_ppm"), lit(0L)).as("dup3_char_ppm"))
      .withColumn("rep_ok",
        col("top2_char_ppm") <= 200000L && col("dup3_char_ppm") <= 300000L)
      .orderBy("doc_id")
  }

  /** Context-window packing accounting — the boundary-cut report over
    * the same concat-and-chunk layout [[packSequences]] assigns and
    * [[packEfficiency]] scores for fill: per source — total tokens,
    * document count, sequence count (= ⌈total/budget⌉), the fill of
    * the final partial sequence (ppm of budget), and how many
    * documents STRADDLE a cut boundary, the number neither sibling
    * reports. Each straddler costs either a truncation or
    * cross-document attention, so straddle rate × budget choice is a
    * real pretraining-quality dial.
    *
    * Scale shape: the cumulative token offset is a window cumsum
    * PARTITIONED by source (never a global single-partition window) —
    * one shuffle on source; everything else is per-row arithmetic on
    * the prefix sums, and output is source-cardinality.
    */
  def seqPackStats(docs: DataFrame, budget: Long = 256L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs.select(col("source"), col("doc_id"), size(ws).cast("long").as("n_tok"))
      .withColumn("endc", sum("n_tok").over(w))
      .withColumn("startc", col("endc") - col("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        expr(s"sum(CASE WHEN n_tok > 0 AND startc div $budget <> (endc - 1) div $budget THEN 1 ELSE 0 END)")
          .as("n_straddlers"),
        expr(s"(sum(n_tok) + $budget - 1) div $budget").as("n_sequences"),
        expr(s"""CASE WHEN sum(n_tok) = 0 THEN 0
                 |     WHEN sum(n_tok) % $budget = 0 THEN 1000000
                 |     ELSE (sum(n_tok) % $budget) * 1000000 div $budget
                 |END""".stripMargin).as("last_fill_ppm"))
      .orderBy("source")
  }

  /** Fixed-quota deterministic per-stratum sample ("reservoir" by
    * stable hash rank): within each stratum keep the `n` documents with
    * the smallest dual-engine id hash — the fixed-count companion of
    * the rate-based [[stratifiedSample]] (equal-size per-language eval
    * sets, balanced human-review batches). One shuffle on the stratum
    * key for the rank window; at 100 TB per-stratum heaps stay bounded
    * because only rank ≤ n rows survive — the same top-k-per-key shape
    * [[graft.plans.TopK.perKey]] implements with bounded memory, which
    * is the drop-in at scale if strata are few and huge.
    */
  def reservoirPerGroup(docs: DataFrame, stratumCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col(stratumCol), expr(
        "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
        .as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= n)
      .select(col(stratumCol), col("rn"), col("doc_id"))
      .orderBy(stratumCol, "rn")
  }

  /** The BPE vocabulary-learning statistic: adjacent character-pair
    * counts over the corpus, weighted by word frequency — the argmax of
    * this table is the first merge a byte-pair-encoding learner would
    * apply. Two aggregations: word counts over the token stream (the
    * wordcount spine, map-side combinable), then pair counts over the
    * DISTINCT vocabulary — so the pair explosion is bounded by
    * vocabulary size × word length, not corpus size. The iterative
    * learner ([[bpeLearn]]) repeats this with merges applied.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    WordCount.wordCount(docs)
      .where(length(col("word")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("cnt").as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("pair"))
      .limit(k)

  /** Iterative byte-pair-encoding merge learning: `nMerges` rounds of
    * "count adjacent token pairs weighted by word frequency, merge the
    * argmax everywhere". Returns the learned merge table
    * (step, lhs, rhs, merged, pair_cnt) — the actual artifact a BPE
    * tokenizer ships.
    *
    * Representation: each word is a token string with a trailing `/`
    * after every token (`/` cannot survive the reference cleaning
    * class, so it is a safe separator). A merge is then plain
    * `replace(ts, "l/r/", "lr/")` — non-overlapping left-to-right,
    * exactly BPE's convention, and identical in Spark and DuckDB.
    *
    * Scale shape: the loop state is the VOCABULARY (word, cnt) table,
    * not the corpus — the corpus is scanned once by the wordcount
    * spine. Each round is one map-side-combined aggregation over the
    * vocab plus a 1-row argmax collect (the merge decision is
    * inherently sequential); each merge is an [[Iterate.rounds]]
    * round, whose checkpoint truncates lineage so round N doesn't
    * replay rounds 1..N-1.
    */
  def bpeLearn(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, nMerges)._1.toDF("step", "lhs", "rhs", "merged", "pair_cnt")
      .orderBy("step")
  }

  /** Per-document token count under the tokenizer [[bpeLearn]] just
    * learned: segment every vocabulary word with the merge table, then
    * roll the per-word subword counts back onto the per-doc word
    * stream. The expensive part (learning) touches only the vocab; the
    * per-doc rollup is the wordcount spine plus one vocabulary join.
    */
  def bpeSegment(docs: DataFrame, nMerges: Int): DataFrame = {
    val vocab = bpeLoop(docs, nMerges)._2
      .select(replace(col("ts"), lit("/"), lit("")).as("word"),
        size(expr("filter(split(ts, '/'), x -> x != '')")).cast("long").as("n_sub"))
    WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .join(vocab, Seq("word"))
      .groupBy("doc_id").agg(sum(col("c") * col("n_sub")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language: subword tokens per whitespace
    * word (`fertility_milli`) and characters per subword token
    * (`chars_per_token_milli`) under the [[bpeLearn]] merge table —
    * the standard diagnostic for how well a tokenizer serves each
    * language (a high-fertility language pays more sequence length
    * per word, i.e. the tokenizer under-serves it). All ratios in
    * integer milli fixed-point. Cost shape: the learn loop touches
    * only the vocabulary; the per-language rollup is one wordcount
    * aggregation and one vocabulary join, output = one row per
    * language.
    */
  def vocabFertility(docs: DataFrame, nMerges: Int): DataFrame = {
    val vocab = bpeLoop(docs, nMerges)._2
      .select(replace(col("ts"), lit("/"), lit("")).as("word"),
        size(expr("filter(split(ts, '/'), x -> x != '')")).cast("long").as("n_sub"))
    WordCount.explodeWords(docs, "text", Seq("lang"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .join(vocab, Seq("word"))
      .groupBy("lang").agg(
        sum("c").as("n_words"),
        sum(col("c") * col("n_sub")).as("n_bpe_tokens"),
        sum(col("c") * length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000L div n_words").as("fertility_milli"),
        expr("n_chars * 1000L div n_bpe_tokens").as("chars_per_token_milli"))
      .orderBy("lang")
  }

  /** Shared merge loop: returns the learned merge list and the final
    * token-string vocabulary (ts, cnt).
    */
  private def bpeLoop(docs: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val words0 = Iterate.materialize(WordCount.wordCount(docs)
      .select(regexp_replace(col("word"), "(.)", "$1/").as("ts"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    val words = Iterate.rounds(words0, nMerges) { (cur, i) =>
      val top = cur
        .select(col("cnt"), expr("filter(split(ts, '/'), x -> x != '')").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS l, toks[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      top.headOption.map { row =>
        val (l, r, pc) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += (((i + 1).toLong, l, r, l + r, pc))
        // Column-API replace: tokens may contain quote/backslash chars,
        // so never splice them into an expr string
        cur.select(org.apache.spark.sql.functions.replace(col("ts"),
          lit(s"$l/$r/"), lit(s"$l$r/")).as("ts"), col("cnt"))
      }
    }.frame
    (merges.toSeq, words)
  }

  /** Content fingerprint for exact dedup: md5 of the
    * whitespace-normalized, lowercased text. (A 64-bit rolling hash
    * variant lives in [[graft.functions.RollingHash]] for non-SQL use.)
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), WordCount.WhitespacePattern, " "))).as("fp"))
      .orderBy("doc_id")

  /** Top-k word n-grams by frequency (not per-doc-distinct — this is
    * the frequency counter; [[Dedup.shingles]] is the set former).
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame =
    docs.select(WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', slice(ws, i + 1, $n)))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  /** Fixed-size token chunking with overlap — the pre-training prep
    * op: each document becomes ⌈(n-overlap)/stride⌉ windows of up to
    * `chunkSize` tokens. Pure per-row array math (no shuffle until the
    * caller aggregates); emits (doc_id, chunk_idx, chunk_text,
    * n_chunk_tokens).
    */
  def chunk(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs.select(col("doc_id"), WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(ws) - 1, $stride),
           |          s -> concat_ws(' ', slice(ws, s + 1, $chunkSize)))""".stripMargin))
        .as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        size(split(col("chunk_text"), " ")).cast("long").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Deterministic train/val/test assignment by id — the reproducible
    * split every dataset build needs (pure modulo, no RNG state).
    */
  def datasetSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), WordCount.cleanWords(col("text")).as("ws"))
      .select(
        when(pmod(col("doc_id"), lit(10L)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10L)) === 8, "val")
          .otherwise("test").as("split"),
        size(col("ws")).cast("long").as("n_toks"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("split")

  /** The whole training-corpus build as one composed pipeline:
    * exact+near dedup keep-list ∩ quality filter → chunking → split
    * assignment → per-split chunk/token counts. Every stage is an
    * already-oracle-checked operator; this is the end-to-end shape a
    * 100 TB dataset build actually runs. `cc` is the near-dup
    * component labels (staged as [[graft.sources.DedupStage.ccLabels]]),
    * so the pair derivation is paid once per session, not per capstone.
    */
  def corpusBuild(docs: DataFrame, cc: DataFrame, chunkSize: Int = 32,
                  overlap: Int = 8): DataFrame = {
    val kept = Dedup.keepListCC(docs, cc)
    val good = qualityScore(docs).where(col("quality_ok")).select("doc_id")
    val chunks = chunk(docs.join(kept, "doc_id").join(good, "doc_id"),
      chunkSize, overlap)
    chunks
      .select(
        when(pmod(col("doc_id"), lit(10L)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10L)) === 8, "val")
          .otherwise("test").as("split"),
        col("doc_id"), col("n_chunk_tokens"))
      .groupBy("split")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("n_chunk_tokens").as("n_tokens"))
      .orderBy("split")
  }

  /** The corpus build CAPSTONE, v2 (round 11) — the round-7..10
    * operators composed into one end-to-end dataset build, each stage
    * an already-oracle-checked operator:
    *
    *  1. exact dedup keep (min-id per md5 fingerprint);
    *  2. Gopher STATIC screen ([[gopherRules]] composite);
    *  3. Gopher REPETITION screen ([[repetitionProfile]] rep_ok);
    *  4. winnowing SPAN-CUT ([[Dedup.cutSpans]]): survivors keep only
    *     tokens outside cross-doc duplicated spans — near-dup text is
    *     cut, not dropped (v1 dropped whole near-dup docs);
    *  5. chunk accounting over the CUT length (windows of `chunkSize`
    *     at stride `chunkSize − overlap`, derived arithmetically from
    *     n_kept — the chunker never needs the rebuilt text);
    *  6. split assignment (doc_id mod 10) and the MIXTURE rollup: per
    *     (split, source) doc/chunk/token counts and each source's
    *     token share within its split (the number mixture planning
    *     prices before any sampler runs).
    *
    * Scale: stages 1-3 are doc-keyed scans/aggregates, stage 4 is the
    * winnow chain's documented shape, stage 5 is per-row arithmetic,
    * stage 6 a (split, source)-keyed rollup plus a split-partitioned
    * window over ≤ splits×sources rows. No stage is corpus-quadratic.
    */
  def corpusBuildV2(docs: DataFrame, chunkSize: Int = 32, overlap: Int = 8,
                    w: Int = 8, islands: Option[DataFrame] = None): DataFrame = {
    // `islands`: pre-built cross-doc span islands at window `w` (the
    // staged frame from [[graft.sources.DedupStage.islands]]). Every
    // screen re-derives from `docs` as given: a caller that wants the
    // input spread across cores spreads it once, before the call.
    val stride = chunkSize - overlap
    val keep = docs.groupBy(md5(col("text")))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val gok = gopherRules(docs).where(col("gopher_ok")).select("doc_id")
    val rok = repetitionProfile(docs).where(col("rep_ok")).select("doc_id")
    val nk = Dedup.cutSpans(docs, islands.getOrElse(Dedup.crossDocSpans(docs, w)))
      .select("doc_id", "n_kept")
    val surv = docs.select("doc_id", "source")
      .join(keep, "doc_id").join(gok, "doc_id").join(rok, "doc_id")
      .join(nk, "doc_id")
      .where(col("n_kept") > 0)
    val chunks = surv
      .select(col("doc_id"), col("source"), col("n_kept"),
        explode(sequence(lit(0L), col("n_kept") - 1, lit(stride.toLong)))
          .as("s"))
      .select(col("doc_id"), col("source"),
        least(lit(chunkSize.toLong), col("n_kept") - col("s"))
          .as("n_chunk_tokens"))
    val ag = chunks
      .select(
        when(pmod(col("doc_id"), lit(10L)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10L)) === 8, "val")
          .otherwise("test").as("split"),
        col("source"), col("doc_id"), col("n_chunk_tokens"))
      .groupBy("split", "source")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("n_chunk_tokens").as("n_tokens"))
    ag.withColumn("share_ppm",
        expr("n_tokens * 1000000 div sum(n_tokens) over (partition by split)"))
      .orderBy("split", "source")
  }

  /** Materialize the training corpus: chunk rows partitioned by split
    * (`out/split=train/...`), so downstream training jobs read one
    * split with partition pruning and never scan the others. This is
    * the write-side layout counterpart of [[corpusBuild]]'s stats.
    */
  def writeCorpus(docs: DataFrame, out: String,
                  chunkSize: Int = 32, overlap: Int = 8): Unit = {
    val kept = Dedup.keepListCC(docs,
      Dedup.componentsAdaptive(Dedup.jaccardPairsUnsorted(docs, 3, 4, 5)))
    val good = qualityScore(docs).where(col("quality_ok")).select("doc_id")
    chunk(docs.join(kept, "doc_id").join(good, "doc_id"), chunkSize, overlap)
      .withColumn("split",
        when(pmod(col("doc_id"), lit(10L)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10L)) === 8, "val")
          .otherwise("test"))
      .write.mode("overwrite").partitionBy("split").parquet(out)
  }

  /** Per-document "familiarity": the sum of corpus-wide frequencies of
    * the document's bigrams (an integer-exact stand-in for an n-gram
    * LM score — repetitive or boilerplate-heavy documents score high
    * relative to their length). The global bigram table is computed
    * once and joined back by bigram: two aggregations + one shuffle
    * join, the join-against-global-statistics shape every corpus
    * quality pass uses.
    */
  def bigramFamiliarity(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .as("bigram"))
    val global = grams.groupBy("bigram").agg(count(lit(1)).as("gcnt"))
    grams.join(global, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("gcnt").as("familiarity"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): split each language's documents into
    * head/middle/tail thirds by LM score. The score here is
    * [[bigramFamiliarity]]'s integer corpus-bigram-frequency sum
    * normalized per bigram (`familiarity div n_bigrams` — truncating
    * integer division, identical on both engines), with HIGHER
    * familiarity = more conventional text = `head`; CCNet's real
    * 5-gram KenLM score orders the same way with the sign flipped.
    * The ntile runs over a total order (score desc, doc_id), so
    * bucket boundaries are deterministic.
    *
    * Plan shape: the familiarity join-against-global-stats (two aggs,
    * one shuffle join) plus ONE per-language window. Languages are
    * bounded, but one language dominating a crawl is the norm — at
    * 100 TB the window would go through the two-phase
    * prefix-sum-offset refinement [[shardAssignRefined]] uses, which
    * recovers the exact per-lang permutation without a single-reducer
    * sort.
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    val fam = bigramFamiliarity(docs)
    val scored = fam.join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("fam_per_bigram", expr("familiarity div n_bigrams"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("fam_per_bigram").desc, col("doc_id"))
    scored
      .withColumn("nt", ntile(nBuckets).over(win))
      .withColumn("bucket",
        when(col("nt") === 1, "head")
          .when(col("nt") === nBuckets, "tail")
          .otherwise("middle"))
      .select("doc_id", "lang", "fam_per_bigram", "bucket")
      .orderBy("doc_id")
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * rank documents by an importance weight estimated from hashed
    * token features — how much more likely each document's tokens are
    * under the TARGET distribution (here: the `targetLang` slice) than
    * under the raw corpus. Per hashed bucket b with add-one smoothing
    * the true per-token ratio is `(ct(b)+1)/(cr(b)+1) · C` where
    * `C = (R+B)/(T+B)` is bucket-independent — a global positive
    * factor that scales every document's sum equally, so it is
    * DROPPED and the score kept integer: per-token
    * `s(b) = ((ct(b)+1)·10⁶) div (cr(b)+1)` (fixed-point, truncating
    * div identical on both engines; DSIR proper sums log-ratios — the
    * ratio-sum surrogate needs no transcendental math, so the gate is
    * bit-exact). Output: the top `n` documents by (importance desc,
    * doc_id) with their integer importance and token count.
    *
    * Plan shape: the corpus tokenizes ONCE and never shuffles by word
    * — bucket counts are two partial-aggregated shuffles of ≤
    * `nBuckets` rows each, the bucket score table (`nBuckets` rows)
    * broadcasts back, and the per-doc sum shuffles by doc_id; the
    * top-n is TakeOrderedAndProject, no global sort. That is scan +
    * two tiny aggs + broadcast + one keyed shuffle at any corpus size.
    */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
                 nBuckets: Int = 1024, n: Int = 100): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(WordCount.cleanWords(col("text"))).as("word"))
      .withColumn("b", pmod(
        expr("cast(conv(substr(md5(word), 1, 15), 16, 10) AS bigint)"),
        lit(nBuckets.toLong)))
      .select("doc_id", "lang", "b")
    val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = toks.where(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val scores = raw.join(tgt, Seq("b"), "left").select(col("b"),
      expr("(coalesce(ct, 0L) + 1L) * 1000000L div (cr + 1L)").as("s"))
    toks.join(broadcast(scores), "b")
      .groupBy("doc_id")
      .agg(sum("s").as("importance"), count(lit(1)).as("n_tokens"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(n)
  }

  /** [[perplexityBuckets]] with the heavy per-language window REFINED
    * for a dominant language — the promise in that operator's doc,
    * delivered: the fine rank window partitions one sort key deeper
    * (`(lang, score)`, ordered by doc_id), the global per-lang rank is
    * recovered as prefix-sum offset + fine rank (the
    * [[shardAssignRefined]] recipe), and ntile is replaced by its
    * closed form over (rank, n): with `sz = n div k`, `rem = n mod k`,
    * the first `rem` buckets hold `sz+1` rows — all integer, so the
    * output is BIT-IDENTICAL to the single-window form and the gate
    * shares its oracle verbatim.
    */
  def perplexityBucketsRefined(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    val scored = bigramFamiliarity(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("s", expr("familiarity div n_bigrams"))
    val fine = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "s").orderBy("doc_id")
    val byLangDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = scored.groupBy("lang", "s").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(byLangDesc), lit(0L)))
      .withColumn("n", sum("c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .select("lang", "s", "off", "n")
    scored.withColumn("rk_fine", row_number().over(fine).cast("long"))
      .join(broadcast(offsets), Seq("lang", "s"))
      .withColumn("r", col("off") + col("rk_fine"))
      // closed-form ntile(k) from (r, n): first rem buckets get sz+1
      .withColumn("nt", expr(
        s"""CASE WHEN r <= (n % $nBuckets) * (n div $nBuckets + 1)
           |     THEN (r - 1) div (n div $nBuckets + 1) + 1
           |     ELSE n % $nBuckets
           |          + (r - (n % $nBuckets) * (n div $nBuckets + 1) - 1)
           |            div (n div $nBuckets) + 1 END""".stripMargin))
      .withColumn("bucket",
        when(col("nt") === 1, "head")
          .when(col("nt") === nBuckets, "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col("lang"), col("s").as("fam_per_bigram"),
        col("bucket"))
      .orderBy("doc_id")
  }

  /** Deterministic hash sample: keep ~pct% of documents by a stable
    * content-independent hash of the id (the dual-engine md5-prefix
    * hash — NOT `rand()`, so the sample is reproducible across runs,
    * engines, and partitionings; the standard holdout-split primitive).
    */
  def hashSample(docs: DataFrame, pct: Int): DataFrame =
    docs.select(col("doc_id"), expr(
        "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
        .as("h"))
      .where(pmod(col("h"), lit(100L)) < pct)
      .select("doc_id")
      .orderBy("doc_id")

  /** Type-token-ratio quartiles per language: TTR ×1000 (distinct
    * tokens over tokens) per document, quartiled per language with
    * the `percentile` == `quantile_cont` parity — the lexical-richness
    * profile that separates template-y feeds from natural text at a
    * glance. Per-row codegen TTR; one language-keyed quantile rollup
    * over doc-sized rows.
    */
  def ttrByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("lang"), expr(
        "cast(size(array_distinct(ws)) as bigint) * 1000 div size(ws)")
        .as("ttr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        expr("percentile(ttr, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("lang"), col("n"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"), col("qs")(2).as("p75"))
      .orderBy("lang")

  /** Sampling-BIAS report: the per-language ppm share of the corpus
    * vs the share inside the [[hashSample]] keep set, and their
    * absolute delta — the self-evaluation that certifies a hash
    * sample didn't skew the mixture (id-hash sampling is unbiased in
    * expectation; this measures the realized skew on THIS corpus).
    * One fused conditional aggregation per language; the sample
    * predicate is recomputed per row, never materialized.
    */
  def sampleBiasReport(docs: DataFrame, pct: Int = 10): DataFrame = {
    val flagged = docs.select(col("lang"),
      (pmod(expr(
        "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)"),
        lit(100L)) < pct).as("in_sample"))
    flagged.groupBy("lang")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"))
      .withColumn("tot_corpus", sum("n_corpus").over(Window.partitionBy()))
      .withColumn("tot_sample", sum("n_sample").over(Window.partitionBy()))
      .select(col("lang"), col("n_corpus"), col("n_sample"),
        expr("n_corpus * 1000000 div tot_corpus").as("share_corpus_ppm"),
        expr("n_sample * 1000000 div tot_sample").as("share_sample_ppm"),
        expr("abs(n_corpus * 1000000 div tot_corpus - n_sample * 1000000 div tot_sample)")
          .as("delta_ppm"))
      .orderBy("lang")
  }

  /** Stratified deterministic sample: per-stratum keep rates (percent)
    * over the same dual-engine id hash as [[hashSample]] — the
    * language/domain-balancing primitive of a corpus build (e.g.
    * downsample dominant languages without losing reproducibility).
    * Shuffle-free: the rate lookup and hash filter are per-row.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (k, pct)) =>
      when(col(stratumCol) === k, pct).otherwise(acc)
    }
    docs.select(col("doc_id"), col(stratumCol), expr(
        "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
        .as("h"))
      .where(pmod(col("h"), lit(100L)) < rate.cast("long"))
      .select("doc_id", stratumCol)
      .orderBy("doc_id")
  }

  /** Inverted index: per word the sorted distinct posting list
    * (truncated to `maxPostings` ids, serialized — bounded row width)
    * plus the FULL document frequency — with the aggregate STATE capped,
    * not just the output: a first count-pass finds terms with
    * df > `maxDf` (stopwords — the words that appear in nearly every
    * document, so the list is small and broadcastable), and the
    * posting-list aggregation anti-joins them away before any
    * `collect_set` state is built. Stopword rows keep their exact df
    * (count-only state) with empty postings. Without the cap, "the" at
    * 100 TB would accumulate a posting set the size of the corpus in a
    * single aggregation buffer.
    */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 20,
                    maxDf: Long = 100L): DataFrame = {
    val pairs = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .select("word", "doc_id").distinct()
    val dfs = pairs.groupBy("word").agg(count(lit(1)).as("df"))
    val hot = dfs.where(col("df") > maxDf).select("word")
    val postings = pairs.join(broadcast(hot), Seq("word"), "left_anti")
      .groupBy("word")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    dfs.join(postings, Seq("word"), "left")
      .select(col("word"),
        coalesce(array_join(transform(slice(col("ids"), 1, maxPostings),
          x => x.cast("string")), ","), lit("")).as("postings"),
        col("df"))
      .orderBy("word")
  }

  /** Training-sequence packing: documents concatenate in doc_id order
    * into fixed token-budget sequences, assigned by the sequence their
    * FIRST token lands in (contiguous greedy packing — the standard
    * "concat and chunk" pretraining layout). Packing is per `source`
    * shard, so the running token sum is a window over each shard, not
    * one global single-partition prefix sum — at 100 TB each shard
    * packs independently and in parallel.
    */
  def packSequences(docs: DataFrame, budget: Int = 256): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("source"), col("doc_id"),
        size(WordCount.cleanWords(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("seq_id"))
      .orderBy("source", "doc_id")
  }

  /** Packing-efficiency report over [[packSequences]]: per (source,
    * seq) fill in ppm of the token budget, rolled up to a per-source
    * summary (sequences, mean fill ppm with one truncation, underfull
    * count below 50%). The utilization number that tells a training
    * team how much compute their packing recipe wastes. Two
    * aggregations over the packed assignment, bounded by sequence
    * count.
    */
  def packEfficiency(docs: DataFrame, budget: Int = 256): DataFrame =
    packSequences(docs, budget)
      .groupBy("source", "seq_id")
      .agg(sum("n_tokens").as("fill"))
      .withColumn("fill_ppm", expr(s"fill * 1000000 div $budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_seqs"),
        expr(s"sum(fill) * 1000000 div (count(1) * $budget)")
          .as("mean_fill_ppm"),
        sum(when(col("fill_ppm") < 500000, 1L).otherwise(0L))
          .as("n_underfull"))
      .orderBy("source")

  /** Levenshtein distance from each document to its id-successor — the
    * fuzzy-match primitive (dedup pipelines use it to verify candidate
    * pairs). Pairing is an equi-join on doc_id+1 (one shuffle), not a
    * global window sort. Distance is computed over a `prefixLen`-char
    * prefix: levenshtein is O(len²) per pair, so production screens
    * always bound the compared length (or the distance threshold) —
    * unbounded full-text edit distance would be the per-row hot spot
    * at corpus scale.
    */
  def editDistanceToNext(docs: DataFrame, prefixLen: Int = 128): DataFrame =
    docs.as("a")
      .join(docs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        levenshtein(substring(col("a.text"), 1, prefixLen),
          substring(col("b.text"), 1, prefixLen)).cast("long").as("dist_next"))
      .orderBy("doc_id")

  // ------------------------------------------------------------------
  // HTML text extraction — the front door of every crawl-derived
  // pipeline: a real corpus arrives as markup, and tag/script/style
  // stripping runs BEFORE boilerplate scrubbing, quality scoring, or
  // dedup ever see the text. The fixture documents are already clean,
  // so the gate plants a deterministic markup wrapper (same
  // construction in both engines) and proves extraction recovers the
  // text: entities decode, script/style bodies vanish, block tags
  // become whitespace, inline tags vanish. All patterns are
  // lookaround-free (Java regex ≡ RE2, the pii_scrub discipline);
  // extraction is a per-row codegen regexp chain — zero shuffle.
  // ------------------------------------------------------------------

  /** Planted-markup pieces, shared verbatim with the oracle (no single
    * quotes or backslashes, so they embed in a SQL literal unescaped).
    * The script body contains a decoy close tag and comparison
    * operators; the style body contains braces and a child selector —
    * the classic traps for naive tag stripping.
    */
  val HtmlHead: String =
    "<html><head><title>doc &amp; meta</title>" +
      "<style type=\"text/css\">p {margin: 0; color: #222}</style>" +
      "<script type=\"text/javascript\">if (1 < 2 && 0 > 1) " +
      "{ emit(\"</div>\") }</script>" +
      "</head><body><h1>heading &lt;"
  val HtmlMid: String = "&gt;</h1><div id=\"main\"><p>"
  val HtmlTail: String = "</p></div><br></body></html>"

  val ScriptPattern = "(?is)<script[^>]*>.*?</script>"
  val StylePattern = "(?is)<style[^>]*>.*?</style>"
  /** Block-level tags become whitespace (a word boundary in the
    * rendering); everything else strips to nothing.
    */
  val BlockTagPattern = "(?i)</?(p|br|div|h[1-6]|li|ul|ol|table|tr|td)[^>]*>"
  val AnyTagPattern = "(?s)<[^>]*>"

  /** The deterministic raw-markup view of a clean (doc_id, text) row:
    * head + title + style/script junk, the doc_id planted in an
    * entity-wrapped h1, and two inline-tag wraps inside the body text.
    */
  def htmlWrap(docId: Column, text: Column): Column =
    concat(lit(HtmlHead), docId.cast("string"), lit(HtmlMid),
      replace(replace(text, lit(" the "), lit(" <b>the</b> ")),
        lit(" a "), lit(" <i>a</i> ")),
      lit(HtmlTail))

  /** Markup → text: drop script/style bodies, break block tags to
    * spaces, strip remaining tags, decode the fixed entity table
    * (`&amp;` LAST — the standard order, so `&amp;lt;` decodes to the
    * literal `&lt;` and never to `<`), normalize whitespace.
    */
  def htmlExtractCol(html: Column): Column = {
    val noJunk = regexp_replace(
      regexp_replace(html, ScriptPattern, " "), StylePattern, " ")
    val noTags = regexp_replace(
      regexp_replace(noJunk, BlockTagPattern, " "), AnyTagPattern, "")
    val decoded = replace(replace(replace(replace(replace(replace(
      noTags,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&nbsp;"), lit(" ")), lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, WordCount.WhitespacePattern, " "))
  }

  /** Gate query: wrap → extract per document. The oracle runs the
    * identical chain on the identical construction; the parity gate
    * ([[htmlExtractWordcount]]) is the independent cross-check.
    */
  def htmlExtract(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        htmlExtractCol(htmlWrap(col("doc_id"), col("text"))).as("clean_text"))
      .orderBy("doc_id")

  /** Gate query: the engine's own wordcount over the EXTRACTED text.
    * The oracle never sees the markup — it counts tokens of the clean
    * fixture text plus the planted constants directly, so any
    * extraction loss (a swallowed word, an undecoded entity, a tag
    * fragment surviving) breaks the hash. This is the
    * wordcount-over-extracted parity proof, not a dual-engine rerun.
    */
  def htmlExtractWordcount(docs: DataFrame): DataFrame = {
    val ext = htmlExtract(docs).select(col("doc_id"),
      col("clean_text").as("text"))
    WordCount.wordCount(ext)
  }

  /** The capstone fed from the markup FRONT DOOR — a crawl pipeline
    * end to end: wrap (the planted-markup fixture view) → extract →
    * [[corpusBuildV2]]'s dedup ∩ gopher ∩ repetition ∩ span-cut →
    * chunk/mixture rollup. Every stage is an already-gated operator;
    * the oracle runs the v2 SQL over the extraction's PROVEN clean
    * form (planted constants + text — the `doc_html_extract_wordcount`
    * equivalence), so it never sees markup. Extraction adds one
    * per-row codegen regex chain ahead of the v2 shape — no new
    * shuffle.
    */
  def corpusBuildV3(docs: DataFrame, chunkSize: Int = 32, overlap: Int = 8,
                    w: Int = 8): DataFrame =
    // r15 A/B note: materializing the extracted frame once (plain
    // checkpoint, and a doc_id-repartitioned variant) was MEASURED and
    // rejected — the four v2 branches' single-split extraction stages
    // are independent and overlap across cores as-is (sweep 4.70 s),
    // while the checkpointed forms either serialized the whole
    // pipeline behind a 1-partition barrier (sweep 7.71 s) or flooded
    // the scheduler with 32-way fan-out on every downstream stage
    // (529 tasks, 5–9 s scheduler latency). The repeated extraction is
    // the cheaper evil at bench scale; at 100 TB the extracted text is
    // a written parquet handoff and the branches read THAT. For the
    // same reason the extracted input is not spread with
    // [[WordCount.fillCores]]: an exchange above the wrap+regex
    // extraction serializes it behind one task while fanning every
    // downstream stage (measured 4.7 → 7.7 s sweep / 343-task floods
    // in the repartitioned variants).
    corpusBuildV2(docs.withColumn("text",
        htmlExtractCol(htmlWrap(col("doc_id"), col("text")))),
      chunkSize, overlap, w)

  /** PII patterns shared with the oracle — kept lookaround-free so Java
    * regex and RE2 agree byte-for-byte.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val UrlPattern = "https?://[^\\t\\n\\x0B\\f\\r ]+"

  /** PII scrub — the redaction stage every training pipeline runs
    * before the text reaches a model: count and strip emails/URLs,
    * fingerprint the scrubbed text. Pure per-row regex inside codegen;
    * the counts + md5 make redaction itself oracle-verifiable.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlPattern), lit(0)))
          .cast("long").as("n_urls"),
        md5(regexp_replace(
          regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
          UrlPattern, "<URL>")).as("scrubbed_fp"))
      .orderBy("doc_id")

  /** Top-k salient terms per document by a tf-idf-style score kept in
    * INTEGER arithmetic (`tf·10^6 div df` — monotone in tf/idf, exact
    * on both engines; no float log). Two aggregations (tf per (doc,
    * word), df per word) and one join on word — the document-frequency
    * side is vocabulary-sized, so the join shuffles by word rather than
    * broadcasting (vocabulary at 100 TB is itself huge).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        expr("tf * 1000000L div df").as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .orderBy("doc_id", "rn")
  }

  /** Cross-lingual comparable-pair mining (bitext mining's blocking
    * stage): pairs of documents in two DIFFERENT languages ranked by
    * how many rare terms they share — names, numbers, and code-switch
    * tokens survive translation verbatim, so shared low-df terms are
    * the classic cheap signal for "these two pages say the same thing
    * in different languages" (the candidate generator in front of an
    * embedding-based verifier). Same df-pruned inverted-index shape as
    * [[sparseDotPairs]]: terms with df > `maxDf` are cut BEFORE the
    * self-join (a term every page shares carries no alignment signal
    * and would explode candidates), and the lang-pair asymmetry
    * (`langA` side < `langB` side has no meaning, so id order breaks
    * the tie) keeps each pair once. Candidates ∝ Σ df² over kept
    * terms — the maxDf knob is the 100 TB control.
    */
  def langPairMining(docs: DataFrame, langA: String, langB: String,
                     maxDf: Int, minShared: Long): DataFrame = {
    val tf = WordCount.explodeWords(docs, "text", Seq("doc_id", "lang"))
      .where(col("lang").isin(langA, langB))
      .select("doc_id", "lang", "word").distinct()
    val keep = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("word")
    val pruned = tf.join(keep, Seq("word"), "left_semi")
    val a = pruned.where(col("lang") === langA)
      .select(col("word"), col("doc_id").as("id_a"))
    val b = pruned.where(col("lang") === langB)
      .select(col("word"), col("doc_id").as("id_b"))
    a.join(b, "word")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("id_a", "id_b")
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones, k1 = 1.2,
    * b = 0.75) in pure INTEGER arithmetic: every factor carries an
    * explicit fixed-point scale (idf in micro, the length norm in
    * milli), so both engines agree bit-for-bit — the [[tfidfTopTerms]]
    * treatment, extended to the full scorer. The idf is the monotone
    * integer surrogate `n_docs·10⁶ div df` (no float log, same
    * precedent); the tf saturation and length normalization are the
    * real BM25 shape: `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`.
    *
    * The query is DERIVED from the corpus (top `nTerms` words by
    * global count, ties by word) — the [[phraseSearch]]
    * no-data-dependent-literal property. Plan shape for 100 TB: tf is
    * the one corpus-scale aggregation; the query is an `nTerms`-row
    * broadcast; postings are semi-join-pruned to query terms BEFORE
    * df is counted, so the full vocabulary never enters a join; the
    * doc-length join touches only posting docs; the final ranking is
    * TakeOrderedAndProject. Validity window: idf_micro·tfpart_micro
    * must stay under 2⁶³ — fine to ~10⁹ docs; beyond that drop idf to
    * milli scale.
    */
  def bm25TopDocs(docs: DataFrame, nTerms: Int = 3, k: Int = 100): DataFrame = {
    val tf = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) * 1000L div count(1)").as("avgdl_milli"))
    val q = tf.groupBy("word").agg(sum("tf").as("gcnt"))
      .orderBy(col("gcnt").desc, col("word")).limit(nTerms)
      .select("word")
    val postings = tf.join(broadcast(q), "word")
    val dfq = postings.groupBy("word").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), expr(
        """(n_docs * 1000000L div df)
          |  * ((tf * 2200L * 1000000L)
          |     div (tf * 1000L
          |          + (1200L * (250L + (750000L * dl) div avgdl_milli))
          |            div 1000L))
          |  div 1000000L""".stripMargin).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.):
    * two rankers score the same corpus-derived query — [[bm25TopDocs]]
    * (saturating, length-normalized) and a raw tf-sum ranker (the
    * "other signal": unnormalized term mass) — and RRF fuses them in
    * RANK space, `score = Σ_rankers 10⁶ div (60 + rank)`, which is
    * integer-exact and immune to the rankers' incomparable score
    * scales. A doc missing from one ranker's top-`k` contributes
    * nothing for it — the standard truncated-list RRF.
    *
    * Scale shape: each ranker is already top-`k`-bounded, so ranks are
    * row_numbers over k-row frames (bounded single-partition windows,
    * same contract as the other post-top-k orderings); the fusion is a
    * k-row full outer join. The corpus-scale work lives inside
    * [[bm25TopDocs]] and the one tf aggregation they conceptually
    * share.
    */
  def hybridRrf(docs: DataFrame, nTerms: Int = 3, k: Int = 100,
                topK: Int = 20, rrfK: Long = 60L): DataFrame = {
    val tf = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val q = tf.groupBy("word").agg(sum("tf").as("gcnt"))
      .orderBy(col("gcnt").desc, col("word")).limit(nTerms)
      .select("word")
    val tfTop = tf.join(broadcast(q), "word")
      .groupBy("doc_id").agg(sum("tf").as("tfsum"))
      .orderBy(col("tfsum").desc, col("doc_id")).limit(k)
    val rTf = tfTop.withColumn("rn", row_number().over(
      Window.orderBy(col("tfsum").desc, col("doc_id"))))
      .select(col("doc_id"),
        expr(s"1000000L div ($rrfK + rn)").as("c_tf"))
    val rBm = bm25TopDocs(docs, nTerms, k).withColumn("rn",
        row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))))
      .select(col("doc_id"),
        expr(s"1000000L div ($rrfK + rn)").as("c_bm"))
    rBm.join(rTf, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("c_bm"), lit(0L)) + coalesce(col("c_tf"), lit(0L)))
          .as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(topK)
  }

  /** HyperLogLog register table over an item column — THE
    * mergeable cardinality sketch (Flajolet et al. 2007, reference:
    * the same distinct-count need `sendFileByFile.cpp:353-374`'s
    * final word aggregation serves), built relationally so both
    * engines replay it bit-for-bit: h = the dual-engine 60-bit
    * md5-prefix hash of the item, bucket = h mod m, and
    * rho = (leading zeros of the remaining (60−log₂m)-bit field) + 1
    * computed as `W + 1 − bit_length(rest)` — the zipfSlope
    * `length(bin(x)) − 1` idiom; no floating log anywhere. The
    * register table is `groupBy(bucket).max(rho)`: a map-side-
    * combinable agg whose state is m longs NO MATTER how many rows
    * stream through — the property that makes HLL the 100 TB distinct
    * sketch (registers merge by elementwise max across partitions,
    * shards, or days, unlike COUNT(DISTINCT)'s full-key shuffle).
    * `keys` keeps one register table per key (the per-source tables
    * [[hllDistinctMerged]] merges).
    */
  def hllRegisters(items: DataFrame, itemCol: String, m: Int,
                   keys: Seq[String] = Nil): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0 && m <= 4096,
      "bucket count must be a power of two (the hash-split needs exact bit fields)")
    val w = 60 - java.lang.Integer.numberOfTrailingZeros(m) // rest-field width
    val k = keys.map(col)
    val groups = keys :+ "bucket"
    items
      .select(k :+ expr(s"cast(conv(substr(md5($itemCol), 1, 15), 16, 10) AS bigint)")
        .as("h"): _*)
      .select(k ++ Seq((col("h") % m).as("bucket"), expr(s"h div $m").as("rest")): _*)
      .select(k ++ Seq(col("bucket"),
        when(col("rest") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - (length(expr("bin(rest)"))))
          .cast("long").as("rho")): _*)
      .groupBy(groups.head, groups.tail: _*).agg(max(col("rho")).as("max_rho"))
  }

  /** The measured-accuracy HLL report (sibling of `dedup_minhash_eval`
    * and `dedup_bloom_fpr`: an estimator ships with its error, not an
    * assumption): the m=64 register table collapsed to the raw HLL
    * estimate alpha·m²/Σ2^−rho beside the exact distinct count. The
    * harmonic sum stays integer — S = Σ 2^(W+1−rho) over all m buckets
    * (empty buckets contribute 2^(W+1)), a bigint — and the single
    * double step `C / S` (C = alpha·m²·2^(W+1), one Scala-computed
    * literal shared verbatim with the oracle) is IEEE-correctly-
    * rounded division + floor, deterministic in both engines. Scale
    * shape: one register agg (m-long state) + one exact-count agg for
    * the eval column; the production path at 100 TB keeps only the
    * former.
    */
  def hllDistinct(docs: DataFrame, m: Int = 64, n: Int = 3): DataFrame = {
    val grams = hllGramStream(docs, n)
    hllSummarize(hllRegisters(grams, "gram", m),
      grams.agg(count_distinct(col("gram")).as("n_exact")), m)
  }

  /** The RAW n-gram shingle stream (duplicates kept — register max is
    * idempotent, so HLL never needs the per-doc distinct that
    * [[Dedup.shingles]] pays for its join consumers). Distinct shingle
    * cardinality is the capacity number the dedup-index cost model
    * prices postings with; the corpus vocabulary itself (31 words)
    * sits in the small-range regime where the RAW alpha·m²/S estimator
    * (the one [[hllSummarize]] implements — it has no linear-counting
    * branch, by design: the gates measure its error instead) is
    * known-biased, so the shingle domain keeps the estimator on the
    * range it would really meter.
    */
  def hllGramStream(docs: DataFrame, n: Int,
                    keep: Seq[String] = Nil): DataFrame =
    docs.select(keep.map(col) :+ ws.as("ws"): _*)
      .where(size(col("ws")) >= n)
      .select(keep.map(col) :+ explode(expr(
        s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', slice(ws, i + 1, $n)))"))
        .as("gram"): _*)

  /** The distributed-merge form of [[hllDistinct]]: per-source register
    * tables (the shape a 100 TB pipeline actually persists — one tiny
    * register row-set per shard/day/source) merged into the global
    * registers by elementwise max, then summarized. The merge is the
    * whole point of HLL — Σ of per-partition exact distinct counts is
    * WRONG under overlap, but register max composes associatively and
    * commutatively, so the merged summary must equal the single-pass
    * one bit-for-bit (the driver checks it against the very same
    * oracle via the alias map).
    */
  def hllDistinctMerged(docs: DataFrame, m: Int = 64): DataFrame = {
    val perSource = hllRegisters(hllGramStream(docs, 3, Seq("source")),
      "gram", m, Seq("source"))
    val merged = perSource.groupBy("bucket").agg(max("max_rho").as("max_rho"))
    hllSummarize(merged,
      hllGramStream(docs, 3).agg(count_distinct(col("gram")).as("n_exact")), m)
  }

  /** Hashed-linear text-quality classifier INFERENCE — the fastText /
    * CCNet deployment shape that scores every pretraining document:
    * features are word bigrams pushed through the hashing trick
    * (md5-prefix hash mod `slots` — no vocabulary file to ship), the
    * model is a weight per slot, and the document score is the plain
    * dot product. Weights here are a deterministic integer stand-in
    * for trained parameters (w(slot) = (slot·2654435761) mod 2001 −
    * 1000 in micro units) — kept as the fixed-weight microbenchmark;
    * since round 11 the engine also TRAINS weights in-engine
    * ([[classifierTrain]]) and scores with them
    * ([[classifierTrainedScore]]), closing the one "plumbing real,
    * model fake" gap. Scale shape: ZERO shuffles — the per-document
    * aggregate runs inside the row (one `aggregate` over the bigram
    * array), so scoring 100 TB is a single codegen'd scan, which is
    * why the hashing trick is THE way quality classifiers deploy.
    */
  def classifierScore(docs: DataFrame, slots: Int = 4096,
                      keep: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: keep.map(col) :+ ws.as("ws"): _*)
      .select((col("doc_id") +: keep.map(col)) ++ Seq(
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_feats"),
        // sequence(0, -1) DESCENDS in Spark — a <2-token doc must score
        // exactly 0, not hash a phantom gram
        when(size(col("ws")) < 2, lit(0L)).otherwise(expr(
          s"""aggregate(
             |  transform(sequence(0, size(ws) - 2),
             |    i -> concat_ws(' ', slice(ws, i + 1, 2))),
             |  0L,
             |  (acc, g) -> acc +
             |    cast(conv(substr(md5(g), 1, 15), 16, 10) AS bigint)
             |      % $slots * 2654435761 % 2001 - 1000)""".stripMargin))
          .as("logit_micro")): _*)
      .withColumn("accept", col("logit_micro") > 0)
      .orderBy("doc_id")

  /** Collapse a `(bucket, max_rho)` register table (batch-built or
    * streamed to completion — registers are the mergeable state, so
    * the assembly is the same) into the one-row accuracy report.
    */
  def hllSummarize(regs: DataFrame, exact: DataFrame, m: Int): DataFrame = {
    val w = 60 - java.lang.Integer.numberOfTrailingZeros(m)
    regs
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${w + 1} - max_rho AS INT))"))
          .as("s_present"))
      .select(col("n_buckets"),
        (col("s_present") +
          (lit(m.toLong) - col("n_buckets")) * lit(1L << (w + 1)))
          .as("s_scaled"))
      .crossJoin(exact) // both sides are single-row aggregates
      .select(col("n_buckets"), col("s_scaled"),
        floor(lit(hllAlphaNum(m)) / col("s_scaled").cast("double"))
          .cast("long").as("est_distinct"),
        col("n_exact"))
      .select(col("n_buckets"), col("s_scaled"), col("est_distinct"),
        col("n_exact"),
        expr("(abs(est_distinct - n_exact) * 1000000) div n_exact")
          .as("err_ppm"))
  }

  /** C = alpha_m·m²·2^(W+1): the one floating constant of the HLL
    * estimate, computed HERE so the oracle generator inlines the exact
    * same double literal (the minhash-eval seeded-constant idiom).
    * alpha uses the standard small-m values from the HLL paper.
    */
  def hllAlphaNum(m: Int): Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val w = 60 - java.lang.Integer.numberOfTrailingZeros(m)
    alpha * m * m * math.pow(2.0, (w + 1).toDouble)
  }

  /** Hashed bigram COUNT features `(doc_id, slot, cnt)` — the sparse
    * design matrix behind the trained classifier: word bigrams through
    * the hashing trick (md5-prefix mod `slots`, the [[classifierScore]]
    * hash), counted per document. One shuffle on (doc_id, slot).
    */
  def classifierFeatures(docs: DataFrame, slots: Int): DataFrame =
    docs.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .as("g"))
      .select(col("doc_id"), expr(
        s"cast(conv(substr(md5(g), 1, 15), 16, 10) AS bigint) % $slots")
        .as("slot"))
      .groupBy("doc_id", "slot").agg(count(lit(1)).as("cnt"))

  /** IN-ENGINE classifier training — the distributed batch-perceptron
    * loop that replaces [[classifierScore]]'s documented stand-in
    * weights with learned ones. `rounds` full batch updates, all
    * integer-exact (so the whole training run is engine-reproducible
    * and DuckDB-oracled as unrolled CTEs):
    *
    *   margin_d = Σ_s w_s·cnt_{d,s};  pred_d = [margin_d > 0]
    *   w'_s     = w_s + Σ_d (y_d − pred_d)·cnt_{d,s}
    *
    * Label: `lang = 'en'` — the same cheap reference signal
    * [[classifierCalibration]] scores against (the stand-in for human
    * labels). The loop is [[Iterate.fixed]]:
    * per round one broadcast join (the `slots`-row weight vector — a
    * model this size NEVER shuffles the corpus side), one doc-keyed
    * aggregate, one slot-keyed gradient aggregate, and an eager
    * checkpoint to cut lineage. Non-converging oscillation is
    * fine (and typical for the perceptron on non-separable data) —
    * the contract is determinism, and the fixed round count is the
    * production budget knob. Scale: per round, cost = one scan of the
    * (doc, slot) feature table + a `slots`-row update; 100 TB of
    * documents trains in `rounds` scans.
    */
  def classifierTrain(docs: DataFrame, slots: Int = 256,
                      rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val feats = Iterate.materialize(classifierFeatures(docs, slots))
    val labels = Iterate.materialize(docs.select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y")))
    val w0 = Iterate.materialize(spark.range(slots)
      .select(col("id").as("slot"), lit(0L).as("w")))
    val w = Iterate.fixed(w0, rounds) { (cur, _) =>
      val margins = feats.join(broadcast(cur), "slot")
        .groupBy("doc_id").agg(sum(col("cnt") * col("w")).as("m"))
      val errs = labels.join(margins, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("y") - when(coalesce(col("m"), lit(0L)) > 0, 1L).otherwise(0L))
            .as("err"))
        .where(col("err") =!= 0)
      val grad = feats.join(errs, "doc_id")
        .groupBy("slot").agg(sum(col("cnt") * col("err")).as("g"))
      cur.join(grad, Seq("slot"), "left")
        .select(col("slot"), (col("w") + coalesce(col("g"), lit(0L))).as("w"))
    }
    // the feature table is the pipeline's largest frame — release its
    // blocks (and the labels') now that the final weights stand alone;
    // only the slots-row weight frame stays checkpointed for the caller
    Iterate.release(feats)
    Iterate.release(labels)
    w.orderBy("slot")
  }

  /** [[classifierTrain]] through the per-(SparkContext, dir, slots,
    * rounds) model registry: the first caller pays the training run;
    * everyone else gets the registered weights rebuilt as a tiny local
    * frame. The model-registry shape — training runs once, every
    * consumer (the train gate's output, the scoring gate, any future
    * filter) reads the same registered weights. The weight vector is
    * `slots` rows — driver-held loop state, same contract as the Lloyd
    * centroid frame.
    */
  def classifierTrainCached(spark: org.apache.spark.sql.SparkSession,
                            dir: String, slots: Int = 256,
                            rounds: Int = 3): DataFrame = {
    val rows = graft.sources.SessionCache.perContext(spark,
        ("TextAnalysis.trained", dir, slots, rounds)) {
      classifierTrain(graft.Tables.documents(spark, dir), slots, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    import spark.implicits._
    rows.toDF("slot", "w").orderBy("slot")
  }

  /** Score every document with the LEARNED weights — inference
    * re-pointed at [[classifierTrain]]'s output instead of the
    * stand-in hash weights: per doc the logit, the accept decision,
    * the reference label, and whether they agree. The weight vector
    * broadcasts; scoring is one feature-scan + doc-keyed aggregate.
    */
  def classifierTrainedScore(docs: DataFrame, slots: Int = 256,
                             rounds: Int = 3,
                             weights: Option[DataFrame] = None): DataFrame = {
    val w = weights.getOrElse(classifierTrain(docs, slots, rounds))
    val logits = classifierFeatures(docs, slots)
      .join(broadcast(w), "slot")
      .groupBy("doc_id").agg(sum(col("cnt") * col("w")).as("l"))
    docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      .join(logits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("l"), lit(0L)).as("logit"),
        (coalesce(col("l"), lit(0L)) > 0).as("accept"), col("is_en"))
      .withColumn("correct", col("accept") === (col("is_en") === 1L))
      .orderBy("doc_id")
  }

  /** HELD-OUT evaluation of the trained classifier — the eval loop a
    * quality model must pass before it gates a corpus, mirroring the
    * engine's other split contracts ([[graft.operators.Basket.recEval]]
    * leave-latest-out, the ANN frozen-quantizer 80/20): train on the
    * first 80% of doc_ids, score the held-out 20%, report one row of
    * confusion counts + accuracy/precision/recall ppm (integer-exact).
    * Leakage-free by construction: no held-out feature or label ever
    * reaches a gradient round. Scale: training cost as
    * [[classifierTrain]]; the eval adds one feature-scan of the
    * held-out split + a single global aggregate.
    */
  def classifierEval(docs: DataFrame, slots: Int = 256,
                     rounds: Int = 3): DataFrame = {
    val cut = (docs.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    val w = classifierTrain(docs.where(col("doc_id") < cut), slots, rounds)
    classifierTrainedScore(docs.where(col("doc_id") >= cut), slots, rounds,
        weights = Some(w))
      .agg(count(lit(1)).as("n_test"),
        sum(col("is_en")).as("n_pos"),
        sum(when(col("accept") && col("is_en") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("accept") && col("is_en") === 0L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("accept") && col("is_en") === 1L, 1L).otherwise(0L))
          .as("fn"))
      .select(col("n_test"), col("n_pos"), col("tp"), col("fp"), col("fn"),
        expr("(n_test - fp - fn) * 1000000 div n_test").as("accuracy_ppm"),
        expr("tp * 1000000 div greatest(tp + fp, 1)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(tp + fn, 1)").as("recall_ppm"))
  }

  /** [[classifierEval]] through the per-(SparkContext, dir, slots,
    * rounds) registry — first caller pays the train+score run, everyone
    * else reads the registered metrics row: a production eval runs once
    * per trained model and REGISTERS its metrics next to the weights.
    */
  def classifierEvalCached(spark: org.apache.spark.sql.SparkSession,
                           dir: String, slots: Int = 256,
                           rounds: Int = 3): DataFrame = {
    val vals = graft.sources.SessionCache.perContext(spark,
        ("TextAnalysis.eval", dir, slots, rounds)) {
      val r = classifierEval(graft.Tables.documents(spark, dir),
        slots, rounds).collect()(0)
      (0 until 8).map(r.getLong)
    }
    import spark.implicits._
    Seq((vals(0), vals(1), vals(2), vals(3), vals(4), vals(5), vals(6),
        vals(7)))
      .toDF("n_test", "n_pos", "tp", "fp", "fn", "accuracy_ppm",
        "precision_ppm", "recall_ppm")
  }

  /** Calibration table for [[classifierScore]] — the eval a score
    * must pass before it gates a corpus: bucket documents by fixed
    * logit bins (div 2000 micro — fixed-width bins, NOT ntile, so no
    * corpus-sized global window exists at 100 TB) and report each
    * bin's document count and positive rate against a cheap reference
    * label (lang = 'en' here — the stand-in for human labels, as the
    * weights are the stand-in for training). A well-calibrated score
    * shows monotone rate over bins; a flat profile says the score
    * carries no signal for the label. One hash aggregate after the
    * zero-shuffle scoring scan.
    */
  def classifierCalibration(docs: DataFrame, binMicro: Int = 2000): DataFrame =
    classifierScore(docs, keep = Seq("lang"))
      .groupBy(expr(s"logit_micro div $binMicro").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("bin"), col("n_docs"), col("n_en"),
        expr("n_en * 1000000 div n_docs").as("en_ppm"))
      .orderBy("bin")

  /** Zipf slope of the corpus frequency–rank curve in EXACT integer
    * arithmetic: both axes are the floor-log₂ surrogate
    * `length(bin(x)) − 1` (bit length is engine-identical; no float
    * log anywhere), and the slope is the two-moment OLS identity
    * `(n·Σxy − Σx·Σy)·10⁶ div (n·Σxx − Σx²)` in micro units. A healthy
    * Zipfian corpus fits near −1; a templated/duplicated one flattens.
    * One vocabulary-sized aggregate after the word count; ranks come
    * from a window over the vocab frame (word-domain-sized, not
    * corpus-sized).
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val counts = WordCount.explodeWords(docs, "text", Nil)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
      .select(
        expr("length(bin(rnk)) - 1").cast("long").as("x"),
        expr("length(bin(cnt)) - 1").cast("long").as("y"))
      .agg(count(lit(1)).as("n_words"),
        // greatest(1, ·): a degenerate corpus (all ranks in one log2
        // bucket) zeroes the OLS denominator — both engines then emit
        // slope 0 instead of diverging (Spark NULL vs DuckDB error)
        expr("""(count(1) * sum(x * y) - sum(x) * sum(y)) * 1000000L
               |  div greatest(1L, count(1) * sum(x * x) - sum(x) * sum(x))"""
          .stripMargin).as("slope_micro"))
  }

  /** Incremental inverted-index maintenance — the nightly-increment
    * form of index building (the [[graft.operators.Dedup.dedupIncrement]]
    * pattern applied to postings): for every term TOUCHED by the
    * incoming documents (`doc_id > baseMaxId`), the base document
    * frequency, the increment's delta, and the new total. Terms the
    * increment never mentions produce no row — their index entries are
    * untouched, which is the point.
    *
    * Scale shape: the increment's postings are increment-sized; the
    * base postings are SEMI-JOIN-PRUNED to touched terms BEFORE any
    * counting, so the base corpus contributes only the rows the
    * update actually needs (in production the base df lives in a
    * persisted stats table and this probe is a lookup — the pruned
    * recount here mirrors it at fixture scale).
    */
  def indexIncrement(docs: DataFrame, baseMaxId: Long): DataFrame = {
    val postings = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .select("doc_id", "word").distinct()
    val inc = postings.where(col("doc_id") > baseMaxId)
    val touched = inc.select("word").distinct()
    val baseDf = postings.where(col("doc_id") <= baseMaxId)
      .join(touched, Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("df_base"))
    inc.groupBy("word").agg(count(lit(1)).as("df_delta"))
      .join(baseDf, Seq("word"), "left")
      .na.fill(0L, Seq("df_base"))
      .select(col("word"), col("df_base"), col("df_delta"),
        (col("df_base") + col("df_delta")).as("df_total"))
      .orderBy("word")
  }

  /** Per-document hapax ratio — the share of words used exactly ONCE
    * within the document, the lexical-diversity cousin of TTR
    * (templated/boilerplate text reuses its words; rich text keeps
    * many singletons). `ratio_ppm = n_hapax·10⁶ div n_tokens`. One
    * (doc, word) aggregation, then a doc-keyed conditional rollup —
    * both ride the same hash exchange family; output is corpus-row
    * sized.
    */
  def hapaxRatio(docs: DataFrame): DataFrame =
    WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"),
        expr("n_hapax * 1000000L div n_tokens").as("ratio_ppm"))
      .orderBy("doc_id")

  /** Sparse bag-of-words similarity join through the inverted index:
    * pairs of documents scored by the integer dot product of their
    * term-frequency vectors, restricted to terms with document
    * frequency ≤ `maxDf` — the standard df-pruning (prefix-filter)
    * trick that makes the self-join tractable: a stopword-df term
    * would contribute O(df²) candidate pairs and near-zero signal, so
    * it is cut BEFORE the join, not filtered after. This is the
    * text-side sibling of the embedding kNN family: exact, integer,
    * no vectors needed.
    *
    * Scale shape: one shuffle on word for the index, candidate pairs
    * bounded by Σ df² over KEPT terms (the maxDf knob), one shuffle on
    * the pair key for the dot rollup. At 100 TB lower maxDf (absolute
    * or as a corpus fraction) until Σ df² fits — recall loss is
    * confined to ubiquitous terms, which carry no similarity signal.
    */
  def sparseDotPairs(docs: DataFrame, maxDf: Int, minDot: Long): DataFrame = {
    val tf = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val keep = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("word")
    val pruned = tf.join(keep, Seq("word"), "left_semi")
    pruned.as("a").join(pruned.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .where(col("dot") >= minDot)
      .orderBy("id_a", "id_b")
  }

  /** Token-balanced shard assignment for training output: documents
    * are banded by token-count magnitude (`length(bin(n))` =
    * ⌊log2 n⌋+1 — pure integer on both engines, no float log) and
    * round-robined across `nShards` WITHIN each band, so every shard
    * receives the same mix of long and short documents without any
    * global sort: the rank window partitions by band, never by the
    * whole corpus (a single-partition `row_number() OVER (ORDER BY
    * ...)` is the anti-pattern this replaces). Deterministic: band
    * rank orders by (n_tokens desc, doc_id), a total order.
    */
  def shardAssign(docs: DataFrame, nShards: Int): DataFrame = {
    val byBand = Window.partitionBy("band")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"))
      .withColumn("band", expr("length(bin(n_tokens))").cast("long"))
      .withColumn("shard",
        ((row_number().over(byBand) - 1) % nShards).cast("long"))
      .select("doc_id", "n_tokens", "band", "shard")
      .orderBy("doc_id")
  }

  /** [[shardAssign]] with the per-band rank window REFINED — the
    * dominant-band fix. A shard id depends on the row's FULL rank
    * within its band (a permutation, not a top-k), so quota salting
    * can't reproduce it; rank refinement can, exactly: partition the
    * heavy window one sort key deeper — (band, n_tokens), ordered by
    * doc_id — then recover the global band rank as
    * `offset(band, n_tokens) + fine_rank`, where the offset (rows of
    * the band with strictly more tokens) is a prefix sum over the TINY
    * distinct-(band, n_tokens) frame, broadcast back. The heavy
    * window's partition count now scales with distinct token lengths,
    * not 1-per-band; output is bit-identical to [[shardAssign]] (the
    * gate shares its oracle).
    */
  def shardAssignRefined(docs: DataFrame, nShards: Int): DataFrame = {
    val base = docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"))
      .withColumn("band", expr("length(bin(n_tokens))").cast("long"))
    val fine = Window.partitionBy("band", "n_tokens").orderBy("doc_id")
    val byBandDesc = Window.partitionBy("band").orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("band", "n_tokens").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(byBandDesc), lit(0L)))
      .select("band", "n_tokens", "off")
    base.withColumn("rk_fine", row_number().over(fine).cast("long"))
      .join(broadcast(offsets), Seq("band", "n_tokens"))
      .withColumn("shard", (col("off") + col("rk_fine") - 1) % nShards)
      .select("doc_id", "n_tokens", "band", "shard")
      .orderBy("doc_id")
  }

  /** Skip-gram co-occurrence counts — word pairs within `k` positions
    * (ordered: w1 strictly before w2), the word2vec/GloVe
    * co-occurrence-statistics preprocessing pass. The window
    * condition is turned into an EQUI-join: each position emits its
    * `k` following target positions (`sequence(pos+1, pos+k)`) and
    * joins the postings back on (doc_id, pos) — the positional-index
    * idiom of [[phraseSearch]], so Spark hash-joins instead of
    * range-scanning a per-doc self-join. Row volume is exactly k× the
    * token count (bounded, linear); one shuffle on (doc_id, pos), one
    * combinable count on the pair, TakeOrderedAndProject for the
    * top-`top`.
    */
  def skipgramCounts(docs: DataFrame, k: Int = 3, top: Int = 20): DataFrame = {
    val words = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    val targets = words.select(col("doc_id"), col("word").as("w1"),
      explode(expr(s"sequence(pos + 1, pos + $k)")).as("pos"))
    targets
      .join(words.select(col("doc_id"), col("pos"), col("word").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(top)
  }

  /** Phrase retrieval through a POSITIONAL inverted index: per-doc
    * occurrence counts of the corpus's top bigram, found by
    * intersecting the two words' postings at adjacent positions
    * (`pos_b = pos_a + 1`) — the index mechanics behind quoted-phrase
    * search, distinct from [[invertedIndex]]'s document-level
    * postings. The phrase itself is computed inside the query (top
    * bigram by count desc, ngram — a total order), so there is no
    * data-dependent literal to drift between engines or scale factors.
    *
    * Scale shape: postings shuffle once on (doc_id, pos±) for the
    * adjacency join; the 1-row phrase is a broadcast. For an n-word
    * phrase, chain n−1 adjacency joins — each intersection shrinks the
    * posting stream, so join the rarest word first in a real engine.
    */
  def phraseSearch(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    val top1 = docs.select(ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram")).limit(1)
      .select(split(col("ngram"), " ").getItem(0).as("w1"),
        split(col("ngram"), " ").getItem(1).as("w2"))
    words.as("a").join(broadcast(top1), col("a.word") === col("w1"))
      .join(words.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
      .where(col("b.word") === col("w2"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** n-word phrase retrieval through the same positional index, with
    * ONE posting-scale shuffle — the generalization [[phraseSearch]]'s
    * doc comment promises, but better than chaining n−1 adjacency
    * joins: the corpus's top n-gram is exploded to (idx, word) and
    * broadcast; the posting stream is pruned to phrase words by that
    * broadcast join (non-phrase postings never shuffle — the prune
    * subsumes rarest-word-first, since EVERY word's postings are cut
    * before the shuffle, not just the first join's); each surviving
    * posting votes for the phrase start it would belong to
    * (`base = pos − idx`), and a (doc_id, base) group holding all n
    * offsets is a full occurrence. (The per-doc rollup after the
    * having-n filter re-shuffles only occurrence rows — negligible
    * next to the posting stream.)
    *
    * The occurrence test is a plain count: (doc_id, base, idx) rows
    * are unique by construction (pos = base + idx pins pos given base
    * and idx), so `count(*) = n` ⇔ all n offsets matched — no
    * count-distinct expansion. Repeated words in the phrase are exact:
    * a posting matching two offsets emits two votes at two bases.
    */
  def phraseSearchN(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "a phrase has at least two words")
    val words = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    val topN = docs.select(ws.as("ws"))
      .where(size(col("ws")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', slice(ws, i + 1, $n)))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram")).limit(1)
      .select(posexplode(split(col("ngram"), " ")))
      .select(col("pos").cast("long").as("idx"), col("col").as("word"))
    words.join(broadcast(topN), "word")
      .select(col("doc_id"), (col("pos") - col("idx")).as("base"))
      .groupBy("doc_id", "base")
      .agg(count(lit(1)).as("n_off"))
      .where(col("n_off") === n)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Consecutive global row numbering WITHOUT a single-partition
    * window — the id-assignment primitive a training pipeline needs
    * (sample indices, shard-stable example ids). `row_number() OVER
    * (ORDER BY ...)` plans a 1-partition global sort that caps at one
    * executor; this is the two-pass distributed form instead:
    * range-partition on the order key (partition i holds smaller keys
    * than partition i+1), sort within partitions, then
    * `RDD.zipWithIndex` — which runs one count job over the partition
    * sizes and numbers rows as (partition offset + local position),
    * exactly the offsets-broadcast idiom. Emits (doc_id, idx) with
    * idx consecutive 0..n−1 in doc_id order. One of the few places an
    * RDD primitive is the RIGHT tool: the per-partition offset
    * arithmetic has no DataFrame equivalent that avoids the global
    * sort.
    */
  def globalIndex(docs: DataFrame, parts: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val ordered = docs.select(col("doc_id"))
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val rdd = ordered.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row(r.getLong(0), i)
    }
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy("doc_id")
  }

  /** Proximity search ("all terms within a w-token window", the
    * sloppy-phrase operator next to [[phraseSearchN]]'s exact
    * adjacency): a document matches when its MINIMAL cover window —
    * min over one occurrence of each term of (max pos − min pos) — is
    * ≤ `window`; emits (doc_id, min_span) for the matches. Postings
    * prune to the broadcast term list BEFORE any shuffle, the inner
    * joins keep only documents containing EVERY term, and the
    * per-document occurrence cross product is bounded by per-doc term
    * frequency (query-sized, not corpus-sized) — so at 100 TB the
    * cost is the pruned-postings shuffle, same as the phrase path.
    */
  def proximitySearch(docs: DataFrame, terms: Seq[String],
                      window: Int): DataFrame = {
    require(terms.size >= 2, "proximity needs at least two terms")
    val toks = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
      .where(col("word").isin(terms: _*))
    val per = terms.zipWithIndex.map { case (t, i) =>
      toks.where(col("word") === t).select(col("doc_id"), col("pos").as(s"p$i"))
    }
    val joined = per.reduce((a, b) => a.join(b, "doc_id"))
    val ps = terms.indices.map(i => col(s"p$i"))
    joined
      .select(col("doc_id"), (greatest(ps: _*) - least(ps: _*)).as("span"))
      .groupBy("doc_id").agg(min("span").as("min_span"))
      .where(col("min_span") <= window)
      .orderBy("doc_id")
  }

  /** PMI-ranked bigram collocations: score each adjacent word pair by
    * pointwise mutual information, computed as the integer
    * cross-multiplication `cnt_ab · N · 1000 div (cnt_a · cnt_b)`
    * (monotone in PMI, so the RANKING is exact — no cross-engine float
    * log drift). Three aggregations over the token stream (unigrams,
    * bigrams, the scalar N), one broadcast of the 1-row total, top-k
    * via TakeOrderedAndProject. Validity window: products must stay
    * under 2^63 — cnt_ab·N·1000 caps N around 3·10^9 tokens; beyond
    * that, rank in log-space doubles (ordering-stable, oracle-free) or
    * rescale the ×1000.
    */
  def bigramPmi(docs: DataFrame, minCnt: Int, k: Int): DataFrame = {
    val words = WordCount.explodeWords(docs, "text", Seq("doc_id"))
    val uni = words.groupBy("word").agg(count(lit(1)).as("uc"))
    val n = uni.agg(sum("uc").as("n_total"))
    val bi = docs.select(WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCnt)
      .select(col("ngram"), col("cnt"),
        split(col("ngram"), " ").getItem(0).as("w1"),
        split(col("ngram"), " ").getItem(1).as("w2"))
    bi.join(uni.select(col("word").as("w1"), col("uc").as("c1")), "w1")
      .join(uni.select(col("word").as("w2"), col("uc").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("ngram"), col("cnt"), col("c1"), col("c2"),
        expr("cnt * n_total * 1000L div (c1 * c2)").as("pmi_x1000"))
      .orderBy(col("pmi_x1000").desc, col("ngram"))
      .limit(k)
  }

  /** Deterministic weighted sample: priority = hash div (weight + 1),
    * keep the `n` smallest — heavier documents (more tokens) draw
    * proportionally smaller priorities, the integer-arithmetic cousin
    * of exponential-jitter weighted reservoir sampling (Efraimidis-
    * Spirakis), exact on both engines because no floats are involved.
    * Plans as TakeOrderedAndProject over per-row codegen math: no
    * global sort, no shuffle beyond the top-n merge.
    */
  def weightedSample(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        expr("cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
          .as("h"))
      .select(col("doc_id"), col("n_tokens"),
        expr("h div (n_tokens + 1)").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(n)

  /** Add-one (Laplace) smoothed bigram language model: conditional
    * probability P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + |V|) as an
    * integer-exact fixed-point `p_x1e6` — no float division, so both
    * engines agree bit-for-bit. The |V| scalar rides a 1-row broadcast;
    * the bigram and unigram counts are each one map-side-combined
    * shuffle, and the unigram join is a broadcast at any realistic
    * vocab size (words, not documents).
    */
  def bigramLm(docs: DataFrame, minCnt: Int): DataFrame = {
    val words = WordCount.explodeWords(docs, "text", Seq("doc_id"))
    val uni = words.groupBy("word").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val bi = docs.select(ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCnt)
      .select(col("ngram"), col("cnt"),
        split(col("ngram"), " ").getItem(0).as("w1"))
    bi.join(uni.select(col("word").as("w1"), col("c1")), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("ngram"), col("cnt"), col("c1"), col("vocab"),
        expr("(cnt + 1) * 1000000L div (c1 + vocab)").as("p_x1e6"))
      .orderBy("ngram")
  }

  /** Tokenizer-vocabulary coverage: per-document OOV token count and
    * rate against the top-`k` corpus vocabulary (ordered by count desc,
    * word — a total order, so the vocab set is deterministic on both
    * engines). The vocab is broadcast (k rows) and OOV tokens are a
    * broadcast LEFT ANTI probe — the corpus never shuffles on word for
    * the probe, only the per-doc rollup shuffles on doc_id. The
    * pre-training use: pick the tokenizer vocab budget by watching this
    * rate, then route high-OOV documents to byte-fallback handling.
    */
  def vocabCoverage(docs: DataFrame, k: Int): DataFrame = {
    val words = WordCount.explodeWords(docs, "text", Seq("doc_id"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(k).select("word")
    val tot = words.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val oov = words.join(broadcast(vocab), Seq("word"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    tot.join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_x1000", expr("n_oov * 1000 div n_tokens"))
      .orderBy("doc_id")
  }

  /** Heaps-law vocabulary growth: distinct vocabulary size after the
    * first 25/50/75/100 % of documents (by doc_id order) — the "is the
    * corpus still teaching the tokenizer new words" curve. Each word
    * contributes only its FIRST document (one min-aggregate), the
    * quartile cut points are one broadcast percentile row, and the
    * four counts are a single conditional aggregate — so the curve
    * costs one wordcount-shaped shuffle regardless of corpus size
    * (never four prefix scans).
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val firstDoc = docs
      .select(col("doc_id"),
        explode(WordCount.cleanWords(col("text"))).as("word"))
      .groupBy("word").agg(min("doc_id").as("first_doc"))
    val cuts = docs.agg(expr(
      "percentile(doc_id, array(0.25D, 0.5D, 0.75D, 1.0D))").as("qs"))
    firstDoc.crossJoin(broadcast(cuts))
      .agg(
        sum(when(col("first_doc") <= col("qs")(0), 1L).otherwise(0L)).as("v25"),
        sum(when(col("first_doc") <= col("qs")(1), 1L).otherwise(0L)).as("v50"),
        sum(when(col("first_doc") <= col("qs")(2), 1L).otherwise(0L)).as("v75"),
        count(lit(1)).as("v100"))
      .select(expr(
        """stack(4, 25L, v25, 50L, v50, 75L, v75, 100L, v100)
          |  AS (pct, vocab)""".stripMargin))
      .orderBy("pct")
  }

  /** Mixture PLANNING — the arithmetic a pretraining mix answers
    * BEFORE any sampler runs ([[mixtureSample]] executes a plan; this
    * emits one): given target mixture weights (ppm per source) and a
    * total token budget, how much of each source is needed — a
    * sampling rate below 10⁶ ppm when the source is oversized, an
    * EPOCH COUNT above one when it is undersized (the "how many
    * passes of the small high-quality source at 15% share" question).
    * Integer-exact: target = budget·w_ppm div 10⁶; rate_ppm =
    * target·10⁶ div avail (may exceed 10⁶); epochs = ceil division.
    * Scale shape: one source-keyed rollup over per-row codegen token
    * counts; the weight table is a literal-sized broadcast. At 100 TB
    * this is the cheap pass that prices the corpus before the
    * expensive sampler touches a row.
    */
  def mixturePlan(docs: DataFrame, weightsPpm: Map[String, Long],
                  budgetTokens: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weightsPpm.toSeq.sortBy(_._1).toDF("source", "w_ppm")
    docs.select(col("source"), ws.as("ws"))
      .select(col("source"), size(col("ws")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_avail"))
      .join(broadcast(w), Seq("source"))
      .select(col("source"), col("n_docs"), col("tokens_avail"),
        col("w_ppm"),
        expr(s"${budgetTokens}L * w_ppm div 1000000").as("target_tokens"))
      .select(col("source"), col("n_docs"), col("tokens_avail"),
        col("w_ppm"), col("target_tokens"),
        expr("target_tokens * 1000000 div greatest(1L, tokens_avail)")
          .as("rate_ppm"),
        expr("(target_tokens + tokens_avail - 1) div greatest(1L, tokens_avail)")
          .as("epochs"))
      .orderBy("source")
  }

  /** Deterministic domain-mixture sampling: draw a corpus whose source
    * composition matches target weights (here w = 1 + src_number mod 4,
    * a stand-in for externally supplied mixture weights à la
    * DoReMi-style static reweighting). Per source the quota is
    * `min(n_src, budget·w/Σw)`; rows are ranked inside each source by
    * (md5(doc_id), doc_id) — a total order — and the first `quota`
    * survive, so the sample is reproducible run-to-run and engine-to-
    * engine. Scale shape: quotas are a 20-row broadcast; ranking is one
    * window shuffle on source (salt or pre-bucket if one source
    * dominates); no global sort.
    */
  def mixtureSample(docs: DataFrame, budget: Int): DataFrame = {
    // try_cast + coalesce: a digit-less source value must fall back to
    // weight 1, not throw under ANSI mode (cast('' AS int) does)
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        expr("cast(1 + coalesce(try_cast(regexp_extract(source, '[0-9]+', 0) AS int), 0) % 4 AS bigint)"))
    val tot = perSrc.agg(sum("w").as("w_tot"))
    val quota = perSrc.crossJoin(broadcast(tot))
      .select(col("source"),
        least(col("n_src"), expr(s"${budget}L * w div w_tot")).as("quota"))
    val bySrc = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        expr("cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
          .as("h"))
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .join(broadcast(quota), "source")
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "doc_id")
  }

  /** [[mixtureSample]] with the per-source rank window SALTED — the
    * dominant-source fix: ranking ALL of a source's rows in one window
    * partition makes the top source a single-task hot spot at 100 TB.
    * Two-phase quota ranking: phase 1 ranks within (source, salt) —
    * `salts`× smaller partitions — and keeps each bucket's top
    * `quota` rows (a row whose bucket rank exceeds the quota cannot be
    * in the source's global top-quota: its global rank is ≥ its bucket
    * rank under the same total order); phase 2 re-ranks only the
    * survivors, ≤ salts × quota rows per source, so the second window
    * is quota-bounded, not data-bounded. Selected rows AND their ranks
    * equal [[mixtureSample]]'s exactly — the gate shares its oracle.
    */
  def mixtureSampleSalted(docs: DataFrame, budget: Int, salts: Int): DataFrame = {
    require(salts >= 1, "salts must be positive")
    // try_cast + coalesce as in mixtureSample: digit-less source → weight 1
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        expr("cast(1 + coalesce(try_cast(regexp_extract(source, '[0-9]+', 0) AS int), 0) % 4 AS bigint)"))
    val tot = perSrc.agg(sum("w").as("w_tot"))
    val quota = perSrc.crossJoin(broadcast(tot))
      .select(col("source"),
        least(col("n_src"), expr(s"${budget}L * w div w_tot")).as("quota"))
    val byBucket = Window.partitionBy("source", "salt")
      .orderBy(col("h"), col("doc_id"))
    val survivors = docs.select(col("doc_id"), col("source"),
        expr("cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
          .as("h"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)))
      .withColumn("rk1", row_number().over(byBucket).cast("long"))
      .join(broadcast(quota), "source")
      .where(col("rk1") <= col("quota"))
    val bySrc = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "doc_id")
  }

  /** Temperature-based mixture sampling (the GPT-3/PaLM data-mixing
    * scheme): per-source quotas proportional to `n_src^α` with
    * α = 0.75 — upweighting small sources relative to proportional
    * sampling without letting any source dominate. The α-power is
    * computed as `sqrt(n) · sqrt(sqrt(n))` — each factor is an IEEE
    * correctly-rounded sqrt and the products round identically on
    * both engines, so the milli-scaled integer weight
    * `floor((sqrt(n)·sqrt(sqrt(n)))·1000)` is bit-reproducible with
    * NO float pow/log (pow's last-ulp rounding is libm-specific; sqrt
    * is exact by IEEE 754). Quota and ranking machinery are
    * [[mixtureSample]]'s: quotas broadcast, rows ranked per source by
    * (md5(doc_id), doc_id), first `quota` survive.
    */
  def temperatureSample(docs: DataFrame, budget: Int): DataFrame = {
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w", expr(
        "cast(floor((sqrt(cast(n_src AS double)) * sqrt(sqrt(cast(n_src AS double)))) * 1000.0) AS bigint)"))
    val tot = perSrc.agg(sum("w").as("w_tot"))
    val quota = perSrc.crossJoin(broadcast(tot))
      .select(col("source"),
        least(col("n_src"), expr(s"${budget}L * w div w_tot")).as("quota"))
    val bySrc = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        expr("cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)")
          .as("h"))
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .join(broadcast(quota), "source")
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "doc_id")
  }

  /** Marker-word lists for the language-ID heuristic. Real systems use
    * character-n-gram profiles (the testdata vocabulary is uniform
    * across langs, so any profile degenerates); the *operator* is the
    * deterministic scoring machinery: count marker hits per language,
    * argmax with ties broken by language code.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "row", "column", "join"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("agg", "hash", "merge", "vector"),
    "fr" -> Seq("scan", "data", "query", "batch"),
    "zh" -> Seq("small", "big", "customer", "stream"))

  /** Predicted language per document: (doc_id, pred_lang, score).
    * The argmax is an `array_min` over (−score, code) structs — pure
    * per-row math inside codegen; the earlier window formulation
    * shuffled every (doc, lang) pair just to rank 5 rows per doc.
    */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        array_min(array(LangMarkers.map { case (code, words) =>
          struct(
            (-size(filter(col("ws"), w => w.isin(words: _*)))).cast("long").as("neg"),
            lit(code).as("cand"))
        }: _*)).as("m"))
      .select(col("doc_id"), col("m.cand").as("pred_lang"),
        (-col("m.neg")).cast("long").as("score"))
      .orderBy("doc_id")

  /** Per-source language PURITY: each ingest source's dominant
    * language (argmax with lexical tie-break, the struct-min trick)
    * and its ppm share — the mixture-monitoring rollup a multilingual
    * corpus publishes per feed. One (source, lang) shuffle plus a
    * source-sized argmax.
    */
  def langPurityBySource(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        min(struct((-col("c")).as("nc"), col("lang").as("l"))).as("m"))
      .select(col("source"), col("n_docs"), col("m.l").as("top_lang"),
        expr("(-m.nc) * 1000000 div n_docs").as("purity_ppm"))
      .orderBy("source")

  /** Positional-bias profile: for each frequent word, the truncating
    * mean of its relative position inside documents (per-mille of the
    * doc's token span) — discourse structure made measurable: opener
    * words sit low, closer words high, function words at ≈ 500. Each
    * occurrence contributes `pos·1000 div (len−1)` (single-token docs
    * are skipped — no span); one word-keyed shuffle, top `topK` by
    * count.
    */
  def wordPositionProfile(docs: DataFrame, topK: Int = 30): DataFrame =
    docs.select(WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(ws) - 1),
          |  i -> struct(ws[i] AS word,
          |    cast(i * 1000 div (size(ws) - 1) as bigint) AS ppt))"""
          .stripMargin)).as("p"))
      .select(col("p.word").as("word"), col("p.ppt").as("ppt"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), sum("ppt").as("s"))
      .select(col("word"), col("n"),
        expr("s div n").as("mean_relpos_ppt"))
      .orderBy(col("n").desc, col("word"))
      .limit(topK)

  /** Word BURSTINESS (Church & Gale): total occurrences over document
    * frequency, ×1000 — a word at 1000 occurs once per document it
    * touches (function-word behavior); far above 1000 it clumps
    * (topical/template behavior). The corpus-linguistics signal
    * behind stopword lists and boilerplate suspicion. One shuffle on
    * word with a fused count + distinct-doc aggregate, TakeOrdered
    * top-k.
    */
  def wordBurstiness(docs: DataFrame, topK: Int = 30): DataFrame =
    WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("df"))
      .withColumn("burst_x1000", expr("cnt * 1000 div df"))
      .orderBy(col("burst_x1000").desc, col("word"))
      .limit(topK)

  /** Classifier self-evaluation: the CONFUSION MATRIX of [[langId]]'s
    * predictions against the corpus' labeled `lang` column — one row
    * per (true, predicted) pair with its count. The evaluation-report
    * family next to the ANN recall report: the engine scores its own
    * heuristic against ground truth, deterministically. One fused
    * shuffle on the (true, pred) pair after the per-row argmax.
    */
  def langConfusionMatrix(docs: DataFrame): DataFrame =
    langId(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")

  /** CCNet/C4-style cross-document boilerplate removal: fixed-size
    * token chunks stand in for paragraphs (this corpus has no line
    * structure); any chunk text appearing in more than `maxDf` distinct
    * documents is dropped everywhere, and each document is reassembled
    * in chunk order (fingerprint + kept-count per doc).
    *
    * Scale shape: one shuffle keyed on chunk text for the df count; the
    * surviving common set is tiny BY DEFINITION (it's the boilerplate),
    * so the removal is a broadcast anti-join and the reassembly is the
    * only doc-keyed shuffle. At 100 TB swap the chunk text for its
    * xxhash64 in the df pass so the shuffle carries 8-byte keys.
    */
  def boilerplateScrub(docs: DataFrame, chunkTokens: Int = 8,
                       maxDf: Int = 2): DataFrame = {
    // materialize the chunk table ONCE: both the df-count branch and
    // the anti-join/reassembly branch consume it, and without the
    // checkpoint each would re-tokenize and re-explode the full corpus
    // (the dominant cost at scale) — same pattern as Graph.pageRank's
    // edge materialization
    val ch = docs.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(ws) - 1, $chunkTokens),
           |          s -> concat_ws(' ', slice(ws, s + 1, $chunkTokens)))""".stripMargin))
        .as(Seq("chunk_idx", "t")))
      .localCheckpoint()
    val common = ch.groupBy("t")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") > maxDf).select("t")
    ch.join(broadcast(common), Seq("t"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(chunk_idx, t))), x -> x.t)")))
          .as("fp"))
      .orderBy("doc_id")
  }

  /** Frequency-of-frequency histogram (how many words occur `cnt`
    * times) — the Zipf-shape diagnostic over the corpus; two
    * aggregates, the second over vocabulary-sized rows.
    */
  def freqOfFreq(docs: DataFrame): DataFrame =
    WordCount.wordCount(docs)
      .groupBy("cnt").agg(count(lit(1)).as("n_words"))
      .orderBy("cnt")

  /** Hashing-trick featurization (Weinberger et al. 2009): each token
    * hashes to one of `nBuckets` feature slots, per-document slot
    * counts form the sparse feature vector — the fixed-width text
    * featurizer that needs NO vocabulary pass. One shuffle on
    * (doc_id, bucket) with map-side combine; words never shuffle and
    * no dictionary is built or broadcast — the whole point of the
    * trick at 100 TB.
    */
  def hashedFeatures(docs: DataFrame, nBuckets: Int = 64): DataFrame =
    WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .withColumn("bucket", pmod(
        expr("cast(conv(substr(md5(word), 1, 15), 16, 10) AS bigint)"),
        lit(nBuckets.toLong)))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")

  /** Deterministic word2vec-style negative sampling: for each of the
    * `nCenters` most frequent words, the `k` vocabulary words with the
    * smallest priority `h(center, cand) div (⌊n^0.75·1000⌋ + 1)` — the
    * integer Efraimidis-Spirakis form of drawing negatives from the
    * unigram^0.75 distribution (heavier words draw proportionally
    * smaller priorities), keyed per center so every center gets an
    * independent deterministic draw. n^0.75 via the sqrt·sqrt(sqrt)
    * identity — both engines produce the identical double before the
    * floor. The weighted vocab broadcasts (vocabulary-sized, not
    * corpus-sized); the per-center top-k is a window over
    * centers × |V| candidate rows — at web-scale vocabularies cap the
    * candidate set by a minimum count first (the standard word2vec
    * vocabulary floor).
    */
  def skipgramNegatives(docs: DataFrame, nCenters: Int = 10,
                        k: Int = 5): DataFrame = {
    val uni = WordCount.explodeWords(docs, "text", Seq("doc_id"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val weighted = uni.select(col("word").as("neg_word"), expr(
      "cast(floor((sqrt(cast(n AS double)) * sqrt(sqrt(cast(n AS double)))) * 1000.0) AS bigint)")
      .as("w075"))
    val centers = uni.orderBy(col("n").desc, col("word")).limit(nCenters)
      .select(col("word").as("center"))
    val byCenter = Window.partitionBy("center")
      .orderBy(col("priority"), col("neg_word"))
    centers.crossJoin(broadcast(weighted))
      .where(col("neg_word") =!= col("center"))
      .withColumn("priority", expr(
        "cast(conv(substr(md5(concat(center, ' ', neg_word)), 1, 15), 16, 10) AS bigint) div (w075 + 1)"))
      .withColumn("rk", row_number().over(byCenter).cast("long"))
      .where(col("rk") <= k)
      .select("center", "rk", "neg_word", "priority")
      .orderBy("center", "rk")
  }

  /** Exact-quota stratified split: EVERY language stratum lands exactly
    * ⌊n·8/10⌋ train / up to ⌊n·9/10⌋ val / rest test — unlike the
    * hash-threshold split ([[datasetSplit]]'s family) whose realized
    * fractions fluctuate, this one is quota-exact per stratum by
    * construction. Rows rank within their stratum by the deterministic
    * md5-prefix id hash (the [[hashSample]] priority), so membership is
    * stable under reruns and independent of physical order.
    *
    * Scale shape: one window rank per stratum partition (languages
    * partition the corpus — no global sort), quotas derived from the
    * same partition's count; output is O(strata × 3) rows.
    */
  def quotaSplit(docs: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang")
    val rankW = byLang.orderBy(col("pri"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("pri", expr(
        "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)"))
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .withColumn("n", count(lit(1)).over(byLang))
      .select(col("lang"),
        when(col("rk") <= expr("(n * 8) div 10"), "train")
          .when(col("rk") <= expr("(n * 9) div 10"), "val")
          .otherwise("test").as("split"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")
  }

  /** Multi-keyword tagger: which of a fixed keyword set each document
    * contains, as `(doc_id, n_matched, matched)` with the matched list
    * sorted and comma-joined. Token-level exact match on the cleaned
    * lowercase vocabulary (same tokenizer as the wordcount family).
    *
    * Scale shape: the keyword set rides as an array literal inside the
    * row expression — `array_intersect` over the per-doc token array is
    * a pure map (ZERO shuffles, no explode, no join); a 100 TB corpus
    * tags in one codegen'd scan. This is the degenerate-but-dominant
    * case of multi-pattern matching where the dictionary fits in the
    * instruction stream; a million-entry dictionary would switch to the
    * inverted token join ([[docSparsePairs]]'s layout).
    */
  def keywordTag(docs: DataFrame, keywords: Seq[String]): DataFrame = {
    val kw = array(keywords.map(lit): _*)
    docs
      .select(col("doc_id"), array_sort(array_distinct(
        array_intersect(WordCount.cleanWords(col("text")), kw)))
        .as("hits"))
      .where(size(col("hits")) > 0)
      .select(col("doc_id"), size(col("hits")).cast("long").as("n_matched"),
        array_join(col("hits"), ",").as("matched"))
      .orderBy("doc_id")
  }

  /** Postings-compression accounting for the inverted index: store the
    * first posting absolute and the rest as strictly-positive deltas,
    * varint-encoded (7 payload bits per byte, so
    * bytes(v) = (len(bin(v)) + 6) div 7 — the `length(bin(·))` log2
    * both engines share). Emits one row: term/posting counts, raw
    * 8-byte-per-posting size, varint size, and the savings in ppm —
    * the "how big is the index really" planning number; at 100 TB the
    * delta+varint layout is the difference between an index that fits
    * and one that doesn't. One shuffle on word (the lag window), one
    * global rollup.
    */
  def indexCompressionStats(docs: DataFrame): DataFrame = {
    val post = docs
      .select(col("doc_id"), explode(WordCount.cleanWords(col("text"))).as("word"))
      .distinct()
    val gaps = post
      .withColumn("prev", lag("doc_id", 1).over(
        Window.partitionBy("word").orderBy("doc_id")))
      .select(col("word"),
        when(col("prev").isNull, col("doc_id"))
          .otherwise(col("doc_id") - col("prev")).as("v"))
    gaps.agg(
        countDistinct(col("word")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        (count(lit(1)) * 8).as("raw_bytes"),
        sum(expr("(length(bin(v)) + 6) div 7")).as("varint_bytes"))
      .select(col("n_terms"), col("n_postings"), col("raw_bytes"),
        col("varint_bytes"),
        expr("(raw_bytes - varint_bytes) * 1000000 div raw_bytes")
          .as("savings_ppm"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010), integer-exact:
    * candidate phrases are maximal stopword-free token runs (capped at
    * `maxLen` words); each word scores deg/freq where deg sums the
    * lengths of the phrases it appears in and freq counts its
    * occurrences; a phrase scores the sum of its words' scores
    * (×1000, truncating). Emits the global top-`k` phrases by score.
    *
    * Scale shape: the run-splitting window is doc-bounded (partition by
    * doc), word stats are one wordcount-shaped shuffle, and the final
    * top-k is TakeOrderedAndProject — no quadratic anywhere.
    */
  def rakeKeyphrases(docs: DataFrame, maxLen: Int = 4, k: Int = 25): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(WordCount.cleanWords(col("text"))))
      .toDF("doc_id", "pos", "word")
      .withColumn("is_sw", col("word").isInCollection(Stopwords))
      .withColumn("g", sum(when(col("is_sw"), 1).otherwise(0))
        .over(Window.partitionBy("doc_id").orderBy("pos")))
      .where(!col("is_sw"))
      .select(col("doc_id"), col("pos"), col("word"), col("g"))
      .localCheckpoint()
    val ph = toks.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("plen"),
        expr("concat_ws(' ', transform(sort_array(collect_list(struct(pos, word))), s -> s.word))")
          .as("phrase"))
      .where(col("plen") <= maxLen)
    val wstat = toks.join(ph.select("doc_id", "g", "plen"), Seq("doc_id", "g"))
      .groupBy("word")
      .agg(expr("sum(plen) * 1000 div count(1)").as("wscore"))
    val scored = toks.join(ph, Seq("doc_id", "g"))
      .join(wstat, "word")
      .groupBy(col("doc_id"), col("g"), col("phrase"), col("plen"))
      .agg(sum("wscore").as("score"))
    scored.groupBy("phrase")
      .agg(max(col("plen")).as("n_words"), count(lit(1)).as("cnt"),
        min(col("score")).as("score_x1000"))
      .orderBy(col("score_x1000").desc, col("phrase"))
      .limit(k)
  }

  /** Rényi-2 (collision) entropy signal per document, integer-exact:
    * the probability (in ppm) that two uniformly drawn characters of
    * the cleaned text coincide — Σ cnt² ⋅ 10⁶ div tot². High collision
    * = low character diversity (boilerplate, repeated filler); the
    * quadratic form replaces Shannon's Σ p·log p, which no two engines
    * compute bit-identically. Pure per-row codegen array math — the
    * distinct-character factor is bounded by the alphabet, so the
    * per-row cost is O(|alphabet|·len), and there is no shuffle at all
    * before the final ordering.
    */
  def charCollision(docs: DataFrame): DataFrame =
    WordCount.fillCores(docs).select(col("doc_id"),
        WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"),
        expr("array_sort(filter(split(concat_ws('', ws), ''), x -> x <> ''))")
          .as("cs"))
      // run-length pass over the SORTED chars: Σ run² in O(n) per row
      // (the distinct-char × full-scan form was O(|alphabet|·n) and
      // measured 4.5 s at sf0.1; this shape is ~0.6 s)
      .select(col("doc_id"), size(col("cs")).cast("long").as("tot_chars"),
        expr("""concat(
                |  filter(sequence(0, size(cs) - 1),
                |    i -> i = 0 OR element_at(cs, i + 1) != element_at(cs, i)),
                |  array(cast(size(cs) AS int)))""".stripMargin).as("bounds"))
      .select(col("doc_id"), col("tot_chars"),
        expr("""aggregate(sequence(0, size(bounds) - 2), 0L,
                |  (acc, j) -> acc
                |    + cast(element_at(bounds, j + 2) - element_at(bounds, j + 1) AS bigint)
                |    * cast(element_at(bounds, j + 2) - element_at(bounds, j + 1) AS bigint))"""
          .stripMargin).as("ss"))
      .select(col("doc_id"), col("tot_chars"),
        expr("ss * 1000000 div (tot_chars * tot_chars)").as("coll_ppm"))
      .orderBy("doc_id")

  /** Greedy bigram-LM decoding: from each of the `nSeeds` most
    * frequent words, repeatedly append the argmax next word (corpus
    * bigram count, ties to the lexicographically smaller word) for
    * `steps` steps; sinks absorb. The generation counterpart of
    * [[bigramLm]] — what a maximum-likelihood unsmoothed bigram model
    * actually writes.
    *
    * Scale shape: the argmax table is one window over the bigram
    * counts (vocab-sized result); each decode step joins the
    * nSeeds-row frontier against it — bounded work per step no matter
    * the corpus size.
    */
  def bigramGenerate(docs: DataFrame, nSeeds: Int = 3, steps: Int = 6): DataFrame = {
    val ws = WordCount.cleanWords(col("text"))
    val next = docs.select(ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w, ws[i+1] AS nx))"))
        .as("p"))
      .groupBy(col("p.w").as("w"), col("p.nx").as("nx"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("w").orderBy(col("cnt").desc, col("nx"))))
      .where(col("rn") === 1)
      .select(col("w"), col("nx"))
      .localCheckpoint()
    val seeds = docs.select(explode(ws).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(nSeeds)
      .select(col("word").as("seed"))
    var gen = seeds.select(col("seed"), col("seed").as("cur"),
      col("seed").as("generated"))
    var t = 0
    while (t < steps) {
      gen = gen.join(next, gen("cur") === next("w"), "left")
        .select(col("seed"), coalesce(col("nx"), col("cur")).as("cur"),
          when(col("nx").isNull, col("generated"))
            .otherwise(concat(col("generated"), lit(" "), col("nx")))
            .as("generated"))
      t += 1
    }
    gen.select(col("seed"), col("generated")).orderBy("seed")
  }
}
