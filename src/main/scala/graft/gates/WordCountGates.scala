package graft
package gates

import org.apache.spark.sql.SparkSession
import graft.operators.{TextAnalysis, WordCount}
import graft.sources.SessionCache
import OracleSql.{SqlWs, sqlWords}

/** The reference's query and its source formats: word count over the
  * documents table, a directory of text files, the DataSourceV2
  * connector, CSV/JSON/ORC/XML round trips and the RDD spine, plus
  * the word-frequency gates (distinct, top-k, sketches) built on the
  * same tokenizer. Every format gate shares [[SqlWordcount]]: a round
  * trip through a file format can't change the token multiset.
  */
object WordCountGates {

  /** The documents corpus materialized once per sf dir as a directory
    * of plain-text files — the reference's actual input format
    * (`sendFileByFile.cpp:422-444`), backing the text-directory and
    * streaming forms of the wordcount pipeline. Cached per SparkContext
    * so repeated bench runs (and new sessions) measure the query, not
    * the fixture write.
    */
  private[gates] def docsAsTextDir(s: SparkSession, dir: String): String =
    SessionCache.perContext(s, ("WordCountGates.text", dir)) {
      val out = TempDirs.scratchString("graft_textdir_")
      Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("text"))
        .write.mode("overwrite").text(out)
      out
    }

  /** The documents table round-tripped through a non-parquet format
    * once per (SparkContext, sf dir, format) — the CSV/JSON source
    * coverage (the wordcount oracle is format-invariant).
    */
  private def docsAsFormat(s: SparkSession, dir: String, fmt: String): String =
    SessionCache.perContext(s, ("WordCountGates.format", dir, fmt)) {
      val out = TempDirs.scratchString(s"graft_${fmt}_")
      val docs = Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      fmt match {
        case "csv" =>
          docs.write.mode("overwrite").option("header", "true").csv(out)
        case "json" => docs.write.mode("overwrite").json(out)
        case "orc"  => docs.write.mode("overwrite").orc(out)
        case "xml"  => docs.write.mode("overwrite").format("xml")
          .option("rootTag", "docs").option("rowTag", "doc").save(out)
      }
      out
    }

  private[gates] lazy val SqlWordcount =
    s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word"""

  private lazy val SqlDistinctWords =
    s"""SELECT count(DISTINCT word) AS n_words FROM (${sqlWords()})"""

  private[gates] lazy val SqlTopkWords =
    s"""SELECT word, count(*) AS cnt FROM (${sqlWords()})
       |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  private lazy val SqlTopkWordsPerSource =
    s"""SELECT source, word, cnt, rn FROM (
       |  SELECT source, word, cnt,
       |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rn
       |  FROM (SELECT source, word, count(*) AS cnt FROM (${sqlWords(" source,")})
       |        GROUP BY 1, 2)
       |) WHERE rn <= 3 ORDER BY source, rn""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("wordcount", (s, dir) =>
      WordCount.wordCount(Tables.documents(s, dir)),
      SqlWordcount),
    Gate("wordcount_rdd", (s, dir) =>
      WordCount.wordCountRdd(s, Tables.documents(s, dir)),
      // the RDD spine runs the same tokenizer kernel over the same rows
      SqlWordcount),
    // reference operators 1+3 end-to-end: a directory of text files
    // scanned by spark.read.textFile (same oracle as wordcount — line
    // splitting can't change the token multiset)
    Gate("textdir_wordcount", (s, dir) =>
      graft.sources.TextDirectory.wordCountDir(s, docsAsTextDir(s, dir)),
      SqlWordcount),
    // the same directory through the custom DataSourceV2 connector
    // (file-pruning pushdown + column pruning; line splitting can't
    // change the token multiset, so the wordcount oracle holds)
    Gate("textdir_v2_wordcount", (s, dir) =>
      WordCount.wordCount(
        s.read.format("graft.sources.v2.TextDirSource")
          .load(docsAsTextDir(s, dir))
          .select(org.apache.spark.sql.functions.col("line").as("text")),
        "text"),
      // the V2 connector reads the same staged lines
      SqlWordcount),
    Gate("wordcount_per_source", (s, dir) =>
      WordCount.wordCountBy(Tables.documents(s, dir), "text", "source"),
      s"""SELECT source, word, count(*) AS cnt FROM (${sqlWords(" source,")})
         |GROUP BY source, word ORDER BY source, word""".stripMargin),
    // CSV / JSONL sources: the same pipeline over a schema'd csv/json
    // read (format-invariant oracle)
    Gate("csv_wordcount", (s, dir) =>
      WordCount.wordCount(s.read.option("header", "true")
        .schema("doc_id LONG, text STRING")
        .csv(docsAsFormat(s, dir, "csv"))),
      SqlWordcount),
    Gate("json_wordcount", (s, dir) =>
      WordCount.wordCount(s.read
        .schema("doc_id LONG, text STRING")
        .json(docsAsFormat(s, dir, "json"))),
      // a format round trip can't change the token multiset
      SqlWordcount),
    Gate("orc_wordcount", (s, dir) =>
      WordCount.wordCount(s.read.orc(docsAsFormat(s, dir, "orc"))),
      // a format round trip can't change the token multiset
      SqlWordcount),
    // Spark 4 native XML source: same roundtrip contract as csv/orc
    // (entity escaping can't change the token multiset)
    Gate("xml_wordcount", (s, dir) =>
      WordCount.wordCount(s.read.option("rowTag", "doc")
        .schema("doc_id LONG, text STRING")
        .format("xml").load(docsAsFormat(s, dir, "xml"))),
      // XML roundtrip: entity escaping can't change the token multiset
      SqlWordcount),
    Gate("distinct_words", (s, dir) =>
      WordCount.distinctWords(Tables.documents(s, dir)),
      SqlDistinctWords),
    // same count through Spark's theta sketch (lgNomEntries 10:
    // exact below k = 1024 distinct; the 100 TB approximate path).
    // ORACLE VALIDITY WINDOW: the exact-count oracle holds only while
    // corpus vocabulary < 1024 (testdata vocab is 31 words at every
    // sf; on a larger corpus the sketch is ~1/√k approximate by design
    // and Gate.exactWhile fails the query) — same caveat for
    // topk_words_sketch (m=1024), events_value_quantiles_sketch
    // (exact ≤ k=32768 rows/group), and the LSH queries
    // (dedup_minhash, emb_neardup_lsh) whose exact oracles rely on
    // banded-LSH recall ≈ 1 at the declared thresholds/seeds.
    Gate("distinct_words_sketch", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
          .agg(theta_sketch_estimate(theta_sketch_agg(col("word"), 10)).as("n_words")),
        "theta lg=10", col("n_words") < 1024)
    },
      SqlDistinctWords),
    Gate("top_bigrams", (s, dir) =>
      TextAnalysis.topNgrams(Tables.documents(s, dir), 2, 20),
      s"""SELECT ngram, count(*) AS cnt FROM (
         |  SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2
         |) GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin),
    // top-k through the Space-Saving sketch (exact below m=1024 distinct)
    Gate("topk_words_sketch", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
          .agg(graft.functions.TopKFreqSketch
            .topk_weighted(col("word"), lit(1L), 1024).as("s")),
        // fewer than m counters: no eviction ran
        "Space-Saving m=1024", size(col("s")) < 1024)
        .select(explode(col("s")).as("e"))
        .select(col("e.word").as("word"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
    },
      // Space-Saving is exact below m = 1024 distinct words
      SqlTopkWords),
    // point frequencies through the count-min sketch: build once (one
    // scan, depth×width longs), broadcast the 1-row sketch, probe the
    // top words with the codegen builtin-expression estimator (exact
    // here: collision needs a shared cell in EVERY depth row)
    Gate("topk_words_cms", (s, dir) => {
      import org.apache.spark.sql.functions._
      val words = WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
      val cms = words.agg(
        graft.functions.CountMinAgg.cms_agg(col("word")).as("cms"))
      words.groupBy("word").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("word")).limit(20)
        .crossJoin(broadcast(cms))
        .select(col("word"),
          graft.functions.CountMinAgg.estimate(col("cms"), col("word")).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    },
      // count-min is exact here: a collision needs a shared cell in every row
      SqlTopkWords),
    Gate("topk_words", (s, dir) =>
      WordCount.topK(Tables.documents(s, dir), 20),
      SqlTopkWords),
    Gate("word_length_hist", (s, dir) =>
      WordCount.wordLengthHist(Tables.documents(s, dir)),
      s"""SELECT length(word) AS word_len, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("topk_words_per_source", (s, dir) =>
      WordCount.topKPerGroup(Tables.documents(s, dir), "text", "source", 3),
      SqlTopkWordsPerSource),
    // same semantics through the custom TopKPerKey physical operator
    // (bounded heaps + partial pushdown) instead of a window sort
    Gate("topk_words_per_source_plan", (s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val counts = WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
        .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      graft.plans.TopK.perKey(counts, Seq("source"),
        Seq(("cnt", true), ("word", false)), 3)
        .orderBy(col("source"), col("rn"))
    },
      // the TopKPerKey operator keeps the window query's semantics
      SqlTopkWordsPerSource),
    Gate("vocab_common_en_de", (s, dir) =>
      WordCount.vocabIntersect(Tables.documents(s, dir), "lang", "en", "de"),
      s"""SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'en'")})
         |INTERSECT
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'de'")})
         |ORDER BY word""".stripMargin),
    // EXCEPT with a planted en-only doc so the gate is non-vacuous (the
    // synthetic corpora share their whole vocabulary across langs — a
    // bare EXCEPT matches the oracle on an empty set, proving nothing)
    Gate("vocab_en_only", (s, dir) => {
      import s.implicits._
      val planted = Seq(("en", "graftplanted graftsingleton"))
        .toDF("lang", "text")
      WordCount.vocabExcept(
        Tables.documents(s, dir).select("lang", "text").unionByName(planted),
        "lang", "en", "de")
    },
      s"""WITH docs2 AS (
         |  SELECT lang, text FROM documents
         |  UNION ALL
         |  SELECT 'en' AS lang, 'graftplanted graftsingleton' AS text
         |)
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'en'", from = "docs2")})
         |EXCEPT
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'de'", from = "docs2")})
         |ORDER BY word""".stripMargin),
    Gate("wordcount_salted", (s, dir) =>
      WordCount.wordCountSalted(Tables.documents(s, dir), 16),
      // salted partial counts sum to the unsalted ones
      SqlWordcount),
    // per-group theta sketch (exact below k per group)
    Gate("distinct_words_per_source_sketch", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
          .groupBy("source")
          .agg(theta_sketch_estimate(theta_sketch_agg(col("word"), 10)).as("n_words")),
        "theta lg=10", col("n_words") < 1024)
        .orderBy("source")
    },
      s"""SELECT source, count(DISTINCT word) AS n_words FROM (${sqlWords(" source,")})
         |GROUP BY source ORDER BY source""".stripMargin),
    // whole-file binary source: one blob per doc, exact byte round-trip
    Gate("binaryfile_roundtrip", (s, dir) =>
      graft.sources.BinaryFiles.roundtrip(s, dir),
      // format-proof round-trip: the blob dir is BUILT from documents,
      // so the oracle never touches the filesystem
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  md5(text) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),
    // PERMISSIVE bad-records ingest: malformed rows quarantined, exact
    Gate("csv_corrupt_records", (s, dir) =>
      graft.sources.CorruptCsv.ingestReport(s, dir),
      s"""SELECT count(*) AS n_rows,
         |  count(*) FILTER (WHERE doc_id % 7 = 0) AS n_bad,
         |  CAST(sum(doc_id) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_good_ids,
         |  CAST(sum(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_good_nchars
         |FROM documents""".stripMargin),
    // Catalyst rewrite: COUNT(DISTINCT word) through the theta sketch
    // aggregate (lg 12, k=4096 > vocab -> exact; plan shape spec-audited)
    Gate("distinct_words_rewrite", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        graft.plans.SketchDistinctRewrite.rewrite(
          WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
            .groupBy("source")
            .agg(countDistinct(col("word")).as("n_distinct"))),
        "theta lg=12", col("n_distinct") < 4096)
        .orderBy("source")
    },
      s"""SELECT source, count(DISTINCT word)::BIGINT AS n_distinct
         |FROM (${sqlWords(" source,")}) GROUP BY source ORDER BY source""".stripMargin))
}
