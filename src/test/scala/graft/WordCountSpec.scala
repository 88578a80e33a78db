package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.WordCount

/** Unit + property tests for the core word-count pipeline — the test
  * vectors in `cleaning semantics` are the empirically-verified table
  * from SURVEY.md §2 row 4 (reference `sendFileByFile.cpp:89-97`).
  * Property tests use seeded generators (no external generator dep).
  */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private def run(texts: String*): Map[String, Long] =
    WordCount.wordCount(texts.toDF("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("cleaning semantics: longest allowed prefix, then lowercase") {
    assert(run("Hello,") == Map("hello" -> 1L))          // trailing punct cut
    assert(run("co-op") == Map("co" -> 1L))              // cut at '-'
    assert(run("123abc") == Map.empty)                   // leading digit -> empty
    assert(run("[bracket]") == Map("[bracket]" -> 1L))   // ASCII 91-93 allowed
    assert(run("don't") == Map("don't" -> 1L))           // apostrophe allowed
    assert(run("Mixed CASE Words") == Map("mixed" -> 1L, "case" -> 1L, "words" -> 1L))
  }

  test("golden corpus end-to-end") {
    val got = run("the cat sat", "the cat", "THE")
    assert(got == Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L))
  }

  test("output is ordered alphabetically (reference std::map order)") {
    val words = WordCount.wordCount(Seq("b a c b").toDF("text"))
      .collect().map(_.getString(0)).toSeq
    assert(words == words.sorted)
  }

  test("RDD and DataFrame formulations agree on testdata") {
    val docs = Tables.documents(spark, sf0001)
    val df = WordCount.wordCount(docs).collect().map(r => (r.getString(0), r.getLong(1)))
    val rdd = WordCount.wordCountRdd(spark, docs).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(df.toSeq == rdd.toSeq)
  }

  private val vocab = Seq("the", "Cat!", "123", "don't", "[x]", "Big", "a-b", "Zoo")

  test("property: counts are partition-additive (map-side combine law)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val a = Seq.fill(rnd.nextInt(20) + 1)(vocab(rnd.nextInt(vocab.size)))
      val b = Seq.fill(rnd.nextInt(20) + 1)(vocab(rnd.nextInt(vocab.size)))
      val merged = run(a.mkString(" ") + " " + b.mkString(" "))
      val parts = (run(a.mkString(" ")).toSeq ++ run(b.mkString(" ")).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      assert(merged == parts)
    }
  }

  test("property: total count equals number of surviving tokens") {
    val rnd = new scala.util.Random(7)
    val re = WordCount.CleanPattern.r
    for (_ <- 1 to 10) {
      val toks = Seq.fill(rnd.nextInt(30) + 1)(
        rnd.alphanumeric.take(rnd.nextInt(8) + 1).mkString)
      val surviving = toks.flatMap(t => re.findFirstIn(t)).count(_.nonEmpty)
      val total = run(toks.mkString(" ")).values.sum
      assert(total == surviving)
    }
  }

  /** Literal simulation of the reference cleaner (`sendFileByFile.cpp:
    * 89-93`): scan for the first char outside {`'`, ASCII 65..122},
    * truncate there (single-arg `erase` semantics), then ASCII
    * tolower — differentially fuzzed against our regex formulation.
    */
  private def referenceClean(token: String): String = {
    val cut = token.indexWhere(c => !(c == '\'' || (c >= 65 && c <= 122)))
    val kept = if (cut < 0) token else token.substring(0, cut)
    kept.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
  }

  test("differential fuzz: regex cleaner == reference C++ semantics") {
    val rnd = new scala.util.Random(99)
    val pool = ('!' to '~') ++ Seq('\'', '[', '\\', ']', '^', '_', '`')
    val re = WordCount.CleanPattern.r
    for (_ <- 1 to 2000) {
      val tok = Seq.fill(rnd.nextInt(12) + 1)(pool(rnd.nextInt(pool.size))).mkString
      val viaRegex = re.findFirstIn(tok).getOrElse("")
        .map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      assert(viaRegex == referenceClean(tok), s"token <$tok>")
    }
  }

  test("reference defects NOT reproduced: long tokens and multibyte input") {
    // >=30-char tokens are buffer-overflow UB in the reference
    // (sendFileByFile.cpp:95); here they count like any other token
    val long = "x" * 500
    assert(run(s"$long $long") == Map(long -> 2L))
    // multibyte chars truncate at the first disallowed char (signed-char
    // comparison made this accidental in the reference; defined here)
    assert(run("héllo") == Map("h" -> 1L))
    assert(run("日本語") == Map.empty)
  }

  /** The retired regex formulation of `cleanWords`, kept here only as
    * the reference the kernel is fuzzed against.
    */
  private def regexCleanWords(text: Column): Column =
    filter(transform(split(text, WordCount.WhitespacePattern),
      t => lower(regexp_extract(t, WordCount.CleanPattern, 0))), w => length(w) > 0)

  /** 2,000 seeded lines over the whitespace bytes, the clean class,
    * digits, punctuation and non-ASCII text (NBSP, U+2028, U+3000, a
    * Latin-1 letter, a CJK ideograph, a surrogate-pair emoji), with
    * leading, trailing and repeated whitespace.
    */
  private lazy val fuzzLines: Seq[String] = {
    val rnd = new scala.util.Random(4242)
    val ws = Seq("\t", "\n", "\u000B", "\f", "\r", " ")
    val kept = Seq("'", "[", "\\", "]", "^", "_", "`") ++
      ('A' to 'Z').map(_.toString) ++ ('a' to 'z').map(_.toString)
    val other = ('0' to '9').map(_.toString) ++ "!\"#$%&()*+,-./:;<=>?@{|}~".map(_.toString) ++
      Seq("\u00A0", "\u2028", "\u3000", "é", "日", "\uD83D\uDE00")
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    def wsRun = Seq.fill(rnd.nextInt(3) + 1)(pick(ws)).mkString
    Seq.fill(2000) {
      val body = Seq.fill(rnd.nextInt(40)) {
        rnd.nextInt(10) match {
          case 0 | 1 => wsRun
          case 2 | 3 => pick(other)
          case _ => pick(kept)
        }
      }.mkString
      (if (rnd.nextBoolean()) wsRun else "") + body + (if (rnd.nextBoolean()) wsRun else "")
    }
  }

  /** An RDD-backed frame, so no optimizer rule folds the projection
    * over a local relation before the chosen codegen mode runs it.
    */
  private def fuzzFrame(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(fuzzLines.zipWithIndex, 4))
      .toDF("text", "id")

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"differential fuzz: CleanWords kernel == regex cleanWords ($mode)") {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val rows = fuzzFrame(s)
        .select(col("id"), WordCount.cleanWords(col("text")).as("k"),
          regexCleanWords(col("text")).as("r"))
        .collect()
      assert(rows.length == fuzzLines.size)
      rows.foreach { r =>
        val (k, re) = (r.getSeq[String](1), r.getSeq[String](2))
        assert(k == re, s"line ${r.getInt(0)} <${fuzzLines(r.getInt(0))}>")
      }
      // the explode spine sees the same words, in the same multiset
      val exploded = WordCount.explodeWords(fuzzFrame(s), "text", Seq("id"))
        .groupBy("id").agg(sort_array(collect_list("word")).as("ws"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      rows.foreach { r =>
        assert(exploded.getOrElse(r.getInt(0), Nil) == r.getSeq[String](2).sorted)
      }
    }

  test("CleanWords: null text is a null array and no exploded rows; empty text is empty") {
    val df = Seq(Some(""), None, Some(" \t ")).toDF("text")
    val got = df.select(WordCount.cleanWords(col("text"))).collect().map(r =>
      if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(got.toSeq == Seq(Nil, null, Nil))
    assert(WordCount.explodeWords(df, "text", Nil).count() == 0)
  }

  test("RDD and DataFrame formulations agree on the fuzz corpus") {
    val df = WordCount.wordCount(fuzzFrame(spark)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rdd = WordCount.wordCountRdd(spark, fuzzFrame(spark)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(df.nonEmpty && df.toSeq == rdd.toSeq)
  }

  test("bounded in-mapper combine: a flush bound far below the vocabulary keeps the counts") {
    val df = WordCount.wordCount(fuzzFrame(spark)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(df.length > 100)
    for (cap <- Seq(1, 3)) {
      val rdd = WordCount.wordCountRdd(spark, fuzzFrame(spark), "text", cap).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(df.toSeq == rdd.toSeq, s"cap $cap")
    }
  }

  test("partialCounts: runs of at most cap distinct words that sum to the token counts") {
    val ws = Seq("a", "a", "b", "a", "c", "c", "a")
    val total = Map("a" -> 4L, "b" -> 1L, "c" -> 2L)
    val flushed = WordCount.partialCounts(ws.iterator, 2).toSeq
    // runs {a:2, b:1}, {a:1, c:1}, {c:1, a:1}
    assert(flushed.size == 6 && flushed.groupMapReduce(_._1)(_._2)(_ + _) == total)
    val whole = WordCount.partialCounts(ws.iterator, 4).toSeq
    assert(whole.size == 3 && whole.toMap == total)
    assert(WordCount.partialCounts(Iterator.empty, 1).isEmpty)
    intercept[IllegalArgumentException](WordCount.partialCounts(ws.iterator, 0))
  }

  test("salted word count equals plain word count") {
    val docs = Tables.documents(spark, sf0001)
    val plain = WordCount.wordCount(docs).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = WordCount.wordCountSalted(docs, 16).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(plain == salted)
  }

  test("topK takes by count desc then word asc") {
    val top = WordCount.topK(Seq("b b a a c").toDF("text"), 2)
      .collect().map(_.getString(0)).toSeq
    assert(top == Seq("a", "b"))
  }
}
