package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("piiScrub counts and redacts emails and urls") {
    val d = docs(
      1L -> "contact bob@example.com or visit https://example.com/x now",
      2L -> "clean text")
    val rows = TextAnalysis.piiScrub(d).collect()
    assert((rows(0).getLong(1), rows(0).getLong(2)) == ((1L, 1L)))
    assert((rows(1).getLong(1), rows(1).getLong(2)) == ((0L, 0L)))
    // fingerprints: scrubbed text no longer contains the email/url
    import org.apache.spark.sql.functions.md5
    val wantFp = d.sparkSession.range(1).select(
      md5(org.apache.spark.sql.functions
        .lit("contact <EMAIL> or visit <URL> now"))).collect().head.getString(0)
    assert(rows(0).getString(3) == wantFp)
  }

  test("boilerplateScrub drops cross-doc common chunks, keeps order") {
    // chunkTokens=2: "x y" appears in all 3 docs (df 3 > 2) -> dropped
    val d = docs(
      1L -> "x y a b",
      2L -> "x y c d",
      3L -> "x y e f")
    val got = TextAnalysis.boilerplateScrub(d, chunkTokens = 2, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("freqOfFreq histograms the word counts") {
    val d = docs(1L -> "a a a b b c")
    val got = TextAnalysis.freqOfFreq(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("tfidf ranks document-specific terms above ubiquitous ones") {
    // 'rare' appears only in doc 1; 'the' is in every doc -> df 3
    val d = docs(
      1L -> "the rare rare word",
      2L -> "the common word",
      3L -> "the common word")
    val top = TextAnalysis.tfidfTopTerms(d, k = 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(top.head == ((1L, "rare")))
    // score integer-exact: tf=2, df=1 -> 2_000_000
    val r1 = TextAnalysis.tfidfTopTerms(d, k = 1).collect().head
    assert(r1.getLong(4) == 2_000_000L && r1.getLong(5) == 1L)
  }

  test("docStats on a crafted document") {
    val r = TextAnalysis.docStats(docs(1L -> "The cat the CAT!")).collect().head
    // tokens: the, cat, the, cat -> 4 tokens, 2 distinct, swl = 3+3+3+3
    assert(r.getLong(1) == 16L)  // n_chars
    assert(r.getLong(2) == 4L)   // n_tokens
    assert(r.getLong(3) == 2L)   // n_distinct
    assert(r.getLong(4) == 12L)  // sum_word_len
  }

  test("tokenCounts: whitespace vs BPE-ish") {
    val r = TextAnalysis.tokenCounts(docs(1L -> "ab12cd, x")).collect().head
    // ws tokens surviving cleaning: "ab" (from ab12cd,), "x" -> 2
    // bpe: ab | 12 | cd | , | x -> 5
    assert(r.getLong(1) == 2L && r.getLong(2) == 5L)
  }

  test("qualityScore composite rule") {
    val good = "the quick brown fox jumps over the lazy dog again"
    val bad = "x y"  // too short, no stopword
    val got = TextAnalysis.qualityScore(docs(1L -> good, 2L -> bad))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got(1L) && !got(2L))
  }

  test("fingerprint is whitespace/case insensitive") {
    val got = TextAnalysis.fingerprint(docs(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "other")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == got(2L) && got(1L) != got(3L))
  }

  test("chunking windows with overlap; short docs give one chunk") {
    val d = docs(1L -> (1 to 10).map(i => ('a' + i).toChar.toString).mkString(" "),
      2L -> "solo")
    val got = TextAnalysis.chunk(d, chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val doc1 = got.filter(_._1 == 1L)
    assert(doc1.head._3 == "b c d e" && doc1.head._4 == 4L)
    assert(doc1(1)._3 == "d e f g")       // stride 2 -> starts at token 3
    assert(doc1.last._4 <= 4L)            // tail chunk may be short
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "solo", 1L)))
  }

  test("datasetSplit is a deterministic 80/10/10 modulo assignment") {
    val d = docs((0L until 20L).map(i => i -> "w"): _*)
    val got = TextAnalysis.datasetSplit(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("train" -> 16L, "val" -> 2L, "test" -> 2L))
  }

  test("writeCorpus lays out split partitions that prune on read") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_out").toString
    TextAnalysis.writeCorpus(Tables.documents(spark, sf0001), s"$out/c")
    val dirs = new java.io.File(s"$out/c").listFiles().map(_.getName).filter(_.startsWith("split="))
    assert(dirs.toSet.subsetOf(Set("split=train", "split=val", "split=test")) && dirs.nonEmpty)
    val train = spark.read.parquet(s"$out/c")
      .where(org.apache.spark.sql.functions.col("split") === "train")
    assert(train.count() > 0)
    assert(train.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("topNgrams counts overlapping bigrams") {
    val got = TextAnalysis.topNgrams(docs(1L -> "a b a b a"), 2, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b", 2L), ("b a", 2L)))
  }

  test("gopherRules: flags and composite on crafted pass/fail docs") {
    // letter-only words (digits would be prefix-truncated by the
    // reference cleaning regex): 7 distinct 4-char words + 4 stopwords
    val good = (1 to 20).map(i => ('a' + i % 7).toChar.toString * 4).mkString(" ") +
      " the of and in"
    val bad = "x " * 30                           // mwl 100 (<300), no stopwords
    val got = TextAnalysis.gopherRules(docs(1L -> good, 2L -> bad))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("gopher_ok")).toMap
    assert(got(1L) && !got(2L))
    val r1 = TextAnalysis.gopherRules(docs(1L -> good)).collect().head
    assert(r1.getAs[Long]("n_tokens") == 24L)
    assert(r1.getAs[Long]("stop_hits") == 4L)
    assert(r1.getAs[Long]("n_symbols") == 0L)
  }

  test("reservoirPerGroup keeps exactly n per stratum, hash-deterministic") {
    val d = (1L to 40L).map(i => (i, if (i % 2 == 0) "en" else "de", "t"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.reservoirPerGroup(d, "lang", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 6)
    assert(got.count(_._1 == "en") == 3 && got.count(_._1 == "de") == 3)
    // deterministic: same input, same picks
    val again = TextAnalysis.reservoirPerGroup(d, "lang", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == again.toSeq)
  }

  test("bpePairCounts: adjacent char pairs weighted by word frequency") {
    val got = TextAnalysis.bpePairCounts(docs(1L -> "abc abc ab xx"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 'ab' appears in abc (x2) and ab (x1); 'bc' in abc (x2); 'xx' once
    assert(got("ab") == 3L && got("bc") == 2L && got("xx") == 1L)
  }

  test("bpeLearn: greedy argmax merges, stops when no pairs remain") {
    // wordcount: abab x2, ab x1 -> (a,b) weight 5 beats (b,a) weight 2;
    // after merging 'ab' everywhere, (ab,ab) weight 2 is the only pair;
    // then every word is a single token and the loop ends early
    val got = TextAnalysis.bpeLearn(docs(1L -> "abab abab ab"), nMerges = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, "a", "b", "ab", 5L), (2L, "ab", "ab", "abab", 2L)))
  }

  test("bpeSegment: per-doc token counts under the learned merges") {
    // after 2 merges ("ab", then "abab") vocab is {abab:1 tok, ab:1 tok};
    // doc1 = abab abab ab -> 3 tokens; doc2 = ab ab -> 2
    val got = TextAnalysis.bpeSegment(
        docs(1L -> "abab abab ab", 2L -> "ab ab"), nMerges = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 2L)))
  }

  test("bigramPmi ranks exclusive pairs above promiscuous ones") {
    // "qq zz" always co-occur exclusively; "aa" pairs with many partners
    val d = docs(
      1L -> "qq zz qq zz aa bb aa cc aa dd aa ee aa ff",
      2L -> "qq zz aa gg aa hh")
    val got = TextAnalysis.bigramPmi(d, minCnt = 2, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(got.head._1 == "qq zz")
    val scores = got.toMap
    assert(!scores.contains("aa bb") || scores("qq zz") > scores.getOrElse("aa bb", 0L))
  }

  test("weightedSample: heavier docs get smaller priorities for equal hash") {
    val d = docs(1L -> "one", 2L -> ("w " * 50).trim)
    val got = TextAnalysis.weightedSample(d, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // priority = h div (n_tokens + 1): doc 2's divisor is 51 vs doc 1's 2
    assert(got(2L) < got(1L) || got(1L) / got(2L) >= 1L)
    // deterministic across invocations
    val again = TextAnalysis.weightedSample(d, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == again)
  }

  test("bigramLm: add-one smoothed fixed-point conditionals") {
    val d = docs(1L -> "a b a b", 2L -> "a b")
    // c(a b)=3, c(b a)=1; c1(a)=c1(b)=3; |V|=2
    val got = TextAnalysis.bigramLm(d, minCnt = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    assert(got == Seq(("a b", 3L, 800000L), ("b a", 1L, 400000L)))
  }

  test("vocabCoverage: OOV counted against the top-k vocab") {
    val d = docs(1L -> "a a b", 2L -> "c")
    // counts a:2 b:1 c:1 -> top-1 vocab = {a}
    val got = TextAnalysis.vocabCoverage(d, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 1L, 333L), (2L, 1L, 1L, 1000L)))
  }

  test("mixtureSample: per-source quotas follow the weights, capped at n_src") {
    import spark.implicits._
    val d = (1L to 4L).map(i => (i, "src0")) ++ Seq((5L, "src1"), (6L, "src1"))
    val df = d.toDF("doc_id", "source")
    // w(src0)=1, w(src1)=2, w_tot=3; budget 3 -> quotas: src0 1, src1 min(2,2)=2
    val got = TextAnalysis.mixtureSample(df, budget = 3).collect()
      .map(r => r.getString(0))
    assert(got.count(_ == "src0") == 1 && got.count(_ == "src1") == 2)
  }

  test("temperatureSample: α=0.75 upweights the small source vs proportional") {
    import spark.implicits._
    val d = (1L to 16L).map(i => (i, "big")) ++ Seq((17L, "small"))
    val df = d.toDF("doc_id", "source")
    // w(big) = floor(sqrt(16)·sqrt(sqrt(16))·1000) = 4·2·1000 = 8000,
    // w(small) = 1000; budget 9 -> quotas big 9·8000//9000 = 8,
    // small min(1, 1) = 1 — proportional sampling would give 8.5:0.5
    val got = TextAnalysis.temperatureSample(df, budget = 9).collect()
      .map(r => r.getString(0))
    assert(got.count(_ == "big") == 8 && got.count(_ == "small") == 1)
  }

  test("skipgramCounts: pairs within k positions, ordered, windowed") {
    val d = docs(1L -> "a b c d")
    // k=3: (a,b) (a,c) (a,d) (b,c) (b,d) (c,d) each once
    val got = TextAnalysis.skipgramCounts(d, k = 3, top = 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 1L), ("a", "c", 1L), ("a", "d", 1L),
      ("b", "c", 1L), ("b", "d", 1L), ("c", "d", 1L)))
    // k=1 degenerates to adjacent bigrams only
    val adj = TextAnalysis.skipgramCounts(d, k = 1, top = 20).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(adj == Set(("a", "b"), ("b", "c"), ("c", "d")))
  }

  test("sparseDotPairs: df pruning removes ubiquitous terms before the join") {
    val d = docs(
      1L -> "rare shared words here",
      2L -> "rare shared tokens there",
      3L -> "common common common stuff")
    // "rare"+"shared" overlap docs 1,2 -> dot 2; with maxDf=2 every
    // term survives except none reach df>2; dropping maxDf to 1 kills
    // all shared terms -> no pairs
    val got = TextAnalysis.sparseDotPairs(d, maxDf = 2, minDot = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)))
    assert(TextAnalysis.sparseDotPairs(d, maxDf = 1, minDot = 1).count() == 0)
  }

  test("phraseSearch: adjacency intersection counts top-bigram occurrences") {
    val d = docs(1L -> "a b a b c", 2L -> "a b", 3L -> "c c")
    // "a b" count 3 wins; doc 1 has it at pos 0 and 2, doc 2 once
    val got = TextAnalysis.phraseSearch(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("phraseSearchN(3): offset votes count top-trigram occurrences") {
    val d = docs(1L -> "a b c a b c", 2L -> "a b c", 3L -> "b c a")
    // trigram "a b c" wins with 3 (doc 1 twice, doc 2 once); doc 3 lacks it
    val got = TextAnalysis.phraseSearchN(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("phraseSearchN: repeated words and overlapping occurrences are exact") {
    // top trigram is "a a a"; in "a a a a" it occurs at base 0 and 1 —
    // every posting votes for all three offsets, only complete bases count
    val d = docs(1L -> "a a a a")
    val got = TextAnalysis.phraseSearchN(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("phraseSearchN(2) equals phraseSearch on testdata") {
    val d = Tables.documents(spark, sf0001)
    val a = TextAnalysis.phraseSearch(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = TextAnalysis.phraseSearchN(d, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("mixtureSampleSalted: same rows AND ranks as the unsalted window") {
    val d = Tables.documents(spark, sf0001)
    val a = TextAnalysis.mixtureSample(d, budget = 50).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val b = TextAnalysis.mixtureSampleSalted(d, budget = 50, salts = 16).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("shardAssignRefined: bit-identical shards to the single-window form") {
    val d = Tables.documents(spark, sf0001)
    val a = TextAnalysis.shardAssign(d, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val b = TextAnalysis.shardAssignRefined(d, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("shardAssign: round-robin within token-magnitude bands") {
    val d = docs(
      1L -> "a b c d e",      // 5 tokens, band 3
      2L -> "f g h i j",      // 5 tokens, band 3
      3L -> "k l m n o",      // 5 tokens, band 3
      4L -> "p")              // 1 token, band 1
    val got = TextAnalysis.shardAssign(d, nShards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // band 3 ranks by (n desc, doc_id): 1,2,3 -> shards 0,1,0; band 1: doc 4 -> 0
    assert(got == Seq((1L, 3L, 0L), (2L, 3L, 1L), (3L, 3L, 0L), (4L, 1L, 0L)))
  }

  test("perplexityBuckets: per-lang head/middle/tail by integer LM score") {
    // en: 4 docs with graded bigram conventionality; de: 2 docs.
    // "x y" repeated makes that bigram globally frequent -> high score.
    val d = Seq(
      (1L, "x y x y x y", "en"),   // fam/bigram highest -> head
      (2L, "x y q r", "en"),
      (3L, "q r s t", "en"),
      (4L, "u v w z", "en"),       // all-unique bigrams -> tail
      (5L, "x y x y", "de"),
      (6L, "m n o p", "de"),
      (7L, "single", "en"))        // <2 words: excluded
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.perplexityBuckets(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(got.length == 6)                      // doc 7 excluded
    val en = got.filter(_._2 == "en").map(x => x._1 -> x._3).toMap
    assert(en(1L) == "head" && en(4L) == "tail")
    // ntile(3) over 4 rows -> sizes 2,1,1
    assert(got.filter(_._2 == "en").count(_._3 == "head") == 2)
    // 2 de docs -> ntile buckets 1,2 -> head, middle (no tail)
    val de = got.filter(_._2 == "de").map(x => x._1 -> x._3).toMap
    assert(de(5L) == "head" && de(6L) == "middle")
  }

  test("perplexityBucketsRefined is bit-identical to the single-window form") {
    val d = Tables.documents(spark, sf0001)
    val a = TextAnalysis.perplexityBuckets(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    val b = TextAnalysis.perplexityBucketsRefined(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("langPairMining: rare shared terms pair en/de docs; hot terms cut") {
    // "zurich" is rare (df 2) and shared en<->de -> pair (0, 10);
    // "the" appears in every doc (df 4 > maxDf 3) -> contributes nothing;
    // en-en and de-de co-occurrence must never pair
    val d = Seq(
      (0L, "the zurich report", "en", "s", 1L),
      (1L, "the other page", "en", "s", 1L),
      (10L, "the zurich bericht", "de", "s", 1L),
      (11L, "the andere seite", "de", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.langPairMining(d, "en", "de", maxDf = 3, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 10L, 1L)))
  }

  test("vocabFertility: per-lang subword/word and char/subword ratios") {
    // en: "ab ab cd", de: "ab"; 6 merges fully merge both words ->
    // every word is ONE token, so fertility = 1000 exactly and
    // chars_per_token = total chars * 1000 / n words
    val d = Seq(
      (0L, "ab ab cd", "en", "s", 1L),
      (1L, "ab", "de", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.vocabFertility(d, nMerges = 6).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("de", 1L, 1L, 1000L, 2000L),
      ("en", 3L, 3L, 1000L, 2000L)))
  }

  test("dsirSelect ranks target-like docs above raw-typical ones") {
    // en-only vocabulary {a b} vs de-only {x y}: buckets hit by en
    // tokens have ct≈cr (ratio ~1e6); de-only buckets have ct=0
    // (ratio ~1e6/(cr+1)) — so en docs must outrank de docs
    val d = Seq(
      (1L, "a b a b", "en"),
      (2L, "a b", "en"),
      (3L, "x y x y", "de"),
      (4L, "x y", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirSelect(d, targetLang = "en", n = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq.take(2).toSet == Set(1L, 2L))
    // importance of an en doc strictly exceeds the same-length de doc
    val imp = got.map(r => r._1 -> r._2).toMap
    assert(imp(1L) > imp(3L) && imp(2L) > imp(4L))
    // n_tokens carried through
    assert(got.map(r => r._1 -> r._3).toMap == Map(1L -> 4L, 2L -> 2L, 3L -> 4L, 4L -> 2L))
  }

  test("langId: deterministic argmax with alphabetical tie-break") {
    // doc with zero marker hits -> all scores 0 -> tie broken to 'de'
    val r = TextAnalysis.langId(docs(1L -> "nomarker words only")).collect().head
    assert(r.getString(1) == "de" && r.getLong(2) == 0L)
    // doc dominated by en markers
    val r2 = TextAnalysis.langId(docs(2L -> "the a fast slow the")).collect().head
    assert(r2.getString(1) == "en" && r2.getLong(2) == 5L)
  }

  test("vocabGrowth: monotone curve, first-occurrence semantics") {
    import spark.implicits._
    // docs 1..4: "a", "a b", "a b c", "a b c d" -> vocab after
    // quartile cut points of doc_id [1,2,3,4]: cuts (1.75, 2.5, 3.25)
    // -> 1, 2, 3 words; 100% -> 4
    val d = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.vocabGrowth(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((25L, 1L), (50L, 2L), (75L, 3L), (100L, 4L)))
  }

  test("hashedFeatures: slot counts sum to token count, same word same slot") {
    val d = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.hashedFeatures(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(x => x._2 >= 0 && x._2 < 64))
    assert(got.filter(_._1 == 1L).map(_._3).sum == 3L)
    assert(got.filter(_._1 == 2L).map(_._3).sum == 2L)
    // 'a' hashes identically in both docs: its slot appears for doc 1
    // with cnt 2 and for doc 2 with cnt >= 1
    val aSlot = got.filter(x => x._1 == 1L && x._3 == 2L).map(_._2)
    assert(aSlot.length == 1 && got.exists(x => x._1 == 2L && x._2 == aSlot.head))
  }

  test("skipgramNegatives: k per center, never the center, deterministic") {
    val d = Seq((1L, "a a a a b b c d e f g h")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.skipgramNegatives(d, nCenters = 3, k = 4)
    val rows = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.groupBy(_._1).forall(_._2.length == 4))
    assert(rows.forall(x => x._1 != x._3))
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L)))
    val again = graft.operators.TextAnalysis.skipgramNegatives(d, nCenters = 3, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == again.toSeq)
  }

  // ------------------------------------- in-engine classifier training

  test("classifierTrain round 1 from zero = sum of positive-doc features") {
    // zero weights → margin 0 → pred 0 → err = y, so after one round
    // w_s must equal the summed feature counts of the lang='en' docs
    val docs = Tables.documents(spark, sf0001)
    val got = operators.TextAnalysis.classifierTrain(docs, 64, rounds = 1)
      .where(col("w") =!= 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = operators.TextAnalysis.classifierFeatures(
        docs.where(col("lang") === "en"), 64)
      .groupBy("slot").agg(sum("cnt").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      .filter(_._2 != 0L)
    assert(got == want && got.nonEmpty)
  }

  test("classifierTrainedScore: correct ⟺ accept agrees with label") {
    val sc = operators.TextAnalysis.classifierTrainedScore(
      Tables.documents(spark, sf0001), 64, 2)
    assert(sc.where(col("correct") =!=
      (col("accept") === (col("is_en") === 1L))).count() == 0)
    // the learned model must carry SOME signal: more correct than not
    val n = sc.count(); val ok = sc.where(col("correct")).count()
    assert(ok * 2 > n, s"trained classifier below coin-flip: $ok/$n")
  }

  test("classifierEval: held-out confusion counts are self-consistent") {
    val docs = Tables.documents(spark, sf0001)
    val cut = (docs.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    val r = operators.TextAnalysis.classifierEval(docs, 64, 2).collect()(0)
    val (nTest, nPos, tp, fp, fn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nTest == docs.where(col("doc_id") >= cut).count())
    assert(tp + fn == nPos, "positives partition into tp + fn")
    assert(r.getLong(5) == (nTest - fp - fn) * 1000000L / nTest)
    // leakage check by reconstruction: the reported confusion equals
    // scoring the held-out split with weights trained on the REST
    val w = operators.TextAnalysis.classifierTrain(
      docs.where(col("doc_id") < cut), 64, 2)
    val sc = operators.TextAnalysis.classifierTrainedScore(
      docs.where(col("doc_id") >= cut), 64, 2, weights = Some(w))
    assert(sc.where(col("accept") && col("is_en") === 1L).count() == tp)
  }

  test("classifierTrain is deterministic across runs") {
    val docs = Tables.documents(spark, sf0001)
    val a = operators.TextAnalysis.classifierTrain(docs, 64, 2)
      .collect().map(_.toString).toSeq
    val b = operators.TextAnalysis.classifierTrain(docs, 64, 2)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  // ------------------------------------------------ corpus build v2

  test("corpusBuildV2: non-empty, consistent mixture shares per split") {
    val r = operators.TextAnalysis.corpusBuildV2(
      Tables.documents(spark, sf0001))
    val rows = r.collect()
    assert(rows.nonEmpty, "capstone must keep SOME documents")
    // floor-rounded shares per split must sum to ≤ 1e6 and close to it
    rows.groupBy(_.getString(0)).foreach { case (split, rs) =>
      val s = rs.map(_.getLong(5)).sum
      assert(s <= 1000000L && s > 1000000L - rs.length,
        s"split $split share sum $s")
      // every (split, source) cell carries documents and tokens
      rs.foreach(row => assert(row.getLong(2) > 0 && row.getLong(4) > 0))
    }
    // chunk accounting: n_chunks >= n_docs (every kept doc chunks)
    rows.foreach(row => assert(row.getLong(3) >= row.getLong(2)))
  }

  // ------------------------------------------- HTML extraction

  test("htmlExtractCol: script decoys, entities, inline/block tags") {
    import operators.TextAnalysis
    val html = "<html><head><script>if (a < b) { emit(\"</div>\") }" +
      "</script><style>p {x: 1}</style></head><body><p>x &amp;amp; y" +
      "</p><b>z</b>&nbsp;&#39;q&#39;</body></html>"
    val got = spark.range(1).select(
      TextAnalysis.htmlExtractCol(lit(html)).as("t")).head().getString(0)
    // &amp;amp; must decode to the LITERAL &amp; (amp decodes last),
    // the script's decoy </div> and comparison operators must vanish
    assert(got == "x &amp; y z 'q'")
  }

  test("htmlExtract recovers exactly the planted-wrapper contract") {
    import operators.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
    val got = TextAnalysis.htmlExtract(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.select(col("doc_id"),
        trim(regexp_replace(
          concat(lit("doc & meta heading <"), col("doc_id").cast("string"),
            lit("> "), col("text")),
          operators.WordCount.WhitespacePattern, " ")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want,
      "extraction must recover title + h1 + body text, nothing else")
  }
}
