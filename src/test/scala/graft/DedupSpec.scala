package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  // the keep-list family's inputs, derived live at jaccard(3, 4/5)
  private def nearPairs(d: org.apache.spark.sql.DataFrame) =
    Dedup.jaccardPairsUnsorted(d, 3, 4, 5)
  private def nearCC(d: org.apache.spark.sql.DataFrame) =
    Dedup.componentsAdaptive(nearPairs(d))

  test("exact dedup groups identical texts, keeps min id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y")
    val got = Dedup.exact(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("shingles: n-2 windows of n tokens, distinct") {
    val sh = Dedup.shingles(docs(1L -> "a b c d"), 3).as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
    assert(Dedup.shingles(docs(1L -> "a b"), 3).count() == 0) // too short
  }

  test("jaccard pairs: identical docs match, disjoint don't") {
    val d = docs(1L -> base, 2L -> base, 3L -> "one two three four five six")
    val got = Dedup.jaccardPairs(d, 3, 4, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("jaccard pairs: one-word edit stays above 0.8 on long docs") {
    // letter-only tokens (digits would be stripped by the cleaner)
    def w(i: Int) = "" + ('a' + i % 26).toChar + ('a' + i / 26).toChar
    val long = (1 to 40).map(w).mkString(" ")
    val edited = long.replace(" " + w(20) + " ", " zz ")
    val got = Dedup.jaccardPairs(docs(1L -> long, 2L -> edited), 3, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("minhash signatures are deterministic and length k") {
    val s1 = Dedup.minhashSignatures(docs(1L -> base), 3, 16)
      .collect().head.getSeq[Long](1)
    val s2 = Dedup.minhashSignatures(docs(1L -> base), 3, 16)
      .collect().head.getSeq[Long](1)
    assert(s1 == s2 && s1.length == 16)
    assert(s1.forall(v => v >= 0 && v < 2147483647L))
  }

  test("minhash+LSH finds the same pairs as brute jaccard on testdata") {
    val d = Tables.documents(spark, sf0001)
    val brute = Dedup.jaccardPairs(d, 3, 4, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(d, 3, 32, 4, 4, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
  }

  test("decontaminateStrict keeps clean and too-short docs, drops contaminated") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      1L -> bench,                                     // benchmark side
      10L -> bench,                                    // shares 8-grams -> dropped
      11L -> "one two three four five six seven eight nine", // clean -> kept
      12L -> "tiny")                                   // too short to shingle -> kept
    val got = Dedup.decontaminateStrict(d, benchMaxId = 5, n = 8)
      .as[Long].collect().toSet
    assert(got == Set(11L, 12L))
  }

  test("containment catches a short doc pasted into a long one that jaccard misses") {
    def w(i: Int) = "" + ('a' + i % 26).toChar + ('a' + i / 26).toChar
    val long = (1 to 40).map(w).mkString(" ")
    val short = (1 to 12).map(w).mkString(" ")  // a strict prefix of long
    val d = docs(1L -> long, 2L -> short)
    // containment of short in long = 1.0 > 9/10
    val cont = Dedup.containmentPairs(d, 4, 9, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont == Set((1L, 2L)))
    // ...but jaccard = 9/37 < 4/5: invisible to the jaccard gate
    assert(Dedup.jaccardPairs(d, 4, 4, 5).count() == 0)
  }

  test("plantHalfDocs plants idempotently-cleaned half docs at id+300000") {
    val d = docs(0L -> base, 1L -> "one two three")  // id 0 matches % 83
    val aug = Dedup.plantHalfDocs(d).as[(Long, String)].collect().toMap
    assert(aug.size == 3)
    assert(aug(300000L) == "alpha beta gamma delta epsilon")
    // planted half is fully contained in its source
    val pairs = Dedup.containmentPairs(Dedup.plantHalfDocs(d), 3, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 300000L)))
  }

  test("decontaminateFuzzy flags by ratio, not absolute overlap") {
    val bench = "alpha beta gamma delta epsilon"
    def filler(i: Int) = "" + ('a' + i % 26).toChar + ('b' + i / 26).toChar + "x"
    // doc 10: 5 benchmark tokens + 1 filler -> ratio 3/4 of 3-grams shared
    val dirty = bench + " " + filler(0)
    // doc 11: same 3 shared grams diluted in 60 unique tokens -> low ratio
    val diluted = bench + " " + (1 to 60).map(filler).mkString(" ")
    val d = docs(1L -> bench, 10L -> dirty, 11L -> diluted)
    val got = Dedup.decontaminateFuzzy(d, benchMaxId = 5, n = 3, thrX1000 = 500)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.keySet == Set(10L))
    assert(got(10L) == 750L)  // 3 of 4 grams shared
  }

  test("corpusFilterReport attributes each drop reason as its own bit") {
    // 4-char filler words keep mean word length inside the 300-1000 band
    def w(i: Int) = { val s = "" + ('a' + i % 26).toChar + ('a' + i / 26).toChar; s + s }
    val longTail = (1 to 30).map(w)
    val clean = "the a of " + longTail.mkString(" ")
    val bench = "zq zw ze zr zt zy zu zi zx zc"  // 8-grammable, disjoint words
    val d = docs(
      1L -> bench,                       // benchmark side (id <= 50)
      100L -> clean,                     // passes everything -> keep
      101L -> clean,                     // exact dup of 100 -> bit 1
      102L -> "tiny doc",                // gopher fail (too short) -> bit 0
      103L -> ("the a of " + bench + " " + longTail.drop(10).mkString(" ")), // shares 8-gram -> bit 2
      104L -> ("the a of " + longTail.mkString(" ") + " zz"))  // near-dup of 100 -> bit 3
    val got = Dedup.corpusFilterReport(d,
        nearPairs(d.where($"doc_id" > 50))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(100L) == ((0L, true)))
    assert(got(101L)._1 == 2L || got(101L)._1 == 10L) // dup copy (may also near-dup)
    assert((got(102L)._1 & 1L) == 1L)
    assert((got(103L)._1 & 4L) == 4L)
    assert((got(104L)._1 & 8L) == 8L && !got(104L)._2)
  }

  test("clusterSizeHistogram: dup pairs cluster, the rest are singletons") {
    val d = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> "one two three four five six", 5L -> "seven eight nine ten el tw")
    val got = Dedup.clusterSizeHistogram(d,
        Dedup.componentsAdaptive(nearPairs(d), propRounds = 1)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // docs 1-3 form one cluster of 3; docs 4 and 5 are singletons
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("components clusters transitive chains to the min id") {
    import spark.implicits._
    // star: (1,3),(2,3) — pairwise keepList would keep {1,2}; CC keeps comp=1
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // long chain needs multiple propagation rounds
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id_a", "id_b")
    val cc = Dedup.components(chain).collect().map(_.getLong(1)).toSet
    assert(cc == Set(1L))
  }

  test("keepBestQuality keeps the higher-quality near-dup, not the min id") {
    // doc 1: no stopword -> quality_ok false; doc 2: same text + 'the'
    // (shingle Jaccard 8/9 > 4/5) -> quality_ok true and longer. The
    // id-order rule would keep 1; the quality rule must keep 2.
    val d = docs(
      1L -> base,
      2L -> (base + " the"),
      3L -> "completely different words entirely unrelated content here the end")
    val got = Dedup.keepBestQuality(d, nearCC(d))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L), s"got $got")
    val idOrder = Dedup.keepListCC(d, nearCC(d))
      .collect().map(_.getLong(0)).toSeq
    assert(idOrder == Seq(1L, 3L))  // the contrast this operator fixes
  }

  test("simhashPairs rejects radii the 4-block banding cannot cover") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs(1L -> base), maxDist = 4)
    }
  }

  test("repetitionStats counts total vs distinct grams") {
    val r = Dedup.repetitionStats(docs(1L -> "a b a b a b"), 2).collect().head
    // bigrams: ab ba ab ba ab -> 5 total, 2 distinct
    assert((r.getLong(1), r.getLong(2)) == ((5L, 2L)))
  }

  test("decontaminate flags corpus docs sharing benchmark n-grams") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      1L -> bench,                                   // benchmark side
      100L -> ("prefix words " + bench),             // contains the 8-gram
      101L -> "totally unrelated text with words")   // clean
    val got = Dedup.decontaminate(d, benchMaxId = 50, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.contains(100L) && !got.contains(101L))
  }

  test("keepList drops exact dups and the later member of near-dup pairs") {
    val d = docs(
      1L -> base, 2L -> base,                       // near/exact dup of 1
      3L -> "one two three four five six seven",    // unique
      4L -> (base + " extra"))                      // near-dup of 1 (high jaccard)
    val keep = Dedup.keepList(d, nearPairs(d)).collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 3L))
  }

  test("dupSpanRatio: cross-doc and within-doc repeated windows counted") {
    val d = docs(
      1L -> "a b c d e f",       // spans (w=3): abc bcd cde def
      2L -> "a b c x y z",       // shares span "a b c" with doc 1
      3L -> "p q r p q r p q",   // within-doc repeats: "p q r" x2, "q r p" x2, "r p q" x2
      4L -> "a b")               // too short -> no row
    val got = Dedup.dupSpanRatio(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(0) == ((1L, 4L, 1L, 250L)))  // only "a b c" duplicated
    assert(got(1) == ((2L, 4L, 1L, 250L)))
    assert(got(2)._2 == 6L && got(2)._3 == 6L && got(2)._4 == 1000L)
  }

  test("crossDocSpans merges marked windows into maximal intervals, cross-doc only") {
    val d = docs(
      1L -> "a b c d e f g h",       // shares "a b c d e" with doc 2
      2L -> "x y a b c d e q",
      3L -> "m m m m m")             // within-doc repeats only -> no mark
    val got = Dedup.crossDocSpans(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: windows at 0,1,2 merge -> tokens [0,4]; doc 2: 2,3,4 -> [2,6]
    assert(got.toSeq == Seq((1L, 0L, 4L, 3L), (2L, 2L, 6L, 3L)))
  }

  test("crossDocSpans keeps runs apart when the gap exceeds w") {
    val d = docs(
      4L -> "p q r zz ww vv uu tt ss s t u",  // two shared runs, far apart
      5L -> "p q r one two three four five six s t u")
    val got = Dedup.crossDocSpans(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((4L, 0L, 2L), (4L, 9L, 11L), (5L, 0L, 2L), (5L, 9L, 11L)))
  }

  test("blockedFuzzyPairs: deletion blocking finds subs AND indels, nation-blocked") {
    import spark.implicits._
    val c = Seq(
      (1L, "Customer#001", 5),   // dist 1 (substitution) from #002
      (2L, "Customer#002", 5),
      (3L, "Customer#003", 7),   // dist 1 from both but other nation
      (4L, "Cust#004", 5),       // far from everything
      (5L, "Customer#0015", 5))  // dist 1 (insertion) from id 1
      .toDF("c_custkey", "c_name", "c_nationkey")
    val got = Dedup.blockedFuzzyPairs(c, maxDist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L), (1L, 5L, 1L)))
  }

  test("dedupIncrement: incoming exact/near dups flagged, base never re-paired") {
    val d = docs(
      1L -> base,                 // base
      2L -> (base + " more"),     // base — near-dup of 1, must NOT emit
      3L -> base,                 // incoming exact dup of 1
      4L -> (base + " extra"),    // incoming near-dup of 1 and 2
      5L -> "totally different text here entirely")
    val got = Dedup.dedupIncrement(d, baseMaxId = 2, n = 3, b = 32, r = 4,
        num = 4, den = 5).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((3L, "exact"), (4L, "near")))
  }

  test("DedupIndex: persisted-index increment equals the recompute operator") {
    val d = docs(
      1L -> base,
      2L -> (base + " more"),
      3L -> base,
      4L -> (base + " extra"),
      5L -> "totally different text here entirely")
    val direct = Dedup.dedupIncrement(d, baseMaxId = 2, n = 3, b = 32, r = 4,
        num = 4, den = 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.sources.DedupIndex.writeIndex(
      d.where(org.apache.spark.sql.functions.col("doc_id") <= 2),
      tag = "spec", n = 3, b = 32, r = 4)
    val indexed = graft.sources.DedupIndex.incrementAgainstIndex(spark, "spec",
        d.where(org.apache.spark.sql.functions.col("doc_id") > 2),
        n = 3, b = 32, r = 4, num = 4, den = 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(indexed == direct && direct == Seq((3L, "exact"), (4L, "near")))
  }

  test("blockedFuzzyPairs maxDist=2: 2-deletion neighborhood finds every edit combo") {
    import spark.implicits._
    val c = Seq(
      (1L, "Customer#001", 5),
      (2L, "Customer#022", 5),   // 2 substitutions from 1
      (3L, "Customer#1", 5),     // 2 deletions from 1
      (4L, "Customer#00122", 5), // 2 insertions from 1, 2 insertions from 2
      (5L, "Xustomer#002", 5),   // sub+sub from 1 AND from 2
      (6L, "Customer#001", 7))   // identical to 1 but other nation
      .toDF("c_custkey", "c_name", "c_nationkey")
    val got = Dedup.blockedFuzzyPairs(c, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (1L, 5L, 2L), (2L, 4L, 2L), (2L, 5L, 2L)))
  }

  test("blockedFuzzyPairs maxDist=2 matches the exact nation-blocked join on testdata") {
    import org.apache.spark.sql.functions.{col, levenshtein}
    val c = Tables.customer(spark, sf0001)
    val got = Dedup.blockedFuzzyPairs(c, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = c.as("a").join(c.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey"), col("b.c_custkey"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long").as("d"))
      .where(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact && got.nonEmpty)
    // and it strictly contains the maxDist=1 pair set
    val d1 = Dedup.blockedFuzzyPairs(c, maxDist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d1.subsetOf(got))
  }

  test("cutSpans drops exactly the duplicated token ranges") {
    val d = docs(
      1L -> "a b c d e f g h",   // shares [0,4] with doc 2 at w=3
      2L -> "x y a b c d e q",
      3L -> "u v w")             // untouched
    val got = Dedup.cutSpans(d, Dedup.crossDocSpans(d, 3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // doc 1 keeps "f g h", doc 2 keeps "x y" + "q", doc 3 keeps all
    import org.apache.spark.sql.functions.md5
    def fp(s: String) = spark.range(1)
      .select(md5(org.apache.spark.sql.functions.lit(s))).collect().head.getString(0)
    assert(got == Seq(
      (1L, 3L, 5L, fp("f g h")),
      (2L, 3L, 5L, fp("x y q")),
      (3L, 3L, 0L, fp("u v w"))))
  }

  test("componentsStar: 64-diameter chain collapses in <= 20 rounds") {
    import spark.implicits._
    // chain 0-1-2-...-64: min-label propagation would need 64 rounds;
    // star contraction must land the same labels within the 20 cap
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsStar(chain, maxIter = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 65 && got.forall(_._2 == 0L))
  }

  test("componentsStar reliable mode: same labels, prior rounds' files reaped") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    def rddDirs(root: java.nio.file.Path): Long =
      java.nio.file.Files.walk(root).iterator().asScala
        .count(p => p.toFile.isDirectory && p.getFileName.toString.startsWith("rdd-"))
    def deleteAll(root: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val got = Dedup.componentsStar(chain, maxIter = 20, reliable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 65 && got.forall(_._2 == 0L))
      // every superseded round's checkpoint was deleted: only the final
      // round's rdd-* dir may remain after the run
      assert(rddDirs(ckpt) <= 1L,
        s"checkpoint dir holds ${rddDirs(ckpt)} rdd dirs; prior rounds leaked")
      // adaptive's fallback path threads the flag through
      val adaptive = Dedup.componentsAdaptive(chain, propRounds = 1,
        reliable = true).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(adaptive.length == 65 && adaptive.forall(_._2 == 0L))
    } finally {
      deleteAll(ckpt)
    }
  }

  test("componentsStar per-round job count dropped (signature probe, not exceptAll)") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.sparkContext.addSparkListener(listener)
    try {
      val labels = Dedup.componentsStar(chain, maxIter = 20)
      Thread.sleep(1000)  // listener events are async; bound is one-sided
      // one ACTION per round (the signature head()), though AQE splits
      // each action into one job per shuffle stage: measured 68 jobs on
      // this fixture vs 102 for the count+exceptAll probe it replaced
      // (which added two counts and a set-difference — all edge-scale —
      // per round)
      assert(jobs.get() <= 80, s"expected ≤ 80 pre-collect jobs, saw ${jobs.get()}")
      assert(labels.collect().forall(_.getLong(1) == 0L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("componentsStar matches components on a multi-component graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
      .toDF("id_a", "id_b")
    val star = Dedup.componentsStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = Dedup.components(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == prop)
    assert(star == Set((1L,1L),(2L,1L),(3L,1L),(7L,7L),(8L,7L),(9L,7L),(20L,20L),(21L,20L)))
  }

  test("componentsAdaptive: converged-early path matches components") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
      .toDF("id_a", "id_b")
    val adaptive = Dedup.componentsAdaptive(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive ==
      Set((1L,1L),(2L,1L),(3L,1L),(7L,7L),(8L,7L),(9L,7L),(20L,20L),(21L,20L)))
  }

  test("componentsAdaptive: star fallback fires on a deep chain and is exact") {
    import spark.implicits._
    // diameter 64 ≫ propRounds 2: propagation cannot converge, the
    // label-contracted remainder must route through componentsStar
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsAdaptive(chain, propRounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 65 && got.forall(_._2 == 0L))
  }

  test("splitLeakproof: every member of a near-dup component shares its split") {
    val d = Tables.documents(spark, sf0001)
    val got = Dedup.splitLeakproof(d, nearCC(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == d.count())
    assert(got.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // the leakproof property itself: one split per component
    val perComp = got.groupBy(_._2).values
    assert(perComp.forall(_.map(_._3).toSet.size == 1))
    // non-vacuous: at least one multi-member component exists
    assert(perComp.exists(_.length > 1))
  }

  test("simhash: identical docs collide, near docs within hamming 3") {
    val d = docs(1L -> base, 2L -> base, 3L -> "completely different words here now")
    val sig = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val pairs = Dedup.simhashPairs(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) || java.lang.Long.bitCount(sig(1L) ^ sig(3L)) <= 3)
  }

  test("ngramNovelty: first appearance wins, repeats score zero") {
    val d = Seq(
      (1L, "alpha beta gamma delta"),   // 2 trigrams, both novel
      (2L, "alpha beta gamma delta"),   // exact repeat: 0 novel
      (3L, "alpha beta gamma epsilon")  // shares "alpha beta gamma"
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 1000L), (2L, 2L, 0L, 0L), (3L, 2L, 1L, 500L)))
  }

  test("dupStatsBySource: surplus-copy ratio per source in ppm") {
    import spark.implicits._
    val d = Seq((1L, "x", "A"), (2L, "x", "A"), (3L, "y", "A"),
        (4L, "z", "B"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dupStatsBySource(d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.toSeq == Seq(
      ("A", (3L, 2L, 333333L)), ("B", (1L, 1L, 0L))))
  }

  test("sampled-truth equivalence: full pairs filtered to sampled " +
       "endpoints equal the sampled-corpus truth join (r16 rand-index rewrite)") {
    import org.apache.spark.sql.functions.{col, expr, lit, pmod}
    val d = Tables.documents(spark, sf0001)
    def pri(c: String) = pmod(expr(
      s"cast(conv(substr(md5(cast($c AS string)), 1, 15), 16, 10) AS bigint)"),
      lit(100L))
    val pct = 50
    val direct = Dedup
      .jaccardPairsUnsorted(d.where(pri("doc_id") < pct), 3, 4, 5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.jaccardPairsUnsorted(d, 3, 4, 5)
      .where(pri("id_a") < pct && pri("id_b") < pct)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == direct)
  }

  test("per-call checkpoint release: repeated invocations stay correct " +
       "after the previous generation's blocks are freed (ADVICE r15)") {
    val d = docs(
      1L -> base,
      2L -> (base + " more"),
      3L -> base,
      4L -> (base + " extra"),
      5L -> "totally different text here entirely")
    def run() = Dedup.dedupIncrement(d, baseMaxId = 2, n = 3, b = 32, r = 4,
        num = 4, den = 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val first = run()
    val second = run() // supersedes + releases the first call's frames
    val third = run()
    assert(first == second && second == third &&
      first == Seq((3L, "exact"), (4L, "near")))
  }
}
