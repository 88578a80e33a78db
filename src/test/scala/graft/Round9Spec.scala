package graft

/** Round-9 hardening specs: the MMR/FPS selection loops after the
  * isin(literals) → broadcast-anti-join rewrite (VERDICT r8 item #6)
  * must still converge at slate-sized k, and the ADVICE r8 guards
  * (NULL-proof table checksum, k-anonymity fallback, short-embedding
  * crossmodal guard, fdProfile empty-input contract) hold.
  */
class Round9Spec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def embs(n: Int) =
    // n points on a noisy integer grid — all pairwise-distinct vectors
    (0 until n).map(i =>
      (i.toLong, Array((i % 7).toFloat + 1f, (i / 7).toFloat,
        (i % 3).toFloat))).toDF("vec_id", "embedding")

  test("mmrSelect converges at k=50 with join-based membership") {
    val got = operators.Similarity.mmrSelect(embs(60), k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 50)
    assert(got.map(_._1).toSeq == (1L to 50L), "ranks must be 1..50")
    assert(got.map(_._2).distinct.length == 50, "picks must be distinct")
    assert(!got.map(_._2).contains(0L), "the query row is never selected")
  }

  test("fpsCoreset converges at k=50 with join-based membership") {
    val got = operators.Similarity.fpsCoreset(embs(60), k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 50)
    assert(got.map(_._1).toSeq == (1L to 50L), "ranks must be 1..50")
    assert(got.map(_._2).distinct.length == 50, "picks must be distinct")
    assert(got.head == (1L, 0L), "the seed is rank 1")
  }

  test("tableChecksum: a nulled-out text MOVES the checksum and counts") {
    def docs(text1: String) = Seq(
      ("a", 1L, text1), ("a", 2L, "world")
    ).toDF("source", "doc_id", "text")
      .select(col("source"), col("doc_id"),
        when(col("text") === "?", lit(null: String)).otherwise(col("text"))
          .as("text"))
    val clean = operators.DataQuality.tableChecksum(docs("hello")).collect()
    val nulled = operators.DataQuality.tableChecksum(docs("?")).collect()
    assert(clean.head.getLong(1) == 2L && clean.head.getLong(2) == 0L,
      "clean table: n_rows=2, null_rows=0")
    assert(nulled.head.getLong(1) == 2L, "nulled row still counted")
    assert(nulled.head.getLong(2) == 1L, "null_rows flags the corruption")
    assert(nulled.head.getLong(5) != clean.head.getLong(5),
      "a NULL text must change the checksum, not vanish from the XOR")
  }

  test("kAnonymityGeneralize: unreachable k falls back to the maxLevel row") {
    val tiny = Seq(1.0, 2.0, 3.0).toDF("c_acctbal")
    val got = operators.Basket.kAnonymityGeneralize(tiny, k = 10,
      maxLevel = 4).collect()
    assert(got.length == 1, "never an empty frame")
    assert(got.head.getLong(0) == 4L, "falls back to maxLevel")
    assert(got.head.getLong(3) < 10L,
      "caller can see k was NOT achieved: min_group < k")
  }

  test("crossmodalTopk: a short (<16-dim) embedding is excluded, not NULLed") {
    val docs = Seq(("s", 0L, "aa bb"), ("s", 3L, "cc dd"), ("s", 6L, "ee ff"))
      .toDF("source", "doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 2f)), // short: would zip_with-pad to a NULL score
      (1L, Array.tabulate(16)(_.toFloat))).toDF("vec_id", "embedding")
    val got = operators.Multimodal.realCrossmodalTopk(spark,
      operators.Multimodal.realMediaOfKind(docs, 0), emb,
      nQueries = 20, k = 3).collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) == 1L),
      "only the full-width query survives")
    assert(got.forall(!_.isNullAt(3)), "no NULL scores may escape")
  }

  test("repetitionProfile: hand-traced Gopher duplication fractions") {
    // doc 1: "a b a b a b" — ws=[a,b,a,b,a,b], n_chars=6.
    //   2-grams: "a b"x3, "b a"x2 -> top2 = 3*2*1e6/6 = 1,000,000 ppm.
    //   3-grams: "a b a"x2, "b a b"x2, both duplicated ->
    //   dup3 = (2*3 + 2*3)*1e6/6 = 2,000,000 ppm (overlaps double-count
    //   by contract). rep_ok = false.
    // doc 2: 12 distinct 2-char words — every 2-gram unique: top2 =
    //   1*4*1e6/24 = 166,666 ppm <= 200,000; dup3 = 0 -> rep_ok = true.
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "aa bb cc dd ee ff gg hh ii jj kk ll")
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.repetitionProfile(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 1000000L, 2000000L, false),
      (2L, 166666L, 0L, true)))
  }

  test("seqPackStats: hand-traced straddle / fill at budget 4") {
    // source s, doc order 1,2,3: "a b c" fills tokens 0-2 of seq 0 (no
    // straddle); "d e f" spans tokens 3-5 = seqs 0 and 1 (straddles);
    // doc 3 is empty. total=6 -> 2 sequences, last fill 2/4 = 500000.
    val docs = Seq(
      ("s", 1L, "a b c"), ("s", 2L, "d e f"), ("s", 3L, "")
    ).toDF("source", "doc_id", "text")
    val got = operators.TextAnalysis.seqPackStats(docs, budget = 4L).collect()
    val r = got.head
    assert(got.length == 1 &&
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        == ((3L, 6L, 1L, 2L, 500000L)))
  }

  test("noveltyReport: exact copy scores 0 ppm, fresh text 10^6 ppm") {
    val docs = Seq(
      (1L, "x y z"),   // base
      (10L, "x y z"),  // exact copy of base -> novelty 0
      (11L, "p q r")   // nothing shared -> novelty 10^6
    ).toDF("doc_id", "text")
    val got = operators.Dedup.noveltyReport(docs, baseMaxId = 5L, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((10L, 2L, 2L, 0L), (11L, 2L, 0L, 1000000L)))
  }

  test("native WinnowFingerprints == the SQL lambda-chain formulation") {
    // the retired transform/slice/reverse/array_min chain, verbatim —
    // the native kernel must match it row-for-row on real corpus text
    val k = 4; val w = 4
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val ws = docs.select(col("doc_id"),
        operators.WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= k + w - 1)
    val sqlChain = ws
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(ws) - $k), i ->
           |  cast(conv(substr(md5(concat_ws(' ', slice(ws, i + 1, $k))), 1, 15), 16, 10) AS bigint))"""
          .stripMargin).as("hs"))
      .select(col("doc_id"), col("hs"), expr(
        s"""array_distinct(transform(sequence(0, size(hs) - $w), j ->
           |  j + $w - array_position(reverse(slice(hs, cast(j + 1 AS int), $w)),
           |                          array_min(slice(hs, cast(j + 1 AS int), $w)))))"""
          .stripMargin).as("ps"))
      .select(col("doc_id"),
        expr("transform(ps, p -> element_at(hs, cast(p + 1 AS int)))").as("fps"))
    val native = operators.Dedup.winnowSelected(docs, k, w)
    assert(native.count() == sqlChain.count())
    val mismatch = native.toDF("doc_id", "a")
      .join(sqlChain.toDF("doc_id", "b"), "doc_id")
      .where(col("a") =!= col("b"))
    assert(mismatch.count() == 0,
      s"native kernel diverges from the SQL chain:\n${mismatch.take(3).mkString("\n")}")
  }

  test("minhashEval: identical documents estimate with zero error") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val r = operators.Dedup.minhashEval(d).collect()(0)
    assert(r.getLong(0) == 1L, "exactly the identical pair qualifies")
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L,
      "identical shingle sets -> identical signatures -> zero error")
  }

  test("minhashEval: error is bounded and pairs match the truth count") {
    // overlapping-but-not-identical docs: estimator may err, never
    // past the ppm scale, and the pair universe is the jaccard truth
    val d = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k zz"),
      (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val r = operators.Dedup.minhashEval(d).collect()(0)
    assert(r.getLong(0) == 1L)
    assert(r.getLong(2) >= r.getLong(1), "max >= mean")
    assert(r.getLong(2) <= 1000000L, "abs error can never exceed 10^6 ppm")
    // zero qualifying pairs must yield (0, 0, 0), not an ANSI div error
    val empty = operators.Dedup.minhashEval(
      Seq((1L, "totally unrelated words"), (2L, "and other text here"))
        .toDF("doc_id", "text")).collect()(0)
    assert((empty.getLong(0), empty.getLong(1), empty.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("bloomFprEval: probes are the absent fingerprints; counts cohere") {
    val d = Seq(
      (0L, "base document one"), (1L, "base document two"),
      (2L, "base document one"),              // dup of base text: NOT a probe
      (3L, "novel text alpha"), (4L, "novel text beta")
    ).toDF("doc_id", "text")
    val r = operators.Dedup.bloomFprEval(d, baseMaxId = 1L).collect()(0)
    assert(r.getLong(1) == 2L, "two distinct base fingerprints")
    assert(r.getLong(2) == 2L,
      "doc 2 repeats a base text so only docs 3,4 probe")
    assert(r.getLong(0) <= 8L, "k=4 positions per base fp, deduped")
    assert(r.getLong(3) <= r.getLong(2), "FPs bounded by probe count")
    assert(r.getLong(4) == r.getLong(3) * 1000000L / 2L)
  }

  test("clusteringCoefficients: triangle + pendant hand-trace") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val got = operators.Graph.clusteringCoefficients(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // node 4 (deg 1) is excluded; node 1 sits on 1 of C(3,2)=3 wedges
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 333333L), (2L, 2L, 1L, 1000000L), (3L, 2L, 1L, 1000000L)))
  }

  test("deleteVectorStats: rewrite-vs-keep split at the ppm threshold") {
    import org.apache.spark.sql.functions._
    // file 0 (keys < 128): 4 rows, 2 deleted = 500000 ppm -> rewrite;
    // file 1 (keys >= 128): 100 rows, 1 deleted = 10000 ppm -> keep DV
    val rows =
      (0 until 4).map(i => (i.toLong, if (i < 2) 9510L else 9400L)) ++
        (0 until 100).map(i => (128L + i, if (i == 0) 9510L else 9400L))
    val li = rows.toDF("l_orderkey", "day")
      .select(col("l_orderkey"),
        expr("timestamp_millis(day * 86400000)").as("l_shipdate"))
    val r = operators.Layout.deleteVectorStats(li).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L, "2 files, both have DVs")
    assert(r.getLong(2) == 104L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 101L, "live = total - deleted")
    assert(r.getLong(5) == 1L, "only the dense-delete file is rewritten")
    assert(r.getLong(6) == 2L, "rewrite pays the file's live rows")
    assert(r.getLong(7) == 1L, "the kept file's DV entry remains")
  }

  test("realSilenceProfile: kind filter + decoded samples match the " +
    "planted-formula silenceStats fold") {
    import operators.Multimodal
    // 0=image, 1=audio, 2=video: only the audio doc emits a profile row
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text")
    val got = Multimodal.realSilenceProfile(spark, Multimodal.realMediaOfKind(docs, 1)).collect()
    assert(got.length == 1, "image and video rows are excluded")
    val r = got(0)
    val planted = Array.tabulate(Multimodal.RealCodec.audioLen(1L))(i =>
      Multimodal.RealCodec.sampleVal(1L, i))
    val (n, silent, maxRun, tot) = Multimodal.silenceStats(planted, 16, 1024L)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, n, silent, maxRun, tot)))
  }

  test("proximitySearch: minimal cover window hand-trace") {
    val d = Seq(
      (1L, "a x x b c"),        // span(a,b,c) = 4
      (2L, "a b x x x a c"),    // best uses the SECOND a: span 5
      (3L, "a b b b a")         // no c: never a candidate
    ).toDF("doc_id", "text")
    def run(w: Int) = operators.TextAnalysis
      .proximitySearch(d, Seq("a", "b", "c"), w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(6) == Seq((1L, 4L), (2L, 5L)))
    assert(run(4) == Seq((1L, 4L)))
    assert(run(3) == Seq())
  }

  test("recEval: held-out basket hit hand-trace") {
    import org.apache.spark.sql.functions._
    // train: c1 owns {10,11}, c2 owns {10,11,12} -> neighbors (2 shared)
    // held out: c1's latest order {12} (hit: rec'd from c2),
    //           c2's latest order {13} (no rec: c1 has nothing new)
    val orders = Seq(
      (1L, 1L, 1L), (2L, 2L, 1L), (3L, 1L, 2L), (4L, 2L, 2L)
    ).toDF("o_orderkey", "o_custkey", "day")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("timestamp_millis(day * 86400000)").as("o_orderdate"))
    val lineitem = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 12L), (4L, 13L)
    ).toDF("l_orderkey", "l_partkey")
    val r = operators.Basket.recEval(lineitem, orders).collect()(0)
    assert(r.getLong(0) == 1L, "one recommendation (part 12 for c1)")
    assert(r.getLong(1) == 1L, "and it is in c1's held-out basket")
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 1000000L && r.getLong(5) == 1000000L)
  }

  test("randIndexEval: winnow over-merge vs exact clustering hand-trace") {
    // docs 1,2 identical (exact-jaccard pair); doc 3 shares a 12-token
    // run with them (>= w+k-1 guarantees winnow collision) but its
    // fresh tail keeps jaccard ~0.38 < 0.8. So exact clusters {1,2}
    // {3}; winnow clusters {1,2,3}: pe=1, pw=3, ab=1 -> rand=1/3.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, run + " nu xi omicron pi rho sigma tau upsilon"),
      (2L, run + " nu xi omicron pi rho sigma tau upsilon"),
      (3L, run + " aa bb cc dd ee ff gg hh")
    ).toDF("doc_id", "text")
    val r = operators.Dedup.randIndexEval(d,
      operators.Dedup.jaccardPairsUnsorted(d, 3, 4, 5)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((3L, 1L, 3L, 1L, 333333L)))
  }

  test("dynamicOverwrite: patched partition doubled, the rest untouched") {
    import org.apache.spark.sql.functions._
    val got = graft.sources.PartitionedLake
      .dynamicOverwriteStats(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) AS bigint)")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(want.nonEmpty && want.exists(_._1 == "error"))
    for ((t, n, s) <- want) {
      val (gn, gs) = got(t)
      assert(gn == n, s"$t row count must survive the patch write")
      assert(gs == (if (t == "error") 2 * s else s),
        s"$t cents: only the patched partition doubles")
    }
  }

  test("globalIndex: consecutive ids across range partitions") {
    // non-contiguous, shuffled doc_ids across more rows than parts
    val d = scala.util.Random.shuffle((0 until 40).map(i => i.toLong * 7 + 3))
      .toDF("doc_id")
    val got = operators.TextAnalysis.globalIndex(d, parts = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0 until 40).map(i => (i.toLong * 7 + 3, i.toLong))
    assert(got == want, "idx must be consecutive 0..n-1 in doc_id order")
  }

  test("fdProfile and skewProfile reject empty inputs loudly") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    val e1 = intercept[IllegalArgumentException] {
      operators.DataQuality.fdProfile(df, Seq.empty)
    }
    assert(e1.getMessage.contains("fdProfile"))
    val e2 = intercept[IllegalArgumentException] {
      operators.DataQuality.skewProfile(df, Seq.empty)
    }
    assert(e2.getMessage.contains("skewProfile"))
  }
}
