package graft

import graft.operators.Graph

/** Round-8 additions: the `maxDeg` hub prune on the CN/RA/Jaccard
  * link-prediction family (VERDICT r7 next-items #3/#4).
  */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  /** Hub h with 5 spokes (deg 5) plus a low path p-m-q (m deg 2).
    * With maxDeg = 4 the hub's C(5,2) = 10 wedges vanish; only the
    * (p,q) wedge through m survives.
    */
  private val hubGraph = Seq(
    ("h", "s1"), ("h", "s2"), ("h", "s3"), ("h", "s4"), ("h", "s5"),
    ("m", "p"), ("m", "q")).toDF("a", "b")

  test("commonNeighborPairs maxDeg prunes hub-middle wedges") {
    val full = Graph.commonNeighborPairs(hubGraph).collect()
    assert(full.length == 11) // C(5,2) hub pairs + (p,q)
    val pruned = Graph.commonNeighborPairs(hubGraph, maxDeg = 4L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(pruned.toMap == Map(("p", "q") -> 1L))
  }

  test("resourceAllocationPairs maxDeg prunes hub-middle wedges") {
    val pruned = Graph.resourceAllocationPairs(hubGraph, maxDeg = 4L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2), r.getLong(3)))
    // only (p,q) through m (deg 2): ra = 10^6 div 2
    assert(pruned.toSeq == Seq((("p", "q"), 1L, 500000L)))
  }

  test("jaccardLinkPred maxDeg prunes middles but keeps full endpoint degrees") {
    val pruned = Graph.jaccardLinkPred(hubGraph, maxDeg = 4L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3)))
    // (p,q): common=1, deg(p)=deg(q)=1 (full graph) -> 10^6 div (1+1-1)
    assert(pruned.toSeq == Seq((("p", "q"), 1L, 1000000L)))
    // and with the default cap nothing is pruned on this small graph
    assert(Graph.jaccardLinkPred(hubGraph).collect().length == 11)
  }

  test("bowtie: pivot SCC, in/out wings, and disconnected nodes") {
    // graph over words: "a b c a" gives cycle a->b->c->a (SCC of pivot
    // a); "z a" gives z -> a (IN wing); "c d" continues c -> d (OUT,
    // d has no path back); "x y" is a separate component (DISC for
    // both x and y relative to pivot a)
    val docs = Seq((1L, "a b c a"), (2L, "z a"), (3L, "c d"),
      (4L, "x y")).toDF("doc_id", "text")
    val got = Graph.bowtie(Graph.bigramEdges(docs).localCheckpoint()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("disc", 2L, "x", "y"),
      ("in", 1L, "z", "z"),
      ("out", 1L, "d", "d"),
      ("scc", 3L, "a", "c")))
  }

  private def embs(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")

  test("mmrSelect diversifies: 2nd pick avoids the near-duplicate of the 1st") {
    // query q = (1,0); c2 = 2·c1 is an exact duplicate direction of c1
    // (sim = 1, so its round-2 score is rel − 1 < 0); c3 = (0.6,−0.8)
    // is less relevant (0.6) but nearly orthogonal to c1, scoring
    // 0.6 − 0.592 > 0. Plain top-2 by relevance = {c1, c2}; MMR picks
    // c1 then c3.
    val e = embs(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0.01f),
      2L -> Seq(2f, 0.02f), 3L -> Seq(0.6f, -0.8f))
    val got = operators.Similarity.mmrSelect(e, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L)))
  }

  test("fpsCoreset spreads: picks the farthest point each round") {
    // seed 0 at origin; 1 at (10,0), 2 at (9.5,0), 3 at (0,4).
    // Round 2 picks 1 (d2=100); round 3 picks 3 (d2 to nearest
    // selected = 16 beats 2's 0.25)
    val e = embs(0L -> Seq(0f, 0f), 1L -> Seq(10f, 0f),
      2L -> Seq(9.5f, 0f), 3L -> Seq(0f, 4f))
    val got = operators.Similarity.fpsCoreset(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 3L)))
  }

  // letter-only synthetic words (digits would be stripped by the
  // reference cleaner, which keeps only a token's leading letter run)
  private def w8(i: Int): String =
    "" + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar + ('a' + i / 676).toChar

  test("winnowing density bounds: ceil(nWindows/w) <= n_fps <= nWindows") {
    // 20 tokens, k=4 -> 17 grams, w=4 -> 14 windows; each selected
    // position can be the rightmost-min of at most w windows, so
    // n_fps >= ceil(14/4) = 4; and at most one selection per window.
    val d = Seq((1L, (0 until 20).map(w8).mkString(" "))).toDF("doc_id", "text")
    val r = operators.Dedup.winnowFingerprints(d, k = 4, w = 4).collect()
    assert(r.length == 1)
    val nFps = r(0).getLong(1)
    assert(nFps >= 4 && nFps <= 14, s"n_fps=$nFps outside [4,14]")
  }

  test("winnowing digest is content-determined: duplicate doc, same digest") {
    val text = (0 until 30).map(w8).mkString(" ")
    val d = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val r = operators.Dedup.winnowFingerprints(d, 4, 4).collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r.size == 1) // both docs collapse to one (n_fps, fp_xor)
  }

  test("winnowing match guarantee: a shared run of w+k-1 tokens collides") {
    // run of exactly 7 shared tokens = 4 shared grams = ONE window
    // fully inside the shared region; its rightmost-min depends only
    // on window content, so both docs select the same fingerprint.
    val shared = (100 until 107).map(w8).mkString(" ")
    val a = (0 until 10).map(w8).mkString(" ") + " " + shared + " " +
      (200 until 210).map(w8).mkString(" ")
    val b = (300 until 310).map(w8).mkString(" ") + " " + shared + " " +
      (400 until 410).map(w8).mkString(" ")
    val d = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = operators.Dedup.winnowPairs(d, 4, 4, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("walkCorpus: singleton adjacency forces the path; dead ends absorb") {
    // word chain a->b->c->d: every neighbor list is a singleton, so the
    // hash-driven choice is forced and the walk from `a` must be
    // "a b c d"; from `c` (2 steps available) it's "c d" then absorbs.
    val d = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val got = Graph.walkCorpus(Graph.bigramEdges(d), nWalks = 2, len = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // starts = nodes with out-edges: aa, bb, cc (dd is a sink)
    assert(got.length == 6)
    assert(got.count(_._1 == "aa") == 2)
    assert(got.filter(_._1 == "aa").forall(_._3 == "aa bb cc dd"))
    assert(got.filter(_._1 == "cc").forall(_._3 == "cc dd")) // absorbed
    assert(got.map(_._2).toSet == Set(0L, 1L))
  }

  test("charCollision: uniform text is 1/k, constant text is 1") {
    val d = Seq((1L, "aaaa"), (2L, "ab ab")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.charCollision(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: all 'a' -> collision certain; doc 2: a,b,a,b -> 8/16
    assert(got == Set((1L, 4L, 1000000L), (2L, 4L, 500000L)))
  }

  test("bigramGenerate follows the corpus argmax and absorbs at sinks") {
    // bigrams: (aa,bb)x2, (bb,aa)x2, (aa,cc)x1 -> argmax aa->bb, bb->aa
    val d = Seq((1L, "aa bb aa bb aa cc")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bigramGenerate(d, nSeeds = 1, steps = 3)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("aa", "aa bb aa bb"))) // seed = most frequent
    // cc is a sink: a seed landing there stops growing
    val got2 = operators.TextAnalysis.bigramGenerate(
      Seq((1L, "cc dd")).toDF("doc_id", "text"), nSeeds = 2, steps = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got2 == Map("cc" -> "cc dd", "dd" -> "dd"))
  }

  test("ewmaBacktest: hand-traced MAE/bias, negative bias truncates alike") {
    def ev(rows: (String, Long)*) = rows.toDF("event_type", "ts_ms")
    val day = 86400000L
    // type x days [4, 8, 8]: fc=4 err=+4, s=6; fc=6 err=+2 -> mae 3000
    val x = (1 to 4).map(_ => ("x", 0L)) ++ (1 to 8).map(_ => ("x", day)) ++
      (1 to 8).map(_ => ("x", 2 * day))
    // type y days [8, 4]: fc=8 err=-4 -> mae 4000, bias -4000
    val y = (1 to 8).map(_ => ("y", 0L)) ++ (1 to 4).map(_ => ("y", day))
    val got = operators.Relational.ewmaBacktest(ev(x ++ y: _*)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("x", 2L, 3000L, 3000L), ("y", 1L, 4000L, -4000L)))
  }

  test("goldenRecord: longest-then-lex name survives, balances merge") {
    val c = Seq(
      (1L, "aaaa", 7L, 1.50), (2L, "aaab", 7L, 2.25), // lev-1 cluster
      (3L, "zzzz", 7L, 9.99)                          // singleton: dropped
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val clusters = operators.Dedup.componentsStar(
        operators.Dedup.blockedFuzzyPairs(c, maxDist = 1))
      .select($"doc_id".as("custkey"), $"comp")
    val got = operators.Dedup.goldenRecord(c, clusters).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "aaaa", 2L, 375L)))
  }

  test("crossmodalTopk: integer dot ranks decoded image pixels against " +
    "the text tower") {
    // images are doc_id % 3 == 0; decoded pixel 0 = (doc_id*7) % 256.
    // query qv = [1000, 0...] so score = 1000 * pixel0: doc3 -> 21,
    // doc0 -> 0; 'zz' doc1 is audio and never a candidate
    val docs = Seq((0L, "bb"), (1L, "zz"), (3L, "ab")).toDF("doc_id", "text")
    val emb = Seq((0L, Array(1f) ++ Array.fill(15)(0f)))
      .toDF("vec_id", "embedding")
    val got = operators.Multimodal.realCrossmodalTopk(spark,
      operators.Multimodal.realMediaOfKind(docs, 0), emb,
      nQueries = 1, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 1L, 3L, 21000L), (0L, 2L, 0L, 0L)))
  }

  test("rakeKeyphrases: hand-traced deg/freq scores; long runs drop") {
    // phrases: [red apple] x2, [green tree], [sun]; every word in a
    // 2-phrase scores 2000 (deg 4 / freq 2 or deg 2 / freq 1), sun 1000
    val d = Seq(
      (1L, "red apple the red apple of green tree a sun is"),
      (2L, "qq ww ee rr tt")   // 5-word run: over maxLen, excluded
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.rakeKeyphrases(d, maxLen = 4, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("green tree", 2L, 1L, 4000L),
      ("red apple", 2L, 2L, 4000L),
      ("sun", 1L, 1L, 1000L)))
  }

  test("walk corpus -> bigram PMI composition: hand-traced forced chain") {
    import org.apache.spark.sql.functions.lit
    // chain aa->bb->cc->dd: walks (x2 walkers) are forced, so the
    // sentence corpus is exactly {aa bb cc dd, bb cc dd, cc dd} x 2
    // and PMI is computable by hand: n_total=18, (aa,bb) 2*18k/8=4500
    val d = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val sentences = Graph.walkCorpus(Graph.bigramEdges(d), nWalks = 2, len = 3)
      .select(org.apache.spark.sql.functions.col("path").as("text"),
        lit(0L).as("doc_id"))
    val got = operators.TextAnalysis.bigramPmi(sentences, minCnt = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("aa bb", 2L, 4500L), ("bb cc", 4L, 3000L), ("cc dd", 6L, 3000L)))
  }

  test("kAnonymityGeneralize: smallest level whose min class reaches k") {
    // balances 0..19 dollars, all distinct: level 4 leaves a class of
    // 4 (16..19), level 5 collapses to one class of 20 >= k
    val c = (0 until 20).map(i => (i.toLong, i.toDouble))
      .toDF("c_custkey", "c_acctbal")
    val r = operators.Basket.kAnonymityGeneralize(c, k = 10).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((5L, 3200L, 1L, 20L, 20L)))
  }

  test("dedupCostModel: exact shingle stats, winnow index strictly smaller") {
    val text = (0 until 8).map(w8).mkString(" ") // 8 tokens
    val d = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val rows = operators.Dedup.dedupCostModel(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("shingle3") == ((6L, 12L, 6L))) // 6 grams x df 2
    assert(rows("shingle4") == ((5L, 10L, 5L)))
    val (wk, wp, we) = rows("winnow4")
    assert(wp < 10L, "winnow postings must undercut the full 4-gram index")
    assert(we >= 1L, "identical docs must still collide in the winnow index")
    assert(wk <= wp)
  }

  test("winnowEval: full recall of jaccard truth, candidates cost precision") {
    val shared = (100 until 107).map(w8).mkString(" ")
    val text = (0 until 20).map(w8).mkString(" ") + " " + shared
    // 1=2 identical (the only jaccard-0.8 pair); 3 shares only the
    // 7-token run with them -> winnow candidate, not truth
    val far = (300 until 340).map(w8).mkString(" ") + " " + shared
    val d = Seq((1L, text), (2L, text), (3L, far)).toDF("doc_id", "text")
    val r = operators.Dedup.winnowEval(d,
      operators.Dedup.jaccardPairsUnsorted(d, 3, 4, 5)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((1L, 3L, 1L, 333333L, 1000000L)))
  }

  test("winnowIncrement probes base but never re-pairs base with base") {
    val text = (0 until 30).map(w8).mkString(" ")
    // 1 and 2 are identical BASE docs; 3 is a NEW copy of both
    val d = Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
    val got = operators.Dedup.winnowIncrement(d, baseMaxId = 2L, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L), (3L, 2L))) // (1,2) absent by contract
  }

  test("indexCompressionStats: hand-computed varint bytes on tiny postings") {
    // postings aa:[0,1,300] bb:[300]; deltas 0,1,299 + absolute 300
    // varint bytes 1+1+2+2 = 6 of raw 32 -> savings 812500 ppm
    val d = Seq((0L, "aa"), (1L, "aa"), (300L, "aa bb")).toDF("doc_id", "text")
    val r = operators.TextAnalysis.indexCompressionStats(d).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((2L, 4L, 32L, 6L, 812500L)))
  }

  test("fdProfile: held FD reports zero violations, broken FD counts them") {
    val d = Seq((1L, "s1", "en"), (2L, "s1", "en"), (3L, "s2", "en"),
      (4L, "s2", "de")).toDF("doc_id", "source", "lang")
    val got = operators.DataQuality.fdProfile(d,
      Seq("doc_id" -> "lang", "source" -> "lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("doc_id->lang", 4L, 0L, 1L),   // key: no violations
      ("source->lang", 2L, 1L, 2L)))  // s2 maps to {en,de}
  }

  test("zoneMapSkipping: date files prune, arrival-order files cannot") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // natural files {0,1} and {600,601} EACH contain one in-range day,
    // so arrival order scans everything; date clustering isolates the
    // two in-range rows into their own files
    val li = Seq((0L, ts(9500)), (1L, ts(8000)), (600L, ts(9510)), (601L, ts(7000)))
      .toDF("l_orderkey", "l_shipdate")
    val got = operators.Layout.zoneMapSkipping(li).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("date_sorted", 4L, 2L, 2L),  // 4 files, 2 scanned, 2 rows read
      ("natural", 2L, 2L, 4L)))     // both files scanned, all rows read
  }

  test("tableChecksum is row-order independent") {
    val a = Seq((1L, "x", "s1"), (2L, "y", "s1"), (2L, "y", "s2"), (1L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val got = operators.DataQuality.tableChecksum(a).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(got.length == 2 && got(0)._3 == got(1)._3) // same content, same checksum
    // one changed byte must move the checksum
    val b = Seq((1L, "x", "s1"), (2L, "z", "s2")).toDF("doc_id", "text", "source")
    val g2 = operators.DataQuality.tableChecksum(b).collect()
      .map(r => r.getLong(4))
    assert(g2(0) != g2(1))
  }
}
