package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("cosine of known vectors") {
    val df = emb((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0))
      .select(Similarity.cosine(lit(Array(1f, 0f)), col("embedding")).as("c"))
    val got = df.as[Double].collect().sorted
    assert(math.abs(got(0) - 0.0) < 1e-12 && math.abs(got(1) - 1.0) < 1e-12)
  }

  test("arrayStats: higher-order filter/transform/aggregate, no explode") {
    val d = emb((0L, Seq(0.5f, -0.25f, 0f), 0), (1L, Seq(-1f, -1f, 2f), 0))
    val got = Similarity.arrayStats(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 1L, 250L, 500L), (1L, 1L, 0L, 2000L)))
  }

  test("arrayStats: empty vector sums to NULL (SQL semantics), not 0") {
    val d = emb((0L, Seq.empty[Float], 0))
    val r = Similarity.arrayStats(d).collect().head
    assert(r.getLong(1) == 0L)       // n_pos: empty filter -> 0
    assert(r.isNullAt(2) && r.isNullAt(3))  // sum/max of empty -> NULL
  }

  test("knn brute force ranks by cosine, ties by id") {
    val d = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0.1f), 0),   // closest to 0
      (2L, Seq(0.5f, 0.5f), 0), // second
      (3L, Seq(-1f, 0f), 0))    // opposite
    val got = Similarity.knnBruteForce(d, 1, 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("hardNegatives: annulus excludes self, positives, and easy negatives") {
    val d = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0.05f), 0),    // cos ~0.999 -> above ceiling, excluded
      (2L, Seq(0.3f, 1f), 0),     // cos ~0.287 -> in annulus
      (3L, Seq(0.15f, 1f), 0),    // cos ~0.148 -> in annulus
      (4L, Seq(0f, 1f), 0),       // cos 0 -> below floor, excluded
      (5L, Seq(-1f, 0.1f), 0))    // negative cos -> excluded
    val got = Similarity.hardNegatives(d, 1, 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 1L), (3L, 2L)))
  }

  test("bm25: higher-tf doc outranks lower-tf at equal length") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "spark spark spark fast fast slow", "en", "a", 1L),
      (1L, "spark fast slow slow gc gc", "en", "a", 1L),
      (2L, "gc gc gc gc gc gc", "en", "a", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // global top-3 terms: gc(8), spark(4), fast(3) -> all three docs hit
    val got = TextAnalysis.bm25TopDocs(docs, nTerms = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 3)
    // tf SATURATION is the point of BM25: doc 1 matches all three query
    // terms and outranks doc 2's six-fold repetition of one term, which
    // saturates at tf/(tf + k1·norm) -> 1
    val scores = got.map(t => t._1 -> t._2).toMap
    assert(scores(1L) > scores(2L))
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
  }

  test("multiprobe recall >= single-probe recall against brute force") {
    val brute = Similarity.knnBruteForce(Tables.embeddings(spark, sf0001), 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.annIvfKmeansIndexed(spark, sf0001, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.annIvfMultiprobe(spark, sf0001, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rs = (single intersect brute).size
    val rm = (multi intersect brute).size
    // the candidate pool only grows, so true-neighbor recall cannot drop
    // (a larger pool may displace a non-true candidate, so set inclusion
    // of the top-k itself is NOT guaranteed — recall is the invariant)
    assert(rm >= rs, s"multiprobe recall $rm < single-probe $rs")
  }

  test("ann_ivf results are a same-cell subset with correct local ranking") {
    val d = Tables.embeddings(spark, sf0001)
    val cells = d.select(col("vec_id"),
      Similarity.cellId(col("embedding"), 4).as("cell"))
      .as[(Long, Long)].collect().toMap
    val got = Similarity.annIvf(d, 5, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (q, n, _) => assert(cells(q) == cells(n)) }
    // ranks are 1..k contiguous per query
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("lshNearDup rejects band widths that straddle packed words") {
    intercept[IllegalArgumentException] {
      Similarity.lshNearDup(emb((0L, Seq(1f), 0)), 0.9, bands = 8, r = 24)
    }
  }

  test("lshNearDup finds planted duplicates and equals brute force") {
    // 30 random-ish base vectors + 3 planted near-identical pairs
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 30).map(i => (i.toLong, vec(), 0))
    val planted = Seq(100L, 101L, 102L).flatMap { id =>
      val v = vec()
      // tiny perturbation -> cosine ~0.9999
      Seq((id * 10, v, 0),
        (id * 10 + 1, v.map(x => x + 0.001f), 0))
    }
    val d = emb((base ++ planted): _*)
    val brute = Similarity.embeddingNearDup(d, 0.99)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val lsh = Similarity.lshNearDup(d, 0.99)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute.size >= 3 && lsh == brute)
  }

  test("embeddingNearDup finds identical vectors") {
    val v = Seq(0.5f, -0.25f, 1f)
    val d = emb((10L, v, 0), (11L, v, 0), (12L, Seq(-1f, 2f, -0.5f), 0))
    val got = Dedup2(d)
    assert(got == Set((10L, 11L)))
  }

  private def Dedup2(d: org.apache.spark.sql.DataFrame) =
    Similarity.embeddingNearDup(d, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("semDedupKeep drops exactly the vectors with a similar lower-id cell-mate") {
    val d = Tables.embeddings(spark, sf0001)
    val all = d.select("vec_id").as[Long].collect().toSet
    val kept = Similarity.semDedupKeep(spark, sf0001, threshold = 0.45)
      .as[Long].collect().toSet
    assert(kept.subsetOf(all))
    // non-vacuous: the threshold must actually drop something here
    val dropped = all -- kept
    assert(dropped.nonEmpty)
    // brute-force recheck: dropped <=> has a cos>t neighbor with lower
    // id in the same k-means cell
    val cents = graft.operators.Clustering.lloydCentroids(d, 8, 5)
    val cells = graft.operators.Clustering.cellAssignments(d, cents)
      .as[(Long, Long)].collect().toMap
    val vecs = d.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expectDropped = all.filter(id => all.exists(o =>
      o < id && cells(o) == cells(id) && cos(vecs(o), vecs(id)) > 0.45))
    assert(dropped == expectDropped)
  }

  test("persisted IVF index: bucket-pruned probe, same result as in-session") {
    val df = graft.sources.AnnIndex.annReport(spark, sf0001, nQueries = 5, k = 3)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Similarity.annIvfKmeansIndexed(spark, sf0001, nQueries = 5, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got == want)
    // the postings scan must prune to the probed cells' buckets
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"cell IN filter should prune buckets:\n$plan")
  }

  test("randomProjection: exact integer linear map, deterministic signs") {
    val d = emb(
      (0L, Seq(0.5f, -0.25f, 1f, 0f), 0),
      (1L, Seq(1.0f, -0.5f, 2f, 0f), 0),   // 2x vector 0
      (2L, Seq(0.5f, -0.25f, 1f, 0f), 0))  // copy of vector 0
    val got = Similarity.randomProjection(d, outDims = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 12)
    val byVec = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // linearity: proj(2x) = 2*proj(x), exactly (integer arithmetic)
    assert(byVec(1L) == byVec(0L).map(_ * 2))
    // determinism: identical vectors project identically
    assert(byVec(2L) == byVec(0L))
    // the signs actually mix dimensions: some coordinate is nonzero
    assert(byVec(0L).exists(_ != 0L))
  }

  test("annSq8 ranks by exact integer distance over the quantized codes") {
    val d = Tables.embeddings(spark, sf0001)
    val got = Similarity.annSq8(d, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // ranks are 1..k contiguous per query
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // independent quantize + brute-force rank in plain Scala
    val vecs = d.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val dims = vecs.head._2.length
    val mns = (0 until dims).map(i => vecs.map(_._2(i)).min)
    val mxs = (0 until dims).map(i => vecs.map(_._2(i)).max)
    def quant(v: Seq[Double]) = v.zipWithIndex.map { case (x, i) =>
      if (mxs(i) == mns(i)) 0L
      else math.round((x - mns(i)) * 255.0 / (mxs(i) - mns(i)))
    }
    val qv = vecs.map { case (id, v) => id -> quant(v) }.toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = (0L until 5L).flatMap { q =>
      qv.keys.filter(_ != q).toSeq
        .sortBy(n => (d2(qv(q), qv(n)), n)).take(3).zipWithIndex
        .map { case (n, i) => (q, n, i + 1L) }
    }.toSet
    assert(got.toSet == expect)
  }

  test("annPq: with n ≤ codebookK every vector is its own centroid and " +
    "ADC distance is EXACT") {
    // 8 distinct vectors, dim 8, m=4 (2-dim subspaces), codebookK=8:
    // the seed set is the whole corpus, every Lloyd iteration is a
    // fixed point (each vector its own centroid), codes are identities
    // and the ADC sum telescopes to the full scaled-int L2 distance
    val vecs = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toFloat / 10f), 0)
    }
    val got = Similarity.annPq(emb(vecs: _*), nQueries = 2, k = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    def sv(s: Seq[Float]) = s.map(x => math.round(x.toDouble * 1000000))
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sc = vecs.map(v => v._1 -> sv(v._2)).toMap
    for (q <- 0L to 1L) {
      val exact = sc.keys.filter(_ != q).toSeq
        .sortBy(n => (d2(sc(q), sc(n)), n)).take(3).zipWithIndex
      for ((n, i) <- exact)
        assert(got((q, n)) == ((d2(sc(q), sc(n)), i + 1L)))
    }
  }

  test("annIvfPq: every returned neighbor shares the query's home cell, " +
    "ranks consistent with annPq on that cell") {
    val e = Tables.embeddings(spark, sf0001)
    val got = Similarity.annIvfPq(e, nQueries = 4, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val cells = graft.operators.Clustering
      .cellAssignments(e, graft.operators.Clustering.lloydCentroids(e, 8, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (q, n, _, _) =>
      assert(q != n && cells(q) == cells(n))
    }
    // the unpruned ADC ranking restricted to the query's cell must
    // agree: ann_ivfpq IS ann_pq over the cell-mates (k=200 > corpus
    // size at sf0.001, so the pq ranking is complete)
    val pqAll = Similarity.annPq(e, nQueries = 4, k = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (q <- got.map(_._1).distinct) {
      val want = pqAll.filter(p => p._1 == q && cells(p._2) == cells(q))
        .sortBy(p => (p._3, p._2)).take(5).map(_._2).toSeq
      val have = got.filter(_._1 == q).sortBy(_._4).map(_._2).toSeq
      assert(have == want)
    }
  }

  test("annPqIndexed equals annPq (cached codebooks change nothing)") {
    val direct = Similarity.annPq(Tables.embeddings(spark, sf0001),
      nQueries = 3, k = 4).collect().map(_.toSeq).toSeq
    val indexed = Similarity.annPqIndexed(spark, sf0001,
      nQueries = 3, k = 4).collect().map(_.toSeq).toSeq
    assert(indexed == direct)
  }

  test("annPq on testdata: k ranked rows per query, distances non-decreasing") {
    val got = Similarity.annPq(Tables.embeddings(spark, sf0001),
        nQueries = 4, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 20)
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to 5L))
      val ds = byRank.map(_._3).toSeq
      assert(ds == ds.sorted)
      // ADC against 8-centroid codebooks: distances are meaningful
      // (nonnegative, and a self pair is excluded by construction)
      assert(ds.forall(_ >= 0L) && rows.forall(r => r._1 != r._2))
    }
  }

  test("annRecallReport: perfect recall when every vector shares one cell") {
    // all-positive first coords -> one cell -> IVF == brute force
    val df = emb((0L, Seq(1f, 1f, 1f, 1f), 0), (1L, Seq(1f, 2f, 1f, 1f), 0),
      (2L, Seq(1f, 1f, 2f, 1f), 0), (3L, Seq(1f, 1f, 1f, 2f), 0))
    val got = Similarity.annRecallReport(df, nQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 1000000L), (1L, 2L, 1000000L)))
    // split cells (opposite signs) -> recall drops below 1 for queries
    // whose true neighbors land in the other cell
    val split = emb((0L, Seq(1f, 1f, 1f, 1f), 0), (1L, Seq(-1f, 1f, 1f, 1f), 0),
      (2L, Seq(1f, 1f, 1f, 2f), 0), (3L, Seq(-1f, 1f, 1f, 2f), 0))
    val r2 = Similarity.annRecallReport(split, nQueries = 1, k = 3)
      .collect().map(r => r.getLong(2)).head
    assert(r2 < 1000000L)
  }

  test("dimStats: two-moment identity per dimension, milli-scaled") {
    // dim 0: 1.0, 3.0 -> sum 4000, sumsq 10e6, var_num 2*1e7 - 16e6 = 4e6
    // dim 1: -0.5, 0.5 -> sum 0, sumsq 5e5, var_num 1e6
    val df = emb((0L, Seq(1f, -0.5f), 0), (1L, Seq(3f, 0.5f), 0))
    val got = Similarity.dimStats(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0L, 2L, 4000L, 10000000L, 4000000L),
      (1L, 2L, 0L, 500000L, 1000000L)))
  }

  // ------------------------------------------ incremental ANN index

  test("ANN append: base posting files untouched; equals one-shot build") {
    import graft.sources.AnnIndex
    val emb = Tables.embeddings(spark, sf0001)
    val cut = AnnIndex.incCut(spark, sf0001)
    val base = emb.where(col("vec_id") < cut)
    AnnIndex.writeIncBase(base, base, "r11inc", nClusters = 8, iters = 5)
    val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "graft_anni_cells_r11inc")).location.toString))
    def snap = loc.listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = snap
    // two appends (delta split by id parity): the nightly loop run
    // twice, so the postings dir accumulates strictly more files than
    // one bucket round — making the compaction shrink check meaningful
    // regardless of how many files one bucketed write happens to land
    val delta = emb.where(col("vec_id") >= cut)
    AnnIndex.appendDelta(spark, "r11inc", delta.where(col("vec_id") % 2 === 0))
    AnnIndex.appendDelta(spark, "r11inc", delta.where(col("vec_id") % 2 =!= 0))
    val after = snap
    assert(before.subsetOf(after), "append must not rewrite base postings")
    assert(after.size > before.size, "append must add new posting files")
    // the incremented index answers exactly like a one-shot build with
    // the same frozen (base-trained) centroids over ALL vectors
    AnnIndex.writeIncBase(base, emb, "r11ref", nClusters = 8, iters = 5)
    val q = emb.where(col("vec_id") < 10)
    val got = AnnIndex.queryTables(spark, "graft_anni_cent_r11inc",
      "graft_anni_cells_r11inc", q, 5).collect().map(_.toString).toSeq
    val want = AnnIndex.queryTables(spark, "graft_anni_cent_r11ref",
      "graft_anni_cells_r11ref", q, 5).collect().map(_.toString).toSeq
    assert(got == want)
    // compaction: a NEW table with one file per bucket, same rows,
    // same answers; the source table is untouched (it is the recovery
    // path if the compaction write dies) and the serving pointer swaps
    val rowsBefore = spark.table("graft_anni_cells_r11inc").count()
    val cellsC = AnnIndex.compact(spark, "r11inc")
    assert(cellsC != "graft_anni_cells_r11inc")
    assert(spark.table(cellsC).count() == rowsBefore)
    assert(snap == after, "compaction must not touch the source table")
    val locC = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        cellsC)).location.toString))
    val filesAfter = locC.listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesAfter <= 8, s"compaction must leave <= 1 file/bucket, got $filesAfter")
    assert(filesAfter < after.size, "compaction must shrink the file count")
    val gotC = AnnIndex.queryTables(spark, "graft_anni_cent_r11inc",
      cellsC, q, 5).collect().map(_.toString).toSeq
    assert(gotC == want, "compaction must not change a single answer")
    assert(AnnIndex.servingTables("r11inc") ==
      ("graft_anni_cent_r11inc", cellsC),
      "the serving pointer must track the compaction swap")
  }

  test("ANN increment drift: counts partition the corpus, ppm positive") {
    val d = graft.sources.AnnIndex.annIncrementDrift(spark, sf0001)
      .collect()(0)
    assert(d.getLong(0) + d.getLong(1) ==
      Tables.embeddings(spark, sf0001).count())
    assert(d.getLong(4) > 0L) // drift_ppm
  }

  private def tableFiles(t: String): Set[(String, Long, Long)] = {
    val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .location.toString))
    loc.listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ------------------------------------------------ ANN rebuild

  test("ANN rebuild: equals a from-scratch build over base∪delta; " +
    "old tables untouched; serving pointer swaps") {
    import graft.sources.AnnIndex
    val emb = Tables.embeddings(spark, sf0001)
    val cut = AnnIndex.incCut(spark, sf0001)
    val base = emb.where(col("vec_id") < cut)
    AnnIndex.writeIncBase(base, base, "r12rb", nClusters = 8, iters = 5)
    AnnIndex.appendDelta(spark, "r12rb", emb.where(col("vec_id") >= cut))
    val beforeCent = tableFiles("graft_anni_cent_r12rb")
    val beforeCells = tableFiles("graft_anni_cells_r12rb")
    val (centR, cellsR) = AnnIndex.rebuild(spark, "r12rb", 8, 5)
    assert(centR.startsWith("graft_annr_cent_r12rb") &&
      cellsR.startsWith("graft_annr_cells_r12rb"))
    // the superseded index is the recovery path — never rewritten
    assert(tableFiles("graft_anni_cent_r12rb") == beforeCent)
    assert(tableFiles("graft_anni_cells_r12rb") == beforeCells)
    // the atomic swap: production probes now read the rebuilt tables
    assert(AnnIndex.servingTables("r12rb") == ((centR, cellsR)))
    // rebuilt state ≡ from-scratch writeIncBase over base∪delta:
    // same centroids table, same probe answers
    AnnIndex.writeIncBase(emb, emb, "r12ref", nClusters = 8, iters = 5)
    assert(rows(spark.table(centR)) ==
      rows(spark.table("graft_anni_cent_r12ref")),
      "retrained centroids must equal the from-scratch Lloyd run")
    assert(rows(spark.table(cellsR)) ==
      rows(spark.table("graft_anni_cells_r12ref")),
      "re-encoded postings must equal the from-scratch assignment")
    val q = emb.where(col("vec_id") < 10)
    val got = AnnIndex.queryTables(spark, centR, cellsR, q, 5)
      .collect().map(_.toString).toSeq
    val want = AnnIndex.queryTables(spark, "graft_anni_cent_r12ref",
      "graft_anni_cells_r12ref", q, 5).collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("ANN maintain consumes the tripwire: drifted delta → rebuild, " +
    "in-distribution delta → keep") {
    import graft.sources.{AnnIndex, StagedTags}
    // synthetic corpus: base = the fixture, delta shifted +10 per
    // coordinate — a fresh delta far from the frozen base-trained
    // centroids, so quantization error explodes and drift fires
    val emb = Tables.embeddings(spark, sf0001)
    val cut = AnnIndex.incCut(spark, sf0001)
    val dir = TempDirs.scratchString("graft_r12_drift_")
    emb.withColumn("embedding",
        when(col("vec_id") >= lit(cut),
          expr("transform(embedding, x -> x + cast(10.0 as float))"))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rep = AnnIndex.annMaintain(spark, dir).collect()(0)
    assert(rep.getAs[Boolean]("rebuild_due"),
      s"shifted delta must trip the drift wire: $rep")
    assert(rep.getAs[String]("action") == "rebuild")
    // the rebuild runs on a DEDICATED maintenance family —
    // the shared increment tag's serving pointer must stay untouched,
    // so a later compact on it still pairs matching centroid/posting
    // tables (rebuilding the shared tag would swap its pointer and
    // poison annCompactReport's frozen-centroid pinning)
    val shared = StagedTags.tagOf(s"$dir#8#5")
    assert(AnnIndex.servingTables(shared) ==
      ((s"graft_anni_cent_$shared", s"graft_anni_cells_$shared")),
      "shared increment tag must not be rebuilt or swapped by maintain")
    val mt = AnnIndex.maintainTag(dir)
    val (centS, cellsS) = AnnIndex.servingTables(mt)
    assert(centS.startsWith(s"graft_annr_cent_$mt") &&
      cellsS.startsWith(s"graft_annr_cells_$mt"))
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(rows(spark.table(centS)) ==
      rows(operators.Clustering.lloydCentroids(all, 8, 5)))
    // the decision is memoized per (dir, params) — the
    // tripwire never clears (it always compares against the frozen
    // anni centroids), so without the memo every call would retrain
    // and write fresh _g<N> generations
    val rep2x = AnnIndex.annMaintain(spark, dir).collect()(0)
    assert(rep2x.getAs[String]("action") == "rebuild")
    assert(AnnIndex.servingTables(mt) == ((centS, cellsS)),
      "repeat maintain must not retrain: serving pointer unchanged")
    // in-distribution delta (the fixture): the tripwire stays quiet
    // and nothing is rebuilt
    val rep2 = AnnIndex.annMaintain(spark, sf0001).collect()(0)
    assert(!rep2.getAs[Boolean]("rebuild_due"))
    assert(rep2.getAs[String]("action") == "keep")
  }

  test("repeat maintenance on one tag: each round writes a NEW table, " +
    "answers unchanged, pointer tracks") {
    import graft.sources.AnnIndex
    val emb = Tables.embeddings(spark, sf0001)
    val cut = AnnIndex.incCut(spark, sf0001)
    AnnIndex.writeIncBase(emb.where(col("vec_id") < cut),
      emb.where(col("vec_id") < cut), "r12mx", nClusters = 8, iters = 5)
    AnnIndex.appendDelta(spark, "r12mx", emb.where(col("vec_id") >= cut))
    val q = emb.where(col("vec_id") < 10)
    def probe(): Seq[String] = {
      val (c, p) = AnnIndex.servingTables("r12mx")
      AnnIndex.queryTables(spark, c, p, q, 5).collect().map(_.toString).toSeq
    }
    val before = probe()
    // compact → rebuild → compact again: the second compact reads the
    // REBUILT postings through the pointer and must not overwrite them
    // (each maintenance round gets its own _g<N> table)
    val c1 = AnnIndex.compact(spark, "r12mx")
    assert(probe() == before)
    val (centR, cellsR) = AnnIndex.rebuild(spark, "r12mx", 8, 5)
    assert(cellsR != c1)
    val afterRebuild = probe() // full-retrain answers (may differ)
    val c2 = AnnIndex.compact(spark, "r12mx")
    assert(c1 != c2, "each compaction must write a fresh table")
    assert(AnnIndex.servingTables("r12mx") == ((centR, c2)))
    assert(probe() == afterRebuild,
      "compaction after a rebuild must not change an answer")
  }
}
