package graft

/** The plan-snapshot canonicalization (`normalize`, `canonGid`,
  * `canonDeep`) and the per-gate fingerprint step of `PlanSnapshot.main`.
  */
class PlanSnapshotSpec extends SparkSpec {

  // ---------------------------------------------------- canonGid
  // RewriteDistinctAggregates' labeling freedom is exactly: which gid
  // integer tags which distinct-group projection, and the enumeration
  // order of the projections. Both must collapse; anything else on
  // the line must stay digest-visible.

  test("canonGid: the two legal gid labelings collapse to one string") {
    val a = "Expand [[a#x, null, 1], [null, b#x, 2]], [a#x, b#x, gid#x]"
    val b = "Expand [[null, b#x, 1], [a#x, null, 2]], [a#x, b#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
  }

  test("canonGid: output-list and intermediate-key permutations collapse") {
    // the rewrite also permutes INTERIOR attributes of the Expand
    // output list and the downstream aggregate key lists (the q21
    // full-sweep residual flake) — segments outside the projection
    // region sort, so a permutation that keeps the bracket-edge
    // segments fixed collapses (two identical-code full sweeps agree
    // on all 413 digests under exactly this rule)
    val a = "Expand [[a#x, null, 1]], [o#x, a#x, b#x, gid#x]"
    val b = "Expand [[a#x, null, 1]], [o#x, b#x, a#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
    val c = "HashAggregate(keys=[k#x, a#x, b#x, gid#x], functions=[])"
    val d = "HashAggregate(keys=[k#x, b#x, a#x, gid#x], functions=[])"
    assert(PlanSnapshot.canonGid(c) == PlanSnapshot.canonGid(d))
  }

  test("canonGid: gid filter predicates normalize across labelings") {
    val a = "HashAggregate [count(if ((gid#x = 1)) c#x else null)]"
    val b = "HashAggregate [count(if ((gid#x = 2)) c#x else null)]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
    // and a line with no projection list keeps everything else verbatim
    assert(PlanSnapshot.canonGid(a).contains("count(if ((gid#x = n)) c#x"))
  }

  test("canonGid: a changed NON-trailing projection constant still flips") {
    val a = "Expand [[a#x, 5, 1]], [a#x, c#x, gid#x]"
    val b = "Expand [[a#x, 6, 1]], [a#x, c#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(b))
  }

  test("canonGid: reordered columns WITHIN a projection still flip") {
    // a whole-line segment sort collapsed these (over-normalization);
    // the narrowed form keeps within-group order digest-visible
    val a = "Expand [[a#x, b#x, 1]], [a#x, b#x, gid#x]"
    val b = "Expand [[b#x, a#x, 1]], [a#x, b#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(b))
  }

  test("canonGid: nested brackets never split a projection group") {
    val a = "Expand [[map_keys(m#x)[0], x, 1], [cast(y as array<int>)[1], null, 2]], [o#x, gid#x]"
    val b = "Expand [[cast(y as array<int>)[1], null, 1], [map_keys(m#x)[0], x, 2]], [o#x, gid#x]"
    val ca = PlanSnapshot.canonGid(a)
    assert(ca == PlanSnapshot.canonGid(b))
    // the nested index literals survive (only the TRAILING gid is erased)
    assert(ca.contains("map_keys(m#x)[0]") && ca.contains("[1]"))
  }

  test("normalize: truncated renders are id-width-shift stable") {
    // the SAME logical filter rendered with 3- vs 5-digit expr ids
    // truncates at a shifted point; both must normalize identically
    val plan = (frag: String) =>
      s"+- FileScan parquet [doc_id#x] DataFilters: [(size(filter(transform(split(text#x, x, -1), $frag..., Format: Parquet"
    val n1 = PlanSnapshot.normalize(plan("lambdafunction(lower(regexp_extra"))
    val n2 = PlanSnapshot.normalize(plan("lambdafunction(lower(regexp_ex"))
    assert(n1 == n2 && n1.head.endsWith("..."))
    // untruncated lines stay verbatim
    assert(PlanSnapshot.normalize("+- Filter (a#1L > 5)").head ==
      "+- Filter (a#x > 5)")
  }

  test("canonGid: projection multiset changes flip the digest") {
    val a = "Expand [[a#x, null, 1], [null, b#x, 2]], [a#x, b#x, gid#x]"
    val b = "Expand [[a#x, null, 1], [null, c#x, 2]], [a#x, b#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(b))
  }

  // ------------------------------------------ truncated-render guard

  test("canonGid: mixed distinct+regular layout (gid NOT trailing) " +
    "collapses across labelings") {
    // two countDistinct groups + a regular-agg column AFTER the gid —
    // the rec_eval shape; the rewrite may tag either distinct group 1
    val a = "Expand [[CASE WHEN (hit#x = 1) THEN custkey#x END, null, " +
      "1, null], [null, custkey#x, 2, null], [null, null, 0, " +
      "coalesce(hit#x, 0)]], [CASE#x, custkey#x, gid#x, coalesce#x]"
    val b = "Expand [[null, custkey#x, 1, null], [CASE WHEN (hit#x = " +
      "1) THEN custkey#x END, null, 2, null], [null, null, 0, " +
      "coalesce(hit#x, 0)]], [CASE#x, custkey#x, gid#x, coalesce#x]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
    // a changed NON-gid constant in a group still flips
    val c = a.replace("coalesce(hit#x, 0)]]", "coalesce(hit#x, 1)]]")
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(c))
  }

  test("canonGid: the FULL labeling swap (output list + group columns " +
    "permute together) collapses") {
    // the q21 residual: relabeling reorders the Expand output
    // attributes, and every group's internal layout follows
    val a = "Expand [[k#x, CASE WHEN late#x THEN s#x END, null, 1], " +
      "[k#x, null, s#x, 2]], " +
      "[k#x, CASE WHEN late THEN s END#x, s#x, gid#x]"
    val b = "Expand [[k#x, s#x, null, 1], " +
      "[k#x, null, CASE WHEN late#x THEN s#x END, 2]], " +
      "[k#x, s#x, CASE WHEN late THEN s END#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
    // same output order but a genuinely different group layout flips
    val c = a.replace("[k#x, null, s#x, 2]", "[null, k#x, s#x, 2]")
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(c))
  }

  test("normalize: early '…' falls back to a position-independent cut") {
    // a line whose '…' lands before column 48 (e.g. a path collapse
    // shrank it) must not cut at the id-width-sensitive index — it
    // coarsens to the first token
    val early = Seq("Scan parquet x... tail").mkString
    val got = PlanSnapshot.normalize(early)
    assert(got == Seq("Scan..."))
    // the standard case still cuts at the 48-char word boundary
    val long = "PushedFilters: [IsNotNull(a), EqualTo(b, 12), GreaterThan(c, 5)] and more te... x"
    val g2 = PlanSnapshot.normalize(long).head
    assert(g2.endsWith("...") && g2.length <= 51)
  }

  // The customer_rec_eval residual digest flake (full-sweep bimodal,
  // isolated-stable): RewriteDistinctAggregates permutes the key lists
  // of the intermediate HashAggregate/Exchange lines, and the old flat
  // ", " segment sort attached structural prefixes (`keys=[`,
  // `hashpartitioning(`) to whichever attribute came first — permuted
  // lists produced different fragment MULTISETS, which no sort can
  // undo. canonDeep sorts each comma list at its own nesting depth.

  test("canonDeep: prefix-attached key-list permutations collapse") {
    val a = "HashAggregate(keys=[custkey#x, CASE WHEN (hit = 1L) THEN " +
      "custkey END#x, gid#x], functions=[sum(coalesce(hit, 0L))], " +
      "output=[custkey#x, sum#x])"
    val b = "HashAggregate(keys=[CASE WHEN (hit = 1L) THEN custkey " +
      "END#x, custkey#x, gid#x], functions=[sum(coalesce(hit, 0L))], " +
      "output=[custkey#x, sum#x])"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
    val c = "Exchange hashpartitioning(custkey#x, CASE WHEN (hit = 1L) " +
      "THEN custkey END#x, gid#x, 8), ENSURE_REQUIREMENTS"
    val d = "Exchange hashpartitioning(CASE WHEN (hit = 1L) THEN " +
      "custkey END#x, custkey#x, gid#x, 8), ENSURE_REQUIREMENTS"
    assert(PlanSnapshot.canonGid(c) == PlanSnapshot.canonGid(d))
  }

  test("canonDeep: a changed element multiset still flips") {
    val a = "HashAggregate(keys=[a#x, b#x, gid#x], functions=[count(x#x)])"
    val b = "HashAggregate(keys=[a#x, c#x, gid#x], functions=[count(x#x)])"
    assert(PlanSnapshot.canonGid(a) != PlanSnapshot.canonGid(b))
    // and a changed literal inside a nested call flips too
    val c = "HashAggregate(keys=[a#x, gid#x], functions=[sum(coalesce(h, 0L))])"
    val d = "HashAggregate(keys=[a#x, gid#x], functions=[sum(coalesce(h, 1L))])"
    assert(PlanSnapshot.canonGid(c) != PlanSnapshot.canonGid(d))
  }

  test("canonDeep: unbalanced (truncated) input stays deterministic") {
    val t = "HashAggregate(keys=[a#x, gid#x], functions=[sum(coal..."
    assert(PlanSnapshot.canonGid(t) == PlanSnapshot.canonGid(t))
  }

  // Expand-output tie-break: duplicate #x-erased output
  // names must not fall back to original relative order — the sorted
  // multiset of each column's per-group content breaks the tie in a
  // labeling-independent way.
  test("canonGid: duplicate output names tie-break by group content") {
    val a = "Expand [[a#x, null, 1], [null, b#x, 2]], [n#x, n#x, gid#x]"
    val b = "Expand [[null, a#x, 1], [b#x, null, 2]], [n#x, n#x, gid#x]"
    assert(PlanSnapshot.canonGid(a) == PlanSnapshot.canonGid(b))
  }

  test("fingerprint: a throwing query records its exception class") {
    val err = new java.io.ByteArrayOutputStream()
    val fp = Console.withErr(err) {
      PlanSnapshot.fingerprint("boom", full = false)(
        throw new IllegalStateException("no plan for you"))
    }
    assert(fp == "ERROR java.lang.IllegalStateException")
    assert(err.toString.contains(
      "[plansnap] boom failed: java.lang.IllegalStateException: no plan for you"))
    // a query that fails analysis records Spark's own exception class
    val missing = PlanSnapshot.fingerprint("missing", full = false)(
      spark.table("graft_no_such_table"))
    assert(missing.startsWith("ERROR ") && missing.contains("AnalysisException"))
    // a query that plans records a digest, not an error
    val ok = PlanSnapshot.fingerprint("range", full = false)(spark.range(3).toDF())
    assert(!ok.startsWith("ERROR") && ok.nonEmpty)
  }

  test("paths: a default run writes under target/, never over the committed file") {
    assert(PlanSnapshot.outPath(Map.empty, "/repo") == "/repo/target/PLAN_SNAPSHOT.json")
    assert(PlanSnapshot.outPath(Map("SPARK_GRAFT_PLAN_OUT" -> "/x/plans.json"), "/repo") ==
      "/x/plans.json")
  }

  test("arguments: all gates in name order, or the named ones; a typo fails") {
    assert(PlanSnapshot.parseArgs(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    assert(PlanSnapshot.parseArgs(Seq("wordcount", "q1_pricing", "wordcount")) ==
      Seq("q1_pricing", "wordcount"))
    val typo = intercept[IllegalArgumentException](
      PlanSnapshot.parseArgs(Seq("wordcount", "wordcuont")))
    assert(typo.getMessage.contains("wordcuont"))
  }
}
