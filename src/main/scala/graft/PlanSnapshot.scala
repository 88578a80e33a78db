package graft

/** Plan-shape snapshot main: for every SparkEntry query, record a
  * NORMALIZED physical-plan skeleton (operator names in tree order,
  * with expression ids, codegen ids, session-unique table tags and
  * temp paths stripped) plus a stable digest of it. Written as JSON to
  * [[outPath]]; the committed `PLAN_SNAPSHOT.json` changes only when a
  * run's file is copied over it on purpose.
  *
  * Purpose: the bench map catches TIME regressions; this catches PLAN
  * regressions that timing noise hides at bench SF but that kill a
  * 100 TB run — a broadcast join silently degrading to sort-merge, a
  * lost partial aggregate, a new exchange. Diff two snapshots with
  * `tools/plandiff.py`; only queries whose skeleton digest changed
  * need a human look.
  *
  * Spark's `RewriteDistinctAggregates` numbers the gid groups of a
  * multi-`countDistinct` aggregate from hash-collection iteration: per
  * JVM, and semantically irrelevant. [[canonGid]] canonicalizes only
  * what that labeling touches (the `gid#x = k` literals, each Expand
  * group's gid tag, the order of the groups); within-group column
  * order, other constants and every non-gid line stay verbatim, so a
  * real plan change still flips the digest. NOTES "Plan snapshot:
  * keeping digests stable" lists the rules.
  */
object PlanSnapshot {
  /** Strip everything session- or data-dependent from a plan line so
    * the skeleton is stable across runs: expr ids (#123), codegen
    * stage ids, plan node ids "(42)", staged table tags, temp dirs,
    * statistics, and sizes.
    */
  private[graft] def normalize(plan: String): Seq[String] =
    plan.linesIterator.map { raw =>
      raw
        .replaceAll("#\\d+L?", "#x")
        // typed operators (CoGroup, MapPartitions, AppendColumns) print
        // the JVM lambda identity — index, hidden-class address, object
        // hash all change per run; strip to the owning class
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")
        .replaceAll("@[0-9a-f]{6,10}\\b", "@OBJ")
        // higher-order-function lambda variables carry a SESSION-global
        // counter (lambda x_247) that shifts when any query is added
        // before this one in the sweep — name, not identity
        .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1")
        .replaceAll("\\(\\d+\\)", "")
        .replaceAll("\\[id=#x\\]", "")
        .replaceAll("\\[plan_id=\\d+\\]", "")
        .replaceAll("(graft_ddx_\\w+?_)[0-9a-f]+", "$1TAG")
        .replaceAll("(graft_ann[xirc]?_\\w+?_)[0-9a-f]+", "$1TAG")
        // maintenance-generation suffix (_g<N> on compacted/rebuilt
        // ANN tables): the counter is per-JVM — a second maintenance
        // round on one tag would shift every later generation number
        // and flip digests that are plan-identical
        .replaceAll("(_TAG)_g\\d+", "$1_gN")
        .replaceAll("(graft_bkt_\\w+?_)[0-9a-f]+", "$1TAG")
        .replaceAll("(graft_cfx_\\w+?_)[0-9a-f]+", "$1TAG")
        .replaceAll("(graft_cfi_\\w+?_)[0-9a-f]+", "$1TAG")
        .replaceAll("(graft_cfp_\\w+?_)[0-9a-f]+", "$1TAG")
        .replaceAll("/tmp/\\S*", "/tmp/PATH")
        .replaceAll("file:/\\S*", "file:PATH")
        .replaceAll("Statistics\\(.*?\\)", "Statistics()")
        .replaceAll("size=\\S+", "size=N")
        .replaceAll("rowCount=\\S+", "rowCount=N")
        .trim
    }.map { l =>
      // Spark truncates long field renders (DataFilters, …) at a fixed
      // RENDERED width, and the cut point shifts with expr-id DIGIT
      // COUNT — which depends on how many expressions the session
      // allocated before this query, i.e. on which OTHER queries exist
      // (observed: adding 4 queries moved the '…' by one char in three
      // dedup scans and flipped their digests). Truncated lines
      // canonicalize to a fixed 48-char prefix cut back to a word
      // boundary — stable under an id-width shift as long as the
      // normalized '…' stays past the cut (rendered truncation sits at
      // ~100 chars, id normalization shrinks ≤ ~30, so i ≥ ~70 ≫ 48);
      // the untruncated detail lives in full mode + live-plan audits.
      val i = l.indexOf("...")
      if (i < 0) l
      else if (i >= 48) l.take(48).replaceAll("\\S*$", "") + "..."
      // ADVICE r11 guard: an early '…' (a path/token substitution that
      // shrank the line more than the ~30-char id-normalization bound,
      // or a literal '...' in plan text) would make take(i) id-width-
      // sensitive again — coarsen to the first token (the operator
      // name: always complete, position-independent) instead
      else l.takeWhile(!_.isWhitespace) + "..."
    }.map { l =>
      if (l.contains("gid#x")) canonGid(l) else l
    }.filter(_.nonEmpty)
      // keep only the operator skeleton: the tree lines, not the
      // "(42) Project ..." detail sections of the formatted dump
      .takeWhile(l => !l.startsWith("= Subqueries ="))
      .toSeq

  /** Depth-aware recursive comma-list canonicalization for gid-bearing
    * NON-Expand lines (r13, the customer_rec_eval residual): the old
    * flat `", "` split sheared inside parens AND attached structural
    * prefixes (`keys=[`, `output=[`, `hashpartitioning(`) to whichever
    * attribute the labeling happened to put first — so two permuted
    * key lists produced different fragment MULTISETS and the segment
    * sort could not undo them. Here every bracket/paren group's
    * content is canonicalized recursively and each level's top-level
    * comma list is sorted; a permutation at any depth canonicalizes
    * identically, while a changed element multiset still flips.
    * Unbalanced input (truncated lines) stays deterministic: an
    * unclosed group simply canonicalizes to its end.
    *
    * ACCEPTED FALSE-NEGATIVE CLASS (ADVICE r13): because paren groups
    * are sorted too, a genuine argument-ORDER change whose multiset is
    * unchanged — f(x, 1, 2) vs f(x, 2, 1) — canonicalizes identically
    * on gid-bearing lines. Parens cannot be exempted: the r13 flake
    * lived in `hashpartitioning(…)`/`keys=[…]` PAREN groups whose key
    * lists the labeling permutes, so order-preserving parens would
    * reintroduce the 1-in-3 digest flip. The exposure is narrow (only
    * the handful of gid-bearing countDistinct-rewrite lines, where
    * argument lists are attribute sets, not positional expressions)
    * and bounded: any added/removed/renamed argument still flips.
    */
  private[graft] def canonDeep(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val b = new StringBuilder
    var dep = 0
    s.foreach { ch =>
      if (ch == ',' && dep == 0) { parts += b.toString; b.clear() }
      else {
        if (ch == '[' || ch == '(') dep += 1
        else if (ch == ']' || ch == ')') dep -= 1
        b.append(ch)
      }
    }
    parts += b.toString
    def one(seg: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < seg.length) {
        val ch = seg(i)
        if (ch == '[' || ch == '(') {
          val close = if (ch == '[') ']' else ')'
          var d = 1
          var j = i + 1
          while (j < seg.length && d > 0) {
            val c = seg(j)
            if (c == '[' || c == '(') d += 1
            else if (c == ']' || c == ')') d -= 1
            j += 1
          }
          val inner = seg.substring(i + 1, if (d == 0) j - 1 else j)
          sb.append(ch).append(canonDeep(inner))
          if (d == 0) sb.append(close)
          i = j
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }
    // strip SPACES only — trim would also eat the fallback path's
    // control-character projection marker at a segment edge
    def stripSp(x: String): String =
      x.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    parts.map(p => one(stripSp(p))).sorted.mkString(", ")
  }

  /** Canonicalize one gid-bearing plan line (see object scaladoc).
    * The rewrite's labeling freedom shows up in THREE places, each
    * treated as narrowly as it allows:
    *
    *  1. `gid#x = k` filter literals → `n` (pure renumbering);
    *  2. a well-formed `Expand [[…], …], [output]` line: the labeling
    *     freedom permutes the OUTPUT attribute list and with it every
    *     group's internal column order (the q21 residual) and the gid
    *     tag values (round 10's finding) — and when countDistinct
    *     co-occurs with regular aggregates the tag is not even the
    *     trailing group element (the customer_rec_eval residual). So:
    *     erase each group's tag at the gid column's output position,
    *     sort the output attributes, apply the SAME permutation to
    *     every group, then sort the groups. Only the output-induced
    *     permutation is undone — a changed expression, constant, or
    *     multiset still flips. Bracket/paren depth is tracked so
    *     commas inside nested expressions never split an element.
    *     Lines that don't parse (no `gid#x` output column, arity
    *     mismatch) fall back to positional-or-trailing tag erase +
    *     group sort + segment sort around the region;
    *  3. everything OUTSIDE the projection list on bracketless lines —
    *     the intermediate HashAggregate/Exchange key lists that
    *     inherit the rewrite's group enumeration order — has its comma
    *     segments sorted (attributes are all `#x`-normalized names, so
    *     only their PERMUTATION varies; a multiset change still
    *     flips).
    */
  private[graft] def canonGid(line: String): String = {
    val norm = line.replaceAll("gid#x = \\d+", "gid#x = n")
    def sortSegs(s: String): String = canonDeep(s)
    val open = norm.indexOf("[[")
    if (open < 0) return sortSegs(norm)
    // find the matching close of the outer '[' at `open`
    var depth = 0; var i = open; var end = -1
    while (i < norm.length && end < 0) {
      norm(i) match {
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) end = i
        case _   => ()
      }
      i += 1
    }
    if (end < 0) return sortSegs(norm)
    val inner = norm.substring(open + 1, end)
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var d = 0
    inner.foreach { ch =>
      if (ch == ',' && d == 0) { parts += sb.toString.trim; sb.clear() }
      else {
        if (ch == '[') d += 1 else if (ch == ']') d -= 1
        sb.append(ch)
      }
    }
    if (sb.nonEmpty) parts += sb.toString.trim
    // Split a comma list at depth 0 of BOTH bracket kinds: attribute
    // names and projection expressions can carry commas inside parens
    // (`coalesce(hit, 0L)#x`), which a plain ", " split would shear.
    def splitTop(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val b = new StringBuilder
      var dep = 0
      s.foreach { ch =>
        if (ch == ',' && dep == 0) { out += b.toString.trim; b.clear() }
        else {
          if (ch == '[' || ch == '(') dep += 1
          else if (ch == ']' || ch == ')') dep -= 1
          b.append(ch)
        }
      }
      if (b.nonEmpty) out += b.toString.trim
      out.toSeq
    }
    // The gid tag's POSITION inside each projection group = the gid
    // column's position in the Expand OUTPUT list that follows the
    // region. When countDistinct co-occurs with regular aggregates the
    // rewrite lays groups out as [distinct-cols…, gid, regular-cols…] —
    // the tag is NOT trailing (the customer_rec_eval residual flake;
    // the round-11 trailing-erase only covered the pure-countDistinct
    // layout, where gid happens to be last).
    val tail = norm.substring(end + 1)
    val oOpen = tail.indexOf('[')
    val oClose: Int = if (oOpen < 0) -1 else {
      var d2 = 0; var j = oOpen; var e2 = -1
      while (j < tail.length && e2 < 0) {
        tail(j) match {
          case '[' => d2 += 1
          case ']' => d2 -= 1; if (d2 == 0) e2 = j
          case _   => ()
        }
        j += 1
      }
      e2
    }
    val output: Seq[String] =
      if (oOpen < 0 || oClose < 0) Seq.empty
      else splitTop(tail.substring(oOpen + 1, oClose))
    val gidIdx = output.indexWhere(_ == "gid#x")
    val groupsE = parts.map(p =>
      splitTop(p.stripPrefix("[").stripSuffix("]"))).toSeq
    // STRUCTURED path (a well-formed `Expand [[g1], ...], [output]`
    // line): the relabeling freedom permutes the OUTPUT attribute list
    // and, with it, every group's internal column order (the q21
    // residual -- round 11's segment sort scrambled the line instead
    // of undoing the permutation). Canonicalize by sorting the output
    // attributes and applying the SAME permutation to every group,
    // after erasing each group's gid tag at the gid column's position.
    // A genuine content change (a different expression or constant, a
    // changed multiset) still flips, because only the output-induced
    // permutation is undone.
    val structured = gidIdx >= 0 &&
      groupsE.nonEmpty && groupsE.forall(_.length == output.length) &&
      tail.take(oOpen).trim == "," && tail.drop(oClose + 1).trim.isEmpty
    if (structured) {
      val erased = groupsE.map { g =>
        if (g(gidIdx).nonEmpty && g(gidIdx).forall(_.isDigit))
          g.updated(gidIdx, "n")
        else g
      }
      // Tie-break duplicate output names by CONTENT, not original
      // position (ADVICE r12): when two output attributes normalize to
      // the same #x-erased name, a stable sort preserves the original
      // relative order — which is exactly the labeling freedom being
      // undone. The sorted multiset of each column's per-group values
      // is labeling-independent (group order is itself free, so the
      // multiset is sorted); columns with identical multisets are
      // content-indistinguishable and either order yields the same
      // canonical string once the groups are sorted below.
      val perm = output.indices.sortBy(i =>
        (output(i), erased.map(g => g(i)).sorted.mkString(" ")))
      val outC = perm.map(output)
      val groupsC = erased.map(g => perm.map(g).mkString("[", ", ", "]"))
        .sorted
      norm.substring(0, open) +
        "[" + groupsC.mkString(", ") + "], [" + outC.mkString(", ") + "]"
    } else {
      // fallback (no gid output column / arity mismatch / extra text):
      // positional-or-trailing tag erase + segment sort around a marker
      def eraseGid(group: String): String = {
        val elems = splitTop(group.stripPrefix("[").stripSuffix("]"))
        if (gidIdx >= 0 && gidIdx < elems.length &&
            elems(gidIdx).nonEmpty && elems(gidIdx).forall(_.isDigit))
          "[" + elems.updated(gidIdx, "n").mkString(", ") + "]"
        else group.replaceAll(", \\d+\\]$", ", n]")
      }
      val region = "[" + parts.map(eraseGid).sorted.mkString(", ") + "]"
      val marker = "\u0001PROJ\u0001" // control char: never in plan text
      sortSegs(norm.substring(0, open) + marker + norm.substring(end + 1))
        .replace(marker, region)
    }
  }

  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** One gate's entry: the digest of `query`'s normalized executed
    * plan, or with `full` the normalized skeleton itself. A query that
    * fails to build or plan records `ERROR <exception class>` and
    * prints the class and message to stderr.
    */
  private[graft] def fingerprint(name: String, full: Boolean)(
      query: => org.apache.spark.sql.DataFrame): String =
    Driver.attempt("plansnap", name) {
      val p = query.queryExecution.executedPlan.toString
      if (full) normalize(p).mkString("\n") else digest(normalize(p))
    }.fold(cls => s"ERROR $cls", identity)

  /** `SPARK_GRAFT_PLAN_OUT`, else the gitignored `target/` copy: a run
    * never rewrites the committed snapshot.
    */
  private[graft] def outPath(env: Map[String, String], cwd: String): String =
    env.getOrElse("SPARK_GRAFT_PLAN_OUT", s"$cwd/target/PLAN_SNAPSHOT.json")

  /** All gates, or the named ones (a flake-chasing aid), in name order;
    * an unregistered name fails before Spark starts.
    */
  private[graft] def parseArgs(args: Seq[String]): Seq[String] =
    if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
    else Driver.select(args.distinct.sorted)

  def main(args: Array[String]): Unit = {
    val names = parseArgs(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Driver.session("graft-plansnap", 8, "ERROR")
    // SPARK_GRAFT_PLAN_FULL=1: write the normalized skeletons instead
    // of digests — the debug mode for chasing a digest instability
    val full = sys.env.get("SPARK_GRAFT_PLAN_FULL").contains("1")
    val json = Json.obj(names.map { name =>
      name -> Json.quote(fingerprint(name, full)(SparkEntry.queries(name)(spark, sfDir)))
    })
    val out = java.nio.file.Paths.get(
      outPath(sys.env, sys.props.getOrElse("user.dir", ".")))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(s"[plansnap] wrote ${names.size} plan digests to $out")
    spark.stop()
  }
}
