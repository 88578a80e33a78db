package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source audit for the staging layer: every derive-once memo goes
  * through [[graft.sources.SessionCache]]'s two scopes. A hand-rolled
  * `computeIfAbsent` map or `ConcurrentHashMap` anywhere else in
  * `src/main/scala` picks its own key, lifetime and concurrency rule —
  * the drift the staging module exists to end — so it fails here
  * unless it is named below with the reason it is not a memo. Likewise
  * every checkpoint is freed through [[graft.operators.Iterate]]'s one
  * `release`, and every hand-rolled `TypedImperativeAggregate` is named
  * with the reason no Spark built-in serves. A session conf is set
  * only by [[graft.GraftConf.scoped]], and a file's modification time
  * only by [[graft.streaming.StagedFiles]]. Specs live in per-family
  * suites, and every root record a source or tool names still exists.
  */
class StagingAuditSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** Files that may hold maps outright. */
  private val allowedFiles = Set(
    "sources/SessionCache.scala", // the staging module itself
    "BenchMetrics.scala")         // listener counters, not memos

  /** file -> map names allowed in it. */
  private val allowedNames = Map(
    // the serving pointer and the generation counter are state that
    // maintenance mutates, not derive-once values
    "sources/AnnIndex.scala" -> Set("current", "gens"),
    // executor-static kernel table, rebuilt per deserialized instance
    "functions/expressions.scala" -> Set("planeCache"))

  private val MapUse =
    """computeIfAbsent\(|new\s+(java\.util\.concurrent\.)?ConcurrentHashMap""".r
  private val Owner = """val\s+(\w+)\s*[:=]|(\w+)\.computeIfAbsent\(""".r

  /** (path under `root`, lines) for every Scala source. */
  private lazy val sources: Seq[(String, IndexedSeq[String])] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (root.relativize(f).toString.replace('\\', '/'),
        java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq))
  }

  /** (file, owning name, line) for every map use under `root`. */
  private lazy val hits: Seq[(String, String, String)] =
    sources.flatMap { case (rel, lines) =>
      lines.indices.filter(i => MapUse.findFirstIn(lines(i)).isDefined)
        .map { i =>
          // the name sits on the hit line or on the declaration above
          val ctx = (if (i > 0) lines(i - 1) + " " else "") + lines(i)
          val owner = Owner.findAllMatchIn(ctx).toSeq.lastOption
            .map(m => Option(m.group(1)).getOrElse(m.group(2)))
            .getOrElse("?")
          (rel, owner, lines(i).trim)
        }
    }

  test("no derive-once map outside the staging module and the allowlist") {
    assert(hits.exists(_._1 == "sources/SessionCache.scala"),
      s"audit scanned nothing under $root")
    val stray = hits.filterNot { case (file, owner, _) =>
      allowedFiles(file) || allowedNames.get(file).exists(_(owner))
    }
    assert(stray.isEmpty,
      "route these memos through SessionCache.perSession/perContext:\n" +
        stray.map { case (f, o, l) => s"  $f ($o): $l" }.mkString("\n"))
  }

  /** Fails on a line matching `pattern` in any file but `owner`, naming
    * each as `file:line`; `owner` must itself match (the audit cannot
    * pass by scanning nothing).
    */
  private def assertOnlyIn(owner: String, pattern: String, fix: String): Unit = {
    val re = pattern.r
    val found = sources.flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).isDefined => (rel, i + 1, l.trim)
      }
    }
    assert(found.exists(_._1 == owner), s"audit found no $pattern in $owner under $root")
    val stray = found.filterNot(_._1 == owner)
    assert(stray.isEmpty,
      s"$fix:\n" + stray.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
  }

  test("no unpersist or checkpoint-file handling outside the round-loop module") {
    assertOnlyIn("operators/Iterate.scala", """unpersist\(|getCheckpointFile""",
      "free checkpoints through Iterate.release")
  }

  test("no session conf set or unset outside the one conf scope") {
    assertOnlyIn("GraftConf.scala", """conf\.(set|unset)\(""",
      "set session confs through GraftConf.scoped")
  }

  test("no modification time set outside the one stager") {
    assertOnlyIn("streaming/StagedFiles.scala", """setLastModified""",
      "order staged files through StagedFiles")
  }

  /** Hand-rolled aggregates that stay, each with why Spark's own does
    * not serve. Distinct counts and their set operations are Spark's
    * `theta_*` built-ins; a new `TypedImperativeAggregate` must first
    * show that no built-in answers the same oracle.
    */
  private val allowedAggregates = Map(
    // Spark's count_min_sketch is a binary blob with no probe
    // expression; this one is probed by codegen'd builtin expressions
    "CountMinAgg" -> "point-frequency probe without custom eval",
    // Spark's might_contain takes its filter as a constant; the gates
    // probe a joined filter column with builtin xxhash64 expressions
    "BloomFilterAgg" -> "per-row probe against a joined filter column",
    // Spark's KLL returns a retained item; the oracle is quantile_cont
    // interpolation, which this sketch reproduces exactly below k
    "KllQuantiles" -> "interpolated quantiles, exact below k",
    // Spark has no heavy-hitters aggregate
    "TopKFreqSketch" -> "weighted Space-Saving top-k")

  test("no TypedImperativeAggregate outside the allowlist") {
    val Decl = """(?:class|object)\s+(\w+)""".r
    val found = sources.flatMap { case (rel, lines) =>
      lines.indices.collect {
        case i if lines(i).matches(""".*(extends|with)\s+TypedImperativeAggregate\b.*""") =>
          // the declared name sits on the hit line or a line above
          val name = (i to 0 by -1).iterator
            .flatMap(j => Decl.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("?")
          (rel, name)
      }
    }
    assert(found.nonEmpty, s"audit found no aggregate under $root")
    val stray = found.filterNot { case (_, n) => allowedAggregates.contains(n) }
    assert(stray.isEmpty,
      "use a Spark built-in aggregate (theta_*, count_min_sketch, kll_*) or allowlist with a reason:\n" +
        stray.map { case (f, n) => s"  $f: $n" }.mkString("\n"))
    val gone = allowedAggregates.keySet -- found.map(_._2)
    assert(gone.isEmpty, s"allowlisted aggregates no longer declared: ${gone.mkString(", ")}")
  }

  test("every allowlisted map still exists (the allowlist cannot rot)") {
    allowedNames.foreach { case (file, names) =>
      names.foreach { n =>
        assert(hits.exists(h => h._1 == file && h._2 == n),
          s"$file no longer declares $n: drop it from the allowlist")
      }
    }
  }

  test("no scaladoc directly above another scaladoc") {
    // Scaladoc keeps only the lower of two stacked comments, so the
    // upper text is lost: each belongs on its own definition
    import scala.jdk.CollectionConverters._
    val all = filesUnder("src/main/scala").filter(_.toString.endsWith(".scala"))
      .map(f => (f.toString, java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq))
    assert(all.exists(_._2.exists(_.trim.startsWith("/**"))),
      "audit found no scaladoc under src/main/scala")
    val stacked = all.flatMap { case (rel, lines) =>
      (1 until lines.size).collect {
        case i if lines(i - 1).trim.endsWith("*/") &&
          lines(i).trim.startsWith("/**") => s"  $rel:${i + 1}"
      }
    }
    assert(stacked.isEmpty,
      "move each upper scaladoc onto its own definition:\n" + stacked.mkString("\n"))
  }

  test("graph and dedup operators have one entry point: no xxxFrom twin") {
    // an operator takes its prepared input and staging lives in
    // sources/*Stage, so no self-deriving wrapper sits beside a From form
    val files = Set("operators/Graph.scala", "operators/Dedup.scala")
    val scanned = sources.filter(s => files(s._1))
    assert(scanned.map(_._1).toSet == files, s"audit found no $files under $root")
    val Twin = """def\s+\w+From\(""".r
    val twins = scanned.flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if Twin.findFirstIn(l).isDefined => s"  $rel:${i + 1}: ${l.trim}"
      }
    }
    assert(twins.isEmpty,
      "give the operator its plain name and pass the derivation at the call site:\n" +
        twins.mkString("\n"))
  }

  private def filesUnder(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
  }

  // the four round-named suites not yet folded into their family
  // suites; the set may only shrink
  private val UnfoldedRoundSpecs =
    Set("Round7Spec.scala", "Round8Spec.scala", "Round9Spec.scala", "Round9cSpec.scala")

  test("no round-named spec file under src/test beyond the unfolded four") {
    val specs = filesUnder("src/test").map(_.getFileName.toString)
      .filter(_.endsWith("Spec.scala"))
    assert(specs.contains("StagingAuditSpec.scala"), "audit found no spec under src/test")
    val round = specs.filter(_.matches("""Round\w*Spec\.scala""")).toSet
    assert(round.subsetOf(UnfoldedRoundSpecs),
      s"fold these into the suite of the family they test: ${(round -- UnfoldedRoundSpecs).mkString(", ")}")
  }

  test("every root record named in src/ or tools/ exists") {
    val Cited = """(?<![\w.-])([A-Z][A-Za-z0-9_]*\.(?:json|md))\b""".r
    val cited = (filesUnder("src") ++ filesUnder("tools"))
      .filter(f => f.toString.endsWith(".scala") || f.toString.endsWith(".py"))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        Cited.findAllMatchIn(text).map(m => (m.group(1), f.toString)).toSeq
      }
    assert(cited.exists(_._1 == "BENCH_SELF.json"), "audit found no cited record")
    val missing = cited.filterNot { case (name, _) =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(name))
    }
    assert(missing.isEmpty,
      "cite the record that is kept, or state the reason without a file name:\n" +
        missing.distinct.map { case (n, f) => s"  $f: $n" }.mkString("\n"))
  }
}
