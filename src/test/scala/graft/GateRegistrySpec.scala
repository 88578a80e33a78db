package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gates

/** The gate registry behind the driver facade: one record per gate,
  * names distinct, every gate with one non-empty oracle, and equal
  * oracles spelled once.
  */
class GateRegistrySpec extends AnyFunSuite {

  test("Gates.all holds 425 distinct lowercase names") {
    val names = Gates.all.map(_.name)
    assert(names.size == 425)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")), names.filterNot(_.matches("[a-z0-9_]+")))
  }

  test("queries and oracleSql are keyed by the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == Gates.all.map(_.name).toSet)
  }

  test("every oracle is non-empty SQL") {
    val empty = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(empty.isEmpty, s"empty oracles: ${empty.mkString(", ")}")
  }

  test("SoakProbe's default gates are all registered") {
    assert(SoakProbe.DefaultGates.toSet.subsetOf(SparkEntry.queries.keySet),
      SoakProbe.DefaultGates.filterNot(SparkEntry.queries.contains))
  }

  test("gates with equal oracle text share one definition") {
    val groups = SparkEntry.oracleSql.toSeq.groupBy(_._2).values.filter(_.size > 1)
    assert(groups.nonEmpty)
    val copies = groups.flatMap { g =>
      g.tail.collect { case (k, v) if !(v eq g.head._2) => s"${g.head._1} = $k" }
    }
    assert(copies.isEmpty, s"equal oracles spelled twice: ${copies.mkString(", ")}")
  }

  test("Verify.parseArgs rejects a missing sf dir or an unknown gate before Spark starts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_verify_args").toString
    assert(Verify.parseArgs(Seq(dir, "out")) == ((dir, "out", None)))
    assert(Verify.parseArgs(Seq(dir, "out", "wordcount,q1_pricing")) ==
      ((dir, "out", Some(Set("wordcount", "q1_pricing")))))
    val noDir = intercept[IllegalArgumentException](
      Verify.parseArgs(Seq(s"$dir/missing", "out")))
    assert(noDir.getMessage.contains("no sf directory"))
    val typo = intercept[IllegalArgumentException](
      Verify.parseArgs(Seq(dir, "out", "wordcount,wordcuont")))
    assert(typo.getMessage.contains("wordcuont"))
    intercept[IllegalArgumentException](Verify.parseArgs(Seq(dir)))
  }
}
