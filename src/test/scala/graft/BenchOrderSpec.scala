package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench-budget ordering contract (an alphabetical sweep cut by
  * its time budget leaves the tail, `wordcount` included, unmeasured),
  * and where a sweep reads its ordering prior and writes its map.
  */
class BenchOrderSpec extends AnyFunSuite {

  test("heaviest-first: descending prior time, ties alphabetical") {
    val prior = Map("a" -> 1.0, "b" -> 5.0, "c" -> 1.0, "d" -> 3.0)
    assert(Bench.orderNames(Seq("a", "b", "c", "d"), prior) ==
      Seq("b", "d", "a", "c"))
  }

  test("queries with no prior (new this round) run first") {
    val prior = Map("a" -> 1.0, "b" -> 5.0)
    assert(Bench.orderNames(Seq("a", "b", "new2", "new1"), prior) ==
      Seq("new1", "new2", "b", "a"))
  }

  test("no prior at all degrades to alphabetical") {
    assert(Bench.orderNames(Seq("c", "a", "b"), Map.empty) ==
      Seq("a", "b", "c"))
  }

  // Excursion retry: a host stall 13-20x the committed prior
  // (word_hits once read 66.9 s against a 3.3 s steady state) earns
  // one end-of-sweep re-run; noise-floor jitter, new queries and
  // failures do not.
  test("excursion: >3x the committed prior and >1s") {
    assert(Bench.isExcursion(66.9, 3.3))
    assert(Bench.isExcursion(3.1, 1.0))
  }

  test("not an excursion: within 3x, sub-second, no prior, or failed") {
    assert(!Bench.isExcursion(2.9, 1.0)) // within 3x
    assert(!Bench.isExcursion(0.9, 0.1)) // >3x but under the 1s floor
    assert(!Bench.isExcursion(5.0, 0.0)) // no committed prior
    assert(!Bench.isExcursion(-1.0, 2.0)) // failed stays loud, no retry
  }

  test("paths: a default sweep writes under target/, never over the prior") {
    val (out, prior) = Bench.paths(Map.empty, "/repo")
    assert(prior == "/repo/BENCH_SELF.json")
    assert(out == "/repo/target/BENCH_SELF.json")
    assert(out != prior)
  }

  test("paths: SPARK_GRAFT_BENCH_OUT and SPARK_GRAFT_BENCH_PRIOR still win") {
    assert(Bench.paths(Map("SPARK_GRAFT_BENCH_OUT" -> "/x/out.json"), "/repo") ==
      (("/x/out.json", "/repo/BENCH_SELF.json")))
    assert(Bench.paths(Map("SPARK_GRAFT_BENCH_PRIOR" -> "/x/prior.json"), "/repo") ==
      (("/repo/target/BENCH_SELF.json", "/x/prior.json")))
    assert(Bench.paths(Map("SPARK_GRAFT_BENCH_OUT" -> "/a.json",
      "SPARK_GRAFT_BENCH_PRIOR" -> "/b.json"), "/repo") == (("/a.json", "/b.json")))
  }

  test("summary: a failed query adds 600 s and is listed in failed") {
    val s = Bench.summarize(Seq("b" -> 2.0, "zz" -> -1.0, "a" -> 1.5))
    assert(s.failed == Seq("zz"))
    assert(s.failedJson == "[\"zz\"]")
    assert(s.total == 1.5 + 2.0 + 600.0)
    assert(s.qs == "{\"a\":1.5,\"b\":2.0,\"zz\":-1.0}")
    assert(Bench.summarize(Seq("a" -> 1.5)).failed.isEmpty)
  }

  test("failed_class: attempt records each failure's exception class") {
    val failed = scala.collection.mutable.Map[String, String]()
    val err = new java.io.ByteArrayOutputStream()
    val got = Console.withErr(err) {
      (Bench.attempt(failed, "ok")(1.5),
       Bench.attempt(failed, "zz")(throw new IllegalStateException("boom")),
       Bench.attempt(failed, "staging chain 3")(throw new ArithmeticException("x")))
    }
    assert(got == ((Some(1.5), None, None)))
    assert(err.toString.contains(
      "[bench] zz failed: java.lang.IllegalStateException: boom"))
    assert(failed == Map("zz" -> "java.lang.IllegalStateException",
      "staging chain 3" -> "java.lang.ArithmeticException"))
  }
}
