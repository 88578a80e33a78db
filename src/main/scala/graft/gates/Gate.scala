package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One registered query: its name, the Spark plan it builds over an sf
  * dir, and the DuckDB SQL that must hash-match that plan's rows over
  * the same parquet tables. Column names and types are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing values), money/float sums are per-row-rounded integer cents,
  * and every query has a total explicit ordering.
  *
  * The oracle is by-name and built on first use: listing the gates
  * builds no SQL, and each oracle compiles into its own lambda body,
  * which keeps every family object under the JVM's 64 KB method limit.
  * A gate that shares another gate's oracle passes that gate's `val`,
  * so equal oracles are one definition.
  */
final class Gate(val name: String,
                 val run: (SparkSession, String) => DataFrame,
                 sql: => String) {
  lazy val oracle: String = sql
}

object Gate {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracle: => String): Gate = new Gate(name, run, oracle)

  /** A sketch gate's exact window, checked rather than assumed: `df`
    * unchanged while `inWindow` holds on every row, otherwise the query
    * fails naming the sketch (a saturated sketch would switch to its
    * estimator and hash-mismatch the exact oracle with no diagnostic).
    */
  def exactWhile(df: DataFrame, sketch: String, inWindow: Column): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, isnull, lit}
    df.where(isnull(assert_true(inWindow,
      lit(s"$sketch saturated: past its exact window"))))
  }
}

/** The registry: every family's gates, with names checked distinct (a
  * name registered twice would shadow the other gate's query and
  * oracle in the derived maps).
  */
object Gates {
  val all: Seq[Gate] = {
    val gs = WordCountGates.gates ++ TextGates.gates ++ DedupGates.gates ++
      SimilarityGates.gates ++ GraphGates.gates ++ EventsGates.gates ++
      RelationalGates.gates ++ SqlGates.gates ++ LakeGates.gates ++
      MediaGates.gates ++ StreamingGates.gates
    val dups = gs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"gate registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    gs
  }
}
