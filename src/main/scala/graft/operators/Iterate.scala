package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, when}

/** The round-loop module: the one place an operator's round loop
  * materializes, probes and releases its frames. An iterative
  * algorithm is one loop repeating a round over inputs that do not
  * change between rounds (*MapReduce Algorithms for Big Data
  * Analysis*, VLDB 2012); the operator supplies the round, this module
  * owns the discipline around it.
  *
  * Two loop forms:
  *  - [[rounds]] (and its fixed-count case [[fixed]]): each round's
  *    plan is checkpointed EAGERLY; a round may end the loop by
  *    returning `None` after probing the current frame itself.
  *  - [[untilStable]]: each round's plan is checkpointed LAZILY and the
  *    `stable` probe over it is the round's one materializing action —
  *    one Spark action per round instead of a checkpoint job plus a
  *    probe job.
  *
  * Release rule: a loop owns its seed and every frame it materialized,
  * and frees each one (see [[release]]) only after the next round's
  * frame is materialized. It never frees a projection a caller made of
  * a frame — [[release]] refuses those — so a loop cannot leak a round
  * by handing the wrong frame to it.
  */
object Iterate {

  /** Checkpoint `df`: executor-memory `localCheckpoint` (fast; lost
    * blocks kill the job), or with `reliable` a `checkpoint` into
    * `spark.sparkContext.getCheckpointDir`, which must be set. Eager
    * runs the checkpoint job now; lazy defers it to the first action
    * over the result.
    */
  def materialize(df: DataFrame, eager: Boolean = true,
                  reliable: Boolean = false): DataFrame = {
    require(!reliable || df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable checkpointing needs spark.sparkContext.setCheckpointDir(...)")
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** Free a superseded [[materialize]]d frame: drop its block-manager
    * blocks, and in reliable mode delete its checkpoint files —
    * iterative loops otherwise grow storage linearly with rounds.
    * Throws on anything else (a projection of a checkpoint, or a plan):
    * releasing it would free nothing and hide the leak.
    */
  def release(df: DataFrame, reliable: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        if (reliable) l.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
        }
      case other =>
        throw new IllegalArgumentException(
          s"Iterate.release needs a materialized frame, got ${other.nodeName}")
    }

  /** What a bounded loop hands back: its last frame, and whether the
    * loop stopped on its own (`converged`) rather than at `bound`.
    */
  final case class Outcome(frame: DataFrame, converged: Boolean, bound: Int) {

    /** The frame of a converged loop; otherwise throws with the
      * operator's name, its bound and the parameter that raises it.
      */
    def orThrow(op: String, knob: String, why: String): DataFrame =
      if (converged) frame
      else throw new IllegalStateException(
        s"$op did not converge within $bound rounds; raise $knob — $why")
  }

  /** Eager form: up to `maxRounds` rounds from the materialized `seed`.
    * Round `i` gets the current frame; `Some(plan)` is checkpointed
    * eagerly and becomes the next frame, `None` ends the loop as
    * converged with the current frame.
    */
  def rounds(seed: DataFrame, maxRounds: Int)
            (step: (DataFrame, Int) => Option[DataFrame]): Outcome = {
    var frame = seed
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      step(frame, round) match {
        case Some(plan) =>
          val next = materialize(plan)
          release(frame)
          frame = next
          round += 1
        case None => done = true
      }
    }
    Outcome(frame, done, maxRounds)
  }

  /** Exactly `n` eager rounds from the materialized `seed`. */
  def fixed(seed: DataFrame, n: Int)
           (step: (DataFrame, Int) => DataFrame): DataFrame =
    rounds(seed, n)((frame, i) => Some(step(frame, i))).frame

  /** Probe form: up to `maxRounds` rounds from the materialized `seed`,
    * stopping at the first round whose frame `stable` accepts. Each
    * round's plan is checkpointed lazily (eagerly with `eager`), and
    * `stable` must scan every partition of the frame it gets: on a lazy
    * checkpoint that scan is what materializes it, before the previous
    * frame is released.
    */
  def untilStable(seed: DataFrame, maxRounds: Int, eager: Boolean = false,
                  reliable: Boolean = false)
                 (step: DataFrame => DataFrame)
                 (stable: DataFrame => Boolean): Outcome = {
    var frame = seed
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = materialize(step(frame), eager, reliable)
      converged = stable(next)
      release(frame, reliable)
      frame = next
      round += 1
    }
    Outcome(frame, converged, maxRounds)
  }

  /** The [[untilStable]] probe for a round whose boolean `changed`
    * column flags each row that moved: one count aggregate, which scans
    * every partition, is stable when no row moved.
    */
  def noneChanged(next: DataFrame): Boolean =
    next.agg(count(when(col("changed"), 1)).as("n")).head().getLong(0) == 0L
}
