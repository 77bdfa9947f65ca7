package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** The one generation loop of the iterative operators: d5/s8 connected
  * components, g4 BFS, g5 k-core, BPE training and IVF Lloyd. Each
  * operator gives its first generation and its round body; the loop
  *  - pins every generation through [[Checkpointing.pin]];
  *  - given `exactRowBytes` (the row count is a loop invariant, as CC's
  *    |labels| = |nodes|), counts generation 1 once and pins that exact
  *    count on every generation ([[Bridge.withExactStats]]), instead of
  *    the optimizer estimate that compounds round over round;
  *  - stops when `measure` repeats between consecutive generations (the
  *    round was a no-op), after `maxRounds` rounds, or when the round
  *    body returns None;
  *  - frees each superseded generation once its successor is pinned.
  * Jobs per round: the pin, plus one if a measure is given. */
object Fixpoint {

  /** Iterate `step` from `first` (unpinned) and return the last pinned
    * generation. `step(r, gen)` builds round r's next generation
    * (unpinned) from the pinned generation `gen`, rounds counting from
    * 1, or returns None to stop at `gen`. */
  def run(first: DataFrame, maxRounds: Int = Int.MaxValue,
      measure: Option[DataFrame => Any] = None,
      exactRowBytes: Option[Long] = None)(
      step: (Int, DataFrame) => Option[DataFrame]): DataFrame = {
    val pinned1 = Checkpointing.pin(first)
    val exact = exactRowBytes.map(b => (pinned1.count(), b))
    def withStats(df: DataFrame): DataFrame = exact.fold(df) {
      case (rows, bytes) => Bridge.withExactStats(df, rows, bytes)
    }
    @tailrec def loop(gen: DataFrame, seen: Option[Any], r: Int): DataFrame =
      if (r > maxRounds) gen
      else step(r, gen) match {
        case None => gen
        case Some(df) =>
          val next = withStats(Checkpointing.pin(df))
          val m = measure.map(_(next))
          Bridge.persistedRdd(gen).foreach(_.unpersist(blocking = false))
          if (m.isDefined && m == seen) next else loop(next, m, r + 1)
      }
    val gen1 = withStats(pinned1)
    loop(gen1, measure.map(_(gen1)), 1)
  }
}
