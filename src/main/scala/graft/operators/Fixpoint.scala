package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** The one generation loop of the iterative operators: d5/s8 connected
  * components, g4 BFS, g5 k-core, BPE training and IVF Lloyd. Each
  * operator gives its first generation and its round body; the loop
  *  - pins every generation through [[Checkpointing.materialize]];
  *  - given `exactRowBytes` (the row count is a loop invariant, as CC's
  *    |labels| = |nodes|), pins generation 1's row count on every
  *    generation ([[Bridge.withExactStats]]), instead of the optimizer
  *    estimate that compounds round over round;
  *  - stops when `measure` repeats between consecutive generations (the
  *    round was a no-op), after `maxRounds` rounds, or when the round
  *    body returns None;
  *  - frees each superseded generation once its successor is pinned.
  * Jobs per round: one. The pin's job also yields the row count and
  * the measure, so neither costs a job of its own. */
object Fixpoint {

  /** A generation's stop-rule value, folded in its pin's job. */
  sealed trait Measure
  /** The generation's row count. */
  case object Rows extends Measure
  /** The exact sum of an INT or BIGINT column. */
  final case class SumOf(col: String) extends Measure

  /** Iterate `step` from `first` (unpinned) and return the last pinned
    * generation. `step(r, gen)` builds round r's next generation
    * (unpinned) from the pinned generation `gen`, rounds counting from
    * 1, or returns None to stop at `gen`. */
  def run(first: DataFrame, maxRounds: Int = Int.MaxValue,
      measure: Option[Measure] = None,
      exactRowBytes: Option[Long] = None)(
      step: (Int, DataFrame) => Option[DataFrame]): DataFrame = {
    val sumOf = measure.collect { case SumOf(c) => c }
    def valueOf(p: Checkpointing.Pinned): Option[BigInt] = measure.map {
      case Rows => BigInt(p.rows)
      case SumOf(_) => p.sum
    }
    val pinned1 = Checkpointing.materialize(first, sumOf)
    def withStats(df: DataFrame): DataFrame = exactRowBytes.fold(df)(
      Bridge.withExactStats(df, pinned1.rows, _))
    @tailrec def loop(gen: DataFrame, seen: Option[BigInt], r: Int): DataFrame =
      if (r > maxRounds) gen
      else step(r, gen) match {
        case None => gen
        case Some(df) =>
          val p = Checkpointing.materialize(df, sumOf)
          Checkpointing.free(gen)
          val m = valueOf(p)
          val next = withStats(p.df)
          if (m.isDefined && m == seen) next else loop(next, m, r + 1)
      }
    loop(withStats(pinned1.df), valueOf(pinned1), 1)
  }
}
