package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The one pin, and the only code that pins or frees a frame: every
  * [[Fixpoint]] generation (CC, g4 BFS, g5 k-core, BPE, IVF Lloyd),
  * their fixed inputs, the operators' shared intermediates,
  * [[Erasure]]'s tombstone sets, the CDC apply path's micro-batch, the
  * CDC store's sweep and compaction, and the streaming operators'
  * per-batch frames. A pinned frame's lineage is one generation deep.
  *
  * [[materializeWith]] marks the frame lazily, then runs ONE job over
  * the marked rows that stores their blocks and folds them into a
  * driver value of bounded size ([[Fold]]): a row count, a convergence
  * sum, or the CDC batch's per-table watermarks and touched buckets. A
  * pin plus a count or a collect-class aggregate costs one job, not the
  * pin's job plus two (an aggregate is a shuffle-map job plus a result
  * job under AQE). [[materialize]] is the row/sum instance of it.
  *
  * Ownership. A pin that outlives its caller (a generation handed to
  * the next round, a frame an operator returns) is made with [[pin]] or
  * [[materialize]] and freed by its owner with [[free]]. A pin whose
  * life is one block of code is made by the one scope, [[pinned]] (or
  * [[pinnedWith]] when the pin's job also folds a value): it pins,
  * runs the body, and frees the pin on return, also on failure.
  *
  * The default is a local checkpoint: executor-memory-backed, no disk
  * I/O, but lineage is TRUNCATED, so losing an executor mid-iteration
  * kills the job (r14 verdict's g4 note). On preemptible executors set
  * `graft.iterativeCheckpoint = reliable` (plus
  * `SparkContext.setCheckpointDir` on a fault-tolerant FS): each pin
  * is then written to the checkpoint directory (one job) and folded
  * from those files (a second), so the value describes the written
  * data. Both modes give a `LogicalRDD`, so exact stats and freeing
  * compose unchanged; results are bit-identical
  * (`ReliableCheckpointSpec`). The lineage-versus-checkpoint trade is
  * the one D-Streams (SOSP'13) names. */
object Checkpointing {

  /** Session-conf key: "local" (default) or "reliable". */
  val ModeKey = "graft.iterativeCheckpoint"

  /** What a pin's job folds. `cols` are evaluated per row against the
    * pinned frame; `part` folds one partition's projected rows on an
    * executor (it must capture only serializable values); `merge`
    * combines two partitions' values on the driver. The value lands on
    * the driver, so it must be bounded by a small domain. */
  final case class Fold[A](cols: Seq[Column], part: Iterator[InternalRow] => A,
      merge: (A, A) => A)

  /** A materialized pin and what its job folded: `rows` and the exact
    * `sum` of the `sumOf` column (nulls skipped, 0 when none). */
  final case class Pinned(df: DataFrame, rows: Long, sum: BigInt)

  /** Pin a frame under the session's checkpoint mode. */
  def pin(df: DataFrame): DataFrame = materialize(df).df

  /** Free a pin's blocks (no-op on a frame that is not a pin). */
  def free(df: DataFrame): Unit = Bridge.free(df)

  /** Run `body` on `df` pinned, so each of its reads evaluates one
    * materialized frame. A frame that is already a pin is used as is
    * and left to its owner to free; a pin made here is freed on return. */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T =
    if (Bridge.persistedRdd(df).isDefined) body(df)
    else pinnedWith(df, counting(df, None))((p, _) => body(p))

  /** Pin `df`, run `body` on the pin and `fold`'s value over its rows,
    * then free the pin. */
  def pinnedWith[A: ClassTag, T](df: DataFrame, fold: Fold[A])(body: (DataFrame, A) => T): T = {
    val (p, a) = materializeWith(df, fold)
    try body(p, a) finally free(p)
  }

  /** Pin `df` and fold its row count and the exact sum of the INT or
    * BIGINT column `sumOf` in the job that materializes it. */
  def materialize(df: DataFrame, sumOf: Option[String] = None): Pinned = {
    val (pinned, (rows, sum)) = materializeWith(df, counting(df, sumOf))
    Pinned(pinned, rows, sum)
  }

  /** The fold of [[materialize]]: (rows, exact sum of `sumOf`). */
  def counting(df: DataFrame, sumOf: Option[String]): Fold[(Long, BigInt)] = {
    sumOf.foreach(c => require(Seq(IntegerType, LongType).contains(df.schema(c).dataType),
      s"sumOf column '$c' is ${df.schema(c).dataType}, not INT or BIGINT"))
    Fold(Seq(sumOf.fold(lit(null).cast(LongType))(col(_).cast(LongType))),
      countSum, { case ((r1, s1), (r2, s2)) => (r1 + r2, s1 + s2) })
  }

  /** Pin `df` under the session's checkpoint mode and return it with
    * `fold`'s value over its rows, computed in the job that stores
    * them. */
  def materializeWith[A: ClassTag](df: DataFrame, fold: Fold[A]): (DataFrame, A) = {
    val spark = df.sparkSession
    val pinned =
      if (spark.conf.get(ModeKey, "local") == "reliable") {
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$ModeKey=reliable requires SparkContext.setCheckpointDir " +
            "(a fault-tolerant location every executor can reach)")
        df.checkpoint() // eager + reliable
      } else df.localCheckpoint(false)
    // the projection reads the marked RDD, so computing it stores the
    // pin's blocks: one job for both
    val projected = pinned.select(fold.cols: _*).queryExecution.toRdd
    val part = fold.part
    val parts = spark.sparkContext.runJob(projected, (it: Iterator[InternalRow]) => part(it))
    (pinned, parts.reduceOption(fold.merge).getOrElse(part(Iterator.empty)))
  }

  /** One partition's (rows, exact sum of column 0). The sum runs in a
    * Long and spills into a BigInt only when an addition overflows. */
  private def countSum(it: Iterator[InternalRow]): (Long, BigInt) = {
    var rows = 0L
    var acc = 0L
    var spilled = BigInt(0)
    it.foreach { r =>
      rows += 1
      if (!r.isNullAt(0)) {
        val v = r.getLong(0)
        val t = acc + v
        if (((acc ^ t) & (v ^ t)) < 0) { spilled += acc; acc = v } else acc = t
      }
    }
    (rows, spilled + acc)
  }
}
