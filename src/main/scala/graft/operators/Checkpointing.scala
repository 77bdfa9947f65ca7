package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The one pin: every [[Fixpoint]] generation (CC, g4 BFS, g5 k-core,
  * BPE, IVF Lloyd), their fixed inputs, [[GraphQueries]]' edge sets,
  * [[Erasure.forgetCascade]]'s worklist, the CDC apply path's
  * micro-batch and the CDC store's merge, sweep and compaction. A
  * pinned frame's lineage is one generation deep.
  *
  * [[materializeWith]] marks the frame lazily, then runs ONE job over
  * the marked rows that stores their blocks and folds them into a
  * driver value of bounded size ([[Fold]]): a row count, a convergence
  * sum, a bucket set, or the CDC batch's per-table watermarks and
  * touched buckets. A pin plus a count or a collect-class aggregate
  * costs one job, not the pin's job plus two (an aggregate is a
  * shuffle-map job plus a result job under AQE). [[materialize]] is
  * the row/sum/keys instance of it.
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

  /** A materialized pin and what its job folded: `rows`, the exact
    * `sum` of the `sumOf` column (nulls skipped, 0 when none) and the
    * distinct non-null `keys` of the `keysOf` column. */
  final case class Pinned(df: DataFrame, rows: Long, sum: BigInt, keys: Set[Int])

  /** Pin a generation frame under the session's checkpoint mode. */
  def pin(df: DataFrame): DataFrame = materialize(df).df

  /** Pin `df` and fold it in the job that materializes it. `sumOf`
    * names an INT or BIGINT column; `keysOf` an INT column whose
    * domain is small (the value is a driver-side set). */
  def materialize(df: DataFrame, sumOf: Option[String] = None,
      keysOf: Option[String] = None): Pinned = {
    sumOf.foreach(c => require(Seq(IntegerType, LongType).contains(df.schema(c).dataType),
      s"sumOf column '$c' is ${df.schema(c).dataType}, not INT or BIGINT"))
    keysOf.foreach(c => require(df.schema(c).dataType == IntegerType,
      s"keysOf column '$c' is ${df.schema(c).dataType}, not INT"))
    val stats = Fold[(Long, BigInt, Set[Int])](
      Seq(sumOf.fold(lit(null).cast(LongType))(col(_).cast(LongType)),
        keysOf.fold(lit(null).cast(IntegerType))(col)),
      countSumKeys, { case ((r1, s1, k1), (r2, s2, k2)) => (r1 + r2, s1 + s2, k1 ++ k2) })
    val (pinned, (rows, sum, keys)) = materializeWith(df, stats)
    Pinned(pinned, rows, sum, keys)
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

  /** One partition's (rows, exact sum of column 0, distinct column 1).
    * The sum runs in a Long and spills into a BigInt only when an
    * addition overflows. */
  private def countSumKeys(it: Iterator[InternalRow]): (Long, BigInt, Set[Int]) = {
    var rows = 0L
    var acc = 0L
    var spilled = BigInt(0)
    val keys = mutable.Set.empty[Int]
    it.foreach { r =>
      rows += 1
      if (!r.isNullAt(0)) {
        val v = r.getLong(0)
        val t = acc + v
        if (((acc ^ t) & (v ^ t)) < 0) { spilled += acc; acc = v } else acc = t
      }
      if (!r.isNullAt(1)) keys += r.getInt(1)
    }
    (rows, spilled + acc, keys.toSet)
  }
}
