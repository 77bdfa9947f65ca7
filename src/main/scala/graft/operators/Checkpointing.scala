package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The one pin: every [[Fixpoint]] generation (CC, g4 BFS, g5 k-core,
  * BPE, IVF Lloyd), their fixed inputs, [[GraphQueries]]' edge sets,
  * [[Erasure.forgetCascade]]'s worklist and the CDC store's merge and
  * sweep. A pinned frame's lineage is one generation deep.
  *
  * [[materialize]] marks the frame lazily, then runs ONE job over the
  * marked RDD that stores its blocks and folds a narrow projection into
  * a constant-size driver value: the row count, the exact sum of one
  * integral column, the distinct values of one small-domain int column
  * (a bucket id). A pin plus a count, a convergence sum or a bucket
  * collect costs one job, not the pin's job plus two (an aggregate is a
  * shuffle-map job plus a result job under AQE).
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
    val spark = df.sparkSession
    val pinned =
      if (spark.conf.get(ModeKey, "local") == "reliable") {
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$ModeKey=reliable requires SparkContext.setCheckpointDir " +
            "(a fault-tolerant location every executor can reach)")
        df.checkpoint() // eager + reliable
      } else df.localCheckpoint(false)
    val schema = pinned.schema
    val sumAt = sumOf.fold(-1)(schema.fieldIndex)
    val sumIsLong = sumOf.exists { c =>
      require(Seq(IntegerType, LongType).contains(schema(c).dataType),
        s"sumOf column '$c' is ${schema(c).dataType}, not INT or BIGINT")
      schema(c).dataType == LongType
    }
    val keyAt = keysOf.fold(-1) { c =>
      require(schema(c).dataType == IntegerType,
        s"keysOf column '$c' is ${schema(c).dataType}, not INT")
      schema.fieldIndex(c)
    }
    val rdd = Bridge.persistedRdd(pinned).get.asInstanceOf[RDD[InternalRow]]
    val parts = spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
      fold(it, sumAt, sumIsLong, keyAt))
    Pinned(pinned, parts.map(_._1).sum, parts.map(_._2).sum,
      parts.iterator.flatMap(_._3).toSet)
  }

  /** One partition's (rows, exact sum, keys). The sum runs in a Long
    * and spills into a BigInt only when an addition overflows. */
  private def fold(it: Iterator[InternalRow], sumAt: Int, sumIsLong: Boolean,
      keyAt: Int): (Long, BigInt, Set[Int]) = {
    var rows = 0L
    var acc = 0L
    var spilled = BigInt(0)
    val keys = mutable.Set.empty[Int]
    it.foreach { r =>
      rows += 1
      if (sumAt >= 0 && !r.isNullAt(sumAt)) {
        val v = if (sumIsLong) r.getLong(sumAt) else r.getInt(sumAt).toLong
        val t = acc + v
        if (((acc ^ t) & (v ^ t)) < 0) { spilled += acc; acc = v } else acc = t
      }
      if (keyAt >= 0 && !r.isNullAt(keyAt)) keys += r.getInt(keyAt)
    }
    (rows, spilled + acc, keys.toSet)
  }
}
