package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Incrementally-maintained grouped aggregate over a CDC stream — a
  * materialized view that stays fresh without ever rescanning the
  * base table.
  *
  * The reference keeps aggregate monitoring queries
  * (reference monitoring.ps1:576–614, 1068–1144) that re-run a full
  * GROUP BY against the mirrored table on every poll. At 100 TB the
  * recompute is the bottleneck, not the replication: this maintainer
  * folds each micro-batch's change set into the aggregate directly —
  * per batch it touches only the CHANGED keys (one bucket-pruned
  * semi-join against the store for their old images) and the
  * group-cardinality-sized view, never the full fact table.
  *
  * Delta algebra per batch (after last-write-wins collapse per key):
  * every affected key retracts its old image's contribution
  * (−1 row, −value) and, unless deleted, asserts its new image's
  * (+1, +value). Summing retraction + assertion + previous view is
  * associative/commutative integer math, so the result is EXACTLY the
  * aggregate of the converged base state — pinned by the
  * `cdc_mv_incremental` oracle query and `AggMaintenanceSpec`.
  *
  * Exactly-once: `foreachBatch` is at-least-once, and unlike the LWW
  * row merge a delta fold is NOT naturally idempotent — so each view
  * version is committed under its batch id (write data, then a commit
  * marker, reader takes the max committed version) and a replayed
  * batch id is folded at most once. The base-store merge runs AFTER
  * the view commit and is idempotent, so every crash window replays
  * to a consistent pair.
  *
  * Measures are exact integer cents (`round(value·100)` as BIGINT):
  * order-independent, overflow-checked, no float drift.
  */
class AggMaintenance(
    store: KeyedParquetStore,
    mvRoot: String,
    table: String,
    schema: StructType,
    keyCol: String,
    groupCol: String,
    valueCol: String) {

  private def versionDir(b: Long) = f"$mvRoot/batch=$b%020d"
  private def markerPath(b: Long) = new Path(s"${versionDir(b)}/_graft_commit")

  private def fs(spark: SparkSession) =
    new Path(mvRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Batch ids with a commit marker, ascending; uncommitted (crashed
    * mid-write) version dirs are invisible to readers. */
  def committedBatches(spark: SparkSession): Seq[Long] = {
    val root = new Path(mvRoot)
    val f = fs(spark)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(b => f.exists(markerPath(b)))
      .sorted
  }

  def lastBatchId(spark: SparkSession): Long =
    committedBatches(spark).lastOption.getOrElse(-1L)

  private def mvSchema: StructType = StructType(Seq(
    schema(groupCol),
    StructField("n_rows", LongType, nullable = false),
    StructField("sum_cents", LongType, nullable = false)))

  /** Current view: one row per group with a live (post-delete) count
    * and exact integer-cent sum. Empty-but-typed before first commit. */
  def readMv(spark: SparkSession): DataFrame =
    committedBatches(spark).lastOption match {
      case Some(b) => spark.read.schema(mvSchema).parquet(versionDir(b))
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)
    }

  /** Fold one micro-batch into the view, then merge it into the base
    * store. Safe to call again with the same `batchId` (replay): the
    * view fold is skipped, the idempotent merge still runs. */
  def applyBatch(batch: DataFrame, batchId: Long): Unit =
    CdcPipeline.withPinnedBatch(batch.filter(col("table") === table),
        CdcPipeline.storeBucket(store, Map(table -> schema), Map(table -> keyCol))) {
        (pinned, slices) =>
      val spark = pinned.sparkSession
      val changes = CdcPipeline.lastImagePerKey(pinned, schema, keyCol)
      if (batchId > lastBatchId(spark)) {
        val cents = expr(s"CAST(round($valueCol * 100) AS BIGINT)")
        val touched = changes.select(col(keyCol)).distinct()
        // old images of changed keys only — at scale this is a
        // key-bucket-pruned read + semi join, not a table scan
        val retract =
          if (store.exists(spark, table))
            store.read(spark, table)
              .join(touched, Seq(keyCol), "left_semi")
              .select(col(groupCol).as("g"), lit(-1L).as("dn"), (-cents).as("ds"))
          else changes.limit(0).select(col(groupCol).as("g"),
            lit(-1L).as("dn"), (-cents).as("ds"))
        val assert_ = changes.filter(col("op") =!= "D")
          .select(col(groupCol).as("g"), lit(1L).as("dn"), cents.as("ds"))
        val prev = readMv(spark).select(col(groupCol).as("g"),
          col("n_rows").as("dn"), col("sum_cents").as("ds"))
        val next = prev.unionByName(retract).unionByName(assert_)
          .groupBy("g")
          .agg(sum("dn").as("n_rows"), sum("ds").as("sum_cents"))
          .filter(col("n_rows") > 0)
          .withColumnRenamed("g", groupCol)
        // commit protocol: data first, marker last; readers only see
        // marked versions, so a crash mid-write leaves no torn view
        next.coalesce(1).write.mode("overwrite").parquet(versionDir(batchId))
        val f = fs(spark)
        f.create(markerPath(batchId), true).close()
        // retain the latest two committed versions (rollback window)
        committedBatches(spark).dropRight(2).foreach { b =>
          f.delete(new Path(versionDir(b)), true)
        }
      }
      // AFTER the view commit: a crash here replays the batch, the
      // fold above is skipped by batch id, this merge is idempotent
      store.merge(pinned.sparkSession, table, changes, keyCol,
        touchedHint = Some(slices.get(table).fold(Seq.empty[Int])(_.buckets.toSeq)))
    }

  /** Continuous maintenance: one StreamingQuery keeping base table and
    * aggregate view in lockstep. */
  def start(
      changes: DataFrame,
      mirrorName: String,
      checkpointDir: String): StreamingQuery =
    changes.writeStream
      .queryName(mirrorName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
      }
      .start()
}
