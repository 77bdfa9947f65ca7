package graft.streaming

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
  * per batch it touches only the CHANGED keys (a semi join against
  * the store's files of the batch's buckets for their old images) and
  * the group-cardinality-sized view, never the full fact table.
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
  * row merge a delta fold is NOT naturally idempotent — so the view is
  * a one-bucket [[FileManifest]] set at `mvRoot` whose manifest tags
  * each version with the last batch id folded into it, committed in
  * the same atomic write as the view's files, and a replayed batch id
  * is folded at most once. The base-store merge runs AFTER the view
  * commit and is idempotent, so every crash window replays to a
  * consistent pair.
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

  private val BatchTag = "batch"

  private def lastBatchOf(view: Option[FileManifest.Manifest]): Long =
    view.fold(-1L)(_.tags(BatchTag).toLong)

  /** The last batch id folded into the committed view; -1 before the
    * first commit. */
  def lastBatchId(spark: SparkSession): Long = lastBatchOf(FileManifest.read(spark, mvRoot))

  private def mvSchema: StructType = StructType(Seq(
    schema(groupCol),
    StructField("n_rows", LongType, nullable = false),
    StructField("sum_cents", LongType, nullable = false)))

  /** Current view: one row per group with a live (post-delete) count
    * and exact integer-cent sum. Empty-but-typed before first commit. */
  def readMv(spark: SparkSession): DataFrame = viewOf(spark, FileManifest.read(spark, mvRoot))

  private def viewOf(spark: SparkSession, view: Option[FileManifest.Manifest]): DataFrame =
    view match {
      case Some(m) => FileManifest.scan(spark, mvRoot, m).drop("bucket")
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
      val buckets = slices.get(table).fold(Seq.empty[Int])(_.buckets.toSeq)
      FileManifest.locked(mvRoot) {
        val view = FileManifest.read(spark, mvRoot)
        if (batchId > lastBatchOf(view)) {
          val cents = expr(s"CAST(round($valueCol * 100) AS BIGINT)")
          val touched = changes.select(col(keyCol)).distinct()
          // old images of changed keys only: the files of the batch's
          // buckets, semi-joined with its keys — not a table scan
          val retract =
            if (store.exists(spark, table))
              store.readBuckets(spark, table, buckets)
                .join(touched, Seq(keyCol), "left_semi")
                .select(col(groupCol).as("g"), lit(-1L).as("dn"), (-cents).as("ds"))
            else changes.limit(0).select(col(groupCol).as("g"),
              lit(-1L).as("dn"), (-cents).as("ds"))
          val assert_ = changes.filter(col("op") =!= "D")
            .select(col(groupCol).as("g"), lit(1L).as("dn"), cents.as("ds"))
          val prev = viewOf(spark, view).select(col(groupCol).as("g"),
            col("n_rows").as("dn"), col("sum_cents").as("ds"))
          val next = prev.unionByName(retract).unionByName(assert_)
            .groupBy("g")
            .agg(sum("dn").as("n_rows"), sum("ds").as("sum_cents"))
            .filter(col("n_rows") > 0)
            .withColumnRenamed("g", groupCol)
          FileManifest.commit(spark, mvRoot, view, mvSchema, FileManifest.oneBucket(next.coalesce(1)),
            _ => true, Map(BatchTag -> batchId.toString))
        }
      }
      // AFTER the view commit: a crash here replays the batch, the
      // fold above is skipped by batch id, this merge is idempotent
      store.merge(spark, table, changes, keyCol, touchedHint = Some(buckets))
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
