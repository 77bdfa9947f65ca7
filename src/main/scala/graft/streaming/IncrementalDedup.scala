package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashExprs.{char_fold_array, shingle_hashes, tokenize}
import graft.operators.Checkpointing

/** Streaming ingest with ONLINE near-dup deduplication — the streaming
  * counterpart of [[graft.operators.CorpusPipeline]]: each micro-batch
  * of documents is admitted only if it is not a shingle-Jaccard
  * near-dup of (a) an already-admitted document or (b) an
  * earlier-id document in the same batch.
  *
  * State lives in a [[KeyedParquetStore]] as two tables:
  *   - `<prefix>_shingles` (shash, doc_id) — the corpus shingle index,
  *     keyed by the (shash, doc_id) composite so re-applying a batch
  *     merges the same rows (idempotent under foreachBatch replay);
  *   - `<prefix>_sizes` (doc_id, n) — per-admitted-doc shingle-set
  *     sizes for the Jaccard denominator.
  *
  * Scale shape per batch (batch size b, corpus size N): shingle
  * hashing is in-row over the batch; the probe equi-joins the batch's
  * tiny shingle set (broadcast build side) against one streaming scan
  * of the index — no index shuffle, no driver collection; the verify
  * step aggregates per candidate pair. The per-batch cost is one
  * index scan; at corpus sizes where that scan dominates, the index
  * layout moves to partitioning by a shash range so the probe prunes
  * to the batch's shingle buckets — the probe join itself is
  * unchanged. Merge order makes replay safe: probe FIRST (a batch
  * never sees its own shingles), then admit.
  */
object IncrementalDedup {

  /** Streaming EXACT dedup with bounded state: drop re-deliveries of
    * the same content while its event time is within the watermark.
    * `dropDuplicatesWithinWatermark` is the piece plain
    * `dropDuplicates` lacks at 100 TB — state for a key is evicted
    * once the watermark passes it, so the dedup map holds only the
    * horizon's keys, not the stream's entire history. The content key
    * is a PAIR of independent hashes (char-fold, ~30 bits, and
    * xxhash64, 64 bits) rather than the text itself — state rows stay
    * ~24 bytes, and a false-positive drop needs a simultaneous
    * collision in both hashes (~2^-94 per pair; char-fold alone
    * collides at ~37k in-horizon keys by the birthday bound). Working
    * columns are dropped — the transform is shape-preserving. Exactly
    * the delivery-dedup a CDC/document firehose needs: duplicates
    * arrive close together (retries, at-least-once sources), so a
    * horizon = max redelivery delay removes them all with bounded
    * memory. */
  def exactDedupStream(docs: DataFrame, horizon: String): DataFrame =
    docs
      .withColumn("_ch1", graft.functions.HashExprs.char_fold(col("text")))
      .withColumn("_ch2", xxhash64(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("_ch1", "_ch2")
      .drop("_ch1", "_ch2")
}

class IncrementalDedup(
    store: KeyedParquetStore,
    prefix: String,
    threshold: Double,
    shingleN: Int = 3) {

  private val shinglesTable = s"${prefix}_shingles"
  private val sizesTable = s"${prefix}_sizes"

  /** (doc_id, shash) distinct shingle sets of a documents batch. */
  private def shingleSetsOf(batch: DataFrame): DataFrame =
    batch
      .select(col("doc_id"),
        explode(array_distinct(
          shingle_hashes(char_fold_array(tokenize(col("text"))), shingleN))).as("shash"))
      // per-doc set dedup in-row (see DedupQueries.shinglesOf) — the
      // micro-batch never pays a dedup exchange

  /** Process one micro-batch: returns the ADMITTED sub-batch (rows of
    * `batch` that survived dedup) after folding its shingles into the
    * store. Pure batch DataFrames in and out — call it from
    * `foreachBatch` or a backfill loop alike. The batch's shingle sets,
    * their sizes and the dropped ids are pinned for the probe and the
    * two merges and freed once both commit; the returned frame is a
    * pin the CALLER owns and frees ([[Checkpointing.free]]). */
  def admit(spark: SparkSession, batch: DataFrame): DataFrame =
    Checkpointing.pinned(shingleSetsOf(batch)) { sh =>
      Checkpointing.pinned(sh.groupBy("doc_id").agg(count(lit(1)).as("n"))) { sizes =>
        Checkpointing.pinned(droppedIds(spark, sh, sizes)) { dropped =>
          val admitted = Checkpointing.pin(
            batch.join(broadcast(dropped), Seq("doc_id"), "left_anti"))
          // fold the admitted docs into the index AFTER the probe
          val admittedSh = sh.join(broadcast(dropped), Seq("doc_id"), "left_anti")
          store.merge(spark, shinglesTable,
            admittedSh.select(lit("I").as("op"), col("shash"), col("doc_id"))
              // one index row per (shash, doc_id); the store key is the
              // shingle hash so probes bucket-prune on it
              .withColumn("key_id", concat_ws(":", col("shash"), col("doc_id")))
              .select(col("op"), col("key_id"), col("shash"), col("doc_id")),
            "key_id")
          store.merge(spark, sizesTable,
            sizes.join(broadcast(dropped), Seq("doc_id"), "left_anti")
              .select(lit("I").as("op"), col("doc_id"), col("n")),
            "doc_id")
          admitted
        }
      }
    }

  /** Ids of the batch's docs that are near-dups of an admitted doc or
    * of an earlier-id doc in the same batch, from the batch's pinned
    * shingle sets `sh` and their `sizes`. */
  private def droppedIds(spark: SparkSession, sh: DataFrame, sizes: DataFrame): DataFrame = {
    // candidates vs the ADMITTED corpus — skipped on the first batch
    val vsCorpus =
      if (store.exists(spark, shinglesTable)) {
        val index = store.read(spark, shinglesTable)
          .select(col("shash"), col("doc_id").as("old_id"))
        val storedSizes = store.read(spark, sizesTable)
          .withColumnRenamed("doc_id", "old_id").withColumnRenamed("n", "old_n")
        broadcast(sh).join(index, Seq("shash"))
          .groupBy(col("doc_id"), col("old_id")).agg(count(lit(1)).as("i"))
          .join(sizes, Seq("doc_id"))
          .join(storedSizes, Seq("old_id"))
          .filter(col("i") / (col("n") + col("old_n") - col("i")) >= threshold)
          .select(col("doc_id"))
      } else sh.limit(0).select(col("doc_id"))

    // candidates within the batch: earlier doc_id wins (same greedy
    // rule as the batch pipeline)
    val within = sh.as("x").join(sh.as("y"),
        col("x.shash") === col("y.shash") && col("x.doc_id") > col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id"), col("y.doc_id").as("keeper"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("n", "n_x"), Seq("doc_id"))
      .join(sizes.select(col("doc_id").as("keeper"), col("n").as("n_y")), Seq("keeper"))
      .filter(col("i") / (col("n_x") + col("n_y") - col("i")) >= threshold)
      .select(col("doc_id"))

    vsCorpus.union(within).distinct()
  }
}
