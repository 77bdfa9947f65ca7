package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IndexStore

/** Streaming ingest composed with INDEX MAINTENANCE (r11 verdict ask
  * #8): a `foreachBatch` sink that (1) idempotently lands each
  * micro-batch as one parquet file in the corpus directory and
  * (2) immediately runs the [[IndexStore]] incremental build, so the
  * per-row index (SimHash signatures, perceptual fingerprints, …) is
  * maintained at INGEST time — each batch pays one O(batch) delta
  * derivation, and every query that serves from the index sees a
  * corpus-current sidecar without ever re-scanning the corpus.
  *
  * Effective-once without a transactional sink: the batch lands under
  * a DETERMINISTIC name keyed by the micro-batch id AND the query
  * incarnation ([[incarnationTag]] — the checkpoint's own query id),
  * written to a scratch path and committed by rename, and the write is
  * SKIPPED when the target already exists. A replay after a crash (the
  * at-least-once window between sink work and checkpoint commit)
  * therefore re-lands nothing — the corpus file set is identical, the
  * index build sees no new files and serves warm. The incarnation tag
  * is what makes the dedup safe across a checkpoint DROP-RECREATE:
  * batch ids reset to 0 in the new incarnation, and without the tag
  * the new batch 0 (different rows!) would collide with the old
  * incarnation's landed file and be silently skipped — rows arriving
  * between the drop and the restart would be lost. Crash INSIDE the
  * index build is covered by IndexStore's one manifest commit: a delta
  * whose commit is lost is never served, and the next build derives
  * its rows again.
  *
  * At 100 TB this is the ingestion half of the signature-store
  * design: the d6/d13/m8/m9 family reads
  * `IndexStore.getOrBuildIncremental` sidecars, and this sink is what
  * keeps those sidecars hot on a live feed at O(ingest batch) cost.
  */
object IndexedIngest {

  /** This query incarnation's identity: the id Spark itself wrote to
    * the checkpoint's `metadata` file at query start, read with Spark's
    * own reader ([[org.apache.spark.sql.graftbridge.Bridge.streamQueryId]])
    * — STABLE across restarts of the same checkpoint (replays dedupe),
    * FRESH after a drop-recreate (new incarnation's batches never
    * collide with the old one's landed files). Loud when absent:
    * silently falling back to an untagged name would re-open the
    * drop-recreate loss window this tag exists to close. */
  private[streaming] def incarnationTag(
      spark: org.apache.spark.sql.SparkSession, checkpointDir: String): String = {
    val id = org.apache.spark.sql.graftbridge.Bridge.streamQueryId(spark, checkpointDir)
    require(id.isDefined,
      s"no streaming-query metadata in checkpoint $checkpointDir — incarnationTag must be " +
        "read under a RUNNING query (Spark writes the file at query start)")
    id.flatMap(Option(_)).filter(_.nonEmpty).getOrElse(throw new IllegalStateException(
      s"streaming-query metadata in checkpoint $checkpointDir has no query id"))
      .replace("-", "").take(8)
  }

  private def targetName(runTag: String, batchId: Long): String =
    if (runTag.isEmpty) s"ingest-batch-$batchId.parquet"
    else s"ingest-$runTag-batch-$batchId.parquet"

  /** Parse a scratch dir name back to (runTag, batchId):
    * `_ingest_scratch_<id>` (untagged) or `_ingest_scratch_<tag>_<id>`. */
  private def parseScratch(name: String): Option[(String, Long)] = {
    val rest = name.stripPrefix("_ingest_scratch_")
    rest.lastIndexOf('_') match {
      case -1 => scala.util.Try(rest.toLong).toOption.map(("", _))
      case i => scala.util.Try(rest.substring(i + 1).toLong).toOption
        .map((rest.substring(0, i), _))
    }
  }

  /** The foreachBatch body: land `batch` idempotently as
    * `<dataDir>/<table>.parquet/<ingest-[tag-]batch-id>.parquet`, then
    * run the incremental index build for (`name`, `derive`). Exposed
    * separately so failure-injection harnesses can wrap it; `runTag`
    * defaults to untagged for single-incarnation callers — [[start]]
    * always passes the checkpoint's [[incarnationTag]]. */
  def landAndIndex(batch: DataFrame, batchId: Long, dataDir: String,
      table: String, name: String, runTag: String = "")(
      derive: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$dataDir/$table.parquet")
    val fs = dir.getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(dir, targetName(runTag, batchId))
    if (!fs.exists(target)) {
      // stale scratch from a crashed EARLIER batch is dead weight —
      // invisible to Spark's listing, but never cleaned by the happy
      // path once its batch replays with the target already landed.
      // Swept when provably dead: SAME incarnation with id strictly
      // below the current batch (micro-batches are sequential, so
      // batch b running proves every b' < b committed), OR the
      // (tag, id) target file already landed — any incarnation (a
      // landed target proves its scratch dead). The current id's
      // leftover is handled by the overwrite-mode write; an unlanded
      // id of ANOTHER incarnation may be another writer's in-flight
      // scratch and is never deleted blindly.
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter { s =>
            s.isDirectory && s.getPath.getName.startsWith("_ingest_scratch_") &&
              parseScratch(s.getPath.getName).exists { case (tag, k) =>
                (tag == runTag && k < batchId) || fs.exists(
                  new org.apache.hadoop.fs.Path(dir, targetName(tag, k)))
              }
          }
          .foreach(s => fs.delete(s.getPath, true))
      // scratch is `_`-prefixed → invisible to Spark's file listing
      // (and to IndexStore's inventory) until the rename commits it
      val scratch = new org.apache.hadoop.fs.Path(dir,
        if (runTag.isEmpty) s"_ingest_scratch_$batchId"
        else s"_ingest_scratch_${runTag}_$batchId")
      batch.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      // a zero-partition micro-batch writes no part- file: land nothing
      // (the corpus is unchanged) but still fall through to the index
      // build — killing the stream over an empty trigger would wedge
      // ingestion on any idle source
      fs.listStatus(scratch)
        .find(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .foreach { part =>
          if (!fs.rename(part.getPath, target))
            throw new java.io.IOException(
              s"ingest commit failed: rename ${part.getPath} -> $target " +
                "returned false")
        }
      fs.delete(scratch, true)
    }
    IndexStore.getOrBuildIncremental(spark, dataDir, name, table)(derive)
  }

  /** Start the composed stream: every micro-batch of `docs` lands in
    * the corpus and refreshes index `name` via `derive` (a PER-ROW
    * derivation — IndexStore's delta contract). Batch files carry the
    * checkpoint's incarnation tag, so replays of the SAME checkpoint
    * dedupe while a drop-recreated checkpoint (fresh query id, batch
    * ids reset) lands its own files instead of colliding with the old
    * incarnation's. */
  def start(docs: DataFrame, dataDir: String, table: String, name: String,
      checkpointDir: String)(derive: DataFrame => DataFrame): StreamingQuery = {
    // resolved once at the FIRST batch (the metadata file exists as
    // soon as the query runs), then fixed for the query's lifetime
    lazy val tag = incarnationTag(docs.sparkSession, checkpointDir)
    docs.writeStream
      .queryName(s"indexed_ingest_$table")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landAndIndex(batch, batchId, dataDir, table, name, tag)(derive)
      }
      .start()
  }
}
