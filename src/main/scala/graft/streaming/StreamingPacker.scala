package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing

/** STREAMING sequence packing — the stateful half of
  * [[graft.operators.CorpusPipeline]]'s `c10_pack_sequences`: a
  * training-data feed packs documents into fixed token-budget bins
  * INCREMENTALLY, with the partial last bin riding across
  * micro-batches, so the manifest a dataloader ships from never waits
  * for "the whole corpus" to exist. Same policy as c10 (a doc belongs
  * to the bin its STARTING offset falls in, corpus order = doc_id
  * order), so the stream's manifest is bit-identical to the batch
  * operator's on the same corpus — pinned by StreamingPackerSpec.
  *
  * State is O(1) per stream: one scalar triple (batch id, last doc id,
  * cumulative token offset) plus AT MOST one open-bin row, persisted
  * as a one-line sidecar via the same atomic-rename primitive as the
  * applied-LSN watermark. Per batch, the heavy lifting is the same
  * de-funneled machinery as c10: [[graft.operators.Ranks.globalCumSum]]
  * for the in-batch prefix sum (per-bucket parallel windows, no
  * single-partition funnel) and one hash agg on bin_id — the driver
  * touches two scalars and ≤ one row.
  *
  * Exactly-once without a transactional sink: each batch's CLOSED bins
  * land under `manifestDir/batch=<id>` with OVERWRITE — a crash
  * between the manifest write and the state write replays the batch
  * into the same directory (idempotent), and a replay AFTER the state
  * advanced is skipped by the batch-id gate (Structured Streaming's
  * foreachBatch is at-least-once with a monotone batchId). A bin
  * closes when the next document's starting offset falls past it —
  * closed bins are immutable, only the single open bin carries.
  *
  * Ordering contract (same as c10's "corpus order"): batches must
  * arrive in ascending doc_id order with no overlap — the natural
  * shape of an append-only ingest feed. Violations fail loudly; a
  * re-sorted corpus is a different packing, not a degraded one.
  *
  * Wire as the foreachBatch body of the ingest stream:
  * {{{
  *   docs.writeStream.foreachBatch { (b, id) => packer.applyBatch(b, id) }
  * }}}
  */
class StreamingPacker(
    val budget: Long, val manifestDir: String, val stateDir: String) {
  require(budget > 0, s"token budget must be positive: $budget")

  private case class OpenBin(
    binId: Long, nDocs: Long, binTokens: Long, firstDoc: Long, lastDoc: Long)
  private case class State(
    batchId: Long, lastDocId: Long, cumTokens: Long, open: Option[OpenBin])

  private def statePath = new Path(s"$stateDir/_graft_pack_state")

  private def fs(spark: SparkSession) =
    statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readState(spark: SparkSession): State = {
    val f = fs(spark)
    if (!f.exists(statePath)) State(-1L, Long.MinValue, 0L, None)
    else {
      val in = f.open(statePath)
      val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      val p = line.split(",").map(_.toLong)
      State(p(0), p(1), p(2),
        if (p.length > 3) Some(OpenBin(p(3), p(4), p(5), p(6), p(7))) else None)
    }
  }

  private def writeState(spark: SparkSession, st: State): Unit =
    AtomicFiles.writeAtomically(spark, statePath,
      (Seq(st.batchId, st.lastDocId, st.cumTokens) ++
        st.open.toSeq.flatMap(o =>
          Seq(o.binId, o.nDocs, o.binTokens, o.firstDoc, o.lastDoc)))
        .mkString(","))

  /** Pack one micro-batch of (doc_id, text) rows. Skips batches the
    * state already covers (at-least-once replay); otherwise emits the
    * bins this batch CLOSED and carries the open one. */
  def applyBatch(docs: DataFrame, batchId: Long): Unit = {
    val spark = docs.sparkSession
    val st = readState(spark)
    if (batchId <= st.batchId) return // replayed batch: already applied
    val tokens = docs.select(col("doc_id"),
        size(graft.functions.HashExprs.tokenize(col("text")))
          .cast("long").as("n_tokens"))
    Checkpointing.pinned(tokens) { toks => // feeds the scalar agg AND the prefix sum
      val scalars = toks.agg(
        count(lit(1)), sum("n_tokens"), min("doc_id"), max("doc_id"),
        countDistinct("doc_id"))
        .collect().head
      // an empty batch still advances the replay gate
      if (scalars.getLong(0) == 0L) writeState(spark, st.copy(batchId = batchId))
      else packBatch(spark, st, batchId, toks, scalars)
    }
  }

  /** Pack a non-empty batch's pinned (doc_id, n_tokens) rows, whose
    * (count, sum, min, max, distinct) are `scalars`. */
  private def packBatch(spark: SparkSession, st: State, batchId: Long,
      toks: DataFrame, scalars: org.apache.spark.sql.Row): Unit = {
    val (batchTokens, minDoc, maxDoc) =
      (scalars.getLong(1), scalars.getLong(2), scalars.getLong(3))
    // a duplicate doc_id would silently mis-rank the prefix sum
    // (globalCumSum needs a unique order column) — fail loudly
    require(scalars.getLong(4) == scalars.getLong(0),
      s"batch $batchId carries duplicate doc_ids - corpus order " +
        "requires unique document ids")
    require(minDoc > st.lastDocId,
      s"batch $batchId starts at doc_id $minDoc but doc_id " +
        s"${st.lastDocId} was already packed - streaming packing " +
        "requires batches in ascending doc_id order with no overlap " +
        "(a re-sorted corpus is a DIFFERENT packing; re-pack from " +
        "scratch instead)")
    val newTotal = st.cumTokens + batchTokens
    val nextBin = newTotal / budget

    val binRows = graft.operators.Ranks
      .globalCumSum(toks, "doc_id", "n_tokens", "cum")
      .withColumn("bin_id",
        expr(s"(${st.cumTokens}L + cum - n_tokens) DIV $budget"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    // fold the carried open bin in (its bin_id can only equal the
    // batch's FIRST bin — re-agg merges the two partials)
    val withCarry = st.open match {
      case None => binRows
      case Some(o) =>
        import spark.implicits._
        binRows.unionByName(
          Seq((o.binId, o.nDocs, o.binTokens, o.firstDoc, o.lastDoc))
            .toDF("bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc"))
          .groupBy("bin_id")
          .agg(sum("n_docs").as("n_docs"),
            sum("bin_tokens").as("bin_tokens"),
            min("first_doc").as("first_doc"), max("last_doc").as("last_doc"))
    }
    Checkpointing.pinned(withCarry) { pinned => // closed write + open pick
      val closed = pinned.filter(col("bin_id") < nextBin)
        .withColumn("fill_bp", expr(s"(10000 * bin_tokens) DIV $budget"))
      if (!closed.isEmpty)
        closed.coalesce(1).write.mode("overwrite")
          .parquet(s"$manifestDir/batch=$batchId")
      val open = pinned.filter(col("bin_id") >= nextBin).collect().toSeq
      require(open.size <= 1,
        s"internal: ${open.size} open bins - offsets must leave at most one")
      val newOpen = open.headOption.map(r => OpenBin(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // state LAST: a crash before this line replays the batch into
      // the same batch=<id> dir (overwrite = idempotent)
      writeState(spark, State(batchId, maxDoc, newTotal, newOpen))
    }
  }

  /** The manifest so far — closed bins from disk plus the in-flight
    * open bin from state, exactly `c10_pack_sequences`-shaped
    * (bin_id, n_docs, bin_tokens, first_doc, last_doc, fill_bp). */
  def manifest(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val openRows = readState(spark).open.toSeq
      .map(o => (o.binId, o.nDocs, o.binTokens, o.firstDoc, o.lastDoc))
      .toDF("bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc")
      .withColumn("fill_bp", expr(s"(10000 * bin_tokens) DIV $budget"))
    val dir = new Path(manifestDir)
    val closed =
      if (!fs(spark).exists(dir)) openRows.limit(0)
      else spark.read.parquet(manifestDir)
        .select("bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc",
          "fill_bp") // drops the batch partition column
    closed.unionByName(openRows).orderBy("bin_id")
  }
}
