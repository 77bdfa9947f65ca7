package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Checkpointing

/** Token-DISTRIBUTION drift monitor for a live document ingest — the
  * streaming half of dq6's batch audit, and the content-shaped
  * complement to [[StreamDrift]]'s scalar CUSUM: a crawler that starts
  * returning a different language, boilerplate flood, or spam cluster
  * shifts the token distribution long before any scalar metric moves.
  *
  * Same metric discipline as dq6 ([[graft.operators.ProfileQueries
  * .distShift]]): total-variation distance on a 1e-9 integer
  * probability grid over a FIXED baseline vocabulary (top-K of the
  * reference corpus + '<other>') — no transcendentals, so an alert
  * threshold compares exact integers and never flaps on float noise.
  *
  * Scale shape: the baseline is a (K+1)-row broadcast; each
  * micro-batch pays one tokenize+explode → (vterm) hash aggregate
  * (map-side combined, batch-sized) and the TV fold runs over ≤ K+1
  * rows. State across batches is ZERO — each batch is scored against
  * the immutable baseline, so the monitor is replay-idempotent in
  * VALUES (same batch ⇒ same row) and, because each row lands as an
  * overwrite of its own `batch_id=` partition ([[recordScore]]), in
  * MULTIPLICITY too — an at-least-once redelivery after a crash
  * rewrites the row instead of appending a duplicate. Restart needs
  * no state recovery beyond Spark's own checkpoint.
  */
object CorpusDrift {

  /** Train the baseline distribution from a reference corpus: the
    * top-`vocabSize` tokens + '<other>' with nano-grid probabilities.
    * Persist with plain parquet and hand the path to [[start]]. */
  def trainBaseline(docs: DataFrame, vocabSize: Int = 200): DataFrame = {
    val counts = Checkpointing.pin(termCounts(docs))
    val vocab = counts.orderBy(col("c").desc, col("term").asc)
      .limit(vocabSize).select(col("term"), lit(true).as("inv"))
    counts.join(broadcast(vocab), Seq("term"), "left")
      .withColumn("vterm", when(col("inv"), col("term")).otherwise(lit("<other>")))
      .groupBy("vterm").agg(sum("c").as("c"))
      .crossJoin(broadcast(counts.agg(sum("c").as("tot"))))
      .select(col("vterm"),
        expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000000) DIV tot AS BIGINT)")
          .as("p_nano"))
  }

  /** Score ONE document frame against a trained baseline: returns a
    * single row (n_docs, n_toks, tv_nano). Shared by the streaming
    * monitor (per micro-batch) and ad-hoc batch audits. A term absent
    * from the frame contributes its full baseline mass; a frame term
    * outside the baseline vocabulary lands in '<other>'. */
  def score(docs: DataFrame, baseline: DataFrame): DataFrame =
    scoreCounts(docs, Checkpointing.pin(termCounts(docs)), baseline)

  /** (term, c) token counts of a document frame. */
  private def termCounts(docs: DataFrame): DataFrame =
    docs.select(explode(graft.functions.HashExprs.tokenize(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))

  /** [[score]] over `docs`' pinned [[termCounts]]: ONE tokenize pass
    * serves grid + total. */
  private def scoreCounts(docs: DataFrame, counts: DataFrame,
      baseline: DataFrame): DataFrame = {
    // vterm mapping against the baseline vocabulary ('<other>' is a
    // baseline row itself, so the right join keeps EVERY baseline term
    // — absent ones score their full p_nano)
    val batch = counts
      .join(broadcast(baseline.filter(col("vterm") =!= "<other>")
        .select(col("vterm").as("term"), lit(true).as("inv"))),
        Seq("term"), "left")
      .withColumn("vterm", when(col("inv"), col("term")).otherwise(lit("<other>")))
      .groupBy("vterm").agg(sum("c").as("c"))
    val nDocs = docs.count()
    // union-aggregate instead of a join (the s20 fusion lesson: a FULL
    // OUTER join cannot broadcast, and a left join would DROP batch
    // mass when the baseline lacks an '<other>' row): both sides land
    // in one (K+1)-key hash aggregate, covering baseline-only terms
    // (full p_nano counts), batch-only mass, and the shared ones
    val grid = baseline
      .select(col("vterm"), col("p_nano"), lit(0L).as("c"))
      .unionByName(batch
        .select(col("vterm"), lit(0L).as("p_nano"), col("c")))
      .groupBy("vterm")
      .agg(max("p_nano").as("p_nano"), sum("c").as("c"))
      .crossJoin(broadcast(batch.agg(coalesce(sum("c"), lit(0L)).as("tot"))))
      .withColumn("q_nano",
        when(col("tot") > 0L,
          expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000000) DIV tot AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("gap", abs(col("p_nano") - col("q_nano")))
    // an EMPTY (or zero-token) frame carries no distributional
    // evidence — scoring it against the baseline would read ~0.5e9
    // (every baseline term's full mass "missing") and trip any sane
    // threshold on a no-data trigger; no evidence ⇒ no drift (0)
    grid.agg(
      lit(nDocs).as("n_docs"),
      coalesce(max("tot"), lit(0L)).as("n_toks"),
      expr("CASE WHEN coalesce(max(tot), 0) = 0 THEN 0 " +
        "ELSE coalesce(sum(gap), 0) DIV 2 END").as("tv_nano"))
  }

  /** Score one micro-batch and record its alert row under
    * `alertDir/batch_id=<id>` — an OVERWRITE of that batch's own
    * partition directory, so the at-least-once replay foreachBatch can
    * deliver (crash after the write, before the commit marker) lands
    * the SAME row in the SAME place instead of appending a duplicate:
    * row multiplicity is replay-idempotent, not only row values.
    * Readers take `spark.read.parquet(alertDir)` and get `batch_id`
    * back as the partition column. The batch's token counts are
    * pinned for the write and freed once it lands. */
  def recordScore(batch: DataFrame, baseline: DataFrame, alertDir: String,
      batchId: Long, thresholdNano: Long): Unit =
    Checkpointing.pinned(termCounts(batch)) { counts =>
      scoreCounts(batch, counts, baseline)
        .withColumn("drifted", col("tv_nano") > thresholdNano)
        .select("n_docs", "n_toks", "tv_nano", "drifted")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$alertDir/batch_id=$batchId")
    }

  /** Start the monitor: every micro-batch of `docs` (streaming, with a
    * `text` column) is scored against the baseline and recorded as one
    * row under `alertDir/batch_id=<id>` ([[recordScore]] — replayed
    * batches overwrite their own partition, never double-fire). Read
    * `alertDir` with plain parquet for dashboards / downstream
    * alerting; `batch_id` comes back as the partition column. */
  def start(docs: DataFrame, baselinePath: String, alertDir: String,
      checkpointDir: String, thresholdNano: Long): StreamingQuery = {
    // (K+1) rows, re-scanned per batch: a pin held for the stream's
    // life would have no owner to free it when the query stops
    val baseline = docs.sparkSession.read.parquet(baselinePath)
    docs.writeStream
      .queryName("corpus_drift_monitor")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        recordScore(batch, baseline, alertDir, batchId, thresholdNano)
      }
      .start()
  }

  /** STALENESS-GATED baseline serving — the
    * [[graft.operators.IndexStore.getOrBuildIfFresh]] treatment the
    * IVF centroids already get ([[graft.operators.SimilarityQueries]]'s
    * `servedCentroidsAuto`), applied to the drift baseline: on a
    * GROWING corpus a baseline pinned at monitor start drifts away
    * from the population it is supposed to represent, and the monitor
    * alerts on benign vocabulary growth until someone retrains it.
    * Policy (identical to the centroid bargain): serve the trained
    * baseline while the corpus has only APPENDED within
    * `maxGrowFraction` of the trained bytes; retrain past the budget;
    * any rewrite/delete of a trained file is wrong-era data and
    * retrains immediately. Returns the (K+1)-row baseline frame, a
    * scan of the index's files, for [[score]].
    *
    * Correctness domain: the baseline is an INDEX-like approximation
    * (a reference distribution), so stale-within-budget serving is the
    * designed trade — dq6's batch audit, whose output is an ORACLE
    * result, keeps deriving its grid inline instead. */
  def baselineAuto(spark: SparkSession, dataDir: String,
      table: String = "documents", vocabSize: Int = 200,
      maxGrowFraction: Double = 0.25): DataFrame =
    graft.operators.IndexStore.getOrBuildIfFresh(spark, dataDir,
      s"drift_baseline_${table}_v$vocabSize", table, maxGrowFraction) {
      trainBaseline(spark.read.parquet(s"$dataDir/$table.parquet"), vocabSize)
    }
}
