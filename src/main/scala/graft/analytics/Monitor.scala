package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.KeyedParquetStore

/** The reference's monitoring suite (monitoring.ps1's 10 sections)
  * re-expressed as DataFrame reports over a source namespace and a CDC
  * target store. Sections that interrogate PostgreSQL/Docker
  * internals (containers, WAL config) map to engine-side equivalents
  * (stream state, store stats); the relational analytics are 1:1.
  */
object Monitor {

  /** §"DATABASE OVERVIEW" (monitoring.ps1:500–560): per-table rows +
    * bytes + pretty size, with grand totals. */
  def tableStats(spark: SparkSession, store: KeyedParquetStore, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    import graft.functions.FormatBytes.format_bytes
    val rows = tables.sorted.map { t =>
      if (!store.exists(spark, t)) (t, 0L, 0L)
      else (t, store.read(spark, t).count(), store.bucketStats(spark, t).map(_._3).sum)
    }
    rows.toDF("table_name", "n_rows", "bytes")
      .withColumn("pretty_size", format_bytes(col("bytes")))
  }

  /** §"REPLICATION LAG ANALYSIS" (monitoring.ps1:576–637): the
    * signature source-vs-target report with the exact reference
    * thresholds. `feedDir` appends the `seconds_behind` time-lag
    * column ([[graft.streaming.CdcPipeline.timeLagSeconds]]). */
  def lagReport(
      spark: SparkSession,
      store: KeyedParquetStore,
      sources: Map[String, DataFrame],
      feedDir: Option[String] = None): DataFrame =
    graft.streaming.CdcPipeline.lagReport(spark, store, sources, feedDir)
      .withColumn("efficiency_band",
        graft.model.Thresholds.efficiencyBand(col("efficiency_pct")))

  /** §"SYNC STATUS" rollup (monitoring.ps1:614–637): totals across
    * tables + overall efficiency. */
  def syncSummary(lag: DataFrame): DataFrame =
    lag.agg(
        sum("src_rows").as("total_src"),
        sum("tgt_rows").as("total_tgt"),
        sum(when(col("sync_status") === "SYNCED", 1).otherwise(0)).as("n_synced"),
        count(lit(1)).as("n_tables"))
      .withColumn("overall_efficiency_pct",
        round(lit(100.0) * col("total_tgt") / col("total_src"), 1))
      .withColumn("health",
        graft.model.Thresholds.healthBand(lit(100.0) * col("n_synced") / col("n_tables")))

  /** §"STORAGE ANALYSIS" (monitoring.ps1:922,937 — `pg_database_size`
    * / `pg_indexes_size`): per-table storage breakdown. A parquet
    * store has no separate index segments; the pruning structures that
    * play the index role are (a) the manifest's per-bucket file lists and
    * (b) the parquet footers (column/offset indexes + row-group
    * min/max zone maps), so the report surfaces data bytes vs footer
    * ("index") bytes, plus the bucket/file layout that determines scan
    * fan-out. Manifest and footers only — no data pages are read. */
  def storageReport(
      spark: SparkSession, store: KeyedParquetStore, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    import graft.functions.FormatBytes.format_bytes
    val rows = tables.sorted.map { t =>
      if (store.exists(spark, t)) {
        val stats = store.bucketStats(spark, t) // (bucket, nFiles, bytes)
        val dataBytes = stats.map(_._3).sum
        val meta = store.footerBytes(spark, t)
        (t, stats.length, stats.map(_._2).sum, dataBytes - meta, meta)
      } else (t, 0, 0, 0L, 0L)
    }
    rows.toDF("table_name", "n_buckets", "n_files", "data_bytes", "index_bytes")
      .withColumn("total_bytes", col("data_bytes") + col("index_bytes"))
      .withColumn("pretty_total", format_bytes(col("total_bytes")))
      .withColumn("pretty_index", format_bytes(col("index_bytes")))
  }

  /** `pg_database_size` analogue: one-row grand total derived from an
    * already-computed [[storageReport]] — no second filesystem walk. */
  def databaseSizeOf(storage: DataFrame): DataFrame = {
    import graft.functions.FormatBytes.format_bytes
    storage
      .agg(
        count(lit(1)).as("n_tables"),
        sum("n_files").as("n_files"),
        sum("total_bytes").as("total_bytes"))
      .withColumn("pretty_size", format_bytes(col("total_bytes")))
  }

  /** §"REPLICATION INFRASTRUCTURE" (monitoring.ps1:960–1030): the
    * reference checks replication slots, `wal_level`, and
    * `max_wal_senders` with OK/WARNING rows. The engine's exact
    * analogues, one check row each:
    *
    *  - `applied_watermark` ↔ a slot's confirmed-flush LSN: the
    *    store-maintained applied record
    *    ([[KeyedParquetStore.appliedLsn]]) — WARNING when absent
    *    (nothing ever applied to this store);
    *  - `checkpoint_retention` ↔ `wal_level = logical`: the session
    *    retention SQLConfs
    *    ([[graft.streaming.CdcPipeline.configureCheckpointRetention]])
    *    — WARNING when the file-source log deletion conf is off
    *    (metadata grows O(batches²/compactInterval), the measured r10
    *    artifact);
    *  - `active_mirrors` ↔ WAL-sender occupancy: live StreamingQuery
    *    count vs the session's max (Spark has no hard sender cap —
    *    the health bar is ≥ 1 active when a mirror is expected);
    *  - `feed_consumers` (when `feedDir` is given) ↔ the slot LIST
    *    itself: the feed's registered consumer positions
    *    ([[graft.streaming.CdcPipeline.registeredConsumers]]) —
    *    WARNING when empty (feed pruning cannot engage: rotation
    *    gates deletion on registered consumers' committed sets, and a
    *    feed nobody registered on only ever grows) or when any
    *    registration has been INVALIDATED (a mirror's continuity is
    *    broken and awaits rebuild + acknowledgment);
    *  - `consumer_lag` (when `feedDir` is given) ↔ a slot's
    *    restart-LSN lag vs `max_slot_wal_keep_size`: per-consumer
    *    retention drag ([[graft.streaming.CdcPipeline.consumerLag]])
    *    — WARNING when any consumer's position is unreadable
    *    (degraded: it holds the WHOLE feed) or holds more than
    *    `maxConsumerHeldBytes`; the remedy is
    *    [[graft.streaming.CdcPipeline.invalidateConsumersOverBudget]];
    *  - `time_lag` (when `feedDir` is given) ↔ seconds-behind-source
    *    — the lag-over-time number the reference's monitoring
    *    narrative centers on (monitoring.ps1:576–614):
    *    [[graft.streaming.CdcPipeline.timeLagSeconds]], WARNING past
    *    `maxSecondsBehind` or when unknown while the feed has data
    *    (nothing applied / pre-r16 store).
    *
    * Driver-side metadata only (tiny file reads + conf reads) —
    * never a TABLE scan. The one exception is the `time_lag` row's
    * agg-only max-commitTs pass over the FEED, paid only when
    * `feedDir` is given AND `includeTimeLag` is left on: a JSON feed
    * gets no real column pruning, so this pass reads the retained feed
    * bytes — a different cost class. Frequent pollers set
    * `includeTimeLag = false` to keep the report strictly
    * metadata-only (the feed LISTING is shared either way — one FS
    * walk for the has-data guard and the lag computation). */
  def replicationInfra(spark: SparkSession,
      store: KeyedParquetStore,
      feedDir: Option[String] = None,
      maxConsumerHeldBytes: Long = 1L << 30,
      maxSecondsBehind: Long = 300L,
      includeTimeLag: Boolean = true): DataFrame = {
    import spark.implicits._
    val record = store.applied(spark)
    val applied = record.map(_.lsn)
    // the knobs that DISTINGUISH a configured session: log.deletion
    // defaults to true in OSS Spark (checking it would be vacuous);
    // cleanupDelay defaults to 10 min and minBatchesToRetain to 100 —
    // the r10 unbounded-metadata defaults configureCheckpointRetention
    // exists to replace
    val cleanupDelay = spark.conf
      .getOption("spark.sql.streaming.fileSource.log.cleanupDelay")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(600000L)
    val retain = spark.conf
      .getOption("spark.sql.streaming.minBatchesToRetain")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(100L)
    // "configured" = both knobs tightened BELOW the unbounded-growth
    // defaults (10-min cleanup delay, 100 retained batches) — any such
    // session is a deliberate retention setup, not just the one value
    // configureCheckpointRetention happens to write (a 1 s cleanup
    // delay is configured and sane; exact-matching 0 would WARN on it)
    val configured = cleanupDelay < 600000L && retain < 100L
    val mirrors = spark.streams.active.length
    val rows = Seq(
      ("applied_watermark",
        if (applied.isDefined) "OK" else "WARNING",
        applied.map(l => s"lsn=$l").getOrElse("nothing applied yet"),
        if (applied.isDefined) "Healthy" else "Check Setup"),
      ("checkpoint_retention",
        if (configured) "OK" else "WARNING",
        s"cleanupDelay=$cleanupDelay minBatchesToRetain=$retain",
        if (configured) "Optimal" else "Suboptimal"),
      ("active_mirrors",
        if (mirrors > 0) "OK" else "WARNING",
        s"$mirrors streaming queries",
        if (mirrors > 0) "Healthy" else "Idle")) ++
      feedDir.toSeq.flatMap { f =>
        val consumers = graft.streaming.CdcPipeline
          .registeredConsumers(spark, f).keys.toSeq.sorted
        val invalidated = graft.streaming.CdcPipeline
          .invalidatedConsumers(spark, f).keys.toSeq.sorted
        val lag = graft.streaming.CdcPipeline.consumerLag(spark, f)
        val laggards = lag.filter(c =>
          c.degraded.isDefined || c.heldBytes > maxConsumerHeldBytes)
        Seq(
          ("feed_consumers",
            if (consumers.nonEmpty && invalidated.isEmpty) "OK" else "WARNING",
            (if (consumers.nonEmpty)
              s"${consumers.size} registered: ${consumers.mkString(", ")}"
            else "no consumer registrations - feed pruning cannot engage") +
              (if (invalidated.nonEmpty)
                s"; ${invalidated.size} INVALIDATED awaiting rebuild: " +
                  invalidated.mkString(", ")
              else ""),
            if (consumers.nonEmpty && invalidated.isEmpty) "Healthy"
            else if (invalidated.nonEmpty) "Rebuild Required"
            else "Check Setup"),
          ("consumer_lag",
            if (laggards.isEmpty) "OK" else "WARNING",
            if (lag.isEmpty) "no valid consumers"
            else lag.map(c => s"${c.name}: holds ${c.heldFiles} files/" +
              s"${c.heldBytes} B" +
              c.degraded.map(_ => " (position UNREADABLE)").getOrElse(""))
              .mkString("; "),
            if (laggards.isEmpty) "Healthy" else "Feed Bloat Risk")) ++ {
          // ONE feed listing shared by the has-data guard and the lag
          // computation (timeLagSeconds would otherwise re-list); the
          // JSON max-commitTs scan is the row's doc'd cost and is
          // skipped entirely when includeTimeLag = false
          val feedHasData = graft.streaming.ChangeFeed
            .dataFiles(spark, f).nonEmpty
          if (!includeTimeLag) Seq.empty
          else {
            val secs = graft.streaming.CdcPipeline
              .timeLagSeconds(spark, store, f, feedHasData)
            // distinguish "never stamped" from "stamp gone stale"
            // (LSN advanced past the last commitTs-bearing event) from
            // "stamp current but the RETAINED feed carries no commitTs"
            // (e.g. pruning removed every commitTs-bearing file) —
            // three different operator actions (check the capture side
            // vs check why events stopped carrying commitTs vs check
            // feed retention). The stale wording only fires when the
            // stamp's LSN actually differs from the applied LSN;
            // printing "stale at lsn=X (applied lsn=X)" sent the
            // operator to the wrong place.
            val unknownDetail =
              if (!feedHasData) "empty feed"
              else record.flatMap(a => a.stamp.map(s => (a.lsn, s._1))) match {
                case Some((a, l)) if a == l =>
                  s"unknown - commit-time stamp current at lsn=$l but " +
                    "the retained feed events carry no commitTs"
                case Some((a, l)) =>
                  s"unknown - commit-time stamp stale at lsn=$l " +
                    s"(applied lsn=$a); recent events carry no commitTs"
                case None => "unknown - no applied commit-time watermark"
              }
            Seq(("time_lag",
              secs match {
                case Some(s) if s <= maxSecondsBehind => "OK"
                case Some(_) => "WARNING"
                // unknown while the feed holds data = no trustworthy
                // commit-time watermark — an operator should look
                case None if feedHasData => "WARNING"
                case None => "OK"
              },
              secs.map(s => s"${s}s behind source").getOrElse(unknownDetail),
              secs match {
                case Some(s) if s <= maxSecondsBehind => "Healthy"
                case Some(_) => "Falling Behind"
                case None if feedHasData => "Check Setup"
                case None => "Idle"
              }))
          }
        }
      }
    rows.toDF("component", "status", "details", "health")
  }

  /** §"ACTIVE STREAMS" (≈ container/connection health,
    * monitoring.ps1:704–831): live StreamingQuery states. */
  def streamHealth(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.streams.active.toSeq
      .map(q => (q.name, q.id.toString, q.isActive,
        Option(q.lastProgress).map(_.batchId).getOrElse(-1L)))
      .toDF("mirror_name", "query_id", "active", "last_batch_id")
  }

  /** Full report bundle (the monitoring.ps1 main, 1180–1239).
    * `feedDir` opts the bundle into the consumer-registry rows AND the
    * time-lag surfaces (the `seconds_behind` lag column + the
    * `time_lag` infra row). */
  def report(
      spark: SparkSession,
      store: KeyedParquetStore,
      sources: Map[String, DataFrame],
      feedDir: Option[String] = None): Map[String, DataFrame] = {
    val lag = lagReport(spark, store, sources, feedDir)
    // storage walked ONCE; the database-size rollup aggregates it
    val storage = storageReport(spark, store, sources.keys.toSeq)
    Map(
      "table_stats" -> tableStats(spark, store, sources.keys.toSeq),
      "storage" -> storage,
      "database_size" -> databaseSizeOf(storage),
      "lag" -> lag,
      "sync_summary" -> syncSummary(lag),
      "streams" -> streamHealth(spark),
      // feedDir opts the bundle into the consumer-registry rows
      // (feed_consumers + consumer_lag)
      "replication_infra" -> replicationInfra(spark, store, feedDir))
  }
}
