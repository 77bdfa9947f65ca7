package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** File-based change-feed source — the production shape of S5: the
  * capture side (PeerDB's WAL decoder in the reference,
  * docker-compose.yml:143–153) lands change batches as JSON-lines
  * files in a flat feed directory; the engine tails the directory
  * with [[stream]], Spark's JSON file source behind [[FeedSource]].
  *
  * Polling: the mirror polls every `spark.sql.streaming.pollingDelay`
  * (10 ms). A poll that finds new files lists the feed in full, as
  * the file source does. A poll of an idle feed costs one directory
  * listing: the gate skips the file source's `InMemoryFileIndex`
  * rebuild while no new name has landed since it last caught up. A
  * subdirectory the file source reads, a file sink's
  * `_spark_metadata` log, a glob path or a missing directory falls
  * back to the full listing on every poll.
  *
  * Backpressure maps to the reference's batch pacing
  * (insert.ps1:11–13, 327–329): `maxFilesPerTrigger` bounds each
  * micro-batch (batch-size analogue) and the processing-time trigger
  * is the inter-batch delay analogue — both surfaced on
  * [[CdcPipeline]] callers via [[stream]] options.
  */
object ChangeFeed {

  /** The on-feed JSON schema of one change event. `beforeKey` is
    * nullable and ABSENT from every pre-r15 feed file — the JSON
    * reader null-fills it, so old feeds replay unchanged (null =
    * key unchanged, see [[ChangeEvent.beforeKey]]). */
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType),
    StructField("commitTs", TimestampType),
    StructField("op", StringType),
    StructField("table", StringType),
    StructField("key", LongType),
    StructField("after", StringType),
    StructField("beforeKey", LongType)))

  /** Open the feed directory as a streaming DataFrame of ChangeEvents.
    * Offsets and the checkpoint's `sources/<n>` log are the file
    * source's own, so a checkpoint written by a plain file
    * `readStream` of the feed resumes here unchanged. An idle poll
    * of a flat feed costs one `listStatus` ([[FeedSource]] states
    * the rule).
    *
    * @param maxFilesPerTrigger micro-batch size bound (backpressure;
    *                           0 = unbounded)
    */
  def stream(spark: SparkSession, feedDir: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.format(classOf[FeedSourceProvider].getName).schema(schema)
    val tuned = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader
    tuned.load(feedDir)
  }

  /** Batch view of a feed directory (replay / backfill). */
  def readAll(spark: SparkSession, feedDir: String): DataFrame =
    spark.read.schema(schema).json(feedDir)

  /** Land a batch of change events on the feed (the capture side;
    * test/demo helper — a real deployment's decoder writes here).
    * Envelope columns the batch omits (`beforeKey` from a pre-r15
    * producer) publish as null. */
  def publish(events: DataFrame, feedDir: String): Unit =
    events.select(schema.fields.toSeq.map { f =>
        if (events.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      .write.mode("append").json(feedDir)

  /** [[publish]] with TRANSACTION-ATOMIC, COMMIT-ORDERED file
    * boundaries: every source transaction (= one `commitTs` — Postgres
    * commit timestamps are per transaction, and a transaction's WAL
    * records are consecutive) lands whole inside exactly one feed
    * file, and files are written SEQUENTIALLY in commit order.
    * Micro-batches are whole files and the file source consumes
    * oldest-modtime first, so a mirror's target never exposes a
    * partial transaction at a batch boundary AND never applies
    * batches out of commit order — the transaction-consistent sync
    * grouping PeerDB documents for its CDC batches, made a property
    * of the feed layout rather than of sink-side bookkeeping. A plain
    * hash `repartition(n)` before [[publish]] gives neither property:
    * parallel part files land with interleaved transactions and
    * effectively random modtimes, so a key's newer change can be
    * overwritten by its older one in a later micro-batch (the
    * unconditional LWW merge trusts consumption order, as a WAL tail
    * should).
    *
    * The sequential write is inherent to the contract, not a
    * limitation — a real decoder is a single WAL cursor emitting
    * files in commit order by construction; this helper reproduces
    * that shape for batch-landed feeds.
    *
    * Scale shape (r15 de-funnel + r17 single-pass write):
    * transactions are assigned to files by
    * [[graft.operators.Ranks.globalRank]] over the distinct-commitTs
    * frame — per-bucket parallel windows plus a ≤buckets² offset fold,
    * NO unpartitioned window anywhere, so a million-transaction
    * backfill republish never funnels its transaction frame through
    * one task. The rank→events join is a plain equi-join with no
    * forced broadcast hint: AQE broadcasts it while the frame is under
    * the session broadcast budget and falls back to a shuffle join
    * past it (the frame grows with |transactions|, not |events|). The
    * WRITE is one `partitionBy("_file")` job over the whole events
    * frame (each file id's rows are shuffled to one task by
    * `repartition(_file)`, so each `_file=k` dir holds exactly one
    * part file, sorted by (commitTs, lsn)); the pre-r17 shape re-ran
    * one filter-scan job per file over a cached frame — O(nFiles ×
    * |events|) on the API's own backfill use case. The commit-ordered
    * rename + mtime walk over the per-file dirs is driver-side FS
    * metadata only.
    *
    * Consumption-order durability: the file source consumes
    * oldest-modification-time first, and two sequential writes CAN tie
    * on filesystems with coarse mtime granularity (same-ms local FS;
    * 1 s Last-Modified on object stores) — between tied files the
    * consumption order would be undefined and the unconditional LWW
    * merge could regress keys. Each slice therefore lands under a
    * SEQUENCE-NUMBERED name (`txn-<seq>-…`, zero-padded so name order
    * = commit order for any tool that sorts lexically; the sequence
    * cursor seeds from the max existing `txn-<seq>` in the feed, so
    * the lexical contract survives repeated publishes into the same
    * feed) and its mtime is stamped strictly greater than every
    * earlier feed file's (`FileSystem.setTimes`). On local FS/HDFS the
    * stamp makes the source's mtime order total and equal to commit
    * order by construction; on filesystems where `setTimes` is a
    * silent no-op (e.g. S3A) the stamp is verified by read-back and a
    * warning is logged once — there the name order still equals commit
    * order, but mtime ties at the store's Last-Modified grain are
    * possible and the 1-file-per-trigger ordering guarantee degrades
    * to the store's timestamp granularity. */
  def publishTransactional(events: DataFrame, feedDir: String,
      nFiles: Int): Unit = {
    val aligned = events.select(schema.fields.toSeq.map { f =>
      if (events.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // a null commitTs would vanish in the equi-join below (null never
    // equals null) — refuse loudly instead of silently dropping events
    require(aligned.filter(col("commitTs").isNull).isEmpty,
      "publishTransactional: events with null commitTs cannot be " +
        "assigned to a transaction file - stamp commitTs or use publish()")
    val tagged = aligned.join(transactionFileAssignment(aligned, nFiles),
      Seq("commitTs"))
    val dir = new org.apache.hadoop.fs.Path(feedDir)
    val fs = dir.getFileSystem(
      events.sparkSession.sparkContext.hadoopConfiguration)
    // ONE job over the events frame: land every file id's slice at
    // once under a hidden tmp dir (readers filter `.`-prefixed paths),
    // one part file per `_file=k` dir, rows sorted by (commitTs, lsn)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".txn_tmp_${java.util.UUID.randomUUID()}")
    // appends to a non-empty feed must order AFTER everything already
    // there — seed the monotone mtime cursor AND the sequence-number
    // cursor from the existing feed files
    val existing =
      if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(dir).filter(_.isFile)
    var prevMtime = existing.map(_.getModificationTime).foldLeft(0L)(math.max)
    val seqRe = """^txn-(\d+)-""".r
    var seq = existing
      .flatMap(s => seqRe.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong))
      .foldLeft(-1L)(math.max) + 1
    var mtimeStampVerified = true
    try {
      tagged.repartition(col("_file"))
        .sortWithinPartitions("_file", "commitTs", "lsn")
        .write.mode("overwrite").partitionBy("_file").json(tmp.toString)
      // commit-ordered rename walk: move each file id's part file to
      // its sequenced name and stamp a strictly increasing mtime.
      // A missing `_file=k` dir (fewer transactions than nFiles)
      // writes nothing — skipping keeps the sequence numbers dense.
      (1 to nFiles).foreach { k =>
        val sub = new org.apache.hadoop.fs.Path(tmp, s"_file=$k")
        if (fs.exists(sub))
          fs.listStatus(sub)
            .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
            .sortBy(_.getPath.getName)
            .foreach { p =>
              val dest = new org.apache.hadoop.fs.Path(dir,
                f"txn-$seq%06d-${p.getPath.getName}")
              require(fs.rename(p.getPath, dest),
                s"publishTransactional: rename to $dest failed")
              prevMtime = math.max(prevMtime + 1,
                fs.getFileStatus(dest).getModificationTime)
              fs.setTimes(dest, prevMtime, -1)
              // setTimes is a SILENT no-op on some filesystems (S3A) —
              // verify by read-back and warn once rather than let the
              // doc'd total-mtime-order claim degrade silently
              if (mtimeStampVerified &&
                  fs.getFileStatus(dest).getModificationTime != prevMtime) {
                mtimeStampVerified = false
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"publishTransactional: FileSystem.setTimes had no " +
                    s"effect on ${fs.getUri} - feed mtime order falls " +
                    "back to the store's timestamp granularity; lexical " +
                    "txn-<seq> name order still equals commit order")
              }
              seq += 1
            }
      }
    } finally fs.delete(tmp, true)
  }

  /** Commit-order file id per distinct `commitTs`, in [1, nFiles] —
    * [[publishTransactional]]'s assignment frame, factored out so the
    * spec can gate its physical plan. Monotone in commit order, so
    * each file covers one contiguous commit range. The rank comes from
    * [[graft.operators.Ranks.globalRank]] (per-bucket parallel windows
    * + a ≤buckets² offset fold) — NO unpartitioned window, so the
    * frame never funnels through one task however many transactions a
    * backfill republish carries. `unix_micros` is a monotone injection
    * of the distinct timestamps into the numeric order column
    * globalRank wants. */
  private[graft] def transactionFileAssignment(
      aligned: DataFrame, nFiles: Int): DataFrame = {
    val txns = aligned.select("commitTs").distinct()
      .withColumn("_ts_us", unix_micros(col("commitTs")))
    graft.operators.Ranks.globalRank(txns, "_ts_us", "_rk")
      .select(col("commitTs"),
        (expr(s"((_rk - 1) * $nFiles) div _total") + 1).cast("int").as("_file"))
  }

  /** Driver-side listing of the feed's DATA files, name → bytes: the
    * files the stream's file source reads, found by Spark's own
    * hidden-name rule at every level
    * ([[org.apache.spark.sql.graftbridge.Bridge.hiddenName]]: no
    * `_consumers/`, `_SUCCESS`, dot files or in-flight `._COPYING_`
    * uploads), partition subdirectories included. A file's name is its
    * decoded path under the feed (`a.json`, `p=2/x.json`), the name
    * [[fileNames]] gives a source-log entry. File-count-sized FS
    * metadata walk, no data read — the listing [[prune]] deletes from
    * and [[CdcPipeline.consumerLag]] measures against. */
  def dataFiles(spark: SparkSession, feedDir: String): Map[String, Long] =
    listing(spark, feedDir).map { case (name, s) => name -> s.getLen }.toMap

  private def listing(spark: SparkSession,
      feedDir: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val dir = new org.apache.hadoop.fs.Path(feedDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.filterNot(s => Bridge.hiddenName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    if (!fs.exists(dir)) Nil
    else {
      val name = fileNames(spark, feedDir)
      walk(dir).flatMap(s => name(s.getPath).map(_ -> s))
    }
  }

  /** A file's name under the feed, as [[dataFiles]] keys it: its
    * decoded path relative to the feed directory, None outside it. A
    * qualified listing path and a source-log entry (URI-encoded in the
    * log, decoded by Spark's `SparkPath`) name one file the same way,
    * so `with space.json` and `pct%20enc.json` match on both sides,
    * while two files sharing a leaf in different partitions stay apart. */
  private[graft] def fileNames(spark: SparkSession,
      feedDir: String): org.apache.hadoop.fs.Path => Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(feedDir)
    val root = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
    p => Some(p.toUri.getPath).filter(_.startsWith(root)).map(_.drop(root.length))
  }

  /** FEED RETENTION: delete the feed data files named in `files`
    * ([[dataFiles]] names) and nothing else — FS metadata only, no data
    * read. This is the engine's half of bounding a long-lived mirror's
    * metadata — Spark's file-source compact log retains every file
    * entry FOREVER (`CompactibleFileStreamLog.shouldRetain` is a
    * constant `true` in OSS Spark, and `maxFileAge` only bounds the
    * in-memory seen-map), so the only way to a bytes plateau is to
    * shrink the FEED and rotate the checkpoint: prune applied files,
    * then restart the mirror with a FRESH `checkpointDir`. The new
    * source log lists only surviving files — O(retention window), not
    * O(history) — and any surviving file the mirror already applied is
    * re-read and absorbed by the sink's idempotent by-PK merge. Call
    * with the query STOPPED. [[CdcPipeline.rotateCheckpoint]] passes
    * the files every registered consumer has committed.
    *
    * Returns (filesDeleted, filesKept) over the feed's data files. */
  def prune(spark: SparkSession, feedDir: String, files: Set[String]): (Long, Long) = {
    val (dead, live) = listing(spark, feedDir).partition { case (name, _) => files(name) }
    dead.foreach { case (_, s) =>
      s.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(s.getPath, false)
    }
    (dead.size.toLong, live.size.toLong)
  }
}
