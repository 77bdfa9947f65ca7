package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.operators.Checkpointing

/** Keyed, bucketed parquet table store with idempotent merge — the
  * CDC target (reference: PeerDB's ordered apply to target tables,
  * README.md:231–238) without requiring a transactional table format.
  *
  * Layout: `<root>/<table>/bucket=<b>/part-*.parquet` where
  * `b = pmod(hash(key), nBuckets)`, plus a `_graft_schema.json`
  * sidecar carrying the row schema (schema propagation: target schema
  * derives from source, never hand-declared —
  * quickstart_prepare_peers.sh:80, SURVEY.md §1.3 — and reads never
  * pay parquet-footer schema inference).
  *
  * Scale design (the point of bucketing): a merge only reads and
  * rewrites the buckets that contain changed keys — cost is
  * O(touched buckets), not O(table size). At 100 TB you'd set
  * nBuckets so one bucket ≈ a few GB; a CDC micro-batch touching k
  * keys rewrites ≤ k buckets via dynamic partition overwrite, while
  * the other buckets are never opened (partition pruning on the
  * `bucket` directory column). Reads prune the same way.
  */
object KeyedParquetStore {
  /** Policy for a batch whose declared schema OMITS stored columns —
    * the observable shape of a source column DROP (the CDC path parses
    * change images with the source's declared schema, so an omitted
    * column there means the source no longer has it).
    *
    * Type CHANGES are never subject to policy: they always reject
    * loudly (silent coercion corrupts a mirror) and the operator runs
    * [[KeyedParquetStore.resync]] — the reference workflow's answer to
    * non-additive DDL (PeerDB resync, /root/reference/README.md:231–238). */
  sealed trait DropPolicy
  object DropPolicy {
    /** Pre-r7 default: the stored column survives, rows from narrower
      * batches read as null. Safe for intentionally-partial batches;
      * silently masks a real source drop. */
    case object KeepNullFill extends DropPolicy
    /** Reject the merge loudly, listing the dropped columns; the
      * operator chooses re-sync or an explicit KeepNullFill merge. */
    case object Error extends DropPolicy
  }
}

class KeyedParquetStore(val root: String, val nBuckets: Int = 16) {
  import KeyedParquetStore.DropPolicy

  private def path(table: String) = s"$root/$table"
  // Per-write option: the session conf is shared by every mirror and
  // reader in the session, so the store never sets it.
  private val OverwriteMode = "partitionOverwriteMode"
  // merge's per-row order; stored rows carry a null rank, which sorts
  // below every change
  private val Rank = "_graft_rank"
  private def schemaPath(table: String) = new Path(s"${path(table)}/_graft_schema.json")

  private def bucketOf(key: org.apache.spark.sql.Column) =
    pmod(hash(key), lit(nBuckets))

  /** The store's bucket assignment as a column expression — exposed so
    * the apply path can fold the touched-bucket set into the job that
    * pins its micro-batch ([[graft.streaming.CdcPipeline.withPinnedBatch]])
    * instead of a collect job per batch.
    * Callers MUST apply it to the key cast to the table's key type:
    * `hash()` is type-sensitive, so `hash("1") != hash(1L)`. */
  private[streaming] def bucketExpr(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bucketOf(key)

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, table: String): Boolean =
    fs(spark).exists(schemaPath(table))

  private def watermarkPath = new Path(s"$root/_graft_applied_lsn")
  private def commitTsPath = new Path(s"$root/_graft_applied_commit_ts")

  /** Record the highest fully-applied LSN (monotonic — a replayed
    * batch's lower max never regresses it). The watermark is what
    * makes feed retention self-serve: [[CdcPipeline.rotateCheckpoint]]
    * prunes at `appliedLsn - safety` without the operator tracking
    * positions out of band. Tiny atomic file (create-overwrite of a
    * one-line value) per micro-batch — the same cost class as the
    * checkpoint's own commit marker.
    *
    * `commitTs` (the watermark event's source commit timestamp, when
    * the apply path has it) lands in a sibling sidecar under the same
    * monotonic gate, RECORDED WITH THE LSN IT BELONGS TO (`"<lsn>
    * <millis>"`) — it is the "applied as of <source time>" half of
    * the seconds-behind-source lag metric
    * ([[CdcPipeline.timeLagSeconds]]). A later batch that advances the
    * LSN but carries no commitTs leaves the sidecar at the OLDER lsn,
    * so the staleness is detectable ([[appliedCommitTs]] then reads
    * unknown instead of overstating lag against a stale stamp).
    * Pre-r16 stores simply lack the file and the metric reads as
    * unknown. */
  def recordAppliedLsn(spark: SparkSession, lsn: Long,
      commitTs: Option[java.sql.Timestamp] = None): Unit =
    if (appliedLsn(spark).forall(_ < lsn)) {
      // OVERWRITING atomic rename from a per-call-unique tmp
      // ([[AtomicFiles]]), not delete-then-rename: a concurrent reader
      // (Monitor.replicationInfra, rotateIfOversized on a cadence
      // thread) must never observe the gap where the watermark is
      // absent, a crash must not lose it until the next batch, and two
      // mirrors sharing one store write CONCURRENTLY — racing
      // lower-LSN writers are the benign pre-existing race (a lower
      // watermark only means extra idempotent replay, never loss)
      AtomicFiles.writeAtomically(spark, watermarkPath, lsn.toString)
      commitTs.foreach(t =>
        AtomicFiles.writeAtomically(spark, commitTsPath, s"$lsn ${t.getTime}"))
    }

  /** The commit-time stamp with the LSN it was recorded at: (lsn,
    * source commit timestamp). Pre-r17 sidecars carried only the
    * millis — they parse with lsn = -1 (provenance unknown). */
  def appliedCommitTsAt(spark: SparkSession): Option[(Long, java.sql.Timestamp)] = {
    val f = fs(spark)
    if (!f.exists(commitTsPath)) None
    else {
      val in = f.open(commitTsPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      s.split("\\s+") match {
        case Array(lsn, ms) => Some((lsn.toLong, new java.sql.Timestamp(ms.toLong)))
        case Array(ms) => Some((-1L, new java.sql.Timestamp(ms.toLong)))
        case _ => None
      }
    }
  }

  /** Source commit timestamp at the applied watermark, if recorded
    * AND CURRENT: the stamp is honored only while its recorded LSN
    * equals the applied watermark — after a commitTs-less LSN advance
    * the metric honestly reads unknown rather than overstating lag
    * against a stale stamp. Legacy single-value sidecars (lsn
    * unknowable) stay honored for replay compatibility. */
  def appliedCommitTs(spark: SparkSession): Option[java.sql.Timestamp] =
    appliedCommitTsAt(spark).collect {
      case (l, t) if l < 0 || appliedLsn(spark).contains(l) => t
    }

  /** The highest applied LSN, if any batch has been applied. */
  def appliedLsn(spark: SparkSession): Option[Long] = {
    val f = fs(spark)
    if (!f.exists(watermarkPath)) None
    else {
      val in = f.open(watermarkPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(s.toLong)
    }
  }

  private def writeSchema(spark: SparkSession, table: String, schema: StructType): Unit = {
    val out = fs(spark).create(schemaPath(table), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** The persisted row schema (without the bucket partition column). */
  def schemaOf(spark: SparkSession, table: String): StructType = {
    val in = fs(spark).open(schemaPath(table))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Current bucket ids present on disk. */
  private def bucketsOnDisk(spark: SparkSession, table: String): Seq[Int] =
    fs(spark).listStatus(new Path(path(table)))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toInt).toSeq

  /** Read the current state of a table. Schema comes from the sidecar
    * — an emptied table reads as an empty DataFrame, and no parquet
    * footers are opened for inference. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val schema = schemaOf(spark, table)
    if (bucketsOnDisk(spark, table).isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      spark.read.schema(schema).parquet(path(table)).drop("bucket")
    }
  }

  /** [[read]] restricted to the buckets that could hold any of
    * `keys` — a bucket=… PARTITION filter, so Spark prunes the other
    * buckets' files before any read. For a point lookup of a small key
    * set (a reader's probe keys) this turns a full-table scan into
    * O(buckets the keys hash to); the driver collect is bounded by
    * nBuckets. Falls back to the full [[read]] when the keys cover
    * every bucket. The apply path never calls it: [[merge]] reads the
    * touched buckets itself. */
  def readForKeys(spark: SparkSession, table: String, keys: DataFrame,
      keyCol: String): DataFrame = {
    val schema = schemaOf(spark, table)
    if (bucketsOnDisk(spark, table).isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val touched = keys.select(bucketOf(col(keyCol)).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.size >= nBuckets) read(spark, table)
    else spark.read.schema(schema).parquet(path(table))
      .filter(col("bucket").isin(touched: _*))
      .drop("bucket")
  }

  /** Initial snapshot load (CDC snapshot-then-stream handoff,
    * flow-snapshot-worker docker-compose.yml:133–141): bulk-write the
    * source image partitioned by key bucket. */
  def snapshot(spark: SparkSession, table: String, source: DataFrame, keyCol: String): Unit = {
    require(!source.columns.contains("bucket"),
      s"table '$table' has a 'bucket' column — it collides with the store's partition column")
    source
      .withColumn("bucket", bucketOf(col(keyCol)))
      .repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .mode(SaveMode.Overwrite)
      .option(OverwriteMode, "static") // full replace, whatever the session says
      .parquet(path(table))
    writeSchema(spark, table, source.schema)
  }

  /** Additive schema evolution (the PeerDB-style schema propagation —
    * target schema follows source): the union keeps every stored field
    * and appends incoming fields that are new, in batch order. Type
    * changes are rejected loudly — silent coercion corrupts a mirror.
    * Old parquet files are never rewritten: reads give explicit
    * schemas, and the parquet reader null-fills columns a file
    * predates. */
  private def unionSchema(stored: StructType, incoming: StructType): StructType = {
    incoming.foreach { f =>
      stored.find(_.name == f.name).foreach { old =>
        require(old.dataType == f.dataType,
          s"schema evolution cannot change type of '${f.name}': " +
            s"${old.dataType.simpleString} -> ${f.dataType.simpleString}. " +
            "Retypes are non-additive - re-sync the table from the source " +
            "image (KeyedParquetStore.resync) as the reference workflow does")
      }
    }
    StructType(stored.fields ++
      incoming.fields.filterNot(f => stored.fieldNames.contains(f.name)))
  }

  /** Project `df` to `schema`, then `extra`, then bucket, null-padding
    * absent schema columns. */
  private def alignTo(df: DataFrame, schema: StructType, extra: Column*): DataFrame =
    df.select((schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ extra) :+ col("bucket"): _*)

  /** Idempotent merge of a change set into the table.
    *
    * `changes` carries `op` ("I"|"U"|"D"), the key column and the row
    * image for upserts. With `rankCol`, a key may appear several times
    * and its highest-ranked row wins (the apply path passes parsed
    * feed events ranked by LSN); without it, `changes` must carry one
    * row per key. The batch schema may be WIDER than the stored one
    * (new source columns) or narrower (columns absent from this batch)
    * — see [[unionSchema]]; existing rows get nulls for new columns,
    * new rows get nulls for omitted ones.
    *
    * Only buckets containing changed keys are read and rewritten
    * (dynamic partition overwrite). Their stored rows, ranked below
    * every change, and the changes meet in ONE shuffle on the bucket
    * column; `row_number` over (bucket, key) by rank descending runs
    * on that partitioning with no second exchange, keeps each key's
    * winner and drops deletes. The result is pinned, which breaks its
    * lineage from the files about to be overwritten (Spark refuses to
    * overwrite a path it is also reading from), and the pin's job
    * folds the buckets that still hold rows. Its partitions already
    * hold whole buckets, so the write needs no exchange and each
    * touched bucket gets one file. On the apply path's steady batch
    * that is 3 jobs: the shuffle map stage, the pin, the write.
    * Re-applying the same change set is a no-op — effective
    * exactly-once on top of Spark's at-least-once foreachBatch
    * (SURVEY.md §2.8 C5).
    *
    * `carry`: columns a winner may leave unset. Each takes the value
    * of the highest-ranked row of its key (the winner first, the
    * stored row last) that is not a delete and does not hold
    * [[CdcPipeline.UnchangedToast]] there; an explicit NULL is a
    * value. The rule is a whole-partition window aggregate on the
    * same window as `row_number`, so it adds no exchange and no job.
    * A winner that is not a delete and finds no value fails the pin's
    * job (`raise_error`), before anything is written: Postgres omits
    * a TOAST value only for a row that exists, so the feed and the
    * target have diverged. `movedKeys` (`_from`, `_to` key columns):
    * key moves whose new row may inherit from the old key's stored
    * row; that row joins the union under the new key, ranked above
    * the new key's own stored row (where a replay finds what the
    * first apply moved), at the cost of one broadcast job.
    *
    * `keepDeletes` (soft-delete mode): a delete winner is kept, not
    * dropped; the caller carries every data column, so a tombstone
    * keeps the last image its key had, the stored row included.
    *
    * `touchedHint`: the PRECOMPUTED bucket set of `changes`' keys
    * (`bucketExpr` over the key cast to the table's key type), which
    * skips this merge's own touched-bucket collect (2 jobs under AQE).
    * The hint must be the EXACT bucket set of the keys in `changes`
    * (and of `movedKeys`' old keys): a missing bucket would skip its
    * stored rows and duplicate keys. [[CdcPipeline.applyBatch]] folds
    * it into the job that pins the micro-batch. */
  def merge(spark: SparkSession, table: String, changes: DataFrame, keyCol: String,
      dropPolicy: DropPolicy = DropPolicy.KeepNullFill,
      touchedHint: Option[Seq[Int]] = None,
      rankCol: Option[String] = None,
      carry: Seq[String] = Nil,
      movedKeys: Option[DataFrame] = None,
      keepDeletes: Boolean = false): Unit = {
    require(!changes.columns.contains("bucket"),
      s"table '$table' has a 'bucket' column — it collides with the store's partition column")
    val keyed = changes.withColumn("bucket", bucketOf(col(keyCol)))
    val dataSchema = StructType(changes.schema.filterNot(f =>
      f.name == "op" || rankCol.contains(f.name)))
    val stored = if (exists(spark, table)) Some(schemaOf(spark, table)) else None
    stored.filter(_ => dropPolicy == DropPolicy.Error).foreach { s =>
      val dropped = s.fieldNames.filterNot(dataSchema.fieldNames.contains)
      require(dropped.isEmpty,
        s"table '$table': batch schema omits stored column(s) " +
          s"${dropped.mkString("[", ", ", "]")} under DropPolicy.Error - " +
          "a source column drop is non-additive; re-sync the table " +
          "(KeyedParquetStore.resync) or merge with DropPolicy.KeepNullFill")
    }
    val target = stored.fold(dataSchema)(unionSchema(_, dataSchema))

    // Buckets touched by this batch, when any are stored. The key set
    // per micro-batch is small relative to the table (CDC batches,
    // insert.ps1:11–13), and the collect is bounded by nBuckets, never
    // by table size.
    val onDisk = stored.isDefined && bucketsOnDisk(spark, table).nonEmpty
    val touched =
      if (!onDisk) Nil
      else touchedHint.getOrElse(
        keyed.select("bucket").distinct().collect().map(_.getInt(0)).toSeq)
    if (onDisk && touched.isEmpty) return

    val incoming = alignTo(keyed, target, col("op"),
      rankCol.fold(lit(0L))(col(_).cast(LongType)).as(Rank))
    val ranked =
      if (!onDisk) incoming
      else {
        val rows = spark.read.schema(stored.get).parquet(path(table))
          .filter(col("bucket").isin(touched: _*))
        def asStored(df: DataFrame, rank: Column) =
          alignTo(df, target, lit(null).cast("string").as("op"), rank.cast(LongType).as(Rank))
        val moved = movedKeys.map(m => asStored(
          rows.join(broadcast(m), col(keyCol) === col("_from"))
            .drop(keyCol, "bucket").withColumnRenamed("_to", keyCol)
            .withColumn("bucket", bucketOf(col(keyCol))), lit(Long.MinValue)))
        (asStored(rows, lit(null)) +: moved.toSeq :+ incoming).reduce(_ unionByName _)
      }
    val byKey = Window.partitionBy(col("bucket"), col(keyCol)).orderBy(col(Rank).desc_nulls_last)
    val isDelete = col("op") <=> "D"
    val carried = carry.map { c =>
      val holds = if (target(c).dataType != StringType) !isDelete
        else !isDelete && !(col(c) <=> CdcPipeline.UnchangedToast)
      first(when(holds, struct(col(c).as("v"))), ignoreNulls = true)
        .over(byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as(s"_carry_$c")
    }
    val winner = col("_rn") === 1
    val winners = ranked.repartition(col("bucket"))
      .select(col("*") +: row_number().over(byKey).as("_rn") +: carried: _*)
      .filter(if (keepDeletes) winner else winner && !isDelete)
      .select(target.fields.toSeq.map { f =>
        if (!carry.contains(f.name)) col(f.name)
        else when(col(s"_carry_${f.name}").isNull && !isDelete,
          raise_error(lit(s"table '$table': unchanged-TOAST column '${f.name}' " +
            "has no stored image to inherit from - feed and target have " +
            "diverged; re-sync the table (KeyedParquetStore.resync)")).cast(f.dataType))
          .otherwise(col(s"_carry_${f.name}.v")).as(f.name)
      } :+ col("bucket"): _*)

    val pin = Checkpointing.materialize(winners, keysOf = Some("bucket"))
    try {
      // Dynamic overwrite replaces only the bucket=... dirs present in
      // the merged rows. A touched bucket whose rows were ALL deleted is
      // absent from them — clear it explicitly or deletes would resurface.
      val f = fs(spark)
      touched.filterNot(pin.keys).foreach(b =>
        f.delete(new Path(s"${path(table)}/bucket=$b"), true))
      if (pin.keys.nonEmpty)
        pin.df.write.partitionBy("bucket").mode(SaveMode.Overwrite)
          .option(OverwriteMode, "dynamic").parquet(path(table))
    } finally Bridge.free(pin.df)
    // persist the (possibly widened) schema AFTER the data write, so a
    // crash between the two leaves a readable store (old sidecar, old
    // columns) rather than a sidecar promising columns no file carries
    // in rewritten buckets
    if (!stored.contains(target)) writeSchema(spark, table, target)
  }

  /** Non-additive evolution path — the reference workflow's RESYNC
    * (drop the target table, re-snapshot from the source with the new
    * schema, then resume the stream; /root/reference/README.md:231–238).
    * Column drops and retypes both land here: the stored files and the
    * schema sidecar are replaced wholesale, so no file on disk ever
    * disagrees with the sidecar about a column's type. */
  def resync(spark: SparkSession, table: String, source: DataFrame, keyCol: String): Unit = {
    fs(spark).delete(new Path(path(table)), true)
    snapshot(spark, table, source, keyCol)
  }

  /** Drop a table wholesale — data files and schema sidecar. The
    * target half of the mirror DROP lifecycle
    * ([[CdcPipeline.drop]]); also the first step of [[resync]]. */
  def drop(spark: SparkSession, table: String): Unit =
    fs(spark).delete(new Path(path(table)), true)

  /** Per-bucket file statistics — drives compaction decisions and the
    * monitoring table-stats report. */
  def bucketStats(spark: SparkSession, table: String): Seq[(Int, Int, Long)] = {
    val f = fs(spark)
    bucketsOnDisk(spark, table).sorted.map { b =>
      val files = f.listStatus(new Path(s"${path(table)}/bucket=$b"))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      (b, files.length, files.map(_.getLen).sum)
    }
  }

  /** Total parquet FOOTER metadata bytes across a table's files — the
    * store's closest analogue to `pg_indexes_size`: parquet footers
    * carry the column/offset indexes and row-group min/max zone maps
    * that serve the same pruning role as btree pages. Footer length is
    * the little-endian int32 in the 8-byte `len + "PAR1"` trailer. */
  def footerBytes(spark: SparkSession, table: String): Long = {
    val f = fs(spark)
    bucketsOnDisk(spark, table).map { b =>
      f.listStatus(new Path(s"${path(table)}/bucket=$b"))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map { s =>
          val in = f.open(s.getPath)
          try {
            in.seek(s.getLen - 8)
            val tail = new Array[Byte](4)
            in.readFully(tail)
            ((tail(0) & 0xffL) | ((tail(1) & 0xffL) << 8) |
              ((tail(2) & 0xffL) << 16) | ((tail(3) & 0xffL) << 24)) + 8L
          } finally in.close()
        }.sum
    }.sum
  }

  /** Compact every bucket to one file per bucket. Continuous CDC
    * merging accretes small files (each dynamic overwrite writes at
    * least one file per touched bucket); at scale a periodic compactor
    * keeps scan task counts proportional to data volume, not merge
    * history. Contents are untouched — only file layout changes.
    *
    * Optional `clusterBy`: sort rows by these columns within each
    * bucket during the rewrite. Parquet row-group min/max statistics
    * (zone maps) then become disjoint ranges on those columns, so
    * range/point predicates skip whole row groups at scan time — the
    * parquet-native analogue of clustered-index maintenance.
    *
    * Returns the number of rows PURGED by `dropWhere` (0 when none is
    * given), counted against the same pinned read the rewrite
    * consumes — so the count and the purge can never disagree, even
    * when a concurrent `applyBatchSoft` lands mid-compact (rows it
    * expires are simply part of the NEXT cycle). The pin's one job
    * folds both the purge count and the set of buckets that keep rows.
    *
    * Crash window: the fully-purged-bucket cleanup below runs as a
    * separate FS pass AFTER the dynamic-overwrite commit. A crash
    * between the two leaves such a bucket's old file in place and its
    * dropped rows visible again until the next cadence run — the purge
    * predicate is stable (`expired` only grows), so a re-run heals it
    * idempotently; durability of a purge is therefore "by the end of
    * the next completed cadence cycle", not "at job exit". */
  def compact(spark: SparkSession, table: String, clusterBy: Seq[String] = Nil,
      dropWhere: Option[Column] = None): Long = {
    val schema = schemaOf(spark, table)
    val before = bucketsOnDisk(spark, table)
    if (before.isEmpty) return 0L
    // `dropWhere` rows are PURGED during the rewrite — retention folded
    // into the compaction pass the cadence already pays, one table
    // rewrite instead of discovery + merge + compact as separate jobs
    // (CdcPipeline.sweepAndCompact's contract). A row where the
    // predicate evaluates to NULL (e.g. null _deleted) is KEPT —
    // retention must fail toward retaining. The pin breaks lineage
    // from the files being replaced.
    val purged = dropWhere.fold(lit(false))(c => coalesce(c, lit(false)))
    val pin = Checkpointing.materialize(spark.read.schema(schema).parquet(path(table))
      .withColumn("_purged", purged.cast("int"))
      .withColumn("_kept", when(col("_purged") === 0, col("bucket").cast("int"))),
      sumOf = Some("_purged"), keysOf = Some("_kept"))
    try {
      pin.df.filter(col("_purged") === 0).drop("_purged", "_kept")
        .repartition(col("bucket"))
        .sortWithinPartitions((col("bucket") +: clusterBy.map(col)): _*)
        .write.partitionBy("bucket").mode(SaveMode.Overwrite)
        .option(OverwriteMode, "dynamic").parquet(path(table))
      // dynamic overwrite leaves a bucket's OLD file in place when the
      // rewrite emits no rows for it — a fully-purged bucket must be
      // cleared explicitly or its dropped rows resurrect
      val f = fs(spark)
      before.filterNot(pin.keys).foreach(b =>
        f.delete(new Path(path(table), s"bucket=$b"), true))
      pin.sum.toLong
    } finally
      // a compaction CADENCE (sweepAndCompact) must not accumulate one
      // generation of checkpoint blocks per cycle
      Bridge.free(pin.df)
  }
}
