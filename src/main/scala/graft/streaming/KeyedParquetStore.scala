package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Checkpointing

/** Keyed, bucketed parquet table store with idempotent merge — the
  * CDC target (reference: PeerDB's ordered apply to target tables,
  * README.md:231–238) without requiring a transactional table format.
  *
  * Layout: each table is one [[FileManifest]] set in `<root>/<table>`,
  * bucketed by `b = pmod(hash(key), nBuckets)`. The manifest holds the
  * row schema (schema propagation: target schema derives from source,
  * never hand-declared — quickstart_prepare_peers.sh:80, SURVEY.md
  * §1.3). A directory without a manifest is a table that does not
  * exist.
  *
  * Commit: one atomic replace of the manifest — the reference's target
  * commits each normalize batch atomically, and so does this store: a
  * crash at any step before it leaves the previous version whole, and
  * after it the new one. Commits to one table are serialized by the
  * manifest's lock, so a `compact` racing a `merge` cannot lose the
  * merge's update; readers take no lock and see one whole version.
  *
  * Scale design (the point of bucketing): a merge only reads and
  * rewrites the buckets that contain changed keys — cost is
  * O(touched buckets), not O(table size). At 100 TB you'd set
  * nBuckets so one bucket ≈ a few GB; a CDC micro-batch touching k
  * keys rewrites ≤ k buckets, while the other buckets' files are
  * carried into the new version unopened. Reads prune the same way:
  * `bucket` is the scan's partition column, and a filter on it
  * filters the manifest's entries.
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


  /** The bound on a reader's lifetime ([[FileManifest.RetentionMs]]):
    * a frame from [[KeyedParquetStore.read]] must run within this time
    * of the commit that retires its files. */
  val RetentionMs: Long = FileManifest.RetentionMs

  /** The applied record: the highest applied LSN, and the source
    * commit-time stamp with the LSN it was recorded at. */
  private[graft] final case class Applied(lsn: Long, stamp: Option[(Long, java.sql.Timestamp)])
}

class KeyedParquetStore(val root: String, val nBuckets: Int = 16) {
  import KeyedParquetStore._
  import FileManifest.Manifest

  private def path(table: String) = s"$root/$table"

  /** The store's bucket assignment as a column expression — exposed so
    * the apply path can fold the touched-bucket set into the job that
    * pins its micro-batch ([[graft.streaming.CdcPipeline.withPinnedBatch]])
    * instead of a collect job per batch.
    * Callers MUST apply it to the key cast to the table's key type:
    * `hash()` is type-sensitive, so `hash("1") != hash(1L)`. */
  private[streaming] def bucketExpr(key: Column): Column = pmod(hash(key), lit(nBuckets))

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def manifest(spark: SparkSession, table: String) = FileManifest.read(spark, path(table))

  private def current(spark: SparkSession, table: String): Manifest = manifest(spark, table)
    .getOrElse(throw new java.io.FileNotFoundException(s"table '$table' does not exist in $root"))

  def exists(spark: SparkSession, table: String): Boolean = FileManifest.exists(spark, path(table))

  private def appliedPath = new Path(s"$root/_graft_applied")

  /** Record the highest fully-applied LSN (monotonic — a replayed
    * batch's lower max never regresses it): the store's
    * confirmed-flush position, read by the monitor's
    * `applied_watermark` row. Feed retention does not read it —
    * [[CdcPipeline.rotateCheckpoint]] deletes by the consumers' commit
    * logs.
    *
    * `commitTs` (the watermark event's source commit timestamp, when
    * the apply path has it) is the "applied as of <source time>" half
    * of the seconds-behind-source lag metric
    * ([[CdcPipeline.timeLagSeconds]]). It is stamped WITH THE LSN IT
    * BELONGS TO; a later batch that advances the LSN but carries no
    * commitTs keeps the older stamp, so the staleness is detectable
    * ([[appliedCommitTs]] then reads unknown instead of overstating lag
    * against a stale stamp).
    *
    * Both live in ONE store-level record, `<root>/_graft_applied`
    * (`<applied lsn> [<stamp lsn> <stamp millis>]`), written as one
    * OVERWRITING atomic rename from a per-call-unique tmp
    * ([[AtomicFiles]]): a concurrent reader (Monitor.replicationInfra,
    * [[CdcPipeline.timeLagSeconds]]) never observes it absent or
    * half-updated, and two mirrors sharing one store write
    * CONCURRENTLY — racing lower-LSN writers are the benign race (the
    * watermark reads lower until the next apply, never past an
    * unapplied change). */
  def recordAppliedLsn(spark: SparkSession, lsn: Long,
      commitTs: Option[java.sql.Timestamp] = None): Unit = {
    val prev = applied(spark)
    if (prev.forall(_.lsn < lsn)) {
      val stamp = commitTs.map(t => (lsn, t)).orElse(prev.flatMap(_.stamp))
      AtomicFiles.writeAtomically(spark, appliedPath,
        (lsn +: stamp.toSeq.flatMap { case (l, t) => Seq(l, t.getTime) }).mkString(" "))
    }
  }

  /** The applied record ([[recordAppliedLsn]]), if any batch has been
    * applied. */
  private[graft] def applied(spark: SparkSession): Option[Applied] =
    AtomicFiles.read(spark, appliedPath).map(_.trim.split("\\s+").map(_.toLong)).map {
      case Array(lsn, l, ms) => Applied(lsn, Some((l, new java.sql.Timestamp(ms))))
      case a => Applied(a.head, None)
    }

  /** The commit-time stamp with the LSN it was recorded at: (lsn,
    * source commit timestamp). */
  def appliedCommitTsAt(spark: SparkSession): Option[(Long, java.sql.Timestamp)] =
    applied(spark).flatMap(_.stamp)

  /** Source commit timestamp at the applied watermark, if recorded
    * AND CURRENT: the stamp is honored only while its recorded LSN
    * equals the applied watermark — after a commitTs-less LSN advance
    * the metric honestly reads unknown rather than overstating lag
    * against a stale stamp. */
  def appliedCommitTs(spark: SparkSession): Option[java.sql.Timestamp] =
    applied(spark).flatMap(a => a.stamp.collect { case (l, t) if l == a.lsn => t })

  /** The highest applied LSN, if any batch has been applied. */
  def appliedLsn(spark: SparkSession): Option[Long] = applied(spark).map(_.lsn)

  /** The persisted row schema (without the bucket partition column). */
  def schemaOf(spark: SparkSession, table: String): StructType = current(spark, table).schema

  private def scan(spark: SparkSession, table: String, m: Manifest): DataFrame =
    FileManifest.scan(spark, path(table), m)

  /** Read the current version of a table: its manifest's files, with
    * its schema — an emptied table reads as an empty DataFrame, and no
    * directory is listed and no footer opened for inference. */
  def read(spark: SparkSession, table: String): DataFrame =
    scan(spark, table, current(spark, table)).drop("bucket")

  /** [[read]] restricted to the buckets that could hold any of
    * `keys` — a `bucket` PARTITION filter, so the scan skips the other
    * buckets' files. For a point lookup of a small key set (a reader's
    * probe keys) this turns a full-table scan into O(buckets the keys
    * hash to); the driver collect is bounded by nBuckets. Falls back to
    * the full [[read]] when the keys cover every bucket. The apply path
    * never calls it: [[merge]] reads the touched buckets itself. */
  def readForKeys(spark: SparkSession, table: String, keys: DataFrame,
      keyCol: String): DataFrame =
    readBuckets(spark, table,
      if (current(spark, table).live.isEmpty) Nil
      else keys.select(bucketExpr(col(keyCol))).distinct().collect().map(_.getInt(0)).toSeq)

  /** [[read]] restricted to `buckets` — a `bucket` PARTITION filter, so
    * the scan opens only those buckets' files; the full [[read]] when
    * they cover every bucket. */
  private[graft] def readBuckets(spark: SparkSession, table: String,
      buckets: Seq[Int]): DataFrame = {
    val rows = scan(spark, table, current(spark, table))
    (if (buckets.distinct.size >= nBuckets) rows
    else rows.filter(col("bucket").isin(buckets: _*))).drop("bucket")
  }

  /** Live files of a table's current version: (bucket, path). */
  private[graft] def liveFiles(spark: SparkSession, table: String): Seq[(Int, String)] =
    current(spark, table).live.map(f => (f.bucket, new Path(path(table), f.path).toString))

  /** Run `body` holding `table`'s commit lock ([[FileManifest.locked]]). */
  private[graft] def locked[T](table: String)(body: => T): T =
    FileManifest.locked(path(table))(body)

  /** Delete every file of `table` that its current version does not
    * name ([[FileManifest.purgeSuperseded]]). Erasure's obligation
    * covers the retained copies too
    * ([[graft.operators.Erasure.forgetFromStore]]). */
  private[graft] def purgeSuperseded(spark: SparkSession, table: String): Unit =
    FileManifest.purgeSuperseded(spark, path(table))

  /** Initial snapshot load (CDC snapshot-then-stream handoff,
    * flow-snapshot-worker docker-compose.yml:133–141): bulk-write the
    * source image partitioned by key bucket as a new version that
    * replaces every file of the previous one. */
  def snapshot(spark: SparkSession, table: String, source: DataFrame, keyCol: String): Unit = {
    require(!source.columns.contains("bucket"),
      s"table '$table' has a 'bucket' column — it collides with the store's partition column")
    locked(table)(FileManifest.commit(spark, path(table), manifest(spark, table), source.schema,
      source.withColumn("bucket", bucketExpr(col(keyCol))).repartition(col("bucket")), _ => true))
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

  /** Idempotent merge of a change set into the table.
    *
    * `changes` carries `op` ("I"|"U"|"D"), the key column and the row
    * image for upserts. With `rankCol`, a key may appear several times
    * and its highest-ranked row wins (the apply path passes parsed
    * feed events ranked by LSN); without it, `changes` must carry one
    * row per key; with `movedKeys`, also the rule's [[ApplyRule.Born]]
    * flag, which is not stored. The batch schema may be WIDER than the
    * stored one (new source columns) or narrower (columns absent from
    * this batch) — see [[unionSchema]]; existing rows get nulls for new
    * columns, new rows get nulls for omitted ones.
    *
    * Only buckets containing changed keys are read and rewritten: the
    * merge reads version N's files of those buckets and writes version
    * N+1's, so it never reads a file it replaces. The stored rows are
    * the base of the apply rule ([[ApplyRule.resolve]]), which meets
    * them and the changes in ONE shuffle on the bucket column and runs
    * its window over (bucket, key) on that partitioning with no second
    * exchange; the merge then drops delete winners. Its partitions hold
    * whole buckets, so the write needs no exchange and each touched
    * bucket that keeps rows gets one file; a touched bucket that
    * emptied gets none, and the commit drops its old files. On the
    * apply path's steady batch that is 2 jobs: the shuffle map stage
    * and the write. Re-applying the same change set is a no-op —
    * effective exactly-once on top of Spark's at-least-once
    * foreachBatch (SURVEY.md §2.8 C5).
    *
    * `carry` and `movedKeys` are the rule's: columns a winner may leave
    * unset inherit the key's previous value, the stored row last, and a
    * marker with no value to inherit fails the write job before
    * anything is committed; a key move's new row may inherit from the
    * old key (one broadcast job more).
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
      keepDeletes: Boolean = false): Unit = locked(table) {
    require(!changes.columns.contains("bucket"),
      s"table '$table' has a 'bucket' column — it collides with the store's partition column")
    val keyed = changes.withColumn("bucket", bucketExpr(col(keyCol)))
    val dataSchema = StructType(changes.schema.filterNot(f =>
      f.name == "op" || f.name == ApplyRule.Born || rankCol.contains(f.name)))
    val cur = manifest(spark, table)
    cur.filter(_ => dropPolicy == DropPolicy.Error).foreach { m =>
      val dropped = m.schema.fieldNames.filterNot(dataSchema.fieldNames.contains)
      require(dropped.isEmpty,
        s"table '$table': batch schema omits stored column(s) " +
          s"${dropped.mkString("[", ", ", "]")} under DropPolicy.Error - " +
          "a source column drop is non-additive; re-sync the table " +
          "(KeyedParquetStore.resync) or merge with DropPolicy.KeepNullFill")
    }
    val target = cur.fold(dataSchema)(m => unionSchema(m.schema, dataSchema))

    // Buckets touched by this batch, when any are stored. The key set
    // per micro-batch is small relative to the table (CDC batches,
    // insert.ps1:11–13), and the collect is bounded by nBuckets, never
    // by table size.
    val onDisk = cur.exists(_.live.nonEmpty)
    val touched =
      if (!onDisk) Nil
      else touchedHint.getOrElse(
        keyed.select("bucket").distinct().collect().map(_.getInt(0)).toSeq)
    if (!onDisk || touched.nonEmpty) {
      // before the first commit the base is empty: a marker still has
      // nothing to inherit and fails
      val stored = scan(spark, table, cur.getOrElse(Manifest(target, Nil, Nil, Map.empty)))
        .filter(col("bucket").isin(touched: _*))
      val winners = ApplyRule.resolve(keyed, rankCol.fold(lit(0L))(col), keyCol, target,
        Some(stored), carry, movedKeys, Some(bucketExpr), s"table '$table'")
      FileManifest.commit(spark, path(table), cur, target,
        (if (keepDeletes) winners else winners.filter(!(col("op") <=> "D"))).drop("op"),
        touched.toSet)
    }
  }

  /** Non-additive evolution path — the reference workflow's RESYNC
    * (drop the target table, re-snapshot from the source with the new
    * schema, then resume the stream; /root/reference/README.md:231–238).
    * Column drops and retypes both land here: the new version's files
    * and schema replace the old ones in one commit, so no file a
    * version names ever disagrees with its schema about a column's
    * type. */
  def resync(spark: SparkSession, table: String, source: DataFrame, keyCol: String): Unit =
    snapshot(spark, table, source, keyCol)

  /** Drop a table wholesale — manifest and every file. The target half
    * of the mirror DROP lifecycle ([[CdcPipeline.drop]]). */
  def drop(spark: SparkSession, table: String): Unit =
    locked(table)(fs(spark).delete(new Path(path(table)), true))

  /** Per-bucket file statistics of the current version — drives
    * compaction decisions and the monitoring table-stats report. */
  def bucketStats(spark: SparkSession, table: String): Seq[(Int, Int, Long)] =
    current(spark, table).live.groupBy(_.bucket).toSeq.sortBy(_._1)
      .map { case (b, fs) => (b, fs.size, fs.map(_.bytes).sum) }

  /** Total parquet FOOTER metadata bytes across a table's live files —
    * the store's closest analogue to `pg_indexes_size`: parquet footers
    * carry the column/offset indexes and row-group min/max zone maps
    * that serve the same pruning role as btree pages. Footer length is
    * the little-endian int32 in the 8-byte `len + "PAR1"` trailer. */
  def footerBytes(spark: SparkSession, table: String): Long = {
    val f = fs(spark)
    current(spark, table).live.map { l =>
      val in = f.open(new Path(path(table), l.path))
      val tail = new Array[Byte](4)
      try in.readFully(l.bytes - 8, tail) finally in.close()
      (java.nio.ByteBuffer.wrap(tail).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        & 0xffffffffL) + 8L
    }.sum
  }

  /** Compact every bucket to one file per bucket. Continuous CDC
    * merging accretes small files (each merge writes at least one file
    * per touched bucket); at scale a periodic compactor keeps scan
    * task counts proportional to data volume, not merge history.
    * Contents are untouched — only file layout changes. It commits
    * like any write, under the table's lock, so a merge that lands
    * while it runs waits for it and then applies on top of it.
    *
    * Optional `clusterBy`: sort rows by these columns within each
    * bucket during the rewrite. Parquet row-group min/max statistics
    * (zone maps) then become disjoint ranges on those columns, so
    * range/point predicates skip whole row groups at scan time — the
    * parquet-native analogue of clustered-index maintenance.
    *
    * Returns the number of rows PURGED by `dropWhere` (0 when none is
    * given): the rewrite drops them, and the pin its count comes from
    * is the read the rewrite consumes, so the count and the purge can
    * never disagree. A row where the predicate evaluates to NULL (e.g.
    * null _deleted) is KEPT — retention must fail toward retaining. A
    * bucket the purge empties gets no file in the new version. */
  def compact(spark: SparkSession, table: String, clusterBy: Seq[String] = Nil,
      dropWhere: Option[Column] = None): Long = locked(table) {
    val cur = current(spark, table)
    if (cur.live.isEmpty) 0L
    else {
      val rows = scan(spark, table, cur)
      def write(kept: DataFrame): Unit =
        FileManifest.commit(spark, path(table), Some(cur), cur.schema, kept.repartition(col("bucket"))
          .sortWithinPartitions((col("bucket") +: clusterBy.map(col)): _*), _ => true)
      dropWhere match {
        case None => write(rows); 0L
        case Some(c) =>
          // the pin is freed on return: a compaction CADENCE
          // (sweepAndCompact) must not accumulate one generation of
          // checkpoint blocks per cycle
          val marked = rows.withColumn("_purged", coalesce(c, lit(false)).cast("int"))
          Checkpointing.pinnedWith(marked, Checkpointing.counting(marked, Some("_purged"))) {
            case (pin, (_, purged)) =>
              write(pin.filter(col("_purged") === 0).drop("_purged"))
              purged.toLong
          }
      }
    }
  }
}
