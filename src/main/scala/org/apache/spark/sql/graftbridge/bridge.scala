package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * conversions, required to expose custom Catalyst Expressions through
  * the public Column API (the standard Spark-extension-library
  * pattern; the alternative — session-registered names +
  * `call_function` — forces global registration).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field nullable, at every depth — what Spark's
    * own file sources scan with, whatever schema the files declare. */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  /** The RDD whose blocks an eager `localCheckpoint()` persisted, if
    * `df` is such a checkpoint result. The public Dataset API offers no
    * handle to it (`df.rdd` wraps a fresh deserializer RDD), and
    * diffing `sc.getPersistentRDDs` around the checkpoint races with
    * concurrent jobs persisting their own blocks — this reads it off
    * the analyzed plan's `LogicalRDD` instead, which is exact and
    * thread-safe. Used to free superseded checkpoint generations in
    * iterative algorithms and per-batch pins. */
  def persistedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Free a pinned frame's blocks (the [[persistedRdd]] of a
    * checkpoint result; no-op on any other frame). Same effect as
    * `RDD.unpersist(blocking = false)` minus its WARN that a locally
    * checkpointed RDD cannot be recomputed: a superseded generation or
    * a finished batch is freed on purpose, once per round, and the
    * warning would bury real ones. */
  def free(df: org.apache.spark.sql.DataFrame): Unit =
    persistedRdd(df).foreach(r => r.sparkContext.unpersistRDD(r.id, blocking = false))

  /** Whether Spark's file sources skip a file or directory by its
    * name: `_`- and `.`-prefixed names, except `_metadata*`,
    * `_common_metadata*` and `_k=v` partition directories, and
    * in-flight `._COPYING_` uploads. */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The files a streaming checkpoint records as read by a committed
    * batch, read through Spark's own logs: every `sources/<n>` log's
    * `FileStreamSourceLog.allFiles()`, kept to entries whose batch id is
    * at most `CommitLog.getLatestBatchId`. A source log entry is written
    * when a batch is planned and the commit only after its sink returned,
    * so a file planned into an uncommitted batch is left out. Paths come
    * back decoded (the log stores them URI-encoded). Empty when no batch
    * committed; a log Spark cannot read throws what Spark throws. The
    * logs' directories are checked first, because opening a log creates
    * its directory. */
  def committedSourceFiles(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.spark.sql.execution.streaming.checkpointing.CommitLog
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
    val root = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(name: String) = Option(new org.apache.hadoop.fs.Path(root, name)).filter(fs.exists)
    val committed = dir("commits").flatMap(d => new CommitLog(spark, d.toString).getLatestBatchId())
    (for (last <- committed.toSeq; sources <- dir("sources").toSeq;
          log <- fs.listStatus(sources).toSeq if log.isDirectory;
          entry <- new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
            log.getPath.toString).allFiles() if entry.batchId <= last)
      yield entry.sparkPath.toPath)
  }

  /** Whether `e`, or a cause of it, is Spark's refusal of a metadata log
    * written in a format version it does not read. */
  def unsupportedLogVersion(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: org.apache.spark.SparkThrowable =>
        Option(s.getCondition).exists(_.startsWith("INVALID_LOG_VERSION"))
      case _ => false
    }

  /** The query id Spark wrote to a streaming checkpoint's `metadata`
    * file when the query first started, read with Spark's own
    * `StreamMetadata.read`; None when the file is absent. */
  def streamQueryId(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): Option[String] =
    org.apache.spark.sql.execution.streaming.runtime.StreamMetadata
      .read(new org.apache.hadoop.fs.Path(checkpointDir, "metadata"),
        spark.sparkContext.hadoopConfiguration)
      .map(_.id)

  /** The schema `spark.read.parquet(path)` would infer, read on the
    * driver from the one footer Spark's inference reads (a summary
    * file first, else the first data file by path), so a load runs no
    * footer-reading job. None where inference reads more than one
    * footer, discovers partitions or may skip a corrupt footer —
    * `mergeSchema` or `ignoreCorruptFiles` on, or a directory with
    * subdirectories — and when no file qualifies or the path does not
    * name one; the caller then lets Spark infer. */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    if (conf.isParquetSchemaMergingEnabled || conf.ignoreCorruptFiles) return None
    val p = new org.apache.hadoop.fs.Path(path)
    val hadoopConf = state.newHadoopConf()
    val fs = p.getFileSystem(hadoopConf)
    // a missing path or a glob: Spark's own read reports or expands it
    val st = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return None }
    val leaves =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(p).toSeq.filterNot(f => hiddenName(f.getPath.getName))
    if (leaves.exists(_.isDirectory)) return None
    val sorted = leaves.sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val footer = new org.apache.parquet.hadoop.Footer(f.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
      }
  }

  /** Rows EMITTED by `df`'s file scans in its last execution — i.e.
    * rows surviving parquet row-group/page skipping under the pushed
    * predicates (record-level parquet filtering is off by default, so
    * this measures exactly what the zone maps could not skip). Call
    * AFTER an action on the SAME Dataset instance (`df.collect()` /
    * `df.count()` route through `df.queryExecution`, whose plan
    * retains its metric values); unwraps the AQE root to reach the
    * final plan's leaves. Probe/diagnostic use — powers SweepProbe's
    * measured discovery-reads-O(expired) claim. */
  def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
  }

  /** Drop ALL stored broadcast blocks (driver + executors). Safe only
    * when no live plan will re-read an existing broadcast variable —
    * i.e. at a measurement-harness run boundary where every plan is
    * rebuilt from scratch (Bench's registry sweep). Returns the number
    * of broadcasts removed. */
  def removeAllBroadcasts(blocking: Boolean): Int = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds(
      _.isInstanceOf[org.apache.spark.storage.BroadcastBlockId])
    val bcIds = ids.collect {
      case b: org.apache.spark.storage.BroadcastBlockId => b.broadcastId
    }.distinct
    bcIds.foreach(id =>
      bm.master.removeBroadcast(id, removeFromMaster = true, blocking = blocking))
    bcIds.size
  }

  /** Replace a checkpointed DataFrame's inherited statistics with
    * EXACT ones.
    *
    * `Dataset.localCheckpoint` carries the optimizer's ESTIMATED stats
    * of the producing plan into the resulting `LogicalRDD`
    * (`originStats`). In an iterative algorithm that checkpoints each
    * generation (connected components, PageRank, k-means), generation
    * k+1's estimate is a product of joins over generation k's already-
    * estimated stats — so the size estimate compounds ~×4 per
    * iteration, mis-costs every join after a few rounds, and past ~13
    * iterations overflows Spark's `BigInteger` size arithmetic at
    * planning time (`SizeInBytesOnlyStatsPlanVisitor`), killing the
    * query. The loop, however, KNOWS its invariants (CC: |labels| =
    * |nodes| every iteration) — this injects them, which both fixes
    * the overflow and restores sane broadcast decisions inside the
    * loop. No-op on non-checkpointed frames. */
  def withExactStats(
      df: org.apache.spark.sql.DataFrame, rows: Long, bytesPerRow: Long): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(rows) * bytesPerRow, rowCount = Some(BigInt(rows)))
        val pinned = new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(session, Some(stats), None)
        org.apache.spark.sql.classic.Dataset.ofRows(session, pinned)
      case _ => df
    }
}
