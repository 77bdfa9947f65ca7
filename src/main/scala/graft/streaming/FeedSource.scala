package graft.streaming

import java.io.FileNotFoundException
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** The change feed's stream source ([[ChangeFeed.stream]]): the
  * [[FileStreamSource]] Spark builds for `.json(feedDir)`, with the
  * same schema, partition columns and options, behind a [[FeedSource]]
  * gate that lets an idle poll skip its listing. Spark resolves the
  * schema again when the query starts, so the feed directory must
  * exist then, as it must when the stream is defined. */
private[streaming] class FeedSourceProvider extends StreamSourceProvider {
  private def files(sqlContext: SQLContext, schema: Option[StructType],
      parameters: Map[String, String]): DataSource =
    DataSource(sqlContext.sparkSession, "json", userSpecifiedSchema = schema, options = parameters)

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val info = files(sqlContext, schema, parameters).sourceInfo
    (info.name, info.schema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val inner = files(sqlContext, schema, parameters).createSource(metadataPath)
      .asInstanceOf[FileStreamSource]
    val dir = new Path(parameters("path"))
    val conf = sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(parameters)
    new FeedSource(inner, dir, dir.getFileSystem(conf))
  }
}

/** A file source whose `latestOffset` skips the inner call while the
  * feed is idle. Every other call, offsets and the inner source's
  * `sources/<n>` log are the inner source's own.
  *
  * Each poll with a committed `start` first takes one `listStatus` of
  * the feed directory. When the inner call returns `start` (nothing
  * new was admitted), the poll remembers that listing's names with
  * `start`. A later poll at the same `start` (compared by `json`: a
  * restarted query hands back deserialized offsets) whose names are a
  * subset of the remembered ones returns `start` without the inner
  * call, which would rebuild an `InMemoryFileIndex` over the whole
  * feed and find nothing. The rule is exact: a file that lands after
  * the remembered listing is a new name, so the next poll lists in
  * full. Deletions (a feed prune) never force a listing; a skip
  * remembers the current names, so a name that a poll saw deleted
  * lists in full when it lands again.
  *
  * The gate assumes a flat feed, where the directory listing is the
  * file source's listing. It never skips on the first trigger, on a
  * glob path, a missing directory, a subdirectory the file source
  * would descend into (Spark's hidden-name rule, [[Bridge.hiddenName]])
  * or a file sink's `_spark_metadata` log, which the file source reads
  * in place of the listing. */
private[graft] class FeedSource(inner: FileStreamSource, dir: Path, fs: FileSystem)
    extends Source with SupportsTriggerAvailableNow {

  // SparkHadoopUtil.isGlobPath's rule
  private val glob = dir.toString.exists("{}[]*?\\".contains(_))
  private var caughtUp: Option[(String, Set[String])] = None
  private val pollCount, innerCalls = new AtomicLong

  /** `latestOffset` polls, and the inner calls among them, so far. */
  private[graft] def polls: Long = pollCount.get
  private[graft] def innerListings: Long = innerCalls.get

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    pollCount.incrementAndGet()
    val at = Option(start).map(_.json)
    val names = if (at.isEmpty) None else flatNames()
    val idle = for (o <- at; n <- names; (c, seen) <- caughtUp if c == o && n.subsetOf(seen))
      yield (o, n)
    if (idle.isDefined) {
      caughtUp = idle
      start
    } else {
      innerCalls.incrementAndGet()
      val next = inner.latestOffset(start, limit)
      caughtUp = for (o <- at; n <- names if next != null && next.json == o) yield (o, n)
      next
    }
  }

  /** Names of the feed entries the file source reads, or None where
    * the directory listing is not the file source's listing. */
  private def flatNames(): Option[Set[String]] =
    if (glob) None
    else try {
      val entries = fs.listStatus(dir)
      val read = entries.filterNot(s => Bridge.hiddenName(s.getPath.getName))
      if (read.exists(_.isDirectory) || entries.exists(_.getPath.getName == "_spark_metadata")) None
      else Some(read.map(_.getPath.getName).toSet)
    } catch { case _: FileNotFoundException => None }

  override def schema: StructType = inner.schema
  override def getOffset: Option[Offset] = inner.getOffset
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = inner.getBatch(start, end)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): OffsetV2 = inner.reportLatestOffset()
  override def prepareForTriggerAvailableNow(): Unit = inner.prepareForTriggerAvailableNow()
  override def toString: String = inner.toString
}
