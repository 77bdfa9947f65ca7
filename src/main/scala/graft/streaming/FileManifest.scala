package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** The one commit rule of every engine-owned store of parquet files
  * (the keyed CDC store's tables, the derived indexes, the aggregate
  * view): a directory holds one current version of a set of files,
  * named by `<dir>/_graft_manifest`, and a directory without a manifest
  * holds no set.
  *
  * The manifest holds the row schema (reads never pay parquet-footer
  * schema inference), every live file with its bucket and size, the
  * files earlier versions retired, each with its retire time, and the
  * caller's tags (string pairs committed with the files: an index's
  * source inventory, a view's last folded batch). Files are bucketed
  * by a `bucket` partition column; an unbucketed set is a one-bucket
  * set ([[oneBucket]]).
  *
  * Commit: every write puts NEW files into a fresh commit directory,
  * `<dir>/<commit>/bucket=<b>/part-*.parquet`, never touches a file a
  * version names, and ends with one atomic replace of the manifest
  * ([[AtomicFiles]]): a crash at any step before it leaves the
  * previous version whole, and after it the new one. Writers hold a
  * JVM-wide lock on the directory from their manifest read to their
  * commit ([[locked]]), so two commits cannot lose each other's
  * update. Readers take no lock: they resolve the manifest once and
  * scan exactly its files, so a reader racing a commit sees one whole
  * version. Each commit's retention pass deletes the files retired
  * more than [[RetentionMs]] ago and the unreferenced entries (a
  * crashed write's) older than that.
  */
private[graft] object FileManifest {

  /** How long a retired file stays on disk after the commit that
    * retires it, and how old an unreferenced entry must be before a
    * commit deletes it. It is the bound on a reader's lifetime: a frame
    * from [[scan]] must run within this time of the commit that retires
    * its files, and a write must commit within it. */
  val RetentionMs: Long = 60000L

  final case class LiveFile(path: String, bucket: Int, bytes: Long)
  final case class Retired(path: String, at: Long)
  /** One version of a set; file paths are relative to its directory. */
  final case class Manifest(schema: StructType, live: Seq[LiveFile], retired: Seq[Retired],
      tags: Map[String, String])

  private val Name = "_graft_manifest"
  private val BucketSchema = StructType(Seq(StructField("bucket", IntegerType)))
  private val locks = new ConcurrentHashMap[String, ReentrantLock]()

  private def render(m: Manifest): String =
    (s"schema\t${m.schema.json}" +:
      m.live.map(f => s"live\t${f.bucket}\t${f.bytes}\t${f.path}") ++:
      m.retired.map(r => s"retired\t${r.at}\t${r.path}") ++:
      m.tags.toSeq.sorted.map { case (k, v) => s"tag\t$k\t$v" }).mkString("\n")

  private def parse(text: String): Manifest = {
    val lines = text.linesIterator.toSeq
    val fields = lines.map(_.split("\t", 4))
    Manifest(
      fields.collectFirst { case Array("schema", json) =>
        DataType.fromJson(json).asInstanceOf[StructType] }.get,
      fields.collect { case Array("live", b, n, p) => LiveFile(p, b.toInt, n.toLong) },
      fields.collect { case Array("retired", t, p) => Retired(p, t.toLong) },
      lines.map(_.split("\t", 3)).collect { case Array("tag", k, v) => k -> v }.toMap)
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String) = new Path(dir, Name)

  /** The current version of the set in `dir`, if it has one. */
  def read(spark: SparkSession, dir: String): Option[Manifest] =
    AtomicFiles.read(spark, manifestPath(dir)).map(parse)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(manifestPath(dir))

  /** Run `body` holding `dir`'s commit lock, which every write takes
    * from its manifest read to its commit. One reentrant lock per
    * directory path in this JVM: two stores over the same root share
    * it. The lock is fair, so a compaction cadence cannot starve the
    * mirror's merges. */
  def locked[T](dir: String)(body: => T): T = {
    val lock = locks.computeIfAbsent(new Path(dir).toString, _ => new ReentrantLock(true))
    lock.lock()
    try body finally lock.unlock()
  }

  /** `df` as the rows of a one-bucket set. */
  def oneBucket(df: DataFrame): DataFrame = {
    require(!df.columns.contains("bucket"),
      "a 'bucket' column collides with the manifest's partition column")
    df.withColumn("bucket", lit(0))
  }

  /** `m`'s live files, with the `bucket` column last; every column is
    * nullable, as in any Spark file scan. Spark lists nothing, and its
    * partition pruning filters the manifest's entries. */
  def scan(spark: SparkSession, dir: String, m: Manifest): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestIndex(new Path(dir), m.live), BucketSchema,
      Bridge.asNullable(m.schema), None, new ParquetFileFormat, Map.empty)(spark))

  /** Write `rows` (with a `bucket` column) into a fresh commit
    * directory of `dir` and commit its files as the next version after
    * `cur`, with `tags`: `cur`'s live files in `replaced` buckets
    * retire, the others carry over, and the new manifest replaces the
    * old one atomically. The caller holds the directory's lock.
    * Returns the committed version. */
  def commit(spark: SparkSession, dir: String, cur: Option[Manifest], schema: StructType,
      rows: DataFrame, replaced: Int => Boolean, tags: Map[String, String] = Map.empty): Manifest = {
    require(tags.forall { case (k, v) => !k.exists("\t\n".contains(_)) && !v.contains('\n') },
      s"manifest tags must be single-line, with tab-free names: ${tags.keys.mkString(", ")}")
    val commitDir = s"v${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}"
    rows.write.partitionBy("bucket").parquet(s"$dir/$commitDir")
    val f = fs(spark, dir)
    val now = System.currentTimeMillis()
    val written = f.globStatus(new Path(dir, s"$commitDir/bucket=*/part-*")).toSeq.map { s =>
      val b = s.getPath.getParent.getName.stripPrefix("bucket=")
      LiveFile(s"$commitDir/bucket=$b/${s.getPath.getName}", b.toInt, s.getLen)
    }
    val (gone, kept) = cur.fold(Seq.empty[LiveFile])(_.live).partition(l => replaced(l.bucket))
    val (expired, retained) =
      cur.fold(Seq.empty[Retired])(_.retired).partition(_.at < now - RetentionMs)
    val next = Manifest(schema, kept ++ written, retained ++ gone.map(l => Retired(l.path, now)), tags)
    AtomicFiles.writeAtomically(spark, manifestPath(dir), render(next))
    sweep(f, dir, next, expired, now - RetentionMs)
    next
  }

  /** Retention pass after a commit of `m`: delete the `expired` files
    * (no longer in `m`), then every entry of `dir` that `m` does not
    * reference and that was last modified before `cutoff` — a crashed
    * write's commit directory or temp manifest, or a directory whose
    * files all expired. A crash between the commit and this pass leaves
    * the expired files in place until their directory holds no
    * referenced file. Returns the number of entries deleted. */
  private def sweep(f: FileSystem, dir: String, m: Manifest, expired: Seq[Retired],
      cutoff: Long): Int = {
    expired.foreach(r => f.delete(new Path(dir, r.path), false))
    val referenced = (m.live.map(_.path) ++ m.retired.map(_.path)).map(_.takeWhile(_ != '/')).toSet
    val unreferenced = f.listStatus(new Path(dir)).filter { s =>
      val n = s.getPath.getName
      n != Name && !referenced(n) && s.getModificationTime < cutoff
    }
    unreferenced.foreach(s => f.delete(s.getPath, true))
    expired.size + unreferenced.length
  }

  /** Delete every file in `dir` that its current version does not
    * name, whatever its age: the retained files older readers may still
    * scan, and any crashed write's. A right-to-be-forgotten obligation
    * covers those copies too; a reader still scanning one fails instead
    * of serving it. A write in flight in this JVM holds the lock, so the
    * purge waits for its commit instead of deleting its files. Returns
    * the number of retired files and unreferenced entries deleted. */
  def purgeSuperseded(spark: SparkSession, dir: String): Int =
    locked(dir) {
      read(spark, dir).fold(0) { m =>
        val kept = m.copy(retired = Nil)
        AtomicFiles.writeAtomically(spark, manifestPath(dir), render(kept))
        sweep(fs(spark, dir), dir, kept, m.retired, Long.MaxValue)
      }
    }

  /** A manifest's files as a scan with `bucket` as its partition
    * column. */
  private final class ManifestIndex(dir: Path, files: Seq[LiveFile]) extends FileIndex {
    def rootPaths: Seq[Path] = Seq(dir)
    def partitionSchema: StructType = BucketSchema
    def inputFiles: Array[String] = files.map(f => new Path(dir, f.path).toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.bytes).sum
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map(e => Predicate.createInterpreted(
        e.transform { case _: AttributeReference => BoundReference(0, IntegerType, true) }))
      files.groupBy(_.bucket).toSeq.sortBy(_._1).collect {
        case (b, fs) if keep.forall(_.eval(InternalRow(b))) =>
          PartitionDirectory(InternalRow(b), fs.map(f =>
            new FileStatus(f.bytes, false, 1, 0L, 0L, new Path(dir, f.path))).toArray)
      }
    }
  }
}
