package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One OVERWRITING-rename primitive for the small metadata files the
  * engine maintains (the [[FileManifest]] of every store, the applied
  * record, consumer registrations, the join advisor's statistics): a
  * reader must never
  * observe the destination absent or torn (rules out delete-then-rename
  * and in-place writes), and CONCURRENT writers must both survive with
  * one of their values winning (rules out Hadoop FileContext on the
  * local filesystem, whose Rename.OVERWRITE is delete+rename underneath
  * — two racing writers both pass the delete and the loser dies with
  * FileAlreadyExistsException; measured in ConcurrentMirrorsSpec with
  * two mirrors sharing one store).
  *
  * Each write goes to a caller-unique tmp next to the destination.
  * Local paths take `java.nio` for both steps — no checksum sidecar,
  * and ATOMIC_MOVE + REPLACE_EXISTING is POSIX rename(2), atomic
  * replace, race-safe. Non-local filesystems take FileContext's
  * Rename.OVERWRITE, which IS atomic where it matters (HDFS implements
  * it natively); single-writer-per-file deployments are the norm there.
  */
private[graft] object AtomicFiles {

  /** Write `body` to `dest` atomically. */
  def writeAtomically(spark: SparkSession, dest: Path, body: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val bytes = body.getBytes("UTF-8")
    val fs = dest.getFileSystem(conf)
    if (fs.getUri.getScheme == "file") {
      val to = java.nio.file.Paths.get(dest.toUri.getPath)
      java.nio.file.Files.createDirectories(to.getParent)
      val from = java.nio.file.Files.write(java.nio.file.Paths.get(tmp.toUri.getPath), bytes)
      java.nio.file.Files.move(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** The text of a file [[writeAtomically]] wrote, or None when it does
    * not exist. */
  def read(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}
