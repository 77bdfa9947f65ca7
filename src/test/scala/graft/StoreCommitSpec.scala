package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AggMaintenance, CdcPipeline, ChangeEvent, KeyedParquetStore}

/** The local filesystem under the `faulty` scheme, failing the
  * [[FaultyFs.failAt]]-th mutating call it sees (create, mkdirs,
  * rename, delete), counted across every instance in the JVM. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.tick("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { FaultyFs.tick("mkdirs", f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultyFs.tick("mkdirs", f); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.tick("rename", dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyFs.tick("delete", p); super.delete(p, recursive)
  }
}

object FaultyFs {
  val calls = new AtomicInteger(0)
  @volatile var failAt: Int = 0
  def tick(op: String, p: Path): Unit =
    if (calls.incrementAndGet() == failAt)
      throw new java.io.IOException(s"injected failure at mutating call $failAt: $op $p")
}

/** [[FaultyFs]] for `FileContext`, whose overwriting rename is one
  * atomic replace, as on HDFS. */
class FaultyAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFs, conf, "faulty", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FaultyFs.tick("rename", dst)
    Files.move(Paths.get(src.toUri.getPath), Paths.get(dst.toUri.getPath),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The stores' one commit point, the manifest: a write that fails at
  * any filesystem step leaves its table (or aggregate view) readable as
  * the version before or after it, and commits to one table are
  * serialized. */
class StoreCommitSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    s.sparkContext.hadoopConfiguration.set("fs.AbstractFileSystem.faulty.impl",
      classOf[FaultyAbstractFs].getName)
    s
  }

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private val M = CdcPipeline.UnchangedToast
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", LongType), StructField("bio", StringType)))
  private def ev(lsn: Long, op: String, k: Long, bio: String = "b") =
    ChangeEvent(lsn, ts(lsn), op, "t", k,
      if (op == "D") null else s"""{"id":$k,"v":$lsn,"bio":"$bio"}""")

  private def state(store: KeyedParquetStore): Set[Row] =
    store.read(spark, "t").collect().toSet

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** Entries of the table directory the manifest does not reference. */
  private def orphans(dir: java.nio.file.Path): Set[String] = {
    val manifest = new String(Files.readAllBytes(dir.resolve("_graft_manifest")), "UTF-8")
    val referenced = manifest.linesIterator.filterNot(_.startsWith("schema\t"))
      .map(_.split("\t").last.takeWhile(_ != '/')).toSet
    Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filterNot(n => n == "_graft_manifest" || referenced(n)).toSet
  }

  /** Run `op` on a copy of the directory `pre` once per mutating call it
    * makes, failing that call: `seen` must read its pre- or post-state,
    * `converged` its post-state once `op` is replayed, and the replay's
    * retention pass must remove what the failed write left behind in
    * each of the `sets` (manifest directories under `pre`). */
  private def crashEveryStep(name: String, pre: java.nio.file.Path, sets: Seq[String],
      op: java.nio.file.Path => Unit, seen: java.nio.file.Path => Any,
      converged: java.nio.file.Path => Any): Int = {
    val before = seen(pre)
    val clean = Files.createTempDirectory(s"commit_${name}_clean")
    copyTree(pre, clean)
    FaultyFs.calls.set(0)
    op(clean)
    val steps = FaultyFs.calls.get()
    val after = seen(clean)
    val done = converged(clean)
    assert(steps > 3, s"$name: $steps steps")
    (1 to steps).foreach { n =>
      val dir = Files.createTempDirectory(s"commit_${name}_$n")
      copyTree(pre, dir)
      FaultyFs.calls.set(0)
      FaultyFs.failAt = n
      val failed = try { op(dir); false } catch { case _: Exception => true }
      finally FaultyFs.failAt = 0
      val got = seen(dir)
      assert(got == before || got == after,
        s"$name failing step $n (failed: $failed): read neither the pre- nor the post-state")
      // age everything the failed write left, so the replay's
      // retention pass may take it
      val old = System.currentTimeMillis() - 2 * KeyedParquetStore.RetentionMs
      sets.foreach(t => Files.list(dir.resolve(t)).forEach(p => p.toFile.setLastModified(old)))
      op(dir)
      assert(converged(dir) == done, s"$name failing step $n: the replay did not converge")
      sets.foreach(t => assert(orphans(dir.resolve(t)).isEmpty,
        s"$name failing step $n: orphans ${orphans(dir.resolve(t))} survived the replay"))
    }
    steps
  }

  private def storeAt(dir: java.nio.file.Path) = new KeyedParquetStore(s"faulty://$dir", nBuckets = 2)

  /** [[crashEveryStep]] for a write to table `t` of the store in `pre`. */
  private def crashEveryStoreStep(name: String, pre: java.nio.file.Path,
      op: KeyedParquetStore => Unit): Int =
    crashEveryStep(name, pre, Seq("t"), d => op(storeAt(d)), d => state(storeAt(d)),
      d => state(storeAt(d)))

  private def seeded(soft: Boolean): java.nio.file.Path = {
    import spark.implicits._
    val dir = Files.createTempDirectory("commit_pre")
    val store = new KeyedParquetStore(s"faulty://$dir", nBuckets = 2)
    val rows = Map("t" -> (0L until 12L).map(i => (i, i, s"b$i")).toDF("id", "v", "bio"))
    if (soft) CdcPipeline.snapshotSoft(spark, store, rows, Map("t" -> "id"))
    else CdcPipeline.snapshot(spark, store, rows, Map("t" -> "id"))
    dir
  }

  test("a failure at any filesystem step of a write leaves the pre- or post-state") {
    import spark.implicits._
    val keys = Map("t" -> "id")
    val steady = Seq(ev(100, "U", 1), ev(101, "D", 2), ev(102, "I", 50), ev(103, "U", 1))
    // markers inherit from the stored rows
    val toast = Seq(ev(100, "U", 3, M), ev(101, "U", 4, M), ev(102, "D", 5))
    val plain = seeded(soft = false)
    val soft = seeded(soft = true)
    // a soft pre-state with tombstones for sweepAndCompact
    val tomb = Files.createTempDirectory("commit_pre_tomb")
    copyTree(soft, tomb)
    CdcPipeline.applyBatchSoft(Seq(ev(10, "D", 1), ev(11, "D", 6)).toDF(),
      new KeyedParquetStore(s"faulty://$tomb", nBuckets = 2), Map("t" -> schema), keys)
    // an aggregate view over a store: a fold commits the view, then
    // merges the batch into the store. The view must read the pre- or
    // post-batch aggregate, and a replay of the batch id must fold it
    // exactly once
    val agg = Files.createTempDirectory("commit_pre_agg")
    def mvAt(dir: java.nio.file.Path) =
      new AggMaintenance(storeAt(dir.resolve("store")), s"faulty://${dir.resolve("mv")}", "t",
        schema, "id", "bio", "v")
    def view(dir: java.nio.file.Path) = mvAt(dir).readMv(spark).collect().toSet
    mvAt(agg).applyBatch(Seq(ev(10, "I", 1), ev(11, "I", 2), ev(12, "I", 3, "c")).toDF(), 0L)
    val steps = Seq(
      "snapshot" -> crashEveryStoreStep("snapshot", plain, s => s.snapshot(spark, "t",
        (100L until 106L).map(i => (i, i, s"s$i")).toDF("id", "v", "bio"), "id")),
      "merge" -> crashEveryStoreStep("merge", plain,
        CdcPipeline.applyBatch(steady.toDF(), _, Map("t" -> schema), keys)),
      "toast" -> crashEveryStoreStep("toast", plain,
        CdcPipeline.applyBatch(toast.toDF(), _, Map("t" -> schema), keys)),
      "soft" -> crashEveryStoreStep("soft", soft,
        CdcPipeline.applyBatchSoft(steady.toDF(), _, Map("t" -> schema), keys)),
      "compact" -> crashEveryStoreStep("compact", plain, s => s.compact(spark, "t", Seq("v"))),
      "sweepAndCompact" -> crashEveryStoreStep("sweepAndCompact", tomb,
        s => CdcPipeline.sweepAndCompact(spark, s, "t", 100L)),
      "aggFold" -> crashEveryStep("aggFold", agg, Seq("store/t", "mv"),
        d => mvAt(d).applyBatch(Seq(ev(20, "U", 1, "c"), ev(21, "D", 2), ev(22, "I", 4))
          .toDF(), 1L),
        view, d => (view(d), state(storeAt(d.resolve("store"))))))
    info(steps.map { case (n, k) => s"$n: $k steps" }.mkString(", "))
  }

  test("a reader racing 24 merges sees only whole batches") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("commit_reader").toString, nBuckets = 4)
    CdcPipeline.snapshot(spark, store,
      Map("t" -> (0L until 40L).map(i => (i, 0L, "b")).toDF("id", "v", "bio")), Map("t" -> "id"))
    // after batch i keys 0 until 40 hold v = i, and batch j's key 999 + j
    // holds v = j
    def expected(i: Long) = (0L until 40L).map(k => (k, i)) ++ (1L to i).map(j => (999 + j, j))
    @volatile var done = false
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var failure: Option[Throwable] = None
    val reader = new Thread(() =>
      try while (!done) {
        val rows = store.read(spark, "t").select("id", "v").as[(Long, Long)].collect()
        val i = rows.head._2
        assert(rows.length == 40 + i && rows.map(_.hashCode).sum == expected(i).map(_.hashCode).sum,
          s"torn read: ${rows.length} rows, v in ${rows.map(_._2).distinct.sorted.mkString(",")}")
        seen += i
      } catch { case e: Throwable => failure = Some(e) })
    reader.start()
    try (1L to 24L).foreach { i =>
      CdcPipeline.applyBatch(((0L until 40L).map(k => ev(i * 100 + k, "U", k).copy(
        after = s"""{"id":$k,"v":$i,"bio":"b"}""")) :+
        ev(i * 100 + 99, "I", 999 + i).copy(after = s"""{"id":${999 + i},"v":$i,"bio":"b"}"""))
        .toDF(), store, Map("t" -> schema), Map("t" -> "id"))
    } finally { done = true; reader.join() }
    failure.foreach(e => fail(s"reader failed after ${seen.size} reads", e))
    assert(seen.distinct.size > 1, s"the reader saw ${seen.distinct} only")
    assert(store.read(spark, "t").count() == 64L)
  }

  test("compact racing merges on the same table loses no update") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("commit_compact_race").toString, nBuckets = 4)
    CdcPipeline.snapshot(spark, store,
      Map("t" -> (0L until 240L).map(i => (i, 0L, "b")).toDF("id", "v", "bio")), Map("t" -> "id"))
    @volatile var done = false
    @volatile var compactions = 0
    var failure: Option[Throwable] = None
    val compactor = new Thread(() =>
      try while (!done) { store.compact(spark, "t", Seq("v")); compactions += 1 }
      catch { case e: Throwable => failure = Some(e) })
    compactor.start()
    // merge r sets v = r on its own keys, k % 12 == r - 1: an update a
    // compaction drops is never rewritten
    try (1L to 12L).foreach { r =>
      CdcPipeline.applyBatch((r - 1 until 240L by 12).map(k => ev(r * 1000 + k, "U", k).copy(
        after = s"""{"id":$k,"v":$r,"bio":"b"}""")).toDF(),
        store, Map("t" -> schema), Map("t" -> "id"))
    } finally { done = true; compactor.join() }
    failure.foreach(e => fail("compact failed", e))
    val got = store.read(spark, "t").select("id", "v").as[(Long, Long)].collect().toMap
    val lost = (0L until 240L).filter(k => !got.get(k).contains(k % 12 + 1))
    assert(lost.isEmpty, s"${lost.size} updates lost, e.g. ${lost.take(5)}")
    assert(compactions > 0)
  }

  test("a snapshot of one table racing a merge of another leaves both correct") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("commit_two_tables").toString, nBuckets = 4)
    CdcPipeline.snapshot(spark, store,
      Map("t" -> (0L until 100L).map(i => (i, 0L, "b")).toDF("id", "v", "bio")), Map("t" -> "id"))
    var failure: Option[Throwable] = None
    val snapshotter = new Thread(() =>
      try store.snapshot(spark, "u", (0L until 500L).map(i => (i, i)).toDF("k", "w"), "k")
      catch { case e: Throwable => failure = Some(e) })
    snapshotter.start()
    CdcPipeline.applyBatch((0L until 100L by 3).map(k => ev(10 + k, "D", k)).toDF(),
      store, Map("t" -> schema), Map("t" -> "id"))
    snapshotter.join()
    failure.foreach(e => fail("snapshot failed", e))
    assert(store.read(spark, "t").select("id").as[Long].collect().toSet ==
      (0L until 100L).filterNot(_ % 3 == 0).toSet)
    assert(store.read(spark, "u").agg(count(lit(1)), sum("w")).as[(Long, Long)].head() ==
      ((500L, (0L until 500L).sum)))
  }
}
