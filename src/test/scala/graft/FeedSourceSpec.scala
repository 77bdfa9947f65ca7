package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{StreamingExecutionRelation, StreamingQueryWrapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeFeed, FeedSource}

/** The change feed's stream source: an idle poll skips the file
  * source's listing, and no file is skipped or read twice for it. */
class FeedSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def lines(lsns: Seq[Long]): Array[Byte] =
    lsns.map(l => s"""{"lsn":$l,"op":"I","table":"t","key":$l}""")
      .mkString("", "\n", "\n").getBytes(UTF_8)

  /** Land one feed file whole: written under a hidden name, renamed. */
  private def land(dir: String, name: String, lsns: Long*): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, lines(lsns))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A query over `src` that records the lsns and batches it reads. */
  private final class Mirror(src: DataFrame, ckpt: String) {
    private val lsns = new ConcurrentLinkedQueue[Long]()
    val batches = new AtomicInteger
    val query = src.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        b.select("lsn").collect().foreach(r => lsns.add(r.getLong(0)))
      }.start()

    def seen: Seq[Long] = lsns.asScala.toSeq.sorted

    /** Wait until the query has read exactly `want`, each once. */
    def await(want: Long*): Unit = {
      query.processAllAvailable()
      val deadline = System.nanoTime + 30000000000L
      while (seen != want.sorted && System.nanoTime < deadline) Thread.sleep(20)
      assert(seen == want.sorted)
    }

    def feedSource: FeedSource =
      query.asInstanceOf[StreamingQueryWrapper].streamingQuery.logicalPlan
        .collectFirst { case r: StreamingExecutionRelation => r.source }
        .get.asInstanceOf[FeedSource]
  }

  private def withMirror(src: => DataFrame, ckpt: String)(body: Mirror => Unit): Unit = {
    val m = new Mirror(src, ckpt)
    try body(m) finally m.query.stop()
  }

  test("a file landed after a long idle stretch is applied; an in-flight " +
    "._COPYING_ upload is not read until it is renamed") {
    val feed = tempDir("feedsrc_idle")
    land(feed, "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed), tempDir("feedsrc_idle_ckpt")) { m =>
      m.await(1)
      Thread.sleep(1000)
      Files.write(Paths.get(feed, "b.json._COPYING_"), lines(Seq(2)))
      Thread.sleep(500)
      m.await(1)
      Files.move(Paths.get(feed, "b.json._COPYING_"), Paths.get(feed, "b.json"))
      m.await(1, 2)
      Thread.sleep(1000)
      land(feed, "c.json", 3)
      m.await(1, 2, 3)
    }
  }

  test("idle witness: over 50+ idle polls the file source lists at most once") {
    val feed = tempDir("feedsrc_witness")
    land(feed, "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed), tempDir("feedsrc_witness_ckpt")) { m =>
      m.await(1)
      val src = m.feedSource
      val (polls0, inner0) = (src.polls, src.innerListings)
      val deadline = System.nanoTime + 30000000000L
      while (src.polls < polls0 + 60 && System.nanoTime < deadline) Thread.sleep(20)
      assert(src.polls >= polls0 + 60, "the mirror stopped polling")
      val idle = src.innerListings
      assert(idle - inner0 <= 1,
        s"${idle - inner0} file-source listings over ${src.polls - polls0} idle polls")
      land(feed, "b.json", 2)
      m.await(1, 2)
      assert(src.innerListings > idle, "a new name must reach the file source")
    }
  }

  test("a maxFilesPerTrigger = 1 backlog drains over successive triggers " +
    "with no new file landing") {
    val feed = tempDir("feedsrc_backlog")
    land(feed, "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
        tempDir("feedsrc_backlog_ckpt")) { m =>
      m.await(1)
      Thread.sleep(500)
      Seq("b", "c", "d").zip(2L to 4L).foreach { case (n, l) => land(feed, s"$n.json", l) }
      m.await(1, 2, 3, 4)
      assert(m.batches.get == 4, s"${m.batches.get} batches for 4 files")
    }
  }

  test("a partitioned feed's files are read: subdirectories the file " +
    "source descends into fall back to full listings") {
    val feed = tempDir("feedsrc_subdir")
    land(s"$feed/p=1", "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed), tempDir("feedsrc_subdir_ckpt")) { m =>
      m.await(1)
      Thread.sleep(500)
      land(s"$feed/p=1", "b.json", 2)
      m.await(1, 2)
      Thread.sleep(500)
      land(s"$feed/p=2", "c.json", 3)
      m.await(1, 2, 3)
    }
  }

  test("a checkpoint written by a plain file readStream resumes with no " +
    "re-read and no skipped file") {
    val feed = tempDir("feedsrc_restart")
    val ckpt = tempDir("feedsrc_restart_ckpt")
    land(feed, "a.json", 1)
    land(feed, "b.json", 2)
    withMirror(spark.readStream.schema(ChangeFeed.schema).json(feed), ckpt)(_.await(1, 2))
    land(feed, "c.json", 3)
    withMirror(ChangeFeed.stream(spark, feed), ckpt) { m =>
      m.await(3)
      Thread.sleep(500)
      land(feed, "d.json", 4)
      m.await(3, 4)
    }
  }

  test("a feed directory that goes missing and appears again is read") {
    val feed = tempDir("feedsrc_missing")
    land(feed, "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed), tempDir("feedsrc_missing_ckpt")) { m =>
      m.await(1)
      Thread.sleep(300)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(feed))
      Thread.sleep(500)
      land(feed, "b.json", 2)
      m.await(1, 2)
    }
  }

  test("an in-flight ._COPYING_ upload is not feed data: consumer lag " +
    "does not count it") {
    val feed = tempDir("feedsrc_lag")
    val ckpt = tempDir("feedsrc_lag_ckpt")
    land(feed, "a.json", 1)
    withMirror(ChangeFeed.stream(spark, feed), ckpt)(_.await(1))
    CdcPipeline.registerConsumer(spark, feed, "m", ckpt)
    Files.write(Paths.get(feed, "b.json._COPYING_"), lines(Seq(2)))
    assert(ChangeFeed.dataFiles(spark, feed).keySet == Set("a.json"))
    val lag = CdcPipeline.consumerLag(spark, feed)
      .map(c => (c.name, c.committedFiles, c.heldFiles))
    assert(lag == Seq(("m", 1L, 0L)))
  }
}
