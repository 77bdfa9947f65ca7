package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexStore
import graft.streaming.IndexedIngest

/** The streaming-ingest → delta-index composition (r11 verdict ask
  * #8): a live feed appends to the corpus AND maintains the per-row
  * index sidecar at O(batch) per trigger; a crash in the
  * at-least-once window (sink work done, checkpoint commit lost) must
  * replay to EXACTLY the same corpus and index — no duplicated rows,
  * no wasted rebuild. */
class StreamingDeltaIndexSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def lens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), length(col("text")).as("len"))

  test("each micro-batch lands once and pays one DELTA build; index " +
    "always equals a cold re-derivation of the corpus") {
    import spark.implicits._
    val dataDir = indexedTempDir("graft_ingest_idx")
    val src = MemoryStream[(Long, String)](spark)
    val docs = src.toDF().toDF("doc_id", "text")
    val builds0 = IndexStore.buildsPerformed
    val deltas0 = IndexStore.incrementalAppends
    val q = IndexedIngest.start(docs, dataDir, "documents", "lens",
      s"$dataDir/ckpt")(lens)
    src.addData((1L, "alpha"), (2L, "beta gamma"))
    q.processAllAvailable()
    src.addData((3L, "delta"))
    q.processAllAvailable()
    src.addData((4L, "epsilon zeta"), (5L, "eta"))
    q.processAllAvailable()
    q.stop()
    // batch 0 = cold full build, batches 1..2 = delta builds
    assert(IndexStore.buildsPerformed == builds0 + 3)
    assert(IndexStore.incrementalAppends == deltas0 + 2,
      "appends after the first batch must take the delta path")
    val corpus = spark.read.parquet(s"$dataDir/documents.parquet")
    assert(corpus.count() == 5)
    val served = IndexStore.getOrBuildIncremental(spark, dataDir, "lens",
      "documents") { _ => fail("must serve warm"): DataFrame }
      .orderBy("doc_id").collect().toSeq
    assert(served == lens(corpus).orderBy("doc_id").collect().toSeq)
    assert(served.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("zero-partition micro-batch: lands nothing, still refreshes the " +
    "index, never kills the stream (r12 advice); stale scratch swept") {
    import org.apache.spark.sql.types._
    val dataDir = indexedTempDir("graft_ingest_empty")
    // seed one real batch so the index exists
    import spark.implicits._
    IndexedIngest.landAndIndex(Seq((1L, "alpha")).toDF("doc_id", "text"),
      0L, dataDir, "documents", "lens")(lens)
    // fake a crashed EARLIER batch's scratch (id 3 < the batch under
    // test) plus a FUTURE id (99 — another writer's possible in-flight
    // scratch, outside this stream's proof of deadness)
    val stale = java.nio.file.Paths.get(
      s"$dataDir/documents.parquet/_ingest_scratch_3")
    val foreign = java.nio.file.Paths.get(
      s"$dataDir/documents.parquet/_ingest_scratch_99")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.createDirectories(foreign)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(empty.rdd.getNumPartitions == 0, "the zero-partition shape under test")
    // must not throw (the pre-fix IllegalStateException killed the
    // stream when the writer produced no part- file; Spark 4.1's
    // writer happens to emit one empty file for this shape — the
    // contract under test is the OBSERVABLE one: no crash, no rows
    // added, scratch swept, index current either way)
    IndexedIngest.landAndIndex(empty, 7L, dataDir, "documents", "lens")(lens)
    assert(!java.nio.file.Files.exists(stale),
      "an earlier batch's stale scratch must be swept")
    assert(java.nio.file.Files.exists(foreign),
      "a future-id scratch is never this stream's to delete")
    assert(spark.read.parquet(s"$dataDir/documents.parquet").count() == 1L,
      "an empty batch must add no corpus rows")
    val served = IndexStore.getOrBuildIncremental(spark, dataDir, "lens",
      "documents") { _ => fail("must serve warm"): DataFrame }
    assert(served.count() == 1L, "index current over the unchanged corpus")
  }

  test("checkpoint DROP-RECREATE (r13 advice): the new incarnation's " +
    "batch ids reset to 0 but its files never collide with the old " +
    "incarnation's — rows arriving between drop and restart are kept") {
    import spark.implicits._
    val dataDir = indexedTempDir("graft_ingest_incarn")
    val ckpt = s"$dataDir/ckpt"
    // incarnation 1: two batches (ids 0, 1)
    val src1 = MemoryStream[(Long, String)](spark)
    val q1 = IndexedIngest.start(src1.toDF().toDF("doc_id", "text"),
      dataDir, "documents", "lens", ckpt)(lens)
    src1.addData((1L, "alpha"), (2L, "beta"))
    q1.processAllAvailable()
    src1.addData((3L, "gamma"))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(s"$dataDir/documents.parquet").count() == 3)
    // operator drops the checkpoint (the reference's drop-then-recreate
    // mirror lifecycle); the corpus and its landed batch files remain
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    // incarnation 2 on the SAME checkpoint path: fresh query id, batch
    // ids reset to 0/1 — DIFFERENT rows under colliding batch ids
    val src2 = MemoryStream[(Long, String)](spark)
    val q2 = IndexedIngest.start(src2.toDF().toDF("doc_id", "text"),
      dataDir, "documents", "lens", ckpt)(lens)
    src2.addData((10L, "delta epsilon"))
    q2.processAllAvailable()
    src2.addData((11L, "zeta"))
    q2.processAllAvailable()
    q2.stop()
    val corpus = spark.read.parquet(s"$dataDir/documents.parquet")
    assert(corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 10L, 11L),
      "the new incarnation's batches must LAND, not dedupe against the old one's")
    // the index followed: current over the union corpus
    val served = IndexStore.getOrBuildIncremental(spark, dataDir, "lens",
      "documents") { _ => fail("must serve warm"): DataFrame }
    assert(served.count() == 5)
    assert(served.orderBy("doc_id").collect().toSeq ==
      lens(corpus).orderBy("doc_id").collect().toSeq)
  }

  test("crash after sink work, before checkpoint commit: the replayed " +
    "batch re-lands nothing, the index serves warm, totals exact") {
    import spark.implicits._
    val dataDir = indexedTempDir("graft_ingest_idx_crash")
    val src = MemoryStream[(Long, String)](spark)
    val docs = src.toDF().toDF("doc_id", "text")
    val ckpt = s"$dataDir/ckpt"
    @volatile var crashArmed = false
    def startQ() = docs.writeStream
      .queryName("indexed_ingest_crash")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexedIngest.landAndIndex(batch, batchId, dataDir, "documents",
          "lens")(lens)
        if (crashArmed) {
          crashArmed = false
          throw new RuntimeException("injected crash after sink, before commit")
        }
      }
      .start()
    val q1 = startQ()
    src.addData((1L, "alpha"), (2L, "beta"))
    q1.processAllAvailable()
    // arm: the next batch's sink work lands, then the commit is lost
    crashArmed = true
    src.addData((3L, "gamma delta"))
    intercept[Exception](q1.processAllAvailable())
    q1.stop()
    val buildsAtCrash = IndexStore.buildsPerformed
    // restart from the same checkpoint: batch 1 is REDELIVERED
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    // the replay re-lands nothing (deterministic batch file exists) and
    // the index build sees an unchanged file set — warm serve, 0 builds
    assert(IndexStore.buildsPerformed == buildsAtCrash,
      "replayed batch must neither rebuild nor delta-build")
    val corpus = spark.read.parquet(s"$dataDir/documents.parquet")
    assert(corpus.count() == 3, "replay must not duplicate corpus rows")
    val served = IndexStore.getOrBuildIncremental(spark, dataDir, "lens",
      "documents") { _ => fail("must serve warm"): DataFrame }
      .orderBy("doc_id").collect().toSeq
    assert(served.map(_.getLong(0)) == Seq(1L, 2L, 3L))
    assert(served == lens(corpus).orderBy("doc_id").collect().toSeq)
  }
}
