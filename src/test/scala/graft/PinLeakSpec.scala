package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpointing
import graft.streaming.{CorpusDrift, IncrementalDedup, KeyedParquetStore, StreamingPacker}

/** The per-batch streaming operators free the pins they make before
  * they return, so a long-running stream does not accumulate one
  * generation of blocks per batch. The persistent-RDD count after a
  * call is bounded by its count before (plus the one frame `admit`
  * hands its caller); GC can only lower the count, so the bound is
  * deterministic. */
class PinLeakSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def pinned(): Int = spark.sparkContext.getPersistentRDDs.size

  test("IncrementalDedup.admit frees its pins; only the admitted frame stays, caller-owned") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("pin_leak_admit").toString, nBuckets = 4)
    val dedup = new IncrementalDedup(store, "docs", threshold = 0.8)
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "red orange yellow green blue indigo violet ultra infra deep")),
      Seq((3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
        (4L, "one two three four five six seven eight nine ten"),
        (5L, "one two three four five six seven eight nine ten eleven")),
      Seq((6L, "sun moon star comet planet galaxy nebula quasar pulsar void")))
    batches.zipWithIndex.foreach { case (b, i) =>
      val base = pinned()
      val admitted = dedup.admit(spark, b.toDF("doc_id", "text"))
      assert(pinned() <= base + 1, s"batch $i: admit left ${pinned() - base} pins, expected 1")
      assert(admitted.count() >= 1L)
      Checkpointing.free(admitted)
      assert(pinned() <= base, s"batch $i: ${pinned() - base} pins left after the caller's free")
    }
  }

  test("StreamingPacker.applyBatch and CorpusDrift.recordScore leave no pin behind") {
    val work = Files.createTempDirectory("pin_leak_stream").toString
    // 300 ten-token documents over a 50-word vocabulary
    val docs = spark.range(300).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 9), " +
        "i -> concat('w', CAST((id * 7 + i * 3) % 50 AS STRING))))").as("text"))
    val packer = new StreamingPacker(budget = 4096L,
      manifestDir = s"$work/manifest", stateDir = s"$work/state")
    Seq((docs.filter(col("doc_id") < 150), 0L),
      (docs.filter(col("doc_id") >= 150), 1L)).foreach { case (b, id) =>
      val base = pinned()
      packer.applyBatch(b, id)
      assert(pinned() <= base, s"applyBatch($id) left ${pinned() - base} pins")
    }

    CorpusDrift.trainBaseline(docs).write.parquet(s"$work/baseline")
    val baseline = spark.read.parquet(s"$work/baseline")
    val base = pinned()
    CorpusDrift.recordScore(docs.limit(20), baseline, s"$work/alerts", 0L, 1000000L)
    assert(pinned() <= base, s"recordScore left ${pinned() - base} pins")
    assert(spark.read.parquet(s"$work/alerts").count() == 1L)
  }

  test("CorpusDrift.start holds no pin for the stream's life") {
    import spark.implicits._
    val work = Files.createTempDirectory("pin_leak_drift").toString
    Seq(("w1", 300000000L), ("w2", 300000000L), ("<other>", 400000000L))
      .toDF("vterm", "p_nano").write.parquet(s"$work/baseline")
    // earlier frames' unreachable pins go now, not while the stream runs
    System.gc()
    val base = pinned()
    val src = MemoryStream[(Long, String)](spark)
    val q = CorpusDrift.start(src.toDF().toDF("doc_id", "text"), s"$work/baseline",
      s"$work/alerts", s"$work/ckpt", 1000000L)
    try {
      src.addData((1L, "w1 w2 w3"), (2L, "w4 w5"))
      q.processAllAvailable()
      src.addData((3L, "w6 w7 w8"))
      q.processAllAvailable()
    } finally q.stop()
    assert(pinned() <= base, s"the monitor left ${pinned() - base} pins")
    assert(spark.read.parquet(s"$work/alerts").count() == 2L)
  }
}
