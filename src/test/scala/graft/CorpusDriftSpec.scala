package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CorpusDrift

/** Streaming token-distribution drift monitor — the content-shaped
  * complement to the scalar CUSUM monitor. Calibration is part of the
  * test: the threshold sits between the corpus's self-TV (floor noise
  * only) and a planted out-of-vocabulary batch's TV, both measured
  * through the SAME shared scoring kernel the monitor runs. */
class CorpusDriftSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("in-distribution batch stays quiet, planted drift batch alerts; " +
    "self-TV is floor-noise only; scoring is stateless per batch") {
    import spark.implicits._
    val work = tempDir("graft_corpus_drift")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    CorpusDrift.trainBaseline(docs).write.parquet(s"$work/baseline")
    val baseline = spark.read.parquet(s"$work/baseline")
    assert(baseline.count() >= 2L, "vocab rows + (possibly) <other>")

    // calibration through the shared kernel
    val selfTv = CorpusDrift.score(docs, baseline)
      .head().getAs[Long]("tv_nano")
    assert(selfTv < 2000000L,
      s"corpus vs own baseline must be floor noise only: $selfTv")
    val drifted = (1 to 50)
      .map(i => (9000L + i, s"zzzdrift$i zzzdrift zzzdrift qqq$i"))
      .toDF("doc_id", "text")
    // a zero-token frame carries no evidence: tv must be a hard 0,
    // never the ~0.5e9 a naive "all baseline mass missing" read gives
    val emptyRow = CorpusDrift.score(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), baseline).head()
    assert((emptyRow.getAs[Long]("n_docs"), emptyRow.getAs[Long]("n_toks"),
      emptyRow.getAs[Long]("tv_nano")) == ((0L, 0L, 0L)), s"got $emptyRow")
    val driftTv = CorpusDrift.score(drifted, baseline)
      .head().getAs[Long]("tv_nano")
    assert(driftTv > 10L * (selfTv + 1),
      s"planted OOV batch must dominate self-noise: $driftTv vs $selfTv")
    val threshold = (selfTv + driftTv) / 2

    // streaming: batch 0 in-distribution, batch 1 planted drift
    val stream = MemoryStream[(Long, String)](spark)
    val q = CorpusDrift.start(
      stream.toDF().toDF("doc_id", "text"),
      s"$work/baseline", s"$work/alerts", s"$work/ckpt", threshold)
    stream.addData(docs.select("doc_id", "text").as[(Long, String)]
      .collect().toIndexedSeq)
    q.processAllAvailable()
    stream.addData(drifted.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val alerts = spark.read.parquet(s"$work/alerts")
      .orderBy("batch_id").collect()
    assert(alerts.length == 2, s"got ${alerts.length}")
    assert(!alerts(0).getAs[Boolean]("drifted") &&
      alerts(0).getAs[Long]("tv_nano") == selfTv,
      s"batch 0 must score exactly the kernel's self-TV: ${alerts(0)}")
    assert(alerts(1).getAs[Boolean]("drifted") &&
      alerts(1).getAs[Long]("tv_nano") == driftTv,
      s"batch 1 must score exactly the kernel's drift-TV: ${alerts(1)}")
    assert(alerts(1).getAs[Long]("n_docs") == 50L)
  }

  test("alert rows are replay-idempotent in MULTIPLICITY: a redelivered " +
    "batch overwrites its own batch_id partition, never double-fires") {
    val work = tempDir("graft_drift_replay")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    CorpusDrift.trainBaseline(docs).write.parquet(s"$work/baseline")
    val baseline = spark.read.parquet(s"$work/baseline").localCheckpoint(true)
    val batch = docs.select("doc_id", "text").limit(20)
    CorpusDrift.recordScore(batch, baseline, s"$work/alerts", 0L, 1000000L)
    // foreachBatch at-least-once: the same batch id delivered again
    CorpusDrift.recordScore(batch, baseline, s"$work/alerts", 0L, 1000000L)
    CorpusDrift.recordScore(batch, baseline, s"$work/alerts", 1L, 1000000L)
    val alerts = spark.read.parquet(s"$work/alerts")
    assert(alerts.count() == 2L,
      s"one row per batch id, got ${alerts.count()}")
    assert(alerts.select("batch_id").distinct().count() == 2L)
  }

  test("baselineAuto: trained baseline served under the growth budget " +
    "(stale serve, zero retrains), retrained past it") {
    import graft.operators.IndexStore
    val work = indexedTempDir("graft_drift_stale")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(s"$work/documents.parquet")

    val builds0 = IndexStore.buildsPerformed
    def served() = CorpusDrift.baselineAuto(spark, work, maxGrowFraction = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val trained = served()
    assert(IndexStore.buildsPerformed == builds0 + 1, "first consumer trains")
    assert(served() == trained)
    assert(IndexStore.buildsPerformed == builds0 + 1, "warm serve, no retrain")

    // small append (~2% of trained bytes): STALE-SERVED — the monitor
    // keeps the trained distribution instead of alerting on benign
    // vocabulary growth after retraining per batch
    val stale0 = IndexStore.staleServes
    docs.limit(10).withColumn("doc_id", col("doc_id") + 100000L)
      .write.mode("append").parquet(s"$work/documents.parquet")
    assert(served() == trained,
      "under-budget growth must serve the TRAINED baseline")
    assert(IndexStore.buildsPerformed == builds0 + 1)
    assert(IndexStore.staleServes == stale0 + 1, "stale serve is counted")

    // a full-corpus append (~100% growth) crosses the 50% budget: ONE
    // retrain, and the new baseline reflects the grown corpus
    docs.withColumn("doc_id", col("doc_id") + 200000L)
      .write.mode("append").parquet(s"$work/documents.parquet")
    served()
    assert(IndexStore.buildsPerformed == builds0 + 2,
      "over-budget growth must retrain exactly once")
    assert(served() == served(), "retrained baseline is stable")
    assert(IndexStore.buildsPerformed == builds0 + 2)
  }
}
