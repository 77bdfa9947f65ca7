package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Workload
import graft.streaming.{CdcPipeline, KeyedParquetStore}

/** Differential CDC churn test: a seeded mixed I/U/D stream applied
  * through the distributed bucketed merge must land exactly the state
  * an in-memory reference replay computes. Also exercises compaction
  * after merge-accreted small files. */
class ChurnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("mixed I/U/D churn: distributed merge == in-memory replay; compaction preserves state") {
    import spark.implicits._
    val root = Files.createTempDirectory("churn_store").toString
    val store = new KeyedParquetStore(root, nBuckets = 8)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    val seedRows = (1L to 50L).map(k => (k, s"seed_$k"))
    store.snapshot(spark, "t", seedRows.toDF("id", "v"), "id")

    val changes = Workload.generateChanges(
      existingKeys = (1L to 50L).toDF("id"),
      table = "t", n = 400, startLsn = 1000, seed = 7,
      afterJson = (key, lsn) => to_json(struct(
        key.as("id"), concat(lit("v"), lsn).as("v"))))
      .localCheckpoint(true)

    // apply in 4 micro-batches through the distributed path
    (0 until 4).foreach { b =>
      val batch = changes.filter(col("lsn") >= 1000 + b * 100 && col("lsn") < 1100 + b * 100)
      CdcPipeline.applyBatch(batch, store, Map("t" -> schema), Map("t" -> "id"))
    }

    // in-memory reference replay: fold the full change log in lsn order
    val log = changes.orderBy("lsn")
      .select("lsn", "op", "key", "after").collect()
    val state = scala.collection.mutable.Map[Long, String](seedRows.map {
      case (k, v) => k -> v }: _*)
    log.foreach { r =>
      val key = r.getLong(2)
      r.getString(1) match {
        case "D" => state.remove(key)
        case _ =>
          val v = "\"v\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(r.getString(3)).get.group(1)
          state.put(key, v)
      }
    }

    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == state.toMap,
      s"divergence: extra=${got.keySet -- state.keySet} missing=${state.keySet -- got.keySet}")

    // merges accrete files; compaction collapses to 1/bucket, same data
    val before = store.bucketStats(spark, "t").map(_._2).sum
    store.compact(spark, "t")
    val after = store.bucketStats(spark, "t").map(_._2).sum
    assert(after <= before)
    assert(store.bucketStats(spark, "t").forall(_._2 == 1),
      s"expected 1 file/bucket, got ${store.bucketStats(spark, "t")}")
    val afterState = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterState == state.toMap)

    // clustered re-compaction: rows inside each bucket file are sorted
    // by the cluster column, so row-group zone maps carry disjoint
    // ranges (same data, different physical order)
    store.compact(spark, "t", clusterBy = Seq("id"))
    val clusteredState = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clusteredState == state.toMap)
    store.liveFiles(spark, "t").foreach { case (b, file) =>
      val ids = spark.read.parquet(file).select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"bucket $b not clustered by id")
    }
  }

  test("PK-changing updates: distributed merge applies delete(old)+upsert(new) == in-memory replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("churn_pkc").toString
    val store = new KeyedParquetStore(root, nBuckets = 8)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    val seedRows = (1L to 50L).map(k => (k, s"seed_$k"))
    store.snapshot(spark, "t", seedRows.toDF("id", "v"), "id")

    // 15% of events are key-changing updates (REPLICA IDENTITY moves)
    val changes = Workload.generateChanges(
      existingKeys = (1L to 50L).toDF("id"),
      table = "t", n = 400, startLsn = 1000, seed = 11,
      afterJson = (key, lsn) => to_json(struct(
        key.as("id"), concat(lit("v"), lsn).as("v"))),
      pKeyChange = 0.15)
      .localCheckpoint(true)
    val nKc = changes.filter(col("beforeKey").isNotNull).count()
    assert(nKc > 20, s"expected a real key-change share, got $nKc")

    (0 until 4).foreach { b =>
      val batch = changes.filter(col("lsn") >= 1000 + b * 100 && col("lsn") < 1100 + b * 100)
      CdcPipeline.applyBatch(batch, store, Map("t" -> schema), Map("t" -> "id"))
    }

    // in-memory reference replay in lsn order, expanding key-changes
    // as delete(old)+upsert(new) — the Postgres REPLICA IDENTITY rule
    val log = changes.orderBy("lsn")
      .select("lsn", "op", "key", "after", "beforeKey").collect()
    val state = scala.collection.mutable.Map[Long, String](seedRows.map {
      case (k, v) => k -> v }: _*)
    log.foreach { r =>
      val key = r.getLong(2)
      r.getString(1) match {
        case "D" => state.remove(key)
        case _ =>
          if (!r.isNullAt(4) && r.getLong(4) != key) state.remove(r.getLong(4))
          val v = "\"v\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(r.getString(3)).get.group(1)
          state.put(key, v)
      }
    }

    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == state.toMap,
      s"divergence: extra=${got.keySet -- state.keySet} missing=${state.keySet -- got.keySet}")
    // no stranded old keys: every moved-away beforeKey whose key was
    // never re-created is absent from the target
    val movedAway = log.collect {
      case r if !r.isNullAt(4) && r.getLong(4) != r.getLong(2) => r.getLong(4) }
    assert(movedAway.nonEmpty)
    movedAway.filterNot(state.contains).foreach { k =>
      assert(!got.contains(k), s"stranded old key $k after PK change")
    }
  }

  test("toast churn: markers resolve across batch boundaries, merge == in-memory replay") {
    import spark.implicits._
    val M = CdcPipeline.UnchangedToast
    val root = Files.createTempDirectory("churn_toast").toString
    val store = new KeyedParquetStore(root, nBuckets = 8)
    // v = the "TOASTed" wide column (marker-bearing), w = a narrow
    // column every update rewrites — per-column inheritance must keep
    // v while w moves
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("w", LongType)))

    val seedRows = (1L to 50L).map(k => (k, s"seed_$k", 0L))
    store.snapshot(spark, "t", seedRows.toDF("id", "v", "w"), "id")

    // 25% of events are partial updates (v untouched at the source);
    // no deletes/moves — a marker may only revisit a LIVE key (the
    // Postgres guarantee the loud divergence check enforces)
    val changes = Workload.generateChanges(
      existingKeys = (1L to 50L).toDF("id"),
      table = "t", n = 400, startLsn = 1000, seed = 23,
      afterJson = (key, lsn) => to_json(struct(
        key.as("id"), concat(lit("v"), lsn).as("v"), lsn.as("w"))),
      mix = (0.3, 0.0), pToast = 0.25,
      toastJson = (key, lsn) => to_json(struct(
        key.as("id"), lit(M).as("v"), lsn.as("w"))))
      .localCheckpoint(true)
    val nToast = changes.filter(col("after").contains(M)).count()
    assert(nToast > 60, s"expected a real marker share, got $nToast")

    (0 until 4).foreach { b =>
      val batch = changes.filter(col("lsn") >= 1000 + b * 100 && col("lsn") < 1100 + b * 100)
      CdcPipeline.applyBatch(batch, store, Map("t" -> schema), Map("t" -> "id"))
    }

    // in-memory reference replay: a marked v inherits the key's
    // current value, w always applies
    val log = changes.orderBy("lsn").select("op", "key", "after").collect()
    val state = scala.collection.mutable.Map[Long, (String, Long)](
      seedRows.map { case (k, v, w) => k -> ((v, w)) }: _*)
    val vRe = "\"v\"\\s*:\\s*\"([^\"]+)\"".r
    val wRe = "\"w\"\\s*:\\s*(\\d+)".r
    log.foreach { r =>
      val key = r.getLong(1)
      val v = vRe.findFirstMatchIn(r.getString(2)).get.group(1)
      val w = wRe.findFirstMatchIn(r.getString(2)).get.group(1).toLong
      val vNew = if (v == M) state(key)._1 else v
      state.put(key, (vNew, w))
    }

    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == state.toMap,
      s"divergence on ${got.keySet.union(state.keySet).count(k => got.get(k) != state.get(k))} keys")
    // no marker ever landed in the target
    assert(!got.values.exists(_._1 == M), "marker upserted verbatim")
  }
}
