package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Workload
import graft.streaming.{CdcPipeline, KeyedParquetStore}

/** Differential CDC churn test: a seeded mixed I/U/D stream applied
  * through the distributed bucketed merge must land exactly the state
  * the sequential replay model ([[ApplyModel.replay]]) computes. Also
  * exercises compaction after merge-accreted small files. */
class ChurnSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  /** The generated change log as the model's events, each image parsed
    * with `schema`. */
  private def modelEvents(changes: DataFrame, schema: StructType): Seq[ApplyModel.Event] =
    changes.select(col("lsn"), col("op"), col("key"), col("beforeKey"),
        from_json(col("after"), schema).as("image"))
      .collect().toSeq.map { r =>
        val image = Option(r.getStruct(4)).map(s => schema.fieldNames.map(f => f -> s.getAs[Any](f)).toMap)
        ApplyModel.Event(r.getLong(0), r.getString(1), r.getLong(2), image,
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }

  /** Apply `changes` through the distributed path in the four LSN-range
    * micro-batches every case uses. */
  private def applyInFourBatches(changes: DataFrame, store: KeyedParquetStore,
      schema: StructType): Unit =
    (0 until 4).foreach { b =>
      val batch = changes.filter(col("lsn") >= 1000 + b * 100 && col("lsn") < 1100 + b * 100)
      CdcPipeline.applyBatch(batch, store, Map("t" -> schema), Map("t" -> "id"))
    }

  private def seeded(rows: Seq[ApplyModel.Row]): Map[Long, ApplyModel.Row] =
    rows.map(r => r("id").asInstanceOf[Long] -> r).toMap

  test("mixed I/U/D churn: distributed merge == in-memory replay; compaction preserves state") {
    import spark.implicits._
    val root = tempDir("churn_store")
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
    applyInFourBatches(changes, store, schema)

    val model = ApplyModel.replay(
      seeded(seedRows.map { case (k, v) => Map[String, Any]("id" -> k, "v" -> v) }),
      modelEvents(changes, schema), ApplyModel.applyHard("id"))
    val expected = ApplyModel.values(model, schema)
    def state() = ApplyModel.values(store.read(spark, "t"), schema, "id")
    val got = state()
    assert(got == expected,
      s"divergence: extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")

    // merges accrete files; compaction collapses to 1/bucket, same data
    val before = store.bucketStats(spark, "t").map(_._2).sum
    store.compact(spark, "t")
    val after = store.bucketStats(spark, "t").map(_._2).sum
    assert(after <= before)
    assert(store.bucketStats(spark, "t").forall(_._2 == 1),
      s"expected 1 file/bucket, got ${store.bucketStats(spark, "t")}")
    assert(state() == expected)

    // clustered re-compaction: rows inside each bucket file are sorted
    // by the cluster column, so row-group zone maps carry disjoint
    // ranges (same data, different physical order)
    store.compact(spark, "t", clusterBy = Seq("id"))
    assert(state() == expected)
    store.liveFiles(spark, "t").foreach { case (b, file) =>
      val ids = spark.read.parquet(file).select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"bucket $b not clustered by id")
    }
  }

  test("PK-changing updates: distributed merge applies delete(old)+upsert(new) == in-memory replay") {
    import spark.implicits._
    val root = tempDir("churn_pkc")
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
    applyInFourBatches(changes, store, schema)

    // the model expands a key-change as delete(old)+upsert(new) — the
    // Postgres REPLICA IDENTITY rule
    val events = modelEvents(changes, schema)
    val model = ApplyModel.replay(
      seeded(seedRows.map { case (k, v) => Map[String, Any]("id" -> k, "v" -> v) }),
      events, ApplyModel.applyHard("id"))
    val expected = ApplyModel.values(model, schema)
    val got = ApplyModel.values(store.read(spark, "t"), schema, "id")
    assert(got == expected,
      s"divergence: extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    // no stranded old keys: every moved-away beforeKey whose key was
    // never re-created is absent from the target
    val movedAway = events.filter(_.isMove).flatMap(_.beforeKey)
    assert(movedAway.nonEmpty)
    movedAway.filterNot(model.contains).foreach { k =>
      assert(!got.contains(k.toString), s"stranded old key $k after PK change")
    }
  }

  test("toast churn: markers resolve across batch boundaries, merge == in-memory replay") {
    import spark.implicits._
    val M = CdcPipeline.UnchangedToast
    val root = tempDir("churn_toast")
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
    applyInFourBatches(changes, store, schema)

    // the model: a marked v keeps the key's current value, w always applies
    val model = ApplyModel.replay(
      seeded(seedRows.map { case (k, v, w) => Map[String, Any]("id" -> k, "v" -> v, "w" -> w) }),
      modelEvents(changes, schema), ApplyModel.applyHard("id"))
    val expected = ApplyModel.values(model, schema)
    val got = ApplyModel.values(store.read(spark, "t"), schema, "id")
    assert(got == expected,
      s"divergence on ${got.keySet.union(expected.keySet).count(k => got.get(k) != expected.get(k))} keys")
    // no marker ever landed in the target
    assert(!got.values.exists(_.contains(M)), "marker upserted verbatim")
  }
}
