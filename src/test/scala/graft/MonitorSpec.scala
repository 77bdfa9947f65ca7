package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{LogAnalytics, Monitor}
import graft.streaming.{CdcPipeline, KeyedParquetStore}

class MonitorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("monitoring report bundle over a live store") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      tempDir("mon_store"), nBuckets = 4)
    val customers = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val orders = Seq((10L, 1L), (11L, 2L)).toDF("id", "cust")
    CdcPipeline.snapshot(spark, store,
      Map("customers" -> customers, "orders" -> orders),
      Map("customers" -> "id", "orders" -> "id"))

    // source has drifted ahead: one extra order not yet replicated
    val sources = Map(
      "customers" -> customers,
      "orders" -> orders.unionByName(Seq((12L, 3L)).toDF("id", "cust")))
    val reports = Monitor.report(spark, store, sources)

    val lag = reports("lag").orderBy("table_name").collect()
    assert(lag.map(_.getString(0)).toSeq == Seq("customers", "orders"))
    val byTable = lag.map(r => r.getString(0) -> r.getAs[String]("sync_status")).toMap
    assert(byTable("customers") == "SYNCED")
    assert(byTable("orders") == "NEAR_SYNC") // lag 1 ≤ 5

    val summary = reports("sync_summary").collect().head
    assert(summary.getAs[Long]("total_src") == 6L)
    assert(summary.getAs[Long]("total_tgt") == 5L)
    assert(summary.getAs[String]("health") == "yellow") // 1 of 2 synced

    val stats = reports("table_stats").orderBy("table_name").collect()
    assert(stats.map(_.getAs[Long]("n_rows")).toSeq == Seq(3L, 2L))
    assert(stats.forall(_.getAs[String]("pretty_size").nonEmpty))

    assert(reports("streams").columns.contains("mirror_name"))

    // storage introspection (pg_database_size / pg_indexes_size analogue)
    val storage = reports("storage").orderBy("table_name").collect()
    assert(storage.map(_.getString(0)).toSeq == Seq("customers", "orders"))
    storage.foreach { r =>
      assert(r.getAs[Long]("index_bytes") > 0L) // parquet footers exist
      assert(r.getAs[Long]("data_bytes") > 0L)
      assert(r.getAs[Int]("n_files") >= r.getAs[Int]("n_buckets"))
      assert(r.getAs[String]("pretty_total").nonEmpty)
    }
    // totals reconcile with the per-bucket stats the store reports
    val declared = storage.map(r =>
      r.getString(0) -> (r.getAs[Long]("data_bytes") + r.getAs[Long]("index_bytes"))).toMap
    Seq("customers", "orders").foreach { t =>
      assert(declared(t) == store.bucketStats(spark, t).map(_._3).sum)
    }
    val db = reports("database_size").collect().head
    assert(db.getAs[Long]("n_tables") == 2L)
    assert(db.getAs[Long]("total_bytes") == declared.values.sum)

    // replication infrastructure (pg_replication_slots / wal_level /
    // max_wal_senders analogue, monitoring.ps1:960–1030): snapshot-only
    // store → no applied watermark yet (WARNING, like zero slots); the
    // retention confs are session state set by CdcPipeline.start
    val infra = reports("replication_infra").orderBy("component").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(3))).toMap
    assert(infra.keySet ==
      Set("applied_watermark", "checkpoint_retention", "active_mirrors"))
    assert(infra("applied_watermark")._1 == "WARNING",
      "snapshot-only store has no applied LSN — must warn, not invent one")
    // after one applied batch the watermark row turns OK with the LSN
    CdcPipeline.applyBatch(
      Seq((42L, new java.sql.Timestamp(0L), "I", "orders", 13L,
        """{"id":13,"cust":1}"""))
        .toDF("lsn", "commitTs", "op", "table", "key", "after"),
      store, Map("orders" -> reports("lag").sparkSession.read
        .parquet(s"${store.root}/orders").drop("bucket").schema),
      Map("orders" -> "id"))
    val infra2 = Monitor.replicationInfra(spark, store)
      .filter($"component" === "applied_watermark").collect().head
    assert(infra2.getString(1) == "OK" && infra2.getString(2) == "lsn=42")
  }

  test("feed_consumers infra row (r14): unregistered feed warns — pruning " +
    "cannot engage; registrations flip it OK and list the positions") {
    val work = tempDir("mon_feed")
    val feed = s"$work/feed"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 2)
    def row() = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "feed_consumers").collect().head
    val bare = row()
    assert(bare.getString(1) == "WARNING" && bare.getString(3) == "Check Setup")
    CdcPipeline.registerConsumer(spark, feed, "mirror_b", s"$work/ckptB")
    CdcPipeline.registerConsumer(spark, feed, "mirror_a", s"$work/ckptA")
    val reg = row()
    assert(reg.getString(1) == "OK" &&
      reg.getString(2) == "2 registered: mirror_a, mirror_b", reg.toString)
    // no feedDir → the row is absent (the pre-r14 three-row report)
    assert(Monitor.replicationInfra(spark, store).count() == 3)
  }

  test("time_lag: a lagging mirror shows positive, shrinking seconds-behind-source") {
    import spark.implicits._
    import graft.streaming.{ChangeEvent, ChangeFeed}
    val work = tempDir("mon_tlag")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    store.snapshot(spark, "t", Seq((1L, "a")).toDF("id", "v"), "id")
    val e1 = ChangeEvent(1, ts(0), "U", "t", 1, """{"id":1,"v":"a2"}""")
    val e2 = ChangeEvent(2, ts(600), "I", "t", 2, """{"id":2,"v":"b"}""")
    ChangeFeed.publish(Seq(e1, e2).toDF(), feed)

    // nothing applied yet: unknown lag while the feed has data → warn
    val unknown = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "time_lag").collect().head
    assert(unknown.getString(1) == "WARNING" &&
      unknown.getString(3) == "Check Setup", unknown.toString)

    // half-applied: watermark commitTs = ts(0), feed max = ts(600) →
    // 600 s behind (past the 300 s default budget)
    CdcPipeline.applyBatch(Seq(e1).toDF(), store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(CdcPipeline.timeLagSeconds(spark, store, feed) == Some(600L))
    val behind = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "time_lag").collect().head
    assert(behind.getString(1) == "WARNING" &&
      behind.getString(3) == "Falling Behind", behind.toString)
    // ... and the lag report carries the same number as a column
    val rep = Monitor.lagReport(spark, store,
      Map("t" -> Seq((1L, "a2"), (2L, "b")).toDF("id", "v")), Some(feed))
      .collect().head
    assert(rep.getAs[Long]("seconds_behind") == 600L)

    // fully applied: lag shrinks to 0 → healthy
    CdcPipeline.applyBatch(Seq(e2).toDF(), store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(CdcPipeline.timeLagSeconds(spark, store, feed) == Some(0L))
    val healthy = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "time_lag").collect().head
    assert(healthy.getString(1) == "OK" &&
      healthy.getString(3) == "Healthy", healthy.toString)

    // pruned-to-empty feed (retention removed every applied file): no
    // max to compare against — unknown-but-idle, not a warning
    new java.io.File(feed).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .foreach(_.delete())
    assert(CdcPipeline.timeLagSeconds(spark, store, feed).isEmpty)
    val idle = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "time_lag").collect().head
    assert(idle.getString(1) == "OK" && idle.getString(3) == "Idle",
      idle.toString)
  }

  test("time_lag: stale commit-time stamp reads unknown, not an overstated lag") {
    import spark.implicits._
    import graft.streaming.{ChangeEvent, ChangeFeed}
    val work = tempDir("mon_stale")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    store.snapshot(spark, "t", Seq((1L, "a")).toDF("id", "v"), "id")
    val e1 = ChangeEvent(1, ts(0), "U", "t", 1, """{"id":1,"v":"a2"}""")
    ChangeFeed.publish(Seq(e1).toDF(), feed)
    CdcPipeline.applyBatch(Seq(e1).toDF(), store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(store.appliedCommitTsAt(spark) == Some((1L, ts(0))))
    assert(CdcPipeline.timeLagSeconds(spark, store, feed) == Some(0L))

    // a later batch advances the LSN WITHOUT a commitTs (pre-r15
    // producer / hand-merged events): the old stamp must NOT be read
    // as current — the metric goes honestly unknown, and the monitor
    // names the staleness instead of the generic no-watermark detail
    store.recordAppliedLsn(spark, 5L, None)
    assert(store.appliedLsn(spark) == Some(5L))
    assert(store.appliedCommitTs(spark).isEmpty)
    assert(CdcPipeline.timeLagSeconds(spark, store, feed).isEmpty)
    val stale = Monitor.replicationInfra(spark, store, Some(feed))
      .filter(col("component") === "time_lag").collect().head
    assert(stale.getString(1) == "WARNING" &&
      stale.getString(2).contains("stale at lsn=1") &&
      stale.getString(2).contains("applied lsn=5"), stale.toString)

    // a fresh commitTs-bearing apply re-arms the metric
    val e2 = ChangeEvent(9, ts(60), "I", "t", 2, """{"id":2,"v":"b"}""")
    ChangeFeed.publish(Seq(e2).toDF(), feed)
    CdcPipeline.applyBatch(Seq(e2).toDF(), store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(CdcPipeline.timeLagSeconds(spark, store, feed) == Some(0L))

    // frequent pollers can opt the feed-scanning row out entirely
    val rows = Monitor.replicationInfra(spark, store, Some(feed),
      includeTimeLag = false)
    assert(rows.filter(col("component") === "time_lag").count() == 0)
    assert(rows.filter(col("component") === "feed_consumers").count() == 1)
  }

  test("storage report handles a missing table as zeros") {
    val store = new KeyedParquetStore(
      tempDir("mon_store_empty"), nBuckets = 2)
    val r = Monitor.storageReport(spark, store, Seq("ghost")).collect().head
    assert(r.getAs[Long]("total_bytes") == 0L && r.getAs[Int]("n_files") == 0)
  }

  test("latest-file selection picks newest mtime (monitoring.ps1:61–65)") {
    val dir = java.nio.file.Paths.get(tempDir("files"))
    Files.write(dir.resolve("old.log"), "x".getBytes)
    Files.write(dir.resolve("new.log"), "y".getBytes)
    dir.resolve("old.log").toFile.setLastModified(1000000L)
    dir.resolve("new.log").toFile.setLastModified(2000000L)
    val latest = LogAnalytics.latestFile(spark, dir.toString + "/*.log")
    assert(latest.exists(_.endsWith("new.log")), latest)
    val listing = LogAnalytics.listFiles(spark, dir.toString + "/*.log")
    assert(listing.count() == 2)
    assert(listing.columns.toSet == Set("path", "bytes", "mtime_ms"))
  }
}
