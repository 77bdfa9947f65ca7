package graft

import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, ChangeFeed, KeyedParquetStore}

/** File-based CDC end-to-end: change batches landed as JSON files are
  * tailed by a readStream and merged into the target store, with
  * maxFilesPerTrigger bounding each micro-batch. */
class ChangeFeedSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("file feed → stream → store converges; trigger bound respected") {
    import spark.implicits._
    val feed = tempDir("feed")
    val root = tempDir("feed_store")
    val ckpt = tempDir("feed_ckpt")
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    store.snapshot(spark, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")

    // land two change files (two capture batches)
    ChangeFeed.publish(Seq(
      ChangeEvent(1, ts(1), "I", "t", 3, """{"id":3,"v":"c"}"""),
      ChangeEvent(2, ts(2), "U", "t", 1, """{"id":1,"v":"a2"}""")).toDF(), feed)
    ChangeFeed.publish(Seq(
      ChangeEvent(3, ts(3), "D", "t", 2, null),
      ChangeEvent(4, ts(4), "I", "t", 4, """{"id":4,"v":"d"}""")).toDF(), feed)

    var batches = 0
    val q = ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1)
      .writeStream
      .queryName("feed_mirror")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        CdcPipeline.applyBatch(b, store, Map("t" -> schema), Map("t" -> "id"))
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val state = store.read(spark, "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
    assert(batches >= 2, s"maxFilesPerTrigger=1 should split the feed, got $batches batch(es)")

    // late replay of the same feed is idempotent
    CdcPipeline.applyBatch(ChangeFeed.readAll(spark, feed), store,
      Map("t" -> schema), Map("t" -> "id"))
    val again = store.read(spark, "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(again == state)
  }

  test("checkpoint recovery: restart consumes only unseen files (C5 durability)") {
    import spark.implicits._
    val feed = tempDir("feed2")
    val root = tempDir("feed2_store")
    val ckpt = tempDir("feed2_ckpt")
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    def run(collector: scala.collection.mutable.Set[Long]): Unit = {
      val q = ChangeFeed.stream(spark, feed)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          collector ++= b.select("lsn").collect().map(_.getLong(0))
          CdcPipeline.applyBatch(b, store, Map("t" -> schema), Map("t" -> "id"))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    ChangeFeed.publish(Seq(
      ChangeEvent(1, ts(1), "I", "t", 1, """{"id":1,"v":"a"}"""),
      ChangeEvent(2, ts(2), "I", "t", 2, """{"id":2,"v":"b"}""")).toDF(), feed)
    val firstRun = scala.collection.mutable.Set.empty[Long]
    run(firstRun)
    assert(firstRun == Set(1L, 2L))

    // new capture batch lands while the mirror is down
    ChangeFeed.publish(Seq(
      ChangeEvent(3, ts(3), "U", "t", 1, """{"id":1,"v":"a2"}""")).toDF(), feed)
    val secondRun = scala.collection.mutable.Set.empty[Long]
    run(secondRun)
    assert(secondRun == Set(3L), s"restart reprocessed old offsets: $secondRun")

    val state = store.read(spark, "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state == Seq((1L, "a2"), (2L, "b")))
  }

  test("transactional publish: no transaction spans two files, files range in " +
    "commit order, micro-batches apply whole transactions in order") {
    import spark.implicits._
    val feed = tempDir("feed_txn")
    val root = tempDir("feed_txn_store")
    val ckpt = tempDir("feed_txn_ckpt")
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    // 40 transactions x 15 events; keys cycle over 30 ids so the same
    // key is touched by MANY transactions — the cross-file ordering
    // hazard a plain repartition(n) publish would create
    val events = (0 until 600).map { i =>
      val txn = i / 15
      val key = (i % 30).toLong
      ChangeEvent(i.toLong + 1, ts(txn.toLong), "U", "t", key,
        s"""{"id":$key,"v":"v${i + 1}"}""")
    }
    ChangeFeed.publishTransactional(events.toDF(), feed, nFiles = 8)

    // layout gates: per-file commitTs sets are disjoint (atomicity) and
    // per-file ranges are ordered by modification time (the file
    // source consumes oldest-first — commit order = processing order)
    val files = new java.io.File(feed).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).sortBy(f => (f.lastModified, f.getName))
    assert(files.length > 1, "need multiple files to gate the layout")
    val perFile = files.map { f =>
      val ts = spark.read.schema(ChangeFeed.schema).json(f.getPath)
        .select("commitTs").collect().map(_.getTimestamp(0).getTime)
      (ts.min, ts.max, ts.toSet)
    }
    perFile.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3.intersect(b._3).isEmpty, "a transaction spans two files")
        assert(a._2 <= b._1, "file ranges out of commit order")
      case _ => ()
    }
    val allTxns = perFile.flatMap(_._3).toSet
    assert(perFile.map(_._3.size).sum == allTxns.size,
      "a transaction appears in more than one file")
    assert(allTxns.size == 40)

    // end-to-end: one file per micro-batch — every transaction must be
    // applied whole inside exactly one batch, and batches must arrive
    // in commit order so the unconditional LWW merge stays correct
    val batchTxns = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchTxns += b.select("commitTs").collect()
          .map(_.getTimestamp(0).getTime).toSet
        CdcPipeline.applyBatch(b, store, Map("t" -> schema), Map("t" -> "id"))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batchTxns.length == files.length)
    batchTxns.toList.sliding(2).foreach {
      case List(a, b) =>
        assert(a.intersect(b).isEmpty && a.max <= b.min,
          s"batch boundary split or reordered a transaction: $a vs $b")
      case _ => ()
    }
    // converged state = the LAST update per key over the whole feed
    val expected = events.groupBy(_.key)
      .map { case (k, es) => k -> s"v${es.map(_.lsn).max}" }
    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)

    // DURABLE ordering gates (r15 de-funnel + tie hardening):
    //  - file names are sequence-numbered, so lexical name order =
    //    commit order for any tool that sorts by name;
    //  - modification times are STRICTLY increasing — no tie for the
    //    file source's oldest-first order to be undefined on (the
    //    pre-r16 sequential writes could tie at ms/1s mtime grain)
    assert(files.forall(_.getName.startsWith("txn-")),
      files.map(_.getName).mkString(", "))
    assert(files.sortBy(_.getName).map(_.getPath).toSeq ==
      files.map(_.getPath).toSeq, "name order must equal mtime order")
    files.map(_.lastModified).sliding(2).foreach {
      case Array(a, b) => assert(a < b, "tied/regressing mtimes")
      case _ => ()
    }
  }

  test("transactional publish write is single-pass: job count independent of nFiles") {
    import spark.implicits._
    // the pre-r17 shape ran one filter-scan + isEmpty job PER FILE over
    // a cached frame — O(nFiles) jobs; the partitionBy write is one job
    // over the events frame, so the total job count must not grow with
    // nFiles (rename/mtime stamping is driver-side FS metadata)
    val events = (0 until 600).map { i =>
      ChangeEvent(i.toLong + 1, ts((i / 15).toLong), "U", "t", (i % 30).toLong,
        s"""{"id":${i % 30},"v":"v${i + 1}"}""")
    }.toDF()
    def countJobs(nFiles: Int): Int = {
      val gid = s"pub_jobcount_$nFiles"
      spark.sparkContext.setJobGroup(gid, "publishTransactional job count",
        interruptOnCancel = false)
      try {
        val feed = tempDir(s"feed_jobs_$nFiles")
        ChangeFeed.publishTransactional(events, feed, nFiles)
      } finally spark.sparkContext.clearJobGroup()
      // the status store ingests listener events asynchronously — poll
      // until the group's job count is stable
      def read() = spark.sparkContext.statusTracker.getJobIdsForGroup(gid).length
      var prev = -1; var cur = read(); var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(100); prev = cur; cur = read(); spins += 1
      }
      cur
    }
    val j4 = countJobs(4)
    val j16 = countJobs(16)
    assert(j16 <= j4 + 2,
      s"job count grew with nFiles ($j4 jobs at nFiles=4, $j16 at 16) - " +
        "the write is per-file again, not single-pass")
    assert(j16 < 16, s"publish ran $j16 jobs for 16 files - O(nFiles) scans")
  }

  test("repeated publishes into one feed keep lexical name order = commit order") {
    import spark.implicits._
    val feed = tempDir("feed_seq")
    def batch(txnBase: Int, lsnBase: Long) = (0 until 60).map { i =>
      ChangeEvent(lsnBase + i, ts((txnBase + i / 15).toLong), "U", "t",
        (i % 10).toLong, s"""{"id":${i % 10},"v":"v${lsnBase + i}"}""")
    }.toDF()
    ChangeFeed.publishTransactional(batch(0, 1), feed, nFiles = 3)
    val afterFirst = new java.io.File(feed).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("txn-")).map(_.getName)
    // second publish (later commit range) must seed seq PAST the first
    // publish's names — a restart at seq 0 would reuse txn-000000-...
    ChangeFeed.publishTransactional(batch(100, 1001), feed, nFiles = 3)
    val all = new java.io.File(feed).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("txn-"))
    assert(all.map(_.getName).distinct.length == all.length)
    assert(all.length > afterFirst.length)
    val seqOf = (n: String) => """^txn-(\d+)-""".r
      .findFirstMatchIn(n).get.group(1).toLong
    val firstMax = afterFirst.map(seqOf).max
    val secondSeqs = all.map(_.getName).filterNot(afterFirst.contains)
      .map(seqOf)
    assert(secondSeqs.forall(_ > firstMax),
      s"second publish reused sequence numbers <= $firstMax: ${secondSeqs.toSeq}")
    // and the global lexical order still equals commit order + mtimes
    // stay strictly increasing across the publish boundary
    val byName = all.sortBy(_.getName)
    val maxTsPerFile = byName.map { f =>
      spark.read.schema(ChangeFeed.schema).json(f.getPath)
        .select("commitTs").collect().map(_.getTimestamp(0).getTime)
    }
    maxTsPerFile.sliding(2).foreach {
      case Array(a, b) => assert(a.max <= b.min, "name order != commit order")
      case _ => ()
    }
    byName.map(_.lastModified).sliding(2).foreach {
      case Array(a, b) => assert(a < b, "tied/regressing mtimes across publishes")
      case _ => ()
    }
  }

  test("transactional file assignment has no unpartitioned window (scales past broadcast)") {
    import spark.implicits._
    val events = (0 until 500).map { i =>
      ChangeEvent(i.toLong + 1, ts(i.toLong / 5), "U", "t", (i % 30).toLong,
        s"""{"id":${i % 30},"v":"v$i"}""")
    }.toDF()
    val fa = ChangeFeed.transactionFileAssignment(events, 8)
    // correctness of the assignment itself: every file id in [1, 8],
    // monotone over commit order, all 100 transactions covered
    val rows = fa.collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1)))
    assert(rows.length == 100)
    assert(rows.forall { case (_, f) => f >= 1 && f <= 8 })
    val byTs = rows.sortBy(_._1).map(_._2)
    assert(byTs.sliding(2).forall { case Array(a, b) => a <= b; case _ => true },
      "file id must be monotone in commit order")
    assert(byTs.distinct.length == 8, "assignment should use all requested files")
    // plan gate: every Window runs partitioned by the rank bucket —
    // the pre-r16 ntile-over-unpartitioned-window funneled the whole
    // |transactions| frame (and its broadcast) through one task
    val plan = fa.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window [")).toList
    assert(windows.nonEmpty, plan)
    windows.foreach(w =>
      assert(w.contains("_bkt"), s"unpartitioned window in assignment:\n$plan"))
    assert(!plan.contains("ntile("), plan)
  }
}
