package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore}

/** End-to-end CDC mirror test reproducing the reference's count-
  * reconciliation oracle (insert.ps1:426–431): snapshot + I/U/D stream
  * → target converges to source; idempotent re-apply; delete-emptied
  * buckets are cleared. */
class CdcPipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val customersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType)))
  private val ordersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("purchaser", IntegerType),
    StructField("quantity", IntegerType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("snapshot + I/U/D stream converges, merge is idempotent") {
    import spark.implicits._
    val root = tempDir("cdc_store")
    val ckpt = tempDir("cdc_ckpt")
    val store = new KeyedParquetStore(root, nBuckets = 4)

    // reference seed rows (quickstart_prepare_peers.sh:54–58,72–77)
    val customers = Seq(
      (1001L, "Sally", "Thomas", "sally.thomas@acme.com"),
      (1002L, "George", "Bailey", "gbailey@foobar.com"),
      (1003L, "Edward", "Walker", "ed@walker.com"),
      (1004L, "Anne", "Kretchmar", "annek@noanswer.org")
    ).toDF("id", "first_name", "last_name", "email")
    val orders = Seq(
      (10001L, 1001, 1), (10002L, 1002, 2), (10003L, 1002, 2)
    ).toDF("id", "purchaser", "quantity")

    CdcPipeline.snapshot(spark, store,
      Map("customers" -> customers, "orders" -> orders),
      Map("customers" -> "id", "orders" -> "id"))

    assert(store.read(spark, "customers").count() == 4)
    assert(store.read(spark, "orders").count() == 3)

    // stream: insert 2 customers, update 1, delete 1; insert 1 order
    val stream = MemoryStream[ChangeEvent](spark)
    stream.addData(
      ChangeEvent(1, ts(1), "I", "customers", 1005,
        """{"id":1005,"first_name":"New","last_name":"Person","email":"n@p.com"}"""),
      ChangeEvent(2, ts(2), "U", "customers", 1001,
        """{"id":1001,"first_name":"Sally","last_name":"Updated","email":"s@u.com"}"""),
      ChangeEvent(3, ts(3), "U", "customers", 1001,
        """{"id":1001,"first_name":"Sally","last_name":"Final","email":"s@f.com"}"""),
      ChangeEvent(4, ts(4), "D", "customers", 1002, null),
      ChangeEvent(5, ts(5), "I", "customers", 1006,
        """{"id":1006,"first_name":"Other","last_name":"Person","email":"o@p.com"}"""),
      ChangeEvent(6, ts(6), "I", "orders", 10004,
        """{"id":10004,"purchaser":1005,"quantity":7}"""))

    val q = CdcPipeline.start(
      stream.toDF(),
      store,
      Map("customers" -> customersSchema, "orders" -> ordersSchema),
      Map("customers" -> "id", "orders" -> "id"),
      mirrorName = "test_mirror",
      checkpointDir = ckpt)
    q.processAllAvailable()
    q.stop()

    val got = store.read(spark, "customers")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    // 1001 updated twice → last-write-wins "Final"; 1002 deleted;
    // 1005/1006 inserted
    assert(got == Seq(
      (1001L, "Final"), (1003L, "Walker"), (1004L, "Kretchmar"),
      (1005L, "Person"), (1006L, "Person")))
    assert(store.read(spark, "orders").count() == 4)

    // idempotency: re-applying the identical change set is a no-op
    val batch = Seq(
      ChangeEvent(3, ts(3), "U", "customers", 1001,
        """{"id":1001,"first_name":"Sally","last_name":"Final","email":"s@f.com"}"""),
      ChangeEvent(4, ts(4), "D", "customers", 1002, null)
    ).toDF()
    CdcPipeline.applyBatch(batch, store,
      Map("customers" -> customersSchema), Map("customers" -> "id"))
    val again = store.read(spark, "customers")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(again == got)

    // lag report: converged → SYNCED with 100% efficiency
    val expectedCustomers = Seq(
      (1001L, "Sally", "Final", "s@f.com"),
      (1003L, "Edward", "Walker", "ed@walker.com"),
      (1004L, "Anne", "Kretchmar", "annek@noanswer.org"),
      (1005L, "New", "Person", "n@p.com"),
      (1006L, "Other", "Person", "o@p.com")
    ).toDF("id", "first_name", "last_name", "email")
    val report = CdcPipeline.lagReport(spark, store,
      Map("customers" -> expectedCustomers)).collect()
    assert(report.length == 1)
    assert(report.head.getAs[String]("sync_status") == "SYNCED")
    assert(report.head.getAs[Double]("efficiency_pct") == 100.0)
  }

  test("PK-changing UPDATE through the FULL streaming path: beforeKey " +
    "survives the feed's JSON round-trip, old key deleted, new key live; " +
    "pre-r15 feed files (no beforeKey field) replay unchanged") {
    import spark.implicits._
    val work = tempDir("cdc_pkc_stream")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    // file 1: a PRE-r15 producer — raw JSON without the beforeKey field
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$feed/legacy.json"),
      (1L to 5L).map(i =>
        s"""{"lsn":$i,"commitTs":"2023-11-14T22:13:2$i.000Z","op":"I","table":"t","key":$i,"after":"{\\"id\\":$i,\\"v\\":\\"v$i\\"}"}""")
        .mkString("\n"))
    // file 2: an r15 producer — key 2 MOVES to key 200 (REPLICA
    // IDENTITY old tuple), key 3 gets an ordinary in-place update
    graft.streaming.ChangeFeed.publish(
      Seq(
        (10L, ts(10), "U", "t", 200L, """{"id":200,"v":"moved"}""", Some(2L)),
        (11L, ts(11), "U", "t", 3L, """{"id":3,"v":"v3b"}""", Option.empty[Long]))
        .toDF("lsn", "commitTs", "op", "table", "key", "after", "beforeKey")
        .coalesce(1), feed)

    val q = CdcPipeline.start(
      graft.streaming.ChangeFeed.stream(spark, feed),
      store, Map("t" -> schema), Map("t" -> "id"),
      mirrorName = "pkc_mirror", checkpointDir = s"$work/ckpt")
    q.processAllAvailable(); q.stop()

    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 3L -> "v3b", 4L -> "v4", 5L -> "v5",
      200L -> "moved"),
      s"old key 2 must be gone, 200 live, legacy rows intact: $got")
  }

  test("snapshot under a LIVE feed: publisher races the copy, the stream " +
    "absorbs the overlap, mirror converges exactly-once") {
    // the flow-snapshot-worker race the reference's architecture
    // implies (docker-compose.yml:133-141): the snapshot copies the
    // source WHILE the WAL keeps accumulating; the stream then starts
    // at the boundary and re-reads feed files that overlap what the
    // snapshot already contains. The idempotent by-PK merge + in-order
    // whole-file consumption must absorb the overlap — same values
    // re-applied are a no-op, later events win.
    import spark.implicits._
    import graft.streaming.ChangeFeed
    val work = tempDir("cdc_snapracE")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    // 200 events over 20 keys in 10 whole-file chunks; the last chunk
    // deletes keys 0-4 so the delete path crosses the boundary too
    val events = (0 until 200).map { i =>
      val key = (i % 20).toLong
      if (i >= 180 && key < 5)
        ChangeEvent(i + 1L, ts(i.toLong), "D", "t", key, null)
      else
        ChangeEvent(i + 1L, ts(i.toLong), if (i < 20) "I" else "U", "t", key,
          s"""{"id":$key,"v":"v${i + 1}"}""")
    }
    def lastPerKey(upToLsn: Long): Map[Long, Option[String]] =
      events.filter(_.lsn <= upToLsn).groupBy(_.key).map { case (k, es) =>
        val last = es.maxBy(_.lsn)
        k -> (if (last.op == "D") None
              else Some(s"v${last.lsn}"))
      }

    // chunks 1-3 land before the snapshot worker reads its source
    // state (lsn <= 60); chunks 4-10 land CONCURRENTLY with the
    // snapshot write — both started together, both joined before the
    // mirror starts, so the overlap window exists by construction
    val chunks = events.grouped(20).toSeq
    chunks.take(3).foreach(c =>
      ChangeFeed.publish(c.toDF().coalesce(1), feed))
    val sourceNow = lastPerKey(60L).collect {
      case (k, Some(v)) => (k, v)
    }.toSeq.toDF("id", "v")
    val publisher = new Thread(() =>
      chunks.drop(3).foreach { chunk =>
        ChangeFeed.publish(chunk.toDF().coalesce(1), feed)
        Thread.sleep(20)
      })
    publisher.start()
    try CdcPipeline.snapshot(spark, store,
      Map("t" -> sourceNow), Map("t" -> "id"))
    finally publisher.join()
    assert(ChangeFeed.dataFiles(spark, feed).size == 10)

    // mirror starts AT THE BOUNDARY: a fresh checkpoint re-reads the
    // whole feed, including every pre-snapshot (overlapping) file
    val q = CdcPipeline.start(
      ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
      store, Map("t" -> schema), Map("t" -> "id"), "snap_race_mirror", ckpt)
    q.processAllAvailable()
    q.stop()

    val expected = lastPerKey(200L).collect { case (k, Some(v)) => k -> v }
    val got = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected, s"diverged: $got vs $expected")
    // exactly-once totals: one row per live key, deletes gone
    assert(got.size == 15)
    // replaying the whole feed once more changes nothing (idempotence
    // across the snapshot boundary, not just within the stream)
    CdcPipeline.applyBatch(ChangeFeed.readAll(spark, feed), store,
      Map("t" -> schema), Map("t" -> "id"))
    val again = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == expected)
  }

  test("lagReport is one lazy union-all job and keeps empty tables in the report") {
    import spark.implicits._
    val root = tempDir("cdc_lag")
    val store = new KeyedParquetStore(root, nBuckets = 2)
    store.snapshot(spark, "t1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")
    val sources = Map(
      "t1" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      "t_empty" -> Seq.empty[(Long, String)].toDF("id", "v"))
    val report = CdcPipeline.lagReport(spark, store, sources)
    // no eager count() loop: building the report triggers no action
    // (the old spelling ran a driver-blocking count per table here)
    assert(report.queryExecution.logical != null)
    val rows = report.collect().map(r =>
      (r.getAs[String]("table_name"), r.getAs[Long]("src_rows"),
        r.getAs[Long]("tgt_rows"), r.getAs[Double]("efficiency_pct")))
    assert(rows.toSeq == Seq(
      ("t1", 3L, 2L, 66.7),
      ("t_empty", 0L, 0L, 100.0))) // 0/0 converged table stays present
  }

  test("deleting every row in a bucket clears it") {
    import spark.implicits._
    val root = tempDir("cdc_store2")
    val store = new KeyedParquetStore(root, nBuckets = 2)
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    store.snapshot(spark, "t", src, "id")

    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val deletes = Seq(
      ChangeEvent(1, ts(1), "D", "t", 1, null),
      ChangeEvent(2, ts(2), "D", "t", 2, null),
      ChangeEvent(3, ts(3), "D", "t", 3, null)).toDF()
    CdcPipeline.applyBatch(deletes, store, Map("t" -> schema), Map("t" -> "id"))
    assert(store.read(spark, "t").count() == 0)
  }

  test("re-snapshot after a merge fully replaces the table (no stale buckets)") {
    import spark.implicits._
    val root = tempDir("cdc_resnap")
    val store = new KeyedParquetStore(root, nBuckets = 8)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    store.snapshot(spark, "t", (1L to 100L).map(k => (k, s"a$k")).toDF("id", "v"), "id")
    // a merge rewrites only the buckets it touches (dynamic overwrite)...
    CdcPipeline.applyBatch(
      Seq(ChangeEvent(1, ts(1), "U", "t", 1, """{"id":1,"v":"u"}""")).toDF(),
      store, Map("t" -> schema), Map("t" -> "id"))
    // ...then a resync snapshot with FEWER keys must not leave old rows
    store.snapshot(spark, "t", Seq((999L, "only")).toDF("id", "v"), "id")
    val state = store.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state == Seq((999L, "only")), s"stale rows survived resync: ${state.take(5)}")
  }

  test("the store never changes the session's partitionOverwriteMode, and " +
    "snapshot replaces every bucket even when the session says dynamic") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val store = new KeyedParquetStore(
      tempDir("cdc_owmode"), nBuckets = 8)
    def unchanged(step: String)(body: => Unit): Unit = {
      val before = spark.conf.getAll.toSet
      body
      val after = spark.conf.getAll.toSet
      val (gone, added) = (before diff after, after diff before)
      assert(gone.isEmpty && added.isEmpty, s"$step changed the session conf: $gone -> $added")
    }
    unchanged("snapshot") {
      store.snapshot(spark, "t", (1L to 100L).map(k => (k, s"a$k")).toDF("id", "v"), "id")
    }
    unchanged("merge") {
      store.merge(spark, "t",
        Seq(("U", 1L, "u"), ("D", 2L, null: String)).toDF("op", "id", "v"), "id")
    }
    unchanged("compact") { store.compact(spark, "t") }
    assert(store.read(spark, "t").count() == 99)
    // a session left in dynamic mode (another writer's choice) must not
    // turn the full-replace snapshot into a per-bucket overwrite that
    // keeps the buckets the new image does not touch
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, "dynamic")
    try unchanged("snapshot under dynamic") {
      store.snapshot(spark, "t", Seq((999L, "only")).toDF("id", "v"), "id")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val state = store.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state == Seq((999L, "only")), s"stale buckets survived: ${state.take(5)}")
  }

  test("bucketed layout prunes: merge touches only affected buckets") {
    import spark.implicits._
    val root = tempDir("cdc_store3")
    val store = new KeyedParquetStore(root, nBuckets = 8)
    val src = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
    store.snapshot(spark, "t", src, "id")

    // each bucket's live files, from the manifest
    def layout() = store.liveFiles(spark, "t").groupBy(_._1).map { case (b, fs) =>
      b -> fs.map(_._2).toSet }
    val buckets = layout()
    assert(buckets.size == 8)

    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val one = Seq(ChangeEvent(1, ts(1), "U", "t", 42, """{"id":42,"v":-1}""")).toDF()
    CdcPipeline.applyBatch(one, store, Map("t" -> schema), Map("t" -> "id"))

    val after = layout()
    assert(after.keySet == buckets.keySet)
    val changed = after.filter { case (k, files) => buckets(k) != files }
    assert(changed.size == 1, s"expected exactly 1 rewritten bucket, got ${changed.keys}")
    assert(store.read(spark, "t").filter(col("id") === 42).collect().head.getLong(1) == -1L)
    assert(store.read(spark, "t").count() == 1000)
  }

  test("r19 bucket/delete hints: applyBatch's hinted steady path converges " +
    "identically to unhinted merges — long AND string keys, deletes included") {
    import spark.implicits._
    // the hint folds pmod(hash(cast(key, keyType)), nBuckets) into the
    // fan-out aggregate; hash() is TYPE-sensitive, so a string-keyed
    // table is the case that would corrupt if the cast were dropped
    // (hash("42") != hash(42L) → wrong bucket → missed survivor dedup)
    val sSchema = StructType(Seq(
      StructField("code", StringType), StructField("v", LongType)))
    val lSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    // the envelope key is a Long; the string-keyed table receives it
    // through lastImageRaw's cast — so the stored key is "42" (string)
    // and hash("42") != hash(42L): a hint that forgot the cast would
    // bucket by the long hash and silently miss survivor dedup
    def events(lsn0: Long): Seq[ChangeEvent] =
      (0 until 40).map { i =>
        ChangeEvent(lsn0 + i, ts(i), if (i % 7 == 3) "D" else "U",
          "st", i + 1, s"""{"code":"${i + 1}","v":${lsn0 + i}}""")
      } ++ (0 until 40).map { i =>
        ChangeEvent(lsn0 + 100 + i, ts(i), if (i % 5 == 2) "D" else "U",
          "lt", i + 1, s"""{"id":${i + 1},"v":${lsn0 + i}}""")
      }
    val schemas = Map("st" -> sSchema, "lt" -> lSchema)
    val keys = Map("st" -> "code", "lt" -> "id")

    val hinted = new KeyedParquetStore(
      tempDir("cdc_hint_a"), nBuckets = 8)
    val control = new KeyedParquetStore(
      tempDir("cdc_hint_b"), nBuckets = 8)
    Seq(1000L, 2000L).foreach { lsn0 =>
      val batch = events(lsn0).toDF()
      // production path: fan-out aggregate computes the hints
      CdcPipeline.applyBatch(batch, hinted, schemas, keys)
      // control: the same converged images through hint-free merges
      schemas.keys.foreach { t =>
        val img = CdcPipeline.lastImagePerKey(
          batch.filter(col("table") === t), schemas(t), keys(t))
        control.merge(spark, t, img, keys(t))
      }
    }
    Seq("st", "lt").foreach { t =>
      val a = hinted.read(spark, t).orderBy(keys(t)).collect().toSeq
      val b = control.read(spark, t).orderBy(keys(t)).collect().toSeq
      assert(a == b, s"table $t diverged: hinted=${a.take(5)} control=${b.take(5)}")
      assert(a.nonEmpty)
    }
    // replay idempotence through the hinted path
    CdcPipeline.applyBatch(events(2000L).toDF(), hinted, schemas, keys)
    Seq("st", "lt").foreach { t =>
      val a = hinted.read(spark, t).orderBy(keys(t)).collect().toSeq
      val b = control.read(spark, t).orderBy(keys(t)).collect().toSeq
      assert(a == b, s"replay diverged on $t")
    }
  }

  test("r19 job-count gate: a steady-state single-table batch apply runs " +
    "a bounded job count (no per-batch collect creep)") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      tempDir("cdc_jobs"), nBuckets = 8)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    def batch(lsn0: Long) = (0 until 200).map { i =>
      ChangeEvent(lsn0 + i, ts(i), "U", "t", i % 50,
        s"""{"id":${i % 50},"v":${lsn0 + i}}""")
    }.toDF()
    // batch 1 takes the first-write fast path — gate the STEADY batch
    CdcPipeline.applyBatch(batch(1000L), store, Map("t" -> schema), Map("t" -> "id"))
    val cur = JobCount.of(spark, "apply_jobcount") {
      CdcPipeline.applyBatch(batch(2000L), store,
        Map("t" -> schema), Map("t" -> "id"))
    }
    // measured steady state: 3 jobs in each of 3 runs (the batch pin,
    // whose job also folds the fan-out; the merge's bucket shuffle map
    // stage; the write of the new version's files). The merge pin the
    // previous shape ran before its bucket overwrite made it 4; before
    // that, 8 (fan-out aggregate and its AQE stage; a window dedup
    // shuffled twice plus a broadcast before the merge pin; a
    // repartitioned write); the pre-r19 shape ran 16. A reintroduced
    // per-batch collect (2 jobs) or probe trips it.
    assert(cur <= 3,
      s"steady-state applyBatch ran $cur jobs (expected 3) - a " +
        "per-batch collect/probe job crept back into the apply path")
  }

  test("job-count gate: a key-moving batch takes the steady merge") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      tempDir("cdc_jobs_moves"), nBuckets = 8)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    CdcPipeline.applyBatch((0 until 50).map { i =>
      ChangeEvent(1000L + i, ts(i), "I", "t", i, s"""{"id":$i,"v":$i}""")
    }.toDF(), store, Map("t" -> schema), Map("t" -> "id"))
    // five keys move (k -> 100 + k), then every key is updated
    val moves = (0 until 5).map { i =>
      ChangeEvent(2000L + i, ts(i), "U", "t", 100 + i,
        s"""{"id":${100 + i},"v":-1}""", Some(i.toLong))
    } ++ (5 until 200).map { i =>
      ChangeEvent(2000L + i, ts(i), "U", "t", i % 50,
        s"""{"id":${i % 50},"v":${2000 + i}}""")
    }
    val cur = JobCount.of(spark, "apply_jobcount_moves") {
      CdcPipeline.applyBatch(moves.toDF(), store, Map("t" -> schema), Map("t" -> "id"))
    }
    // measured: 3 in each of 3 runs; with the merge pin it ran 4, and
    // before that 11 (the key-change expansion's window dedup and the
    // merge's own touched-bucket collect on top of the steady shape)
    assert(cur <= 3, s"move-path applyBatch ran $cur jobs (expected 3)")
    val state = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // moved keys 0..4 are gone; updates after the move recreate them
    assert(state.size == 55 && (100 until 105).forall(k => state(k.toLong) == -1L),
      s"got ${state.toSeq.sorted.take(10)}")
  }

  test("job-count gate: TOAST, soft and marked-move batches and snapshot") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType),
      StructField("bio", StringType)))
    val M = CdcPipeline.UnchangedToast
    def ev(i: Int, op: String, k: Long, bio: String = "b", before: Option[Long] = None) =
      ChangeEvent(2000L + i, ts(i), op, "t", k,
        if (op == "D") null else s"""{"id":$k,"v":$i,"bio":"$bio"}""", before)
    val updates = (10 until 200).map(i => ev(i, "U", i % 50))
    val deletes = (0 until 5).map(i => ev(i, "D", 40L + i))
    val marked = (0 until 10).map(i => ev(i, "U", i.toLong, M))
    val markedMoves = (0 until 5).map(i => ev(i, "U", 100L + i, M, Some(i.toLong)))
    // measured, identical in each of 3 runs: 3, 3, 3 and 4 jobs, the
    // steady batch's plus the marked move's broadcast. With the merge pin
    // they ran 4, 4, 4 and 5; before that 8, 8, 5 and 8: the TOAST
    // path's per-key aggregate, bucket collect and lookup joins, and the
    // soft path's own aggregate and delete fallback join, before the
    // merge
    val shapes = Seq(
      ("toast", false, marked ++ updates, 3),
      ("soft_deletes", true, deletes ++ updates, 3),
      ("soft", true, updates, 3),
      ("marked_moves", false, markedMoves ++ updates, 4))
    shapes.foreach { case (name, soft, events, bound) =>
      val store = new KeyedParquetStore(
        tempDir(s"cdc_jobs_$name"), nBuckets = 8)
      val seed = Map("t" -> (0L until 50L).map(i => (i, i, s"b$i")).toDF("id", "v", "bio"))
      // a snapshot is its write's shuffle map stage and result stage,
      // as before the manifest commit
      val snap = JobCount.of(spark, s"snapshot_jobcount_$name") {
        if (soft) CdcPipeline.snapshotSoft(spark, store, seed, Map("t" -> "id"))
        else CdcPipeline.snapshot(spark, store, seed, Map("t" -> "id"))
      }
      assert(snap <= 2, s"$name snapshot ran $snap jobs (expected 2)")
      val cur = JobCount.of(spark, s"apply_jobcount_$name") {
        if (soft) CdcPipeline.applyBatchSoft(events.toDF(), store,
          Map("t" -> schema), Map("t" -> "id"))
        else CdcPipeline.applyBatch(events.toDF(), store, Map("t" -> schema), Map("t" -> "id"))
      }
      assert(cur <= bound, s"$name applyBatch ran $cur jobs (expected $bound)")
    }
  }
}
