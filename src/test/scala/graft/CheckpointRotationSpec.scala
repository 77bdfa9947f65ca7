package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeFeed, KeyedParquetStore}

/** Feed pruning + checkpoint rotation — the engine-owned fix for the
  * file-source compact log's linear growth (OSS Spark never evicts
  * source-log entries: `CompactibleFileStreamLog.shouldRetain` ≡
  * true; `maxFileAge` trims only the in-memory seen-map). The
  * contract under test:
  *
  *  1. rotation deletes exactly the feed files every consumer's commit
  *     log records as applied, and nothing a consumer never read;
  *  2. a mirror restarted on a FRESH checkpoint over the pruned feed
  *     re-reads the surviving tail, and the idempotent by-PK merge
  *     absorbs the overlap — the store converges to exactly-once
  *     totals with zero lost and zero duplicated rows;
  *  3. the rotated checkpoint's source log lists only surviving
  *     files — its footprint tracks the retention window, not the
  *     full history (the x40_rotate block of CDC_BENCH.json measures
  *     the same at 800 batches).
  */
class CheckpointRotationSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def publishBatch(feed: String, ids: Range): Unit = {
    import spark.implicits._
    val events = ids.map { i =>
      (i.toLong, new Timestamp(1700000000000L + i * 1000L), "I", "t",
        i.toLong, s"""{"id":$i,"v":"v$i"}""")
    }.toDF("lsn", "commitTs", "op", "table", "key", "after")
    ChangeFeed.publish(events.coalesce(1), feed)
  }

  private def runMirror(feed: String, ckpt: String,
      store: KeyedParquetStore): Unit = {
    val q = CdcPipeline.start(
      ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
      store, Map("t" -> rowSchema), Map("t" -> "id"),
      mirrorName = "rotation_mirror", checkpointDir = ckpt)
    q.processAllAvailable()
    q.stop()
  }

  test("prune + rotate: overlap re-read absorbed, exactly-once totals, " +
    "rotated source log lists only the surviving tail") {
    val work = tempDir("graft_rotate_spec")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    // phase 1: 10 feed files of 100 rows each
    (0 until 8).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    val firstEight = ChangeFeed.dataFiles(spark, feed).keySet
    (8 until 10).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, s"$work/ckpt1", store)
    assert(store.read(spark, "t").count() == 1000L)
    // prune all but the last two files: both are applied, so the
    // rotated mirror re-reads them and the merge must absorb them
    val (pruned, kept) = ChangeFeed.prune(spark, feed, firstEight)
    assert(pruned == 8L && kept == 2L, s"pruned=$pruned kept=$kept")
    // phase 2: two more files, then a mirror on a FRESH checkpoint —
    // it re-reads the two surviving (already-applied) files too
    (10 until 12).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, s"$work/ckpt2", store)
    val rows = store.read(spark, "t")
    assert(rows.count() == 1200L, "overlap re-read must be absorbed, new rows applied")
    assert(rows.select("id").distinct().count() == 1200L, "no duplicated keys")
    assert(rows.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(0L, 1199L))
    // the rotated checkpoint's source log knows only the 4 surviving
    // files (2 replayed + 2 new) — never the full 12-file history
    def listedFiles(ckpt: String): Int = {
      val dir = java.nio.file.Paths.get(s"$ckpt/sources/0")
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.map { f =>
          new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.count(_.contains("\"path\""))
        }.sum
      finally s.close()
    }
    val listed = listedFiles(s"$work/ckpt2")
    assert(listed <= 4, s"rotated source log lists $listed files")
    assert(listedFiles(s"$work/ckpt1") >= 10, "unrotated log lists full history")
  }

  test("rotateCheckpoint API (r12 ask #6): one call stops, prunes every " +
    "committed file, resets the checkpoint; same ckpt dir restarts " +
    "on the surviving tail with exactly-once totals") {
    val work = tempDir("graft_rotate_api")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt" // ONE checkpoint path across the rotation
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    (0 until 10).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, ckpt, store)
    // applyBatch maintained the applied watermark — no out-of-band LSN
    assert(store.appliedLsn(spark).contains(999L))
    // every file is committed, so every file goes
    val r = CdcPipeline.rotateCheckpoint(spark, feed, "rotation_mirror", ckpt)
    assert(r == CdcPipeline.Rotation(10L, 0L), s"got $r")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt)),
      "rotation must reset the checkpoint")
    // phase 2 on the SAME checkpoint path: reads the 2 new files
    (10 until 12).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, ckpt, store)
    val rows = store.read(spark, "t")
    assert(rows.count() == 1200L && rows.select("id").distinct().count() == 1200L,
      "exactly-once totals across the rotation")
    assert(store.appliedLsn(spark).contains(1199L))
    // rotating with NOTHING committed is a visible skip (fresh checkpoint)
    val fresh = s"$work/ckpt_fresh"
    Files.createDirectories(java.nio.file.Paths.get(fresh))
    val skip = CdcPipeline.rotateCheckpoint(spark, feed, "rotation_mirror", fresh)
    assert(!skip.rotated && skip.prunedFiles == 0L &&
      skip.skipped.exists(_.contains("no committed batches")), s"got $skip")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fresh)),
      "no-committed rotation must not delete the checkpoint")
  }

  test("out-of-LSN-order arrival: a late feed file below the watermark " +
    "that the mirror never read SURVIVES rotation (no data loss)") {
    val work = tempDir("graft_rotate_late")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    // files 100-199 and 300-399 applied; watermark lands at 399
    publishBatch(feed, 100 until 200)
    publishBatch(feed, 300 until 400)
    runMirror(feed, ckpt, store)
    assert(store.appliedLsn(spark).contains(399L))
    // a decoder backfill lands the MISSING 200-299 file AFTER the
    // mirror stopped: old LSNs, new mtime — never processed
    publishBatch(feed, 200 until 300)
    val r = CdcPipeline.rotateCheckpoint(spark, feed,
      "rotation_mirror", ckpt)
    // the two processed files go; the unread backfill file — although
    // its max LSN (299) is under the watermark — must survive
    assert(r == CdcPipeline.Rotation(2L, 1L), s"got $r")
    // the restarted mirror reads the survivor: no change is ever lost
    runMirror(feed, ckpt, store)
    val rows = store.read(spark, "t")
    assert(rows.count() == 300L)
    assert(rows.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(100L, 399L))
  }

  test("rotateIfOversized: under-budget checkpoints are untouched; an " +
    "over-budget one rotates through the same API") {
    val work = tempDir("graft_rotate_policy")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    (0 until 5).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, ckpt, store)
    val bytes = CdcPipeline.checkpointBytes(spark, ckpt)
    assert(bytes > 0L)
    // generous budget: the policy must not stop/delete anything
    assert(CdcPipeline.rotateIfOversized(spark, feed,
      "rotation_mirror", ckpt, maxCheckpointBytes = bytes * 10).isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt)))
    // 1-byte budget: rotation fires, feed pruned at the watermark
    val rotated = CdcPipeline.rotateIfOversized(spark, feed,
      "rotation_mirror", ckpt, maxCheckpointBytes = 1L)
    assert(rotated.contains(CdcPipeline.Rotation(5L, 0L)), s"got $rotated")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt)))
    // restart on the same path: nothing to re-read, totals unchanged
    runMirror(feed, ckpt, store)
    assert(store.read(spark, "t").count() == 500L)
  }

  test("multi-consumer feed (r13 ask #1): rotating mirror A prunes NOTHING " +
    "lagging mirror B hasn't committed; once B catches up the remainder " +
    "prunes; both mirrors exactly-once") {
    val work = tempDir("graft_rotate_multi")
    val feed = s"$work/feed"
    val storeA = new KeyedParquetStore(s"$work/storeA", nBuckets = 4)
    val storeB = new KeyedParquetStore(s"$work/storeB", nBuckets = 4)
    def run(name: String, ckpt: String, store: KeyedParquetStore): Unit = {
      val q = CdcPipeline.start(
        ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
        store, Map("t" -> rowSchema), Map("t" -> "id"),
        mirrorName = name, checkpointDir = ckpt)
      q.processAllAvailable(); q.stop()
    }
    // B consumes the first 2 files, then lags while 3 more land and A
    // consumes all 5 — the reference's several-slots-one-WAL shape
    (0 until 2).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    run("mirror_b", s"$work/ckptB", storeB)
    CdcPipeline.registerConsumer(spark, feed, "mirror_b", s"$work/ckptB")
    (2 until 5).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    run("mirror_a", s"$work/ckptA", storeA)
    assert(storeA.appliedLsn(spark).contains(499L))
    // A rotates at its own full watermark — but only the 2 files B has
    // COMMITTED may go; the 3 B still needs survive
    val r1 = CdcPipeline.rotateCheckpoint(spark, feed,
      "mirror_a", s"$work/ckptA")
    assert(r1 == CdcPipeline.Rotation(2L, 3L), s"got $r1")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/ckptB")),
      "only the rotating mirror's checkpoint is reset")
    // B catches up on the survivors — zero loss, exactly-once
    run("mirror_b", s"$work/ckptB", storeB)
    val rowsB = store2Rows(storeB)
    assert(rowsB == (500L, 500L), s"B totals $rowsB")
    // A restarts on its rotated checkpoint: replays the 3 survivors,
    // merge absorbs them; its new source log re-commits those files
    run("mirror_a", s"$work/ckptA", storeA)
    assert(store2Rows(storeA) == (500L, 500L))
    // now EVERY registered consumer has committed the survivors —
    // rotating A again prunes the remainder
    val r2 = CdcPipeline.rotateCheckpoint(spark, feed,
      "mirror_a", s"$work/ckptA")
    assert(r2 == CdcPipeline.Rotation(3L, 0L), s"got $r2")
    assert(store2Rows(storeA) == (500L, 500L) && store2Rows(storeB) == (500L, 500L))
    // registry lifecycle: both consumers visible; drop(feedDir=…)
    // releases B's position
    assert(CdcPipeline.registeredConsumers(spark, feed).keySet ==
      Set("mirror_a", "mirror_b"))
    CdcPipeline.drop(spark, "mirror_b", s"$work/ckptB", feedDir = Some(feed))
    assert(CdcPipeline.registeredConsumers(spark, feed).keySet == Set("mirror_a"))
  }

  private def store2Rows(store: KeyedParquetStore): (Long, Long) = {
    val rows = store.read(spark, "t")
    (rows.count(), rows.select("id").distinct().count())
  }

  test("stale-consumer invalidation (r14, max_slot_wal_keep_size analogue): " +
    "lag is visible, budget invalidation unblocks pruning, and the " +
    "invalidated mirror fails LOUDLY until rebuilt + acknowledged") {
    val work = tempDir("graft_rotate_stale")
    val feed = s"$work/feed"
    val storeA = new KeyedParquetStore(s"$work/storeA", nBuckets = 4)
    val storeB = new KeyedParquetStore(s"$work/storeB", nBuckets = 4)
    def run(name: String, ckpt: String, store: KeyedParquetStore): Unit = {
      // feedDir at start = the mirror registers as a consumer from its
      // FIRST batch (r14) — no manual registerConsumer call anywhere here
      val q = CdcPipeline.start(
        ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
        store, Map("t" -> rowSchema), Map("t" -> "id"),
        mirrorName = name, checkpointDir = ckpt, feedDir = Some(feed))
      q.processAllAvailable(); q.stop()
    }
    // B consumes ONE file then dies for good; A consumes all five
    publishBatch(feed, 0 until 100)
    run("mirror_b", s"$work/ckptB", storeB)
    (1 until 5).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    run("mirror_a", s"$work/ckptA", storeA)
    // the lag report reads like pg_replication_slots: B drags 4 files
    val lag0 = CdcPipeline.consumerLag(spark, feed)
      .map(c => c.name -> ((c.committedFiles, c.heldFiles))).toMap
    assert(lag0 == Map("mirror_a" -> ((5L, 0L)), "mirror_b" -> ((1L, 4L))),
      s"got $lag0")
    // A's rotation is gated by dead B: only B's one committed file goes
    val r1 = CdcPipeline.rotateCheckpoint(spark, feed,
      "mirror_a", s"$work/ckptA")
    assert(r1 == CdcPipeline.Rotation(1L, 4L), s"got $r1")
    run("mirror_a", s"$work/ckptA", storeA) // re-commit the survivors
    // monitoring sees the drag BEFORE anyone acts on it
    val pre = graft.analytics.Monitor
      .replicationInfra(spark, storeA, Some(feed), maxConsumerHeldBytes = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pre("consumer_lag") == "WARNING" && pre("feed_consumers") == "OK",
      s"got $pre")
    // the budget policy is TWO-STRIKE (a live mirror caught mid-burst
    // must not be executed on one snapshot): the first sweep only
    // records B's strike, the second invalidates — and ONLY the
    // laggard (A holds 0 bytes)
    val strike = CdcPipeline.invalidateConsumersOverBudget(spark, feed,
      maxHeldBytes = 0L)
    assert(strike.isEmpty, s"first observation must only strike: $strike")
    assert(CdcPipeline.registeredConsumers(spark, feed).keySet ==
      Set("mirror_a", "mirror_b"),
      "a struck consumer is still registered (still gates pruning)")
    val inv = CdcPipeline.invalidateConsumersOverBudget(spark, feed,
      maxHeldBytes = 0L)
    assert(inv.map(_.name) == Seq("mirror_b") && inv.head.heldFiles == 4L,
      s"got $inv")
    assert(CdcPipeline.registeredConsumers(spark, feed).keySet ==
      Set("mirror_a"))
    assert(CdcPipeline.invalidatedConsumers(spark, feed).keySet ==
      Set("mirror_b"))
    val post = graft.analytics.Monitor
      .replicationInfra(spark, storeA, Some(feed))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(post("feed_consumers")._1 == "WARNING" &&
      post("feed_consumers")._2.contains("INVALIDATED"), s"got $post")
    // with B no longer gating, A's next rotation drains the feed
    val r2 = CdcPipeline.rotateCheckpoint(spark, feed,
      "mirror_a", s"$work/ckptA")
    assert(r2 == CdcPipeline.Rotation(4L, 0L), s"got $r2")
    // the invalidated mirror CANNOT silently resume: start throws,
    // rotate skips with the recorded reason
    val boom = intercept[IllegalStateException] {
      run("mirror_b", s"$work/ckptB", storeB)
    }
    assert(boom.getMessage.contains("INVALIDATED") &&
      boom.getMessage.contains("over budget"))
    val rb = CdcPipeline.rotateCheckpoint(spark, feed,
      "mirror_b", s"$work/ckptB")
    assert(!rb.rotated && rb.skipped.exists(_.contains("invalidated")),
      s"got $rb")
    // recovery = fresh snapshot + fresh checkpoint + acknowledgment —
    // then the name is a first-class consumer again, exactly-once
    val storeB2 = new KeyedParquetStore(s"$work/storeB2", nBuckets = 4)
    CdcPipeline.snapshot(spark, storeB2,
      Map("t" -> storeA.read(spark, "t")), Map("t" -> "id"))
    CdcPipeline.acknowledgeInvalidation(spark, feed, "mirror_b")
    publishBatch(feed, 500 until 600)
    run("mirror_b", s"$work/ckptB2", storeB2)
    assert(store2Rows(storeB2) == ((600L, 600L)))
    assert(store2Rows(storeA) == ((500L, 500L)))
    assert(CdcPipeline.registeredConsumers(spark, feed).keySet ==
      Set("mirror_a", "mirror_b"))
  }

  test("budget-invalidation exemptions: a bootstrapping consumer (zero " +
    "committed batches ever) is never invalidated, and an under-budget " +
    "recovery clears a standing strike") {
    val work = tempDir("graft_rotate_grace")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    publishBatch(feed, 0 until 100)
    // a registered-but-never-run consumer: committed set reads empty
    CdcPipeline.registerConsumer(spark, feed, "mirror_new", s"$work/ckptNew")
    val sweeps = (1 to 3).map(_ =>
      CdcPipeline.invalidateConsumersOverBudget(spark, feed, maxHeldBytes = 0L))
    assert(sweeps.flatten.isEmpty,
      s"bootstrapping consumer must never be invalidated: $sweeps")
    assert(CdcPipeline.registeredConsumers(spark, feed)
      .contains("mirror_new"))

    // a consumer WITH history: first over-budget sweep only strikes;
    // catching up before the second sweep clears the strike
    val q = CdcPipeline.start(
      ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
      store, Map("t" -> rowSchema), Map("t" -> "id"),
      mirrorName = "mirror_live", checkpointDir = s"$work/ckptLive",
      feedDir = Some(feed))
    q.processAllAvailable(); q.stop()
    publishBatch(feed, 100 until 200) // now over budget (1 held file)
    val strike = CdcPipeline
      .invalidateConsumersOverBudget(spark, feed, maxHeldBytes = 0L)
    assert(strike.isEmpty, s"first observation only strikes: $strike")
    // the mirror catches up between sweeps — the strike must clear
    val q2 = CdcPipeline.start(
      ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1),
      store, Map("t" -> rowSchema), Map("t" -> "id"),
      mirrorName = "mirror_live", checkpointDir = s"$work/ckptLive",
      feedDir = Some(feed))
    q2.processAllAvailable(); q2.stop()
    val afterCatchUp = CdcPipeline
      .invalidateConsumersOverBudget(spark, feed, maxHeldBytes = 0L)
    assert(afterCatchUp.isEmpty)
    // a LATER over-budget reading starts a fresh two-strike cycle —
    // the cleared strike did not persist
    publishBatch(feed, 200 until 300)
    val fresh = CdcPipeline
      .invalidateConsumersOverBudget(spark, feed, maxHeldBytes = 0L)
    assert(fresh.isEmpty,
      "a recovered consumer must restart the two-strike cycle, " +
        s"not be executed on its old strike: $fresh")
    assert(CdcPipeline.registeredConsumers(spark, feed)
      .contains("mirror_live"))
  }

  test("special-character feed file names (encoded-form leaves) prune " +
    "end-to-end — both comparison sides share one canonical codec") {
    val work = tempDir("graft_rotate_enc")
    val feed = s"$work/feed"
    Files.createDirectories(java.nio.file.Paths.get(feed))
    // a hand-written decoder file with a space AND a literal percent
    // sequence in its name — Spark's source log records both encoded
    // (with%20space / pct%2520enc)
    Seq("with space.json" -> 1L, "pct%20enc.json" -> 2L).foreach {
      case (name, lsn) =>
        Files.write(java.nio.file.Paths.get(feed, name),
          s"""{"lsn":$lsn,"commitTs":"2024-01-01T00:00:00.000Z","op":"I","table":"t","key":$lsn,"after":"{\\"id\\":$lsn,\\"v\\":\\"x\\"}"}""".getBytes("UTF-8"))
    }
    publishBatch(feed, 10 until 20)
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    runMirror(feed, s"$work/ckpt", store)
    assert(store.read(spark, "t").count() == 12L)
    // ALL THREE committed files must prune, and really leave the feed —
    // a one-sided decode would leave the special-character files
    // unprunable forever
    val r = CdcPipeline.rotateCheckpoint(spark, feed,
      "rotation_mirror", s"$work/ckpt")
    assert(r == CdcPipeline.Rotation(3L, 0L), s"got $r")
    assert(ChangeFeed.dataFiles(spark, feed).isEmpty,
      s"pruned files left on the feed: ${ChangeFeed.dataFiles(spark, feed).keySet}")
  }

  test("degraded source log is VISIBLE (r13 ask #3): unknown version " +
    "header or unparsable entry skips with a reason; rotateIfOversized " +
    "surfaces budget-exceeded-but-skipped") {
    val work = tempDir("graft_rotate_degraded")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    (0 until 3).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, ckpt, store)
    // a format-drifted log file lands in sources/0 as the next batch
    // (e.g. a future Spark writes v2): rotation must SKIP and say why,
    // never silently no-op
    val drifted = java.nio.file.Paths.get(s"$ckpt/sources/0/3")
    Files.write(drifted, "v2\n{\"some\":\"future-format\"}".getBytes("UTF-8"))
    val r = CdcPipeline.rotateCheckpoint(spark, feed,
      "rotation_mirror", ckpt)
    assert(!r.rotated && r.skipped.exists(_.contains("version")), s"got $r")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt)) &&
      new java.io.File(feed).listFiles().count(_.getName.endsWith(".json")) == 3,
      "degraded rotation must leave feed and checkpoint untouched")
    // the policy wrapper makes the same state distinguishable from
    // healthy-under-budget: budget exceeded AND rotation skipped
    val policy = CdcPipeline.rotateIfOversized(spark, feed,
      "rotation_mirror", ckpt, maxCheckpointBytes = 1L)
    assert(policy.exists(p => !p.rotated && p.skipped.nonEmpty), s"got $policy")
    // unparsable-entry drift (right version, wrong shape) is equally loud
    Files.write(drifted, "v1\n{\"noPathField\":42}".getBytes("UTF-8"))
    val r2 = CdcPipeline.rotateCheckpoint(spark, feed,
      "rotation_mirror", ckpt)
    assert(!r2.rotated && r2.skipped.exists(_.contains("unparsable")), s"got $r2")
    // cured log (drift file removed): the same call rotates normally
    Files.delete(drifted)
    val r3 = CdcPipeline.rotateCheckpoint(spark, feed,
      "rotation_mirror", ckpt)
    assert(r3 == CdcPipeline.Rotation(3L, 0L), s"got $r3")
  }

  test("prune at the full committed watermark removes every applied file " +
    "and an idle rotated mirror applies nothing") {
    val work = tempDir("graft_rotate_spec2")
    val feed = s"$work/feed"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    (0 until 5).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, s"$work/ckpt1", store)
    val (pruned, kept) = ChangeFeed.prune(spark, feed, ChangeFeed.dataFiles(spark, feed).keySet)
    assert(pruned == 5L && kept == 0L)
    runMirror(feed, s"$work/ckpt2", store)
    assert(store.read(spark, "t").count() == 500L)
  }

  test("same leaf name in a partitioned feed: an unread p=2/x.json " +
    "survives the rotation that deletes the committed p=1/x.json, and the " +
    "restarted mirror applies it") {
    val work = tempDir("graft_rotate_leaf")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    // one decoder file per partition, keys offset from the LSNs
    def land(part: Int, lsns: Range, keyOffset: Long): Unit = {
      val dir = java.nio.file.Paths.get(feed, s"p=$part")
      Files.createDirectories(dir)
      Files.write(dir.resolve("x.json"), lsns.map { l =>
        val k = keyOffset + l
        s"""{"lsn":$l,"commitTs":"2024-01-01T00:00:00.000Z","op":"I","table":"t","key":$k,"after":"{\\"id\\":$k,\\"v\\":\\"v$l\\"}"}"""
      }.mkString("\n").getBytes("UTF-8"))
    }
    land(1, 1 to 10, 0L)
    runMirror(feed, ckpt, store)
    assert(store.read(spark, "t").count() == 10L)
    // a backfill lands under the same leaf name after the mirror
    // stopped: LSNs below the watermark, never read
    land(2, 5 to 8, 100L)
    val r = CdcPipeline.rotateCheckpoint(spark, feed, "rotation_mirror", ckpt)
    assert(r == CdcPipeline.Rotation(1L, 1L), s"got $r")
    assert(ChangeFeed.dataFiles(spark, feed).keySet == Set("p=2/x.json"))
    runMirror(feed, ckpt, store)
    val ids = store.read(spark, "t").select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 10L).toSet ++ (105L to 108L).toSet, s"got ${ids.toSeq.sorted}")
  }

  test("rotateCheckpoint over a committed 5-file feed runs 0 Spark jobs") {
    val work = tempDir("graft_rotate_jobs")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val store = new KeyedParquetStore(s"$work/store", nBuckets = 4)
    (0 until 5).foreach(b => publishBatch(feed, (b * 100) until ((b + 1) * 100)))
    runMirror(feed, ckpt, store)
    var r: CdcPipeline.Rotation = null
    val jobs = JobCount.of(spark, "rotate_checkpoint") {
      r = CdcPipeline.rotateCheckpoint(spark, feed, "rotation_mirror", ckpt)
    }
    assert(r == CdcPipeline.Rotation(5L, 0L), s"got $r")
    assert(jobs == 0, s"rotateCheckpoint ran $jobs Spark jobs")
  }
}
