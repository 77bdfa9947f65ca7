package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore}

/** Soft-delete mirror mode (the PeerDB-documented soft-delete option):
  * a DELETE marks the target row (`_deleted` flag + `_synced_lsn`
  * stamp) and keeps the image it died with, instead of removing it.
  * Pins: retain-on-delete, re-insert flips back, imageless tombstones,
  * store fallback for delete-only batches, idempotent replay, and the
  * live view (`NOT _deleted`) agreeing with hard-delete apply. */
class SoftDeleteSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", LongType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def img(id: Long, name: String, amount: Long): String =
    s"""{"id":$id,"name":"$name","amount":$amount}"""

  private def freshStore(): KeyedParquetStore =
    new KeyedParquetStore(
      tempDir("soft_store"), nBuckets = 4)

  private def stateOf(store: KeyedParquetStore)
      : Map[Long, (Option[String], Option[Long], Boolean, Long)] =
    store.read(spark, "t").collect().map { r =>
      r.getLong(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getLong(4)))
    }.toMap

  test("delete marks the row and keeps its image; re-insert flips back; replay converges") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> Seq((1L, "a", 100L), (2L, "b", 200L), (3L, "c", 300L))
        .toDF("id", "name", "amount")),
      Map("t" -> "id"))
    // snapshot rows land live, stamped with lsn 0
    assert(stateOf(store) == Map(
      1L -> ((Some("a"), Some(100L), false, 0L)),
      2L -> ((Some("b"), Some(200L), false, 0L)),
      3L -> ((Some("c"), Some(300L), false, 0L))))

    val batch = Seq(
      // update then delete in one batch: tombstone keeps the UPDATED
      // image (what it died with), not the snapshot's
      ChangeEvent(10, ts(10), "U", "t", 1, img(1, "a2", 110)),
      ChangeEvent(11, ts(11), "D", "t", 1, null),
      // delete-only for key 2: image must come from the STORE row
      ChangeEvent(12, ts(12), "D", "t", 2, null),
      // delete then re-insert: live again with the new image
      ChangeEvent(13, ts(13), "D", "t", 3, null),
      ChangeEvent(14, ts(14), "I", "t", 3, img(3, "c2", 330)),
      // tombstone for a key the target never saw: null image, flagged
      ChangeEvent(15, ts(15), "D", "t", 9, null)
    ).toDF()
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))

    val expected = Map(
      1L -> ((Some("a2"), Some(110L), true, 11L)),
      2L -> ((Some("b"), Some(200L), true, 12L)),
      3L -> ((Some("c2"), Some(330L), false, 14L)),
      9L -> ((None, None, true, 15L)))
    assert(stateOf(store) == expected)

    // the live view is exactly what hard-delete apply would keep
    val live = store.read(spark, "t")
      .filter(!col(CdcPipeline.SoftDeleteCol))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(live == Set(3L))

    // at-least-once replay reconverges (the delete-only fallback now
    // reads back the data the first apply retained)
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(stateOf(store) == expected)
  }

  test("PK-changing UPDATE leaves the old key as a flagged tombstone") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> Seq((5L, "e", 500L)).toDF("id", "name", "amount")),
      Map("t" -> "id"))
    val batch = Seq(
      ChangeEvent(20, ts(20), "U", "t", 105, img(105, "e2", 550), Some(5L))
    ).toDF()
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(stateOf(store) == Map(
      // the old key died carrying its stored image (delete-only slice
      // for key 5 → store fallback), stamped at the move's LSN
      5L -> ((Some("e"), Some(500L), true, 20L)),
      105L -> ((Some("e2"), Some(550L), false, 20L))))
  }

  test("streaming round-trip: start(softDelete = true) marks deletes through foreachBatch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = freshStore()
    val ckpt = tempDir("soft_ckpt")
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> Seq((1L, "a", 100L)).toDF("id", "name", "amount")),
      Map("t" -> "id"))
    val stream = MemoryStream[ChangeEvent](spark)
    stream.addData(
      ChangeEvent(1, ts(1), "U", "t", 1, img(1, "a2", 120)),
      ChangeEvent(2, ts(2), "D", "t", 1, null),
      ChangeEvent(3, ts(3), "I", "t", 2, img(2, "b", 200)))
    val q = CdcPipeline.start(stream.toDF(), store,
      Map("t" -> schema), Map("t" -> "id"),
      mirrorName = "soft_mirror", checkpointDir = ckpt, softDelete = true)
    try q.processAllAvailable() finally q.stop()
    assert(stateOf(store) == Map(
      1L -> ((Some("a2"), Some(120L), true, 2L)),
      2L -> ((Some("b"), Some(200L), false, 3L))))
  }

  test("lagReport counts only LIVE rows on a soft store: converged mirror reads SYNCED/100%") {
    import spark.implicits._
    val store = freshStore()
    val seedRows = (1L to 10L).map(i => (i, s"n$i", i * 10L))
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> seedRows.toDF("id", "name", "amount")), Map("t" -> "id"))
    // source deletes ids 1..6 (>5 — the count that used to flip the
    // status to "LAG" via negative lag) and updates id 7
    val batch = ((1L to 6L).map(i =>
      ChangeEvent(100 + i, ts(100 + i), "D", "t", i, null)) :+
      ChangeEvent(110, ts(110), "U", "t", 7, img(7, "n7b", 77))).toDF()
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    // the converged SOURCE state: ids 7..10, id 7 updated
    val source = (Seq((7L, "n7b", 77L)) ++
      (8L to 10L).map(i => (i, s"n$i", i * 10L))).toDF("id", "name", "amount")
    val rep = CdcPipeline.lagReport(spark, store, Map("t" -> source))
      .collect().head
    assert(rep.getAs[Long]("src_rows") == 4L)
    // the 6 retained tombstones must NOT count as target rows
    assert(rep.getAs[Long]("tgt_rows") == 4L,
      s"soft tombstones counted as live target rows: $rep")
    assert(rep.getAs[Long]("lag") == 0L)
    assert(rep.getAs[String]("sync_status") == "SYNCED")
    assert(rep.getAs[Double]("efficiency_pct") == 100.0)
    // the Monitor wrapper inherits the fix (and its rollup stays sane)
    val summary = graft.analytics.Monitor.syncSummary(
      graft.analytics.Monitor.lagReport(spark, store, Map("t" -> source)))
      .collect().head
    assert(summary.getAs[Long]("n_synced") == 1L)
    assert(summary.getAs[Double]("overall_efficiency_pct") == 100.0)
  }

  test("applyBatchSoft rejects a store that was not seeded via snapshotSoft") {
    import spark.implicits._
    val store = freshStore()
    // a PLAIN snapshot: no _deleted/_synced_lsn columns — merging
    // softly would leave pre-existing rows with NULL flags, silently
    // absent from the live view (NOT _deleted)
    store.snapshot(spark, "t",
      Seq((1L, "a", 100L)).toDF("id", "name", "amount"), "id")
    val batch = Seq(
      ChangeEvent(10, ts(10), "U", "t", 1, img(1, "a2", 110))).toDF()
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.applyBatchSoft(batch, store,
        Map("t" -> schema), Map("t" -> "id"))
    }
    assert(e.getMessage.contains("snapshotSoft"), e.getMessage)
    // nothing merged: schema NOT widened, row intact
    assert(!store.schemaOf(spark, "t").fieldNames
      .contains(CdcPipeline.SoftDeleteCol))
    assert(store.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 100L)))
  }

  test("sweepSoftDeleted: VACUUM of soft mode — old tombstones purge, young and live survive") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> (1L to 6L).map(i => (i, s"n$i", i * 10L))
        .toDF("id", "name", "amount")),
      Map("t" -> "id"))
    val batch = Seq(
      ChangeEvent(10, ts(10), "D", "t", 1, null),
      ChangeEvent(11, ts(11), "D", "t", 2, null),
      ChangeEvent(12, ts(12), "U", "t", 3, img(3, "n3b", 33)),
      ChangeEvent(20, ts(20), "D", "t", 4, null)).toDF()
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    def live() = store.read(spark, "t")
      .filter(!col(CdcPipeline.SoftDeleteCol))
      .select("id").collect().map(_.getLong(0)).toSet
    val liveBefore = live()
    assert(liveBefore == Set(3L, 5L, 6L))

    // watermark 15: tombstones 1/2 (lsn 10/11) expire; tombstone 4
    // (lsn 20) is too young; live row 3 (lsn 12 ≤ 15) is NOT a
    // tombstone and must survive
    val purged = CdcPipeline.sweepSoftDeleted(spark, store, "t", "id", 15L)
    assert(purged == 2L)
    assert(store.read(spark, "t").select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L, 5L, 6L))
    assert(live() == liveBefore, "sweep must not change the live view")
    // idempotent: nothing left at this watermark
    assert(CdcPipeline.sweepSoftDeleted(spark, store, "t", "id", 15L) == 0L)

    // at-least-once REPLAY of the pre-watermark batch resurrects the
    // swept tombstones (imageless — honest "deleted before first
    // sync" records), the live view STILL converges identically, and
    // the next sweep removes them again
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(live() == liveBefore)
    assert(CdcPipeline.sweepSoftDeleted(spark, store, "t", "id", 15L) == 2L)
    assert(store.read(spark, "t").select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L, 5L, 6L))

    // erasure-certificate interplay: the swept keys leave ZERO residue
    // on the store surface — an age sweep stands up to the same
    // auditable artifact a named-key erasure files
    val cert = graft.operators.Erasure.certificate(spark,
      Seq(1L, 2L).toDF("id"),
      store = Seq((store, "t", "id"))).collect().head
    assert(cert.getAs[Long]("residue") == 0L && cert.getAs[Boolean]("clean"),
      cert.toString)

    // monitor interplay: lagReport on the swept store still compares
    // the live view — sweeping tombstones must not move the needle
    val src = Seq((3L, "n3b", 33L), (5L, "n5", 50L), (6L, "n6", 60L))
      .toDF("id", "name", "amount")
    val rep = CdcPipeline.lagReport(spark, store, Map("t" -> src))
      .collect().head
    assert(rep.getAs[Long]("lag") == 0L &&
      rep.getAs[String]("sync_status") == "SYNCED", rep.toString)

    // misuse guard: a plain (hard-delete) store has no tombstones
    val plain = freshStore()
    plain.snapshot(spark, "t", Seq((1L, "a", 1L)).toDF("id", "name", "amount"), "id")
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.sweepSoftDeleted(spark, plain, "t", "id", 100L)
    }
    assert(e.getMessage.contains("not a soft-delete store"), e.getMessage)
  }

  test("sweepAndCompact: purge folded into the cadence rewrite, same semantics as sweep") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> (1L to 6L).map(i => (i, s"n$i", i * 10L))
        .toDF("id", "name", "amount")),
      Map("t" -> "id"))
    val batch = Seq(
      ChangeEvent(10, ts(10), "D", "t", 1, null),
      ChangeEvent(11, ts(11), "D", "t", 2, null),
      ChangeEvent(12, ts(12), "U", "t", 3, img(3, "n3b", 33)),
      ChangeEvent(20, ts(20), "D", "t", 4, null)).toDF()
    CdcPipeline.applyBatchSoft(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    def live() = store.read(spark, "t")
      .filter(!col(CdcPipeline.SoftDeleteCol))
      .select("id").collect().map(_.getLong(0)).toSet
    val liveBefore = live()

    // identical purge semantics to sweepSoftDeleted at the watermark:
    // old tombstones 1/2 go, young tombstone 4 and all live rows stay
    var purged = -1L
    val jobs = JobCount.of(spark, "sweep_and_compact") {
      purged = CdcPipeline.sweepAndCompact(spark, store, "t", 15L)
    }
    assert(purged == 2L)
    // measured: 3 jobs in each of 3 runs — one pin whose job folds the
    // purge count and the kept-bucket set, then the rewrite's shuffle
    // map stage and write. The previous shape ran 7 (an eager pin, the rewrite,
    // a distinct-collect of the kept buckets and a separate count)
    assert(jobs <= 3, s"sweepAndCompact ran $jobs jobs (expected 3)")
    assert(store.read(spark, "t").select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L, 5L, 6L))
    assert(live() == liveBefore, "cadence pass must not change the live view")
    // idempotent on re-run; the second pass is purge-free compaction
    assert(CdcPipeline.sweepAndCompact(spark, store, "t", 15L) == 0L)
    assert(live() == liveBefore)

    // a fully-purged bucket is CLEARED, not left stale (dynamic
    // overwrite would otherwise keep the old file): delete everything,
    // expire everything
    val wipe = (1L to 6L).filter(Set(3L, 4L, 5L, 6L))
      .zipWithIndex.map { case (k, i) =>
        ChangeEvent(30L + i, ts(30L + i), "D", "t", k, null) }.toDF()
    CdcPipeline.applyBatchSoft(wipe, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(CdcPipeline.sweepAndCompact(spark, store, "t", 100L) == 4L)
    assert(store.read(spark, "t").count() == 0L)

    // misuse guard mirrors the sweep's
    val plain = freshStore()
    plain.snapshot(spark, "t", Seq((1L, "a", 1L)).toDF("id", "name", "amount"), "id")
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.sweepAndCompact(spark, plain, "t", 100L)
    }
    assert(e.getMessage.contains("not a soft-delete store"), e.getMessage)
  }

  test("sweepAndCompact leaves no copy: a certificate right after it is clean") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> (1L to 6L).map(i => (i, s"n$i", i * 10L))
        .toDF("id", "name", "amount")),
      Map("t" -> "id"))
    CdcPipeline.applyBatchSoft(Seq(
      ChangeEvent(10, ts(10), "D", "t", 1, null),
      ChangeEvent(11, ts(11), "D", "t", 2, null)).toDF(),
      store, Map("t" -> schema), Map("t" -> "id"))
    assert(CdcPipeline.sweepAndCompact(spark, store, "t", 15L) == 2L)
    // like sweepSoftDeleted, a purging compaction deletes the files the
    // new version retired at once: no retired copy of keys 1/2 is left
    val cert = graft.operators.Erasure.certificate(spark,
      Seq(1L, 2L).toDF("id"),
      store = Seq((store, "t", "id"))).collect().head
    assert(cert.getAs[Long]("residue") == 0L && cert.getAs[Boolean]("clean"),
      cert.toString)
  }

  test("unchanged-TOAST markers reject loudly on the soft path (no silent upsert)") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshotSoft(spark, store,
      Map("t" -> Seq((1L, "a", 100L)).toDF("id", "name", "amount")),
      Map("t" -> "id"))
    val marked = Seq(
      ChangeEvent(30, ts(30), "U", "t", 1,
        s"""{"id":1,"name":"${CdcPipeline.UnchangedToast}","amount":110}""")
    ).toDF()
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.applyBatchSoft(marked, store,
        Map("t" -> schema), Map("t" -> "id"))
    }
    assert(e.getMessage.contains("unchanged-TOAST"))
    // nothing half-applied
    assert(stateOf(store) == Map(1L -> ((Some("a"), Some(100L), false, 0L))))
  }
}
