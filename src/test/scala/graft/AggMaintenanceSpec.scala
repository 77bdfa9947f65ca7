package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AggMaintenance, ChangeEvent, KeyedParquetStore}

/** The incrementally-maintained aggregate view must equal a full
  * recompute over the converged base state after any I/U/D mix —
  * including group-moving updates, deletes, and a replayed micro-batch
  * (at-least-once delivery). */
class AggMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val ordersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("status", StringType),
    StructField("amount", DoubleType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def row(id: Long, status: String, amount: Double): String =
    s"""{"id":$id,"status":"$status","amount":$amount}"""

  private def recompute(store: KeyedParquetStore): Seq[(String, Long, Long)] =
    store.read(spark, "orders")
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(amount * 100) AS BIGINT)")).as("sum_cents"))
      .orderBy("status")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  private def view(mv: AggMaintenance): Seq[(String, Long, Long)] =
    mv.readMv(spark).orderBy("status")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("view tracks recompute through inserts, group-moving updates, deletes") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("mv_store").toString, nBuckets = 4)
    val mvRoot = Files.createTempDirectory("mv_view").toString
    val ckpt = Files.createTempDirectory("mv_ckpt").toString
    val mv = new AggMaintenance(store, mvRoot, "orders", ordersSchema,
      "id", "status", "amount")

    val stream = MemoryStream[ChangeEvent](spark)
    val q = mv.start(stream.toDF(), "mv_mirror", ckpt)

    // batch 1: plain inserts across two groups
    stream.addData(
      ChangeEvent(1, ts(1), "I", "orders", 1, row(1, "open", 10.25)),
      ChangeEvent(2, ts(2), "I", "orders", 2, row(2, "open", 5.50)),
      ChangeEvent(3, ts(3), "I", "orders", 3, row(3, "paid", 99.99)))
    q.processAllAvailable()
    assert(view(mv) == Seq(("open", 2L, 1575L), ("paid", 1L, 9999L)))
    assert(view(mv) == recompute(store))

    // batch 2: update that MOVES a key between groups (retract from
    // 'open', assert into 'paid'), a delete, an insert, and an
    // intra-batch I→U pair that must collapse to its last image
    stream.addData(
      ChangeEvent(4, ts(4), "U", "orders", 1, row(1, "paid", 10.25)),
      ChangeEvent(5, ts(5), "D", "orders", 3, null),
      ChangeEvent(6, ts(6), "I", "orders", 4, row(4, "open", 7.00)),
      ChangeEvent(7, ts(7), "I", "orders", 5, row(5, "open", 1.00)),
      ChangeEvent(8, ts(8), "U", "orders", 5, row(5, "open", 2.00)))
    q.processAllAvailable()
    q.stop()
    assert(view(mv) == recompute(store))
    assert(view(mv) == Seq(("open", 3L, 1450L), ("paid", 1L, 1025L)))

    // a group emptied by deletes must drop out of the view entirely
    val delAll = Seq(
      ChangeEvent(9, ts(9), "D", "orders", 1, null)).toDF()
    mv.applyBatch(delAll, batchId = 100L)
    assert(view(mv) == Seq(("open", 3L, 1450L)))
    assert(view(mv) == recompute(store))
  }

  test("a replayed batch id folds into the view at most once") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("mv_store2").toString, nBuckets = 4)
    val mv = new AggMaintenance(store,
      Files.createTempDirectory("mv_view2").toString, "orders", ordersSchema,
      "id", "status", "amount")

    val b0 = Seq(
      ChangeEvent(1, ts(1), "I", "orders", 1, row(1, "open", 3.00)),
      ChangeEvent(2, ts(2), "I", "orders", 2, row(2, "open", 4.00))).toDF()
    mv.applyBatch(b0, batchId = 0L)
    val once = view(mv)
    assert(once == Seq(("open", 2L, 700L)))

    // at-least-once redelivery: same batch id arrives again (e.g.
    // crash between view commit and checkpoint advance)
    mv.applyBatch(b0, batchId = 0L)
    assert(view(mv) == once, "replay must not double-count")
    assert(view(mv) == recompute(store))
    assert(mv.lastBatchId(spark) == 0L)

    // the next real batch still applies on top
    val b1 = Seq(
      ChangeEvent(3, ts(3), "U", "orders", 2, row(2, "paid", 4.00))).toDF()
    mv.applyBatch(b1, batchId = 1L)
    assert(view(mv) == Seq(("open", 1L, 300L), ("paid", 1L, 400L)))
    assert(view(mv) == recompute(store))
  }

  test("a one-key batch's retract reads only that key's bucket files") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("mv_store3").toString, nBuckets = 4)
    val mv = new AggMaintenance(store,
      Files.createTempDirectory("mv_view3").toString, "orders", ordersSchema,
      "id", "status", "amount")
    mv.applyBatch((1L to 40L).map(i =>
      ChangeEvent(i, ts(i), "I", "orders", i, row(i, "open", 1.25))).toDF(), 0L)
    val bucket = spark.range(1).select(pmod(hash(lit(7L)), lit(4))).head().getInt(0)
    // park every file of the other buckets: a scan that opens one fails
    val parked = store.liveFiles(spark, "orders").collect { case (b, f) if b != bucket =>
      val p = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath)
      p -> Files.move(p, p.resolveSibling(s"${p.getFileName}.parked"))
    }
    assert(parked.nonEmpty)
    mv.applyBatch(Seq(ChangeEvent(50, ts(50), "U", "orders", 7, row(7, "paid", 2.5))).toDF(), 1L)
    parked.foreach { case (p, aside) => Files.move(aside, p) }
    assert(view(mv) == Seq(("open", 39L, 4875L), ("paid", 1L, 250L)))
    assert(view(mv) == recompute(store))
  }
}
