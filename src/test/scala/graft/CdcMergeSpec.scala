package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore}

/** The store's one-shuffle merge, as [[CdcPipeline.applyBatch]] and
  * [[CdcPipeline.applyBatchSoft]] drive it, against a control that
  * never calls it: [[CdcPipeline.asOf]] over the snapshot and every
  * event so far (its own window dedup, or TOAST resolution, and
  * anti-join), or for soft mode [[CdcPipeline.softImagePerKey]] over
  * every event. Batch by batch the two must hold the same rows. */
class CdcMergeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private val lSchema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("n", LongType)))
  // the same table after a source ADD COLUMN
  private val lWide = lSchema.add(StructField("w", StringType))
  private val sSchema = StructType(Seq(StructField("code", StringType),
    StructField("n", LongType)))
  private val keys = Map("lt" -> "id", "st" -> "code")

  private def lt(lsn: Long, op: String, k: Long, n: Long = 0L, w: Option[String] = None,
      before: Option[Long] = None): ChangeEvent =
    ChangeEvent(lsn, ts(lsn), op, "lt", k,
      if (op == "D") null
      else s"""{"id":$k,"name":"v$n","n":$n${w.fold("")(x => s""","w":"$x"""")}}""",
      before)

  private def st(lsn: Long, op: String, k: Long, n: Long = 0L,
      before: Option[Long] = None): ChangeEvent =
    ChangeEvent(lsn, ts(lsn), op, "st", k,
      if (op == "D") null else s"""{"code":"$k","n":$n}""", before)

  /** Several events per key in one batch, a delete of an absent key,
    * a key move, on both a long- and a string-keyed table. */
  private val batch1: Seq[ChangeEvent] =
    Seq(lt(100, "I", 100, 1), lt(101, "U", 100, 2), lt(102, "D", 100),
      lt(103, "D", 5), lt(104, "I", 5, 55)) ++
      (105L to 109L).map(l => lt(l, "U", 7, l)) ++
      Seq(lt(110, "D", 999), lt(111, "I", 200, 200),
        lt(112, "U", 300, 300, before = Some(8L))) ++
      Seq(st(120, "I", 100, 1), st(121, "U", 100, 2), st(122, "D", 100),
        st(123, "D", 5), st(124, "I", 5, 55)) ++
      (125L to 129L).map(l => st(l, "U", 7, l)) ++
      Seq(st(130, "D", 999), st(131, "U", 300, 300, before = Some(8L)))

  /** (key, bucket) of every row in `t`'s live files, from the manifest. */
  private def layout(store: KeyedParquetStore, t: String, keyCol: String): Seq[(Long, Int)] =
    store.liveFiles(spark, t).flatMap { case (b, file) =>
      spark.read.parquet(file).select(col(keyCol).cast("long")).collect().map(_.getLong(0) -> b)
    }

  private def sorted(df: DataFrame, keyCol: String): Seq[Row] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).orderBy(keyCol).collect().toSeq
  }

  test("applyBatch's merge equals asOf over the whole feed, batch by batch: " +
    "repeated keys, absent deletes, moves, string keys, an emptied bucket, " +
    "a widened schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdc_merge_eq").toString
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val lSnap = (1L to 40L).map(i => (i, s"s$i", i)).toDF("id", "name", "n")
    val sSnap = (1L to 40L).map(i => (i.toString, i)).toDF("code", "n")
    CdcPipeline.snapshot(spark, store, Map("lt" -> lSnap, "st" -> sSnap), keys)

    val fed = scala.collection.mutable.ArrayBuffer.empty[ChangeEvent]
    def applyAndCheck(batch: Seq[ChangeEvent], lNow: StructType): Unit = {
      val schemas = Map("lt" -> lNow, "st" -> sSchema)
      CdcPipeline.applyBatch(batch.toDF(), store, schemas, keys)
      fed ++= batch
      val all = fed.toSeq.toDF()
      val maxLsn = fed.map(_.lsn).max
      val lPadded = lNow.fieldNames.foldLeft(lSnap)((df, f) =>
        if (df.columns.contains(f)) df else df.withColumn(f, lit(null).cast(lNow(f).dataType)))
      val controls = Map(
        "lt" -> CdcPipeline.asOf(lPadded, all.filter(col("table") === "lt"), lNow, "id", maxLsn),
        "st" -> CdcPipeline.asOf(sSnap, all.filter(col("table") === "st"), sSchema, "code", maxLsn))
      controls.foreach { case (t, control) =>
        val got = sorted(store.read(spark, t), keys(t))
        val want = sorted(control, keys(t))
        assert(got == want, s"table $t after lsn $maxLsn: store=${got.take(8)} " +
          s"control=${want.take(8)}")
      }
    }

    applyAndCheck(batch1, lSchema)
    val lRows = store.read(spark, "lt").collect().map(r => r.getLong(0) -> r).toMap
    assert(!lRows.contains(100L) && !lRows.contains(999L) && !lRows.contains(8L))
    assert(lRows(5L).getLong(2) == 55L && lRows(7L).getLong(2) == 109L &&
      lRows(300L).getLong(2) == 300L)
    // a replayed batch reconverges to the same state
    CdcPipeline.applyBatch(batch1.toDF(), store, Map("lt" -> lSchema, "st" -> sSchema), keys)
    assert(sorted(store.read(spark, "lt"), "id") == sorted(
      spark.createDataFrame(spark.sparkContext.parallelize(lRows.values.toSeq), lSchema), "id"))

    // empty bucket b of lt: delete every key it holds, and update a key
    // of another bucket
    val lLayout = layout(store, "lt", "id")
    val b = lLayout.find(_._1 == 1L).get._2
    val doomed = lLayout.collect { case (k, `b`) => k }.sorted
    assert(doomed.size > 1)
    applyAndCheck(doomed.zipWithIndex.map { case (k, i) => lt(200L + i, "D", k) } :+
      lt(299, "U", lLayout.find(_._2 != b).get._1, 299), lSchema)
    assert(layout(store, "lt", "id").count(_._2 == b) == 0,
      s"bucket $b still holds rows")

    // an ADD COLUMN inside one batch: some events carry the new column,
    // one key twice, and a new key without it
    applyAndCheck(Seq(lt(300, "U", 2, 2, Some("a")), lt(301, "U", 3, 3, Some("b")),
      lt(302, "U", 3, 33, Some("c")), lt(303, "I", 600, 600), lt(304, "U", 4, 4)), lWide)
    assert(store.schemaOf(spark, "lt").map(f => f.name -> f.dataType) ==
      lWide.map(f => f.name -> f.dataType))
  }

  private val M = CdcPipeline.UnchangedToast
  private val tSchema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("bio", StringType)))

  private def tt(lsn: Long, op: String, k: Long, name: String = null, bio: String = null,
      before: Option[Long] = None): ChangeEvent = {
    def js(v: String) = if (v == null) "null" else s""""$v""""
    ChangeEvent(lsn, ts(lsn), op, "t", k,
      if (op == "D") null else s"""{"id":$k,"name":${js(name)},"bio":${js(bio)}}""", before)
  }

  /** Apply batch after batch, checking the store against `control`
    * over the snapshot and every event fed so far. */
  private def checker(store: KeyedParquetStore, apply: DataFrame => Unit,
      control: DataFrame => DataFrame): (Seq[ChangeEvent], Boolean) => Unit = {
    import spark.implicits._
    val fed = scala.collection.mutable.ArrayBuffer.empty[ChangeEvent]
    (batch, replay) => {
      apply(batch.toDF())
      if (!replay) fed ++= batch
      val got = sorted(store.read(spark, "t"), "id")
      val want = sorted(control(fed.toSeq.toDF()), "id")
      assert(got == want, s"after lsn ${fed.map(_.lsn).max}${if (replay) " (replay)" else ""}: " +
        s"store=$got control=$want")
    }
  }

  test("TOAST markers carried by the merge equal asOf(resolveToast = true), batch by " +
    "batch: in-batch chain, stored fallback, stored NULL, in-batch NULL, a marked " +
    "move and its replay, a move onto a key deleted in the batch, a marked batch " +
    "that empties a bucket") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdc_merge_toast").toString
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val snap = (1L to 40L).map(i => (i, s"n$i", if (i == 3L) null else s"bio$i"))
      .toDF("id", "name", "bio")
    CdcPipeline.snapshot(spark, store, Map("t" -> snap), Map("t" -> "id"))
    val check = checker(store,
      CdcPipeline.applyBatch(_, store, Map("t" -> tSchema), Map("t" -> "id")),
      all => CdcPipeline.asOf(snap, all, tSchema, "id", Long.MaxValue, resolveToast = true))

    val batchA = Seq(
      // in-batch chain: the last unmarked value of each column wins
      tt(100, "U", 1, "a1", "x"), tt(101, "U", 1, "a2", M), tt(102, "U", 1, M, M),
      // stored fallback, and a stored NULL inherited as NULL
      tt(103, "U", 2, "b2", M), tt(104, "U", 3, "c3", M),
      // an explicit NULL in the batch is a value
      tt(105, "U", 4, "d4", null), tt(106, "U", 4, "d5", M),
      // a fresh key inherits from its own insert
      tt(107, "I", 50, "e", "y"), tt(108, "U", 50, "e2", M),
      // a marked move inherits from the old key, an unmarked one not
      tt(109, "U", 105, "m5", M, before = Some(5L)),
      tt(110, "U", 106, "m6", "full", before = Some(6L)),
      // a marked update, then a delete
      tt(111, "U", 7, M, M), tt(112, "D", 7),
      // a marked move onto a key deleted earlier in the batch: the old
      // key's stored row outranks the new key's own
      tt(113, "D", 9), tt(114, "U", 9, "m9", M, before = Some(10L)))
    check(batchA, false)
    val rows = store.read(spark, "t").as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) == (("a2", "x")) && rows(2L) == (("b2", "bio2")) &&
      rows(3L) == (("c3", null)) && rows(4L) == (("d5", null)) &&
      rows(50L) == (("e2", "y")) && rows(105L) == (("m5", "bio5")) &&
      rows(106L) == (("m6", "full")) && rows(9L) == (("m9", "bio10")) &&
      !rows.contains(5L) && !rows.contains(7L) && !rows.contains(10L), rows)
    // the replay finds the moved value under the new key
    check(batchA, true)

    val tLayout = layout(store, "t", "id")
    val b = tLayout.find(_._1 == 9L).get._2
    val doomed = tLayout.collect { case (k, `b`) => k }.sorted
    val marked = tLayout.collect { case (k, o) if o != b && k > 10L && k <= 40L => k }.take(3)
    assert(doomed.size > 1 && marked.nonEmpty)
    check(doomed.zipWithIndex.map { case (k, i) => tt(200L + i, "D", k) } ++
      marked.zipWithIndex.map { case (k, i) => tt(300L + i, "U", k, s"u$k", M) }, false)
    assert(layout(store, "t", "id").count(_._2 == b) == 0,
      s"bucket $b still holds rows")
  }

  test("a marked key move inherits the old key's in-batch update, not its stored row") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      Files.createTempDirectory("cdc_merge_move_update").toString, nBuckets = 4)
    val snap = Seq((5L, "n5", "old-bio"), (6L, "n6", "bio6")).toDF("id", "name", "bio")
    CdcPipeline.snapshot(spark, store, Map("t" -> snap), Map("t" -> "id"))
    val batch = Seq(tt(10, "U", 5, "n5b", "new-bio"), tt(11, "U", 105, "m", M, before = Some(5L)))
    val want = Seq(Row(6L, "n6", "bio6"), Row(105L, "m", "new-bio"))
    def rows(df: DataFrame) = df.select("id", "name", "bio").orderBy("id").collect().toSeq
    CdcPipeline.applyBatch(batch.toDF(), store, Map("t" -> tSchema), Map("t" -> "id"))
    assert(rows(store.read(spark, "t")) == want)
    assert(rows(CdcPipeline.asOf(snap, batch.toDF(), tSchema, "id", Long.MaxValue,
      resolveToast = true)) == want)
    // a replay finds the moved value under the new key
    CdcPipeline.applyBatch(batch.toDF(), store, Map("t" -> tSchema), Map("t" -> "id"))
    assert(rows(store.read(spark, "t")) == want)
  }

  test("soft-delete merge equals a softImagePerKey control, batch by batch: a " +
    "delete-only key keeps its stored image, re-inserts, a move's tombstone, a " +
    "never-seen key, a replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdc_merge_soft").toString
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("amount", LongType)))
    val snap = (1L to 20L).map(i => (i, s"n$i", i * 10)).toDF("id", "name", "amount")
    CdcPipeline.snapshotSoft(spark, store, Map("t" -> snap), Map("t" -> "id"))
    def ev(lsn: Long, op: String, k: Long, amount: Long = 0L, before: Option[Long] = None) =
      ChangeEvent(lsn, ts(lsn), op, "t", k,
        if (op == "D") null else s"""{"id":$k,"name":"v$lsn","amount":$amount}""", before)
    // the control: softImagePerKey over every event; a key with no
    // image in the feed takes its data from the snapshot (or nulls)
    def control(all: DataFrame): DataFrame = {
      val img = CdcPipeline.softImagePerKey(all, schema, "id")
      val imaged = CdcPipeline.normalizeKeyChanges(all).filter(col("op") =!= "D")
        .select(col("key").as("id"))
      val meta = Seq(CdcPipeline.SoftDeleteCol, CdcPipeline.SyncedLsnCol)
      snap.withColumn(meta(0), lit(false)).withColumn(meta(1), lit(0L))
        .join(img.select("id"), Seq("id"), "left_anti")
        .unionByName(img.join(imaged, Seq("id"), "left_semi"))
        .unionByName(img.join(imaged, Seq("id"), "left_anti").select("id", meta: _*)
          .join(snap, Seq("id"), "left"))
    }
    val check = checker(store,
      CdcPipeline.applyBatchSoft(_, store, Map("t" -> schema), Map("t" -> "id")), control)

    val batchA = Seq(ev(100, "D", 2), ev(101, "D", 3), ev(102, "I", 3, 33),
      ev(103, "U", 105, 55, before = Some(5L)), ev(104, "D", 99),
      ev(105, "U", 1, 11), ev(106, "D", 1), ev(107, "U", 4, 44))
    check(batchA, false)
    check(batchA, true)
    val rows = store.read(spark, "t").collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(2L).getString(1) == "n2" && rows(2L).getBoolean(3) &&
      rows(5L).getLong(2) == 50L && rows(5L).getBoolean(3) && rows(5L).getLong(4) == 103L &&
      rows(99L).isNullAt(1) && rows(99L).getBoolean(3) &&
      !rows(3L).getBoolean(3) && rows(1L).getLong(2) == 11L && rows(1L).getBoolean(3), rows)
    // a later batch: re-insert a tombstone, delete the moved key and a
    // key whose image the previous batch wrote
    check(Seq(ev(200, "I", 2, 22), ev(201, "D", 105), ev(202, "D", 4)), false)
  }

  test("plan shape: the merge writes through one shuffle, no pin") {
    import spark.implicits._
    // the second input carries TOAST markers on a string column, resolved
    // from the stored rows: the carry rides the same window. The third
    // adds marked key moves, whose old keys' rows join under the new
    // keys from the merge's one scan of the stored files
    Seq((false, false), (true, false), (true, true)).foreach { case (toast, moves) =>
      val root = Files.createTempDirectory("cdc_merge_plan").toString
      val store = new KeyedParquetStore(root, nBuckets = 8)
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)) ++
        (if (toast) Seq(StructField("bio", StringType)) else Nil))
      def batch(lsn0: Long) = ((0 until 200).map { i =>
        val bio = if (lsn0 > 1000L && i % 3 == 0) M else s"b$i"
        ChangeEvent(lsn0 + i, ts(i), if (i % 9 == 4) "D" else "U", "t", i % 50,
          s"""{"id":${i % 50},"v":${lsn0 + i}${if (toast) s""","bio":"$bio"""" else ""}}""")
      } ++ (if (moves && lsn0 > 1000L) (0 until 3).map { j =>
        ChangeEvent(lsn0 + 300 + j, ts(j), "U", "t", 100 + j,
          s"""{"id":${100 + j},"v":$j,"bio":"$M"}""", Some(j.toLong))
      } else Nil)).toDF()
      CdcPipeline.applyBatch(batch(1000L), store, Map("t" -> schema), Map("t" -> "id"))

      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add((f, qe))
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        CdcPipeline.applyBatch(batch(2000L), store, Map("t" -> schema), Map("t" -> "id"))
        def mine = seen.toArray.toSeq.map(_.asInstanceOf[(String, QueryExecution)])
          .filter(_._2.executedPlan.toString.contains(root))
        var spins = 0
        while (!mine.exists(_._1 == "command") && spins < 100) { Thread.sleep(100); spins += 1 }
        def shuffles(qe: QueryExecution) =
          collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
        def windows(qe: QueryExecution) = collect(qe.executedPlan) { case w: WindowExec => w }
        val pins = mine.filter { case (f, qe) => f == "localCheckpoint" && windows(qe).nonEmpty }
        assert(pins.isEmpty, s"expected no merge pin, saw ${mine.map(_._1)}")
        val writes = mine.filter(_._1 == "command")
        assert(writes.size == 1, s"expected one store write, saw ${mine.map(_._1)}")
        assert(shuffles(writes.head._2) == 1 && windows(writes.head._2).nonEmpty,
          writes.head._2.executedPlan.toString)
        val scans = collect(writes.head._2.executedPlan) { case f: FileSourceScanExec => f }
        assert(scans.size == 1, s"the stored files are scanned ${scans.size} times: " +
          writes.head._2.executedPlan.toString)
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
