package graft

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
  * [[CdcPipeline.applyBatchSoft]] drive it, against [[ApplyModel]], the
  * sequential replay of the snapshot and every event so far. Batch by
  * batch the two must hold the same rows. */
class CdcMergeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with TempDirs {
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
      before: Option[Long] = None): (String, ApplyModel.Event) =
    "lt" -> ApplyModel.Event(lsn, op, k, Option.when(op != "D")(
      Map[String, Any]("id" -> k, "name" -> s"v$n", "n" -> n) ++ w.map("w" -> _)), before)

  private def st(lsn: Long, op: String, k: Long, n: Long = 0L,
      before: Option[Long] = None): (String, ApplyModel.Event) =
    "st" -> ApplyModel.Event(lsn, op, k, Option.when(op != "D")(
      Map[String, Any]("code" -> k.toString, "n" -> n)), before)

  private def envelopes(batch: Seq[(String, ApplyModel.Event)]): DataFrame = {
    import spark.implicits._
    batch.map { case (t, e) => e.envelope(t) }.toDF()
  }

  /** Several events per key in one batch, a delete of an absent key,
    * a key move, on both a long- and a string-keyed table. */
  private val batch1: Seq[(String, ApplyModel.Event)] =
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
    val store = new KeyedParquetStore(tempDir("cdc_merge_eq"), nBuckets = 4)
    val lSnap = (1L to 40L).map(i => (i, s"s$i", i)).toDF("id", "name", "n")
    val sSnap = (1L to 40L).map(i => (i.toString, i)).toDF("code", "n")
    CdcPipeline.snapshot(spark, store, Map("lt" -> lSnap, "st" -> sSnap), keys)

    // the store and asOf must both hold the model's rows
    var model = Map(
      "lt" -> (1L to 40L).map(i => i -> Map[String, Any]("id" -> i, "name" -> s"s$i", "n" -> i)).toMap,
      "st" -> (1L to 40L).map(i => i -> Map[String, Any]("code" -> i.toString, "n" -> i)).toMap)
    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, ApplyModel.Event)]
    def applyAndCheck(batch: Seq[(String, ApplyModel.Event)], lNow: StructType): Unit = {
      val schemas = Map("lt" -> lNow, "st" -> sSchema)
      CdcPipeline.applyBatch(envelopes(batch), store, schemas, keys)
      fed ++= batch
      model = model.map { case (t, rows) =>
        t -> ApplyModel.replay(rows, batch.collect { case (`t`, e) => e }, ApplyModel.applyHard(keys(t)))
      }
      val all = envelopes(fed.toSeq)
      val maxLsn = fed.map(_._2.lsn).max
      val lPadded = lNow.fieldNames.foldLeft(lSnap)((df, f) =>
        if (df.columns.contains(f)) df else df.withColumn(f, lit(null).cast(lNow(f).dataType)))
      val asOfs = Map(
        "lt" -> CdcPipeline.asOf(lPadded, all.filter(col("table") === "lt"), lNow, "id", maxLsn),
        "st" -> CdcPipeline.asOf(sSnap, all.filter(col("table") === "st"), sSchema, "code", maxLsn))
      asOfs.foreach { case (t, asOf) =>
        val want = ApplyModel.values(model(t), schemas(t))
        val got = ApplyModel.values(store.read(spark, t), schemas(t), keys(t))
        assert(got == want, s"table $t after lsn $maxLsn: store=${got.toSeq.take(8)} " +
          s"model=${want.toSeq.take(8)}")
        assert(ApplyModel.values(asOf, schemas(t), keys(t)) == want,
          s"asOf of table $t at lsn $maxLsn")
      }
    }

    applyAndCheck(batch1, lSchema)
    val lRows = store.read(spark, "lt").collect().map(r => r.getLong(0) -> r).toMap
    assert(!lRows.contains(100L) && !lRows.contains(999L) && !lRows.contains(8L))
    assert(lRows(5L).getLong(2) == 55L && lRows(7L).getLong(2) == 109L &&
      lRows(300L).getLong(2) == 300L)
    // a replayed batch reconverges to the same state
    CdcPipeline.applyBatch(envelopes(batch1), store, Map("lt" -> lSchema, "st" -> sSchema), keys)
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
      before: Option[Long] = None): ApplyModel.Event =
    ApplyModel.Event(lsn, op, k,
      Option.when(op != "D")(Map[String, Any]("id" -> k, "name" -> name, "bio" -> bio)), before)

  /** Apply batch after batch, checking the store's `cols` against the
    * model's `step` from `initial` over every event fed so far. */
  private def checker(store: KeyedParquetStore, apply: DataFrame => Unit,
      initial: Map[Long, ApplyModel.Row], step: (Map[Long, ApplyModel.Row], ApplyModel.Event) =>
        Map[Long, ApplyModel.Row], cols: StructType): (Seq[ApplyModel.Event], Boolean) => Unit = {
    import spark.implicits._
    var state = initial
    (batch, replay) => {
      apply(batch.map(_.envelope("t")).toDF())
      if (!replay) state = ApplyModel.replay(state, batch, step)
      val got = ApplyModel.values(store.read(spark, "t"), cols, "id")
      val want = ApplyModel.values(state, cols)
      assert(got == want, s"after lsn ${batch.map(_.lsn).max}${if (replay) " (replay)" else ""}: " +
        s"store=$got model=$want")
    }
  }

  test("TOAST markers carried by the merge equal the sequential model, batch by " +
    "batch: in-batch chain, stored fallback, stored NULL, in-batch NULL, a marked " +
    "move and its replay, a move onto a key deleted in the batch, a marked batch " +
    "that empties a bucket") {
    import spark.implicits._
    val root = tempDir("cdc_merge_toast")
    val store = new KeyedParquetStore(root, nBuckets = 4)
    val snap = (1L to 40L).map(i => (i, s"n$i", if (i == 3L) null else s"bio$i"))
      .toDF("id", "name", "bio")
    CdcPipeline.snapshot(spark, store, Map("t" -> snap), Map("t" -> "id"))
    val check = checker(store,
      CdcPipeline.applyBatch(_, store, Map("t" -> tSchema), Map("t" -> "id")),
      (1L to 40L).map(i => i -> Map[String, Any]("id" -> i, "name" -> s"n$i",
        "bio" -> (if (i == 3L) null else s"bio$i"))).toMap, ApplyModel.applyHard("id"), tSchema)

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
      // a marked move onto a key deleted earlier in the batch: the new
      // key's own stored row is an earlier life, the old key's is carried
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
      tempDir("cdc_merge_move_update"), nBuckets = 4)
    val snap = Seq((5L, "n5", "old-bio"), (6L, "n6", "bio6")).toDF("id", "name", "bio")
    CdcPipeline.snapshot(spark, store, Map("t" -> snap), Map("t" -> "id"))
    val batch = Seq(tt(10, "U", 5, "n5b", "new-bio"), tt(11, "U", 105, "m", M, before = Some(5L)))
      .map(_.envelope("t"))
    val want = Seq(Row(6L, "n6", "bio6"), Row(105L, "m", "new-bio"))
    def rows(df: DataFrame) = df.select("id", "name", "bio").orderBy("id").collect().toSeq
    CdcPipeline.applyBatch(batch.toDF(), store, Map("t" -> tSchema), Map("t" -> "id"))
    assert(rows(store.read(spark, "t")) == want)
    assert(rows(CdcPipeline.asOf(snap, batch.toDF(), tSchema, "id", Long.MaxValue)) == want)
    // a replay finds the moved value under the new key
    CdcPipeline.applyBatch(batch.toDF(), store, Map("t" -> tSchema), Map("t" -> "id"))
    assert(rows(store.read(spark, "t")) == want)
  }

  test("soft-delete merge equals the sequential model, batch by batch: a " +
    "delete-only key keeps its stored image, re-inserts, a move's tombstone, a " +
    "never-seen key, a replay") {
    import spark.implicits._
    val store = new KeyedParquetStore(tempDir("cdc_merge_soft"), nBuckets = 4)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("amount", LongType)))
    val snap = (1L to 20L).map(i => (i, s"n$i", i * 10)).toDF("id", "name", "amount")
    CdcPipeline.snapshotSoft(spark, store, Map("t" -> snap), Map("t" -> "id"))
    def ev(lsn: Long, op: String, k: Long, amount: Long = 0L, before: Option[Long] = None) =
      ApplyModel.Event(lsn, op, k, Option.when(op != "D")(
        Map[String, Any]("id" -> k, "name" -> s"v$lsn", "amount" -> amount)), before)
    val check = checker(store,
      CdcPipeline.applyBatchSoft(_, store, Map("t" -> schema), Map("t" -> "id")),
      (1L to 20L).map(i => i -> Map[String, Any]("id" -> i, "name" -> s"n$i", "amount" -> i * 10,
        CdcPipeline.SoftDeleteCol -> false, CdcPipeline.SyncedLsnCol -> 0L)).toMap,
      ApplyModel.applySoft("id"), schema.add(CdcPipeline.SoftDeleteCol, BooleanType)
        .add(CdcPipeline.SyncedLsnCol, LongType))

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
      val root = tempDir("cdc_merge_plan")
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
