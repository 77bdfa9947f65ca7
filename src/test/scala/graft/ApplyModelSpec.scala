package graft

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row => SqlRow}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.{CdcPipeline, JdbcMirror, KeyedParquetStore}

/** The engine's apply paths against [[ApplyModel]], the sequential
  * replay, over seeded change streams that keep decoder discipline:
  * upserts, hard and soft deletes, deletes of keys never seen, re-inserts,
  * key moves and unchanged-TOAST markers, cut into random batches. Each
  * path must hold the model's state after every batch and after a replay
  * of it. */
class ApplyModelSpec extends AnyFunSuite with TempDirs {
  import ApplyModel._

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("bio", StringType), StructField("n", LongType)))
  private val softSchema = schema.add(CdcPipeline.SoftDeleteCol, BooleanType)
    .add(CdcPipeline.SyncedLsnCol, LongType)
  private val initial: Map[Long, ApplyModel.Row] = (1L to 30L).map { k =>
    k -> Map[String, Any]("id" -> k, "name" -> s"s$k", "bio" -> (if (k % 7 == 0) null else s"bio$k"),
      "n" -> k)
  }.toMap
  private val softInitial = initial.map { case (k, r) =>
    k -> (r ++ Map(CdcPipeline.SoftDeleteCol -> false, CdcPipeline.SyncedLsnCol -> 0L))
  }
  // seed 2 alone reaches every case the coverage test names; seeds 1-8
  // all pass, at about 25 s a seed
  private val seeds = Seq(2L)

  private def snapshot: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(initial.values.toSeq.sortBy(_("id").asInstanceOf[Long])
      .map(r => SqlRow.fromSeq(schema.fieldNames.toSeq.map(r.getOrElse(_, null)))): _*), schema)

  private def stream(seed: Long, markers: Boolean): Seq[Seq[Event]] =
    batches(seed, Gen(schema, "id", initial.keySet, markers, moves = true).events(seed, 120), 24)

  private def frame(batch: Seq[Event]): DataFrame = {
    import spark.implicits._
    batch.map(_.envelope("t")).toDF()
  }

  /** Apply each batch, then replay it, checking `read` against the model
    * after both: [[ApplyModel.replay]] after the first apply, and in
    * hard mode [[ApplyModel.replayed]] after the replay, which the next
    * batch starts from. */
  private def drive(seed: Long, batches: Seq[Seq[Event]], init: Map[Long, ApplyModel.Row],
      hard: Boolean, cols: StructType, apply: Seq[Event] => Unit, read: () => DataFrame): Unit =
    batches.zipWithIndex.foldLeft(init) { case (state, (batch, i)) =>
      val next = replay(state, batch, if (hard) applyHard("id") else applySoft("id"))
      val again = if (hard) replayed(state, batch, "id") else next
      Seq(next -> "", again -> " (replay)").foreach { case (model, pass) =>
        apply(batch)
        val got = values(read(), cols, "id")
        val want = values(model, cols)
        assert(got == want, s"seed $seed, batch $i$pass (lsn ${batch.head.lsn}-${batch.last.lsn}): " +
          s"${(got.keySet ++ want.keySet).toSeq.sortBy(_.toLong).filter(k => got.get(k) != want.get(k))
            .map(k => s"$k engine=${got.get(k)} model=${want.get(k)}").mkString("; ")}")
      }
      again
    }

  test("the seeded streams reach every case the rule resolves") {
    def marked(e: Event) = e.image.exists(_.values.exists(_ == Marker))
    def markedMove(e: Event) = marked(e) && e.isMove
    // whether key `k` dies in batch `b` (a delete or a move away) between
    // LSNs `after` and `before`
    def dies(b: Seq[Event], k: Long, after: Long, before: Long) = b.exists(d => d.lsn > after &&
      d.lsn < before && (d.op == "D" && d.key == k || d.isMove && d.beforeKey.get == k))
    // each case counted within one stream, so that streams sharing LSNs
    // and fresh keys do not hide one another's cases
    def cases(batches: Seq[Seq[Event]]): Map[String, Int] = {
      val all = batches.flatten
      def inBatch(p: (Seq[Event], Event) => Boolean) = batches.map(b => b.count(p(b, _))).sum
      Map(
        "marked update" -> all.count(e => marked(e) && !e.isMove),
        "marked move" -> all.count(markedMove),
        // a marked move out of a key a marked move made in the same batch
        "chained marked moves" -> inBatch((b, m) => markedMove(m) &&
          b.exists(p => markedMove(p) && p.key == m.beforeKey.get && p.lsn < m.lsn)),
        // a marked move onto a key the same batch deleted or moved away
        "marked move onto a reused key" -> inBatch((b, m) => markedMove(m) &&
          dies(b, m.key, Long.MinValue, m.lsn)),
        // the same, the key holding an unmarked image of the batch before
        "marked move onto a key with an earlier image" -> inBatch((b, m) => markedMove(m) &&
          b.exists(u => u.key == m.key && u.op != "D" && !marked(u) &&
            dies(b, m.key, u.lsn, m.lsn))),
        // a marked move out of a key that a marked move reused in the batch
        "chain through a reused key" -> inBatch((b, m) => markedMove(m) && b.exists(p =>
          markedMove(p) && p.key == m.beforeKey.get && p.lsn < m.lsn &&
            dies(b, p.key, Long.MinValue, p.lsn))),
        // a marked move whose old key is inserted again in the same batch
        "re-inserted old key" -> inBatch((b, m) => markedMove(m) &&
          b.exists(i => i.op == "I" && i.key == m.beforeKey.get && i.lsn > m.lsn)),
        "delete of a key never seen" -> all.count(e => e.op == "D" && e.key > 1000L &&
          !all.exists(o => o.key == e.key && o.lsn < e.lsn)),
        "re-insert of a deleted key" -> all.count(e => e.op == "I" &&
          all.exists(o => o.key == e.key && o.lsn < e.lsn)),
        // a replay no target can tell from a first apply (ApplyModel.replayed)
        "replay that re-reads a re-created root" -> batches.foldLeft((initial, 0)) {
          case ((state, n), b) =>
            val again = replayed(state, b, "id")
            (again, n + (if (again != replay(state, b, applyHard("id"))) 1 else 0))
        }._2)
    }
    val reached = seeds.map(s => cases(stream(s, markers = true)))
      .reduce((a, b) => a.map { case (k, n) => k -> (n + b(k)) })
    assert(reached.values.forall(_ > 0), reached)
  }

  test("a chain of marked moves through a reused key inherits from the key's latest life") {
    // b (3) is deleted, takes a's (1) row, is updated, moves that row on
    // to x (40), takes d's (2) row and moves it on to c (41): c's marked
    // columns are d's, not a's or b's, though both are newer than d's
    // stored row. e (5) is updated, deleted and takes f's (4) row: its
    // own earlier image is not carried
    def moved(lsn: Long, from: Long, to: Long) = Event(lsn, "U", to,
      Some(Map("id" -> to, "name" -> Marker, "bio" -> Marker, "n" -> lsn)), Some(from))
    def full(lsn: Long, k: Long) =
      Event(lsn, "U", k, Some(Map("id" -> k, "name" -> s"v$lsn", "bio" -> s"v$lsn", "n" -> lsn)))
    val batch = Seq(full(5L, 1L), full(6L, 5L), Event(7L, "D", 5L), Event(8L, "D", 3L),
      moved(10L, 1L, 3L), full(11L, 3L), moved(12L, 3L, 40L), moved(14L, 2L, 3L),
      moved(15L, 4L, 5L), moved(20L, 3L, 41L))
    val want = replay(initial, batch, applyHard("id"))
    assert(want(41L)("name") == "s2" && want(40L)("name") == "v11" && want(5L)("name") == "s4")
    val store = new KeyedParquetStore(tempDir("model_reused"), nBuckets = 4)
    CdcPipeline.snapshot(spark, store, Map("t" -> snapshot), Map("t" -> "id"))
    drive(0L, Seq(batch), initial, hard = true, schema,
      b => CdcPipeline.applyBatch(frame(b), store, Map("t" -> schema), Map("t" -> "id")),
      () => store.read(spark, "t"))
    assert(values(CdcPipeline.asOf(snapshot, frame(batch), schema, "id", 20L), schema, "id") ==
      values(want, schema))
  }

  test("applyBatch holds the model's state after every batch and every replay") {
    seeds.foreach { seed =>
      val store = new KeyedParquetStore(tempDir("model_hard"), nBuckets = 4)
      CdcPipeline.snapshot(spark, store, Map("t" -> snapshot), Map("t" -> "id"))
      drive(seed, stream(seed, markers = true), initial, hard = true, schema,
        b => CdcPipeline.applyBatch(frame(b), store, Map("t" -> schema), Map("t" -> "id")),
        () => store.read(spark, "t"))
    }
  }

  test("applyBatchSoft holds the model's state after every batch and every replay") {
    seeds.foreach { seed =>
      val store = new KeyedParquetStore(tempDir("model_soft"), nBuckets = 4)
      CdcPipeline.snapshotSoft(spark, store, Map("t" -> snapshot), Map("t" -> "id"))
      drive(seed, stream(seed, markers = false), softInitial, hard = false, softSchema,
        b => CdcPipeline.applyBatchSoft(frame(b), store, Map("t" -> schema), Map("t" -> "id")),
        () => store.read(spark, "t"))
    }
  }

  test("asOf over the snapshot and the whole feed holds the model's state at every batch " +
    "boundary") {
    seeds.foreach { seed =>
      val batches = stream(seed, markers = true)
      val feed = frame(batches.flatten)
      batches.foldLeft(initial) { (state, batch) =>
        val next = replay(state, batch, applyHard("id"))
        val cut = batch.last.lsn
        assert(values(CdcPipeline.asOf(snapshot, feed, schema, "id", cut), schema, "id") ==
          values(next, schema), s"seed $seed, cut $cut")
        next
      }
    }
  }

  test("JdbcMirror on Derby holds the model's state after every batch and every replay") {
    val url = "jdbc:derby:memory:graftmodel;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    seeds.foreach { seed =>
      val conn = DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute("DROP TABLE t") catch { case _: java.sql.SQLException => () }
        st.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(64), " +
          "bio VARCHAR(64), n BIGINT)")
        st.close()
      } finally conn.close()
      JdbcMirror.applyChanges(snapshot.withColumn("op", org.apache.spark.sql.functions.lit("I")),
        url, "t", "id", props)
      drive(seed, stream(seed, markers = true), initial, hard = true, schema,
        b => JdbcMirror.applyEnvelopeBatch(frame(b), url, Map("t" -> schema), Map("t" -> "id"),
          props),
        () => Tables.jdbc(spark, url, "t", props))
    }
  }
}
