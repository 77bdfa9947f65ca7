package graft

import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, JdbcMirror, KeyedParquetStore}
import graft.sources.Tables

/** Unchanged-TOAST apply semantics (Postgres partial UPDATEs): logical
  * decoding omits a large out-of-line column an UPDATE left untouched,
  * shipping [[CdcPipeline.UnchangedToast]] instead — the sink must
  * inherit the previous value (in-batch first, then the target's
  * stored row) rather than upsert the marker verbatim. The reference's
  * psql→psql mirrors rely on exactly this merge-at-target behavior
  * (volumes/postgresql.conf:3 wal_level=logical). */
class CdcToastSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val M = CdcPipeline.UnchangedToast

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("bio", StringType))) // the "TOASTed" wide column

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def freshStore(): KeyedParquetStore =
    new KeyedParquetStore(
      tempDir("toast_store"), nBuckets = 4)

  private def img(id: Long, name: String, bio: String): String =
    s"""{"id":$id,"name":"$name","bio":"$bio"}"""

  private def stateOf(store: KeyedParquetStore): Map[Long, (String, String)] =
    store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap

  test("marker inherits the stored value; in-batch unmarked value wins over store") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshot(spark, store,
      Map("t" -> Seq((1L, "a", "big-bio-1"), (2L, "b", "big-bio-2"),
        (3L, "c", "big-bio-3")).toDF("id", "name", "bio")),
      Map("t" -> "id"))

    val batch = Seq(
      // partial UPDATE: bio untouched at the source → marker ships
      ChangeEvent(10, ts(10), "U", "t", 1, img(1, "a2", M)),
      // in-batch: lsn 11 rewrites bio, lsn 12 leaves it unchanged —
      // the winner inherits lsn 11's value, NOT the store's
      ChangeEvent(11, ts(11), "U", "t", 2, img(2, "b2", "rewritten")),
      ChangeEvent(12, ts(12), "U", "t", 2, img(2, "b3", M)),
      // control: a full-image update passes through untouched
      ChangeEvent(13, ts(13), "U", "t", 3, img(3, "c2", "fresh-bio"))
    ).toDF()
    CdcPipeline.applyBatch(batch, store,
      Map("t" -> schema), Map("t" -> "id"))

    assert(stateOf(store) == Map(
      1L -> (("a2", "big-bio-1")),   // store fallback
      2L -> (("b3", "rewritten")),   // in-batch inheritance
      3L -> (("c2", "fresh-bio"))))

    // idempotent replay: foreachBatch is at-least-once — the marked
    // batch must reconverge (the fallback join now sees the POST-apply
    // store, whose bio values are exactly what the markers resolve to)
    CdcPipeline.applyBatch(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(stateOf(store) == Map(
      1L -> (("a2", "big-bio-1")),
      2L -> (("b3", "rewritten")),
      3L -> (("c2", "fresh-bio"))))
  }

  test("PK-changing UPDATE with a marker inherits from the OLD key's stored row") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshot(spark, store,
      Map("t" -> Seq((5L, "e", "bio-of-5")).toDF("id", "name", "bio")),
      Map("t" -> "id"))

    // key 5 → 105, bio untouched: Postgres emits old tuple (beforeKey)
    // + new image with the marker; the new key's bio must come from
    // key 5's stored image, and key 5 must be deleted
    val batch = Seq(
      ChangeEvent(20, ts(20), "U", "t", 105, img(105, "e2", M), Some(5L))
    ).toDF()
    CdcPipeline.applyBatch(batch, store,
      Map("t" -> schema), Map("t" -> "id"))

    assert(stateOf(store) == Map(105L -> (("e2", "bio-of-5"))))

    // at-least-once replay: key 5 is gone now — the marker must find
    // its value under the NEW key (the first apply moved it there)
    // instead of failing the old-key lookup
    CdcPipeline.applyBatch(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    assert(stateOf(store) == Map(105L -> (("e2", "bio-of-5"))))
  }

  test("a marker with no stored image to inherit fails loudly") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshot(spark, store,
      Map("t" -> Seq((1L, "a", "bio")).toDF("id", "name", "bio")),
      Map("t" -> "id"))
    // key 99 was never seen: a marker for it means feed/target diverged
    val bad = Seq(
      ChangeEvent(30, ts(30), "U", "t", 99, img(99, "x", M))
    ).toDF()
    val e = intercept[Exception] {
      CdcPipeline.applyBatch(bad, store,
        Map("t" -> schema), Map("t" -> "id"))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m =>
      m != null && m.contains("unchanged-TOAST")))
    // and the divergent batch must NOT have half-applied: key 1 intact
    assert(stateOf(store) == Map(1L -> (("a", "bio"))))
  }

  test("a stored NULL is a legitimate previous image — inherited, not an error") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshot(spark, store,
      Map("t" -> Seq((7L, "g", null.asInstanceOf[String]))
        .toDF("id", "name", "bio")),
      Map("t" -> "id"))
    val batch = Seq(
      ChangeEvent(40, ts(40), "U", "t", 7, img(7, "g2", M))
    ).toDF()
    CdcPipeline.applyBatch(batch, store,
      Map("t" -> schema), Map("t" -> "id"))
    val row = store.read(spark, "t").collect().head
    assert(row.getLong(0) == 7L && row.getString(1) == "g2" && row.isNullAt(2))
  }

  test("in-batch NULL image + marker converges like the split-batch store fallback") {
    import spark.implicits._
    // U(bio=NULL)@5 then U(marker)@7: an explicit NULL is a legitimate
    // previous image (the store-fallback path already says so) — the
    // in-batch inheritance must agree, whether the two events share a
    // micro-batch or not. (Unreachable from a real decoder — a NULL
    // column is never TOASTed — but convergence must not depend on
    // batch boundaries.)
    val nullImg = """{"id":1,"name":"a5","bio":null}"""
    val e1 = ChangeEvent(5, ts(5), "U", "t", 1, nullImg)
    val e2 = ChangeEvent(7, ts(7), "U", "t", 1, img(1, "a7", M))

    def seeded(): KeyedParquetStore = {
      val s = freshStore()
      CdcPipeline.snapshot(spark, s,
        Map("t" -> Seq((1L, "a", "orig-bio")).toDF("id", "name", "bio")),
        Map("t" -> "id"))
      s
    }
    val oneBatch = seeded()
    CdcPipeline.applyBatch(Seq(e1, e2).toDF(), oneBatch,
      Map("t" -> schema), Map("t" -> "id"))
    val twoBatch = seeded()
    CdcPipeline.applyBatch(Seq(e1).toDF(), twoBatch,
      Map("t" -> schema), Map("t" -> "id"))
    CdcPipeline.applyBatch(Seq(e2).toDF(), twoBatch,
      Map("t" -> schema), Map("t" -> "id"))

    def rowOf(s: KeyedParquetStore) = {
      val r = s.read(spark, "t").collect().head
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getString(2)))
    }
    // both paths: the marker inherits the explicit NULL, not "orig-bio"
    assert(rowOf(oneBatch) == ((1L, "a7", None)), "in-batch path")
    assert(rowOf(twoBatch) == ((1L, "a7", None)), "store-fallback path")
    assert(rowOf(oneBatch) == rowOf(twoBatch))
  }

  test("asOf resolves markers against the snapshot image") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", "snap-bio")).toDF("id", "name", "bio")
    val feed = Seq(
      ChangeEvent(50, ts(50), "U", "t", 1, img(1, "a2", M)),
      ChangeEvent(51, ts(51), "I", "t", 2, img(2, "b", "new-bio"))
    ).toDF()
    val cut = CdcPipeline.asOf(snapshot, feed, schema, "id", lsn = 51)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(cut == Seq((1L, "a2", "snap-bio"), (2L, "b", "new-bio")))
  }

  test("fallback store read is bucket-pruned: only the marked keys' buckets scan") {
    import spark.implicits._
    val store = freshStore()
    CdcPipeline.snapshot(spark, store,
      Map("t" -> (0L until 64L).map(i => (i, s"n$i", s"bio$i"))
        .toDF("id", "name", "bio")),
      Map("t" -> "id"))
    val one = Seq(5L).toDF("k")
    val pruned = store.readForKeys(spark, "t", one, "k")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected a bucket partition filter in:\n$plan")
    // the pruned read still finds the key, and reads fewer buckets
    // than the table holds (4 here, 1 key → 1 bucket)
    assert(pruned.filter(col("id") === 5L).count() == 1L)
    assert(pruned.count() < store.read(spark, "t").count())
  }

  test("JDBC TOAST read-back is keyed and chunked: batch-sized, not target-sized") {
    import spark.implicits._
    // predicate builder: dedup + sort + chunk; empty set short-circuits
    assert(JdbcMirror.keyInPredicates("id", Seq(5L, 1L, 3L, 1L), chunk = 2)
      .toSeq == Seq("id IN (1, 3)", "id IN (5)"))
    assert(JdbcMirror.keyInPredicates("id", Nil).toSeq == Seq("1 = 0"))

    // Derby integration: each chunk is one pushed partition predicate —
    // the read returns exactly the requested keys' rows, one JDBC
    // partition per chunk, however many rows the target holds
    val url = "jdbc:derby:memory:graftkeyed;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, " +
        "name VARCHAR(64), bio VARCHAR(256))")
      val ins = conn.prepareStatement("INSERT INTO t VALUES (?, ?, ?)")
      (1L to 50L).foreach { i =>
        ins.setLong(1, i); ins.setString(2, s"n$i"); ins.setString(3, s"b$i")
        ins.addBatch()
      }
      ins.executeBatch(); ins.close(); st.close()
    } finally conn.close()
    val preds = JdbcMirror.keyInPredicates("id", Seq(7L, 9L, 31L), chunk = 2)
    val back = spark.read.jdbc(url, "t", preds, props)
    assert(back.rdd.getNumPartitions == preds.length,
      "one JDBC partition per key chunk")
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      Set(7L, 9L, 31L))
  }

  test("JDBC mirror: markers resolve against the live target table") {
    import spark.implicits._
    val url = "jdbc:derby:memory:grafttoast;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, " +
        "name VARCHAR(64), bio VARCHAR(256))")
      st.close()
    } finally conn.close()

    val seed = Seq(
      ChangeEvent(1, ts(1), "I", "t", 1, img(1, "a", "wide-bio-kept-in-db"))
    ).toDF()
    JdbcMirror.applyEnvelopeBatch(seed, url,
      Map("t" -> schema), Map("t" -> "id"), props)

    // partial UPDATE: name changes, bio ships as the marker — the
    // mirror must read the target row back and keep the wide column
    val partial = Seq(
      ChangeEvent(2, ts(2), "U", "t", 1, img(1, "a2", M))
    ).toDF()
    JdbcMirror.applyEnvelopeBatch(partial, url,
      Map("t" -> schema), Map("t" -> "id"), props)

    val row = Tables.jdbc(spark, url, "t", props).collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "a2" &&
      row.getString(2) == "wide-bio-kept-in-db")

    // replay of the marked batch reconverges (idempotent with the
    // read-back: the target's bio is already the resolved value)
    JdbcMirror.applyEnvelopeBatch(partial, url,
      Map("t" -> schema), Map("t" -> "id"), props)
    val again = Tables.jdbc(spark, url, "t", props).collect().head
    assert(again.getString(1) == "a2" &&
      again.getString(2) == "wide-bio-kept-in-db")
  }
}
