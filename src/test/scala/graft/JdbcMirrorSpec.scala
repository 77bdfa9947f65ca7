package graft

import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.{ChangeEvent, JdbcMirror}

/** Database-to-database CDC parity: the same envelope stream the
  * parquet store consumes, applied to a live JDBC target (embedded
  * Derby; against Postgres only the URL changes). Pins the three
  * contract points: ordered LWW apply, idempotent replay, and
  * streaming foreachBatch delivery. */
class JdbcMirrorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val url = "jdbc:derby:memory:graftmirror;create=true"
  private def props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private val customersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def freshTable(name: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $name") catch { case _: Throwable => () }
      st.execute(
        s"CREATE TABLE $name (id BIGINT NOT NULL PRIMARY KEY, " +
          "first_name VARCHAR(64), last_name VARCHAR(64), email VARCHAR(64))")
      st.close()
    } finally conn.close()
  }

  private def stateOf(name: String): Seq[(Long, String, String)] =
    Tables.jdbc(spark, url, name, props)
      .orderBy("ID").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSeq

  private val changes = Seq(
    ChangeEvent(1, ts(1), "I", "customers", 1001,
      """{"id":1001,"first_name":"Sally","last_name":"Thomas","email":"s@t.com"}"""),
    ChangeEvent(2, ts(2), "I", "customers", 1002,
      """{"id":1002,"first_name":"George","last_name":"Bailey","email":"g@b.com"}"""),
    ChangeEvent(3, ts(3), "U", "customers", 1001,
      """{"id":1001,"first_name":"Sally","last_name":"Updated","email":"s@u.com"}"""),
    ChangeEvent(4, ts(4), "U", "customers", 1001,
      """{"id":1001,"first_name":"Sally","last_name":"Final","email":"s@f.com"}"""),
    ChangeEvent(5, ts(5), "I", "customers", 1003,
      """{"id":1003,"first_name":"Ed","last_name":"Walker","email":"e@w.com"}"""),
    ChangeEvent(6, ts(6), "D", "customers", 1002, null))

  private val expected = Seq(
    (1001L, "Final", "s@f.com"), (1003L, "Walker", "e@w.com"))

  test("I/U/D envelope batch applies with LWW order; replay is idempotent") {
    import spark.implicits._
    freshTable("customers")
    val blocksBefore = spark.sparkContext.getPersistentRDDs.size
    val batch = changes.toDF()
    JdbcMirror.applyEnvelopeBatch(batch, url,
      Map("customers" -> customersSchema), Map("customers" -> "id"), props)
    assert(stateOf("customers") == expected)
    // at-least-once replay: identical end state, no duplicate keys
    JdbcMirror.applyEnvelopeBatch(batch, url,
      Map("customers" -> customersSchema), Map("customers" -> "id"), props)
    assert(stateOf("customers") == expected)
    // the per-batch pin must not leak checkpoint blocks (a long-lived
    // mirror applies thousands of batches)
    assert(spark.sparkContext.getPersistentRDDs.size <= blocksBefore)
  }

  test("streaming mirror into JDBC via foreachBatch converges") {
    import spark.implicits._
    freshTable("customers_s")
    val ckpt = tempDir("jdbc_ckpt")
    val stream = MemoryStream[ChangeEvent](spark)
    val q = stream.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        JdbcMirror.applyEnvelopeBatch(b, url,
          Map("customers" -> customersSchema), Map("customers" -> "id"),
          props, tableNameOf = _ => "customers_s")
      }.start()
    // two micro-batches: inserts+update first, then the delete + late update
    stream.addData(changes.take(3): _*); q.processAllAvailable()
    stream.addData(changes.drop(3): _*); q.processAllAvailable()
    q.stop()
    assert(stateOf("customers_s") == expected)
  }

  test("a failed apply rolls back its partition transaction") {
    import spark.implicits._
    freshTable("customers_rb")
    // seed one good row
    JdbcMirror.applyEnvelopeBatch(changes.take(1).toDF(), url,
      Map("customers" -> customersSchema), Map("customers" -> "id"),
      props, tableNameOf = _ => "customers_rb")
    assert(stateOf("customers_rb").map(_._1) == Seq(1001L))
    // a batch whose insert violates the column width → statement fails
    val bad = Seq(
      ChangeEvent(7, ts(7), "I", "customers", 1004,
        s"""{"id":1004,"first_name":"${"x" * 500}","last_name":"Y","email":"y@z.com"}"""))
      .toDF()
    intercept[Exception] {
      JdbcMirror.applyEnvelopeBatch(bad, url,
        Map("customers" -> customersSchema), Map("customers" -> "id"),
        props, tableNameOf = _ => "customers_rb")
    }
    // the partition's transaction rolled back: no partial delete/insert
    assert(stateOf("customers_rb").map(_._1) == Seq(1001L))
  }
}
