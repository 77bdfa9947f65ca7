package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore, StreamMetrics}

/** The reference UI manages several mirrors at once, each a named
  * Temporal workflow (/root/reference/README.md:99–106,
  * scripts/mirror-name-search.sh:6–9). Spark analogue: several named
  * StreamingQueries sharing one session. This spec proves the
  * multi-mirror properties the single-mirror specs can't:
  * per-mirror progress isolation in [[StreamMetrics]], one mirror
  * continuing while the other is stopped, and independent
  * checkpoint recovery per mirror. */
class ConcurrentMirrorsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private def ins(lsn: Long, table: String, id: Long): ChangeEvent =
    ChangeEvent(lsn, ts(lsn), "I", table, id, s"""{"id":$id,"v":"x$id"}""")

  test("two named mirrors: concurrent, isolated progress/lag, independent recovery") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      tempDir("mirrors_store"), nBuckets = 4)
    val ckptA = tempDir("mirror_a_ckpt")
    val ckptB = tempDir("mirror_b_ckpt")
    val metrics = StreamMetrics.attach(spark)
    try {
      val srcA = MemoryStream[ChangeEvent](spark)
      val srcB = MemoryStream[ChangeEvent](spark)
      srcA.addData(ins(1, "alpha", 1), ins(2, "alpha", 2))
      srcB.addData(ins(1, "beta", 10), ins(2, "beta", 11), ins(3, "beta", 12))

      def startA() = CdcPipeline.start(srcA.toDF(), store,
        Map("alpha" -> rowSchema), Map("alpha" -> "id"), "mirror_alpha", ckptA)
      def startB() = CdcPipeline.start(srcB.toDF(), store,
        Map("beta" -> rowSchema), Map("beta" -> "id"), "mirror_beta", ckptB)

      val qA = startA()
      val qB = startB()
      // both live in ONE session, each under its mirror name
      val active = spark.streams.active.map(_.name).toSet
      assert(Set("mirror_alpha", "mirror_beta").subsetOf(active), active)

      qA.processAllAvailable()
      qB.processAllAvailable()
      assert(store.read(spark, "alpha").count() == 2)
      assert(store.read(spark, "beta").count() == 3)

      // mirror B keeps replicating while A is stopped
      qA.stop()
      srcB.addData(ins(4, "beta", 13))
      qB.processAllAvailable()
      assert(store.read(spark, "beta").count() == 4)
      assert(store.read(spark, "alpha").count() == 2)
      qB.stop()

      // per-mirror progress isolation: rows are attributed to the
      // mirror that processed them, keyed by queryName
      val perMirror = metrics.progressDf(spark)
        .groupBy("query_name").sum("num_input_rows")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perMirror.getOrElse("mirror_alpha", 0L) == 2L, perMirror)
      assert(perMirror.getOrElse("mirror_beta", 0L) == 4L, perMirror)

      // independent checkpoint recovery: A restarts from ITS checkpoint
      // and resumes exactly after its last committed batch — B's
      // checkpoint is untouched by A's lifecycle
      val qA2 = startA()
      srcA.addData(ins(3, "alpha", 3))
      qA2.processAllAvailable()
      qA2.stop()
      assert(store.read(spark, "alpha").count() == 3)
      assert(store.read(spark, "beta").count() == 4)

      // converged multi-mirror lag report over both table sets
      val report = CdcPipeline.lagReport(spark, store, Map(
        "alpha" -> (1L to 3L).map(i => (i, s"x$i")).toDF("id", "v"),
        "beta" -> (10L to 13L).map(i => (i, s"x$i")).toDF("id", "v")))
        .collect().map(r => r.getAs[String]("table_name") ->
          r.getAs[String]("sync_status")).toMap
      assert(report == Map("alpha" -> "SYNCED", "beta" -> "SYNCED"), report)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.streams.removeListener(metrics)
    }
  }
}
