package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore}

/** Mirror lifecycle DROP + re-create under the same name — the last
  * leg of the reference UI's create/start/drop loop
  * (/root/reference/README.md:99–106). Proves: drop stops the named
  * query, GCs its checkpoint, optionally drops target tables, and the
  * same mirror name then re-creates FRESH (reprocessing the source
  * from the start — which the idempotent merge makes safe even when
  * the targets were kept). */
class MirrorLifecycleSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private def ins(lsn: Long, id: Long): ChangeEvent =
    ChangeEvent(lsn, ts(lsn), "I", "gamma", id, s"""{"id":$id,"v":"x$id"}""")

  test("drop stops the query, GCs the checkpoint, drops targets; same name re-creates fresh") {
    import spark.implicits._
    val store = new KeyedParquetStore(
      tempDir("lifecycle_store"), nBuckets = 4)
    val ckpt = tempDir("lifecycle_ckpt")
    try {
      val src = MemoryStream[ChangeEvent](spark)
      src.addData(ins(1, 1), ins(2, 2), ins(3, 3))
      val q = CdcPipeline.start(src.toDF(), store,
        Map("gamma" -> rowSchema), Map("gamma" -> "id"), "mirror_gamma", ckpt)
      q.processAllAvailable()
      assert(store.read(spark, "gamma").count() == 3)
      assert(spark.streams.active.exists(_.name == "mirror_gamma"))

      // ── DROP: running query + checkpoint + target table
      CdcPipeline.drop(spark, "mirror_gamma", ckpt,
        store = Some(store), dropTargets = Seq("gamma"))
      assert(!spark.streams.active.exists(_.name == "mirror_gamma"))
      assert(!new java.io.File(ckpt).exists(), "checkpoint must be GC'd")
      assert(!store.exists(spark, "gamma"), "target must be dropped")

      // ── re-create under the SAME name: a brand-new source/query pair
      // over the deleted checkpoint path starts from scratch
      val src2 = MemoryStream[ChangeEvent](spark)
      src2.addData(ins(1, 10), ins(2, 11))
      val q2 = CdcPipeline.start(src2.toDF(), store,
        Map("gamma" -> rowSchema), Map("gamma" -> "id"), "mirror_gamma", ckpt)
      q2.processAllAvailable()
      val ids = store.read(spark, "gamma")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(10L, 11L), s"fresh mirror state only, got $ids")
      q2.stop()

      // dropping a mirror that is NOT running is a no-op on queries
      // and still clears the artifacts (idempotent drop)
      CdcPipeline.drop(spark, "mirror_gamma", ckpt,
        store = Some(store), dropTargets = Seq("gamma"))
      assert(!store.exists(spark, "gamma"))
      assert(!new java.io.File(ckpt).exists())
    } finally {
      spark.streams.active.filter(_.name == "mirror_gamma").foreach(_.stop())
    }
  }
}
