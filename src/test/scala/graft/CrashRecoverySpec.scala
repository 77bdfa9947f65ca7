package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, ChangeEvent, KeyedParquetStore}

/** Failure injection for the exactly-once apply claim (r7 verdict
  * item 6): crash the mirror BETWEEN the foreachBatch store write and
  * the checkpoint commit — the at-least-once window — restart from
  * the same checkpoint, and assert the target CONVERGES (no lost and
  * no duplicated rows). This is the parquet-store counterpart of
  * JdbcMirrorSpec's idempotent-replay proof, driven through a real
  * StreamingQuery restart instead of a hand replay; the acceptance
  * check is the reference's count reconciliation
  * (/root/reference/insert.ps1:426–431). */
class CrashRecoverySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private def chg(lsn: Long, op: String, id: Long): ChangeEvent =
    ChangeEvent(lsn, ts(lsn), op, "delta", id,
      if (op == "D") null else s"""{"id":$id,"v":"v$lsn"}""")

  test("crash after store write, before checkpoint commit: restart converges, no dupes") {
    import spark.implicits._
    // one shared source across both query incarnations (the checkpoint
    // pins offsets against it, mirroring a durable feed)
    val crashSrc = MemoryStream[ChangeEvent](spark)
    val store = new KeyedParquetStore(
      tempDir("crash_store"), nBuckets = 4)
    val ckpt = tempDir("crash_ckpt")
    val schemas = Map("delta" -> rowSchema)
    val keys = Map("delta" -> "id")

    @volatile var crashArmed = true
    def startMirror(inject: Boolean) = {
      val src = crashSrc
      src.toDF().writeStream
        .queryName("crash_mirror")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the REAL apply runs first — the store write lands…
          CdcPipeline.applyBatch(batch, store, schemas, keys)
          // …then the injected crash prevents the offset commit, the
          // exact window where at-least-once redelivery happens
          if (inject && crashArmed) {
            crashArmed = false
            throw new RuntimeException("injected crash after write, before commit")
          }
        }
        .start()
    }

    try {
      crashSrc.addData(chg(1, "I", 1), chg(2, "I", 2), chg(3, "I", 3))
      val q1 = startMirror(inject = true)
      val failure = intercept[Exception] { q1.processAllAvailable() }
      assert(failure.getMessage.contains("injected crash")
        || Option(failure.getCause).exists(_.getMessage.contains("injected crash")),
        failure.toString)
      assert(!q1.isActive)
      // the uncommitted batch's write DID land — this is the dirty
      // state a real crash leaves behind
      assert(store.read(spark, "delta").count() == 3)

      // restart from the same checkpoint: Spark redelivers the
      // uncommitted batch; the idempotent merge absorbs the replay
      val q2 = startMirror(inject = false)
      q2.processAllAvailable()
      val afterReplay = store.read(spark, "delta")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(afterReplay == Seq((1L, "v1"), (2L, "v2"), (3L, "v3")),
        s"replayed batch must not duplicate or lose rows: $afterReplay")

      // and the mirror keeps working past the recovered batch —
      // updates + deletes against the replayed state apply cleanly
      crashSrc.addData(chg(4, "U", 2), chg(5, "D", 3), chg(6, "I", 4))
      q2.processAllAvailable()
      q2.stop()
      val converged = store.read(spark, "delta")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // count reconciliation, the reference's success criterion
      assert(converged == Seq((1L, "v1"), (2L, "v4"), (4L, "v6")), converged)
    } finally {
      spark.streams.active.filter(_.name == "crash_mirror").foreach(_.stop())
    }
  }
}
