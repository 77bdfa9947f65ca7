package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpointing

/** The materializing pin ([[Checkpointing.materialize]]): one job
  * pins a frame and folds its row count and an exact integral sum,
  * equal to what separate `count()` / `sum` jobs over the same rows
  * return. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val big = Long.MaxValue
  /** Longs near both ends of the range, nulls and an INT column, over
    * 3 partitions: a Long running sum overflows several times before it
    * comes back into range. */
  private lazy val frame: DataFrame = {
    val schema = StructType(Seq(StructField("v", LongType),
      StructField("i", IntegerType)))
    val rows = Seq[(java.lang.Long, Integer)](
      (big, Int.MaxValue), (big - 1, Int.MaxValue), (big, null),
      (null, Int.MinValue), (Long.MinValue, 7), (big, -1),
      (Long.MinValue + 1, null), (-5L, 2), (big, 0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b) =>
        org.apache.spark.sql.Row(a, b) }, 3), schema)
  }

  /** (count, exact sum via DECIMAL(38,0) — a BIGINT sum overflows, and
    * ANSI mode makes that an error). */
  private def expected(df: DataFrame, sumCol: String): (Long, BigInt) = {
    val s = df.agg(coalesce(sum(col(sumCol).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    (df.count(), BigInt(s.toBigInteger))
  }

  test("rows and exact BIGINT and INT sums equal count() and a DECIMAL sum") {
    Seq("v", "i").foreach { c =>
      val p = Checkpointing.materialize(frame, sumOf = Some(c))
      try {
        assert((p.rows, p.sum) == expected(frame, c), s"sumOf $c")
        // the pinned frame holds the same rows as its input
        assert(p.df.collect().map(_.toString).sorted.toSeq ==
          frame.collect().map(_.toString).sorted.toSeq)
      } finally Bridge.free(p.df)
    }
    // the sum really left Long's range
    assert(expected(frame, "v")._2 > BigInt(big))
  }

  test("an empty frame pins to 0 rows and a 0 sum") {
    val empty = frame.filter(lit(false))
    val p = Checkpointing.materialize(empty, sumOf = Some("v"))
    assert((p.rows, p.sum) == expected(empty, "v"))
    assert((p.rows, p.sum) == ((0L, BigInt(0))))
    assert(p.df.count() == 0L)
  }

  test("a narrow frame pins and folds in ONE job; free drops its blocks") {
    val df = spark.range(0, 1000, 1, 4).select(col("id").as("v"))
    var p: Checkpointing.Pinned = null
    val jobs = JobCount.of(spark, "materialize_one_job") {
      p = Checkpointing.materialize(df, sumOf = Some("v"))
    }
    assert(jobs == 1, s"materialize ran $jobs jobs")
    assert((p.rows, p.sum) == ((1000L, BigInt(499500))))
    // later reads come from the pinned blocks: no recompute job runs
    // the range again, and the count matches
    assert(p.df.count() == 1000L)
    val id = Bridge.persistedRdd(p.df).get.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Bridge.free(p.df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("a non-integral sum column is rejected") {
    val df = spark.range(3).select(col("id").cast("double").as("d"))
    intercept[IllegalArgumentException](
      Checkpointing.materialize(df, sumOf = Some("d")))
  }

  test("reliable mode is bit-identical and writes rdd-* dirs") {
    val local = Checkpointing.materialize(frame, sumOf = Some("v"))
    val ckpt = Files.createTempDirectory("graft_materialize_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    spark.conf.set(Checkpointing.ModeKey, "reliable")
    val reliable =
      try Checkpointing.materialize(frame, sumOf = Some("v"))
      finally spark.conf.unset(Checkpointing.ModeKey)
    assert((reliable.rows, reliable.sum) == ((local.rows, local.sum)))
    assert(reliable.df.collect().map(_.toString).sorted.toSeq ==
      local.df.collect().map(_.toString).sorted.toSeq)
    Bridge.free(local.df)
    val rddDirs = Files.walk(ckpt).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-")).count()
    assert(rddDirs >= 1, "reliable mode must write the pinned RDD to disk")
  }
}
