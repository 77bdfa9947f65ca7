package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Table loads run no job: the schema comes from one footer read on
  * the driver, and it is the schema Spark's inference job finds. */
class TablesLoadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("loading all 10 corpus tables runs zero jobs, with the schema " +
    "spark.read.parquet infers") {
    val jobs = JobCount.of(spark, "tables_load_zero_jobs") {
      Tables.all.foreach(t => Tables.load(spark, sf, t))
    }
    assert(jobs == 0, s"loading the corpus ran $jobs jobs")
    Tables.all.foreach { t =>
      val path = s"$sf/$t.parquet"
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema,
        s"$t: driver-read schema differs from the inferred one")
    }
    // the loaded frames read the same rows as inferred-schema reads
    Seq("region", "nation", "supplier").foreach { t =>
      val path = s"$sf/$t.parquet"
      assert(Tables.load(spark, sf, t).collect().toSeq ==
        spark.read.parquet(path).collect().toSeq, t)
    }
  }

  test("a Spark-written directory and a mergeSchema session load the " +
    "inferred schema too") {
    val dir = Files.createTempDirectory("graft_tables_dir").toString
    spark.range(10).select(col("id"), col("id").cast("int").as("i"))
      .repartition(3).write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema ==
      spark.read.parquet(s"$dir/t.parquet").schema)
    assert(Tables.load(spark, dir, "t").count() == 10L)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.load(spark, dir, "t").schema ==
      spark.read.parquet(s"$dir/t.parquet").schema)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  /** An events file whose `ts` is TIMESTAMP(`unit`) without a UTC
    * adjustment, written with parquet-mr (Spark cannot write NANOS). */
  private def eventsFile(dir: String, unit: String, perUnit: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP($unit,false));
         |  required int64 user_id;
         |  required binary event_type (STRING);
         |  required double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(f.newGroup().append("event_id", i.toLong)
        .append("ts", (1700000000L + i * 3600L) * perUnit)
        .append("user_id", (i % 2).toLong).append("event_type", "click")
        .append("value", i * 1.5).append("props", s"p$i"))
    } finally w.close()
  }

  test("events loads with zero jobs under both ts spellings " +
    "(TIMESTAMP(NANOS) and TIMESTAMP(MICROS) without timezone)") {
    val loaded = Seq("NANOS" -> 1000000000L, "MICROS" -> 1000000L).map {
      case (unit, perUnit) =>
        val dir = Files.createTempDirectory(s"graft_events_$unit").toString
        eventsFile(dir, unit, perUnit)
        val path = s"$dir/events.parquet"
        var ev: org.apache.spark.sql.DataFrame = null
        val jobs = JobCount.of(spark, s"events_zero_jobs_$unit") {
          ev = Tables.events(spark, dir)
        }
        assert(jobs == 0, s"$unit: loading events ran $jobs jobs")
        assert(Tables.parquet(spark, path).schema ==
          spark.read.parquet(path).schema, s"$unit: raw schema differs")
        ev.orderBy("event_id").collect().toSeq
    }
    // both spellings normalize to the same rows: ts_ns epoch-nanos and
    // ts micros
    assert(loaded(0) == loaded(1))
    assert(loaded(0).head.getLong(1) == 1700000000L * 1000000000L)
  }
}
