package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Batch table layer over the driver-generated parquet corpus
  * (see TESTDATA.md). Mirrors the reference's two-store
  * relational model (source/target databases,
  * reference quickstart_prepare_peers.sh:16–19) as parquet-backed
  * namespaces: a table is loaded from `<dir>/<name>.parquet`.
  *
  * Scale note: loaders are plain lazy parquet scans, so Catalyst
  * retains full predicate-pushdown / column-pruning / partition-
  * pruning freedom — no eager caching, no collect. A load runs no
  * job: the schema is the one Spark's inference would find, read on
  * the driver from a single footer ([[Bridge.parquetSchema]]) instead
  * of by the one-task inference job `spark.read.parquet` runs.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") return events(spark, dir)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(path)` with its schema read on the driver,
    * falling back to Spark's inference where one footer does not
    * decide it. Reads the session's parquet confs at call time. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Bridge.parquetSchema(spark, path)
      .fold(spark.read)(spark.read.schema(_)).parquet(path)

  /** The events table's `ts` has shipped in two physical spellings:
    * TIMESTAMP(NANOS), which Spark's parquet reader rejects by default
    * (read nanos as a long via `nanosAsLong`), and plain
    * TIMESTAMP(MICROS) without a timezone, which Spark reads as
    * TIMESTAMP_NTZ. Both normalize to the same logical schema:
    * `ts_ns` BIGINT epoch-nanos + `ts` TimestampType (micros) —
    * sessions pin UTC, so the NTZ cast is epoch-faithful and the
    * DuckDB oracle equivalents stay `epoch_ns(ts)` / `ts`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val normalized = raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP_NTZ / TIMESTAMP micros
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    }
    // stable column order regardless of source spelling
    normalized.select("event_id", "ts_ns", "user_id", "event_type",
      "value", "props", "ts")
  }

  /** Register every corpus table as a temp view so `spark.sql` text
    * matches the DuckDB oracle's table names 1:1. Idempotent. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** True JDBC read channel — S2 parity with the reference, whose every
    * query travels a live Postgres connection
    * (reference monitoring.ps1:218–231). Plain `spark.read.jdbc`, so
    * Catalyst pushes filters and column pruning into the remote
    * database (the JDBCRelation shows `PushedFilters` in the plan).
    * Exercised against embedded Derby in `JdbcSourceSpec`; against a
    * live Postgres only the URL changes. */
  def jdbc(
      spark: SparkSession,
      url: String,
      table: String,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Partitioned JDBC read — the scale path: `numPartitions` concurrent
    * range-bounded connections instead of one serial cursor. Bounds
    * define the split points only; rows outside them are still read. */
  def jdbcPartitioned(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound, numPartitions, props)

  /** Persist a table bucketed (and bucket-sorted) on its join key.
    *
    * This is THE layout decision for repeated large-scale joins: two
    * tables bucketed on the same key with the same bucket count join
    * with ZERO shuffle — each task sort-merges one co-numbered bucket
    * pair off disk. At 100 TB that converts the nightly fact⋈fact join
    * from a full-cluster exchange into embarrassingly parallel local
    * work; the shuffle cost is paid once at write time and amortized
    * over every subsequent join. Catalog-backed (`saveAsTable`) because
    * bucket metadata lives in the catalog, not the files.
    * `ScaleJoinSpec` asserts the no-Exchange plan. */
  def saveBucketed(
      df: DataFrame, catalogName: String, path: String,
      key: String, buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(catalogName)

  /** Persist hive-style partitioned (one directory per value of
    * `partCols`) — THE layout decision for time-sliced scans. A query
    * filtering on the partition column never opens the other
    * directories at all (partition pruning happens at PLANNING, before
    * any file I/O — `PartitionFilters` in the scan node), so a
    * one-day query over a 10-year 100 TB corpus touches 0.03% of the
    * files regardless of cluster size. Complementary to bucketing
    * ([[saveBucketed]] prunes nothing but kills join shuffles) and to
    * Z-ordering ([[graft.functions.ZOrder]], which prunes WITHIN a
    * partition via min/max footers). Partition columns must be
    * low-cardinality (dates, sources) — per-value directories at high
    * cardinality melt the metastore. `PartitionLayoutSpec` asserts
    * pruning + dynamic overwrite. */
  def savePartitioned(df: DataFrame, path: String, partCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** Overwrite ONLY the partitions present in `df` (dynamic partition
    * overwrite) — the idempotent daily-ingest spelling: re-running a
    * day's load replaces that day's directory and leaves every other
    * day untouched. A full `mode(overwrite)` without this deletes the
    * whole table — the classic ingest footgun. */
  def overwritePartitions(df: DataFrame, path: String, partCols: String*): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
}
