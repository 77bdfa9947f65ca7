package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The reference's relational data model, declared once
  * (quickstart_prepare_peers.sh:25–49) — schemas, primary keys, FK
  * relations, and the seed rows. Target-side schemas are never
  * re-declared: they propagate from these StructTypes through
  * [[graft.streaming.KeyedParquetStore]]'s manifest (SURVEY.md §1.3).
  */
object Schemas {

  /** customers (quickstart_prepare_peers.sh:25–30). */
  val customers: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType)))

  /** products (quickstart_prepare_peers.sh:33–38). NUMERIC(10,2)
    * weight → DecimalType(10,2): inserts round half-up, so the seed
    * value 0.875 (line 65) lands as 0.88 — PostgreSQL parity. */
  val products: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("weight", DecimalType(10, 2))))

  /** orders (quickstart_prepare_peers.sh:41–49). */
  val orders: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("order_date", DateType),
    StructField("purchaser", IntegerType),
    StructField("quantity", IntegerType),
    StructField("product_id", IntegerType)))

  /** Primary keys (CDC merge keys, quickstart_prepare_peers.sh:26,34,42). */
  val primaryKeys: Map[String, String] =
    Map("customers" -> "id", "products" -> "id", "orders" -> "id")

  /** FK relations (quickstart_prepare_peers.sh:47–48) — not enforced
    * (Spark has no constraints); drives generator referential
    * integrity (insert.ps1:272–273). */
  val foreignKeys: Seq[(String, String, String, String)] = Seq(
    ("orders", "purchaser", "customers", "id"),
    ("orders", "product_id", "products", "id"))

  /** Seed rows (quickstart_prepare_peers.sh:54–77). Weight strings are
    * cast to DECIMAL(10,2) exactly as the INSERT literals are by
    * PostgreSQL. */
  def seedCustomers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataFrame(
      Seq((1001, "Sally", "Thomas", "sally.thomas@acme.com"),
        (1002, "George", "Bailey", "gbailey@foobar.com"),
        (1003, "Edward", "Walker", "ed@walker.com"),
        (1004, "Anne", "Kretchmar", "annek@noanswer.org"))
        .toDF("id", "first_name", "last_name", "email").rdd, customers)
  }

  def seedProducts(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Seq(
      (101, "scooter", "Small 2-wheel scooter", "3.14"),
      (102, "car battery", "12V car battery", "8.1"),
      (103, "12-pack drill bits", "12-pack of drill bits with sizes ranging from #40 to #3", "0.8"),
      (104, "hammer", "12oz carpenter's hammer", "0.75"),
      (105, "hammer", "14oz carpenter's hammer", "0.875"),
      (106, "hammer", "16oz carpenter's hammer", "1.0"),
      (107, "rocks", "box of assorted rocks", "5.3"),
      (108, "jacket", "water resistent black wind breaker", "0.1"),
      (109, "spare tire", "24 inch spare tire", "22.2"))
      .toDF("id", "name", "description", "weight_str")
      .select(col("id"), col("name"), col("description"),
        col("weight_str").cast(DecimalType(10, 2)).as("weight"))
  }

  def seedOrders(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, to_date}
    import spark.implicits._
    Seq(
      (10001, "2024-01-16", 1001, 1, 102),
      (10002, "2024-01-17", 1002, 2, 105),
      (10003, "2024-02-19", 1002, 2, 106),
      (10004, "2024-02-21", 1003, 1, 107),
      (10005, "2024-02-22", 1004, 1, 108))
      .toDF("id", "date_str", "purchaser", "quantity", "product_id")
      .select(col("id"), to_date(col("date_str")).as("order_date"),
        col("purchaser"), col("quantity"), col("product_id"))
  }
}
