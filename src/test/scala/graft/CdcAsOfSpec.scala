package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcPipeline

/** Cross-table consistent read AS OF an LSN (r8 verdict #7): over an
  * FK-disciplined mixed-churn WAL (users + orders sharing ONE global
  * LSN sequence), [[CdcPipeline.asOf]] must (a) equal a brute-force
  * sequential replay ([[ApplyModel]]) at sampled cuts — including through a
  * snapshot-then-stream handoff — and (b) yield FK closure at EVERY
  * cut: every live order's purchaser resolves to a live user, exactly
  * because one lsn bound is applied to both tables.
  */
class CdcAsOfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val userSchema = StructType(Seq(
    StructField("id", LongType), StructField("version", LongType)))
  private val orderSchema = StructType(Seq(
    StructField("id", LongType), StructField("purchaser", LongType),
    StructField("quantity", LongType)))

  /** FK-disciplined mixed-churn WAL, interleaved across 8 users: per
    * user k — insert user (lsn 100k), insert 3 orders referencing it
    * (+1..+3), update user (+10) and an order (+12), delete the orders
    * (+40..+42), then (odd k only) delete the user (+50). Parent
    * insert precedes every child reference; child deletes precede the
    * parent delete — the discipline a transactional source guarantees,
    * which is what makes one-lsn cuts FK-closed. */
  private val wal: Seq[(String, ApplyModel.Event)] =
    (0L until 8L).flatMap { k =>
      val base = 100 * k
      val oid = (j: Int) => 1000 + 10 * k + j
      def user(lsn: Long, op: String, version: Long = 0L) = "users" -> ApplyModel.Event(lsn, op,
        k, Option.when(op != "D")(Map[String, Any]("id" -> k, "version" -> version)))
      def order(lsn: Long, op: String, j: Int, quantity: Long = 0L) = "orders" ->
        ApplyModel.Event(lsn, op, oid(j), Option.when(op != "D")(
          Map[String, Any]("id" -> oid(j), "purchaser" -> k, "quantity" -> quantity)))
      Seq(user(base, "I", 1)) ++ (0 until 3).map(j => order(base + 1 + j, "I", j, j + 1)) ++
        Seq(user(base + 10, "U", 2), order(base + 12, "U", 0, 9)) ++
        (0 until 3).map(j => order(base + 40 + j, "D", j)) ++
        (if (k % 2 == 1) Seq(user(base + 50, "D")) else Nil)
    }

  private lazy val envDf: DataFrame = {
    import spark.implicits._
    wal.map { case (t, e) => e.envelope(t) }.toDF().localCheckpoint(true)
  }

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The model's state of one table at `cut`. */
  private def replay(table: String, cut: Long): Map[Long, ApplyModel.Row] =
    ApplyModel.replay(Map.empty, wal.collect { case (`table`, e) if e.lsn <= cut => e },
      ApplyModel.applyHard("id"))

  private val cuts = Seq(0L, 2L, 11L, 41L, 50L, 105L, 152L, 341L, 450L, 750L)

  test("asOf equals the brute-force replay at sampled cuts (log-only and snapshot handoff)") {
    for (c <- cuts) {
      Seq("users" -> userSchema, "orders" -> orderSchema).foreach { case (t, schema) =>
        val got = CdcPipeline.asOf(emptyOf(schema), envDf.filter(col("table") === t), schema,
          "id", c)
        assert(ApplyModel.values(got, schema, "id") == ApplyModel.values(replay(t, c), schema),
          s"$t diverge at cut $c")
      }
    }

    // snapshot-then-stream handoff: the snapshot image is the replayed
    // state at lsn ≤ 150, the retained stream starts above it — asOf
    // past the handoff must equal the log-only read
    import spark.implicits._
    val snapUsers = replay("users", 150L).keys.toSeq
      .map(k => (k, if (k <= 1) 2L else 1L)) // users 0,1 updated by lsn 150
      .toDF("id", "version")
    for (c <- Seq(152L, 341L, 750L)) {
      val viaSnap = CdcPipeline.asOf(snapUsers,
          envDf.filter(col("table") === "users" && col("lsn") > 150), userSchema, "id", c)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val logOnly = CdcPipeline.asOf(emptyOf(userSchema),
          envDf.filter(col("table") === "users"), userSchema, "id", c)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaSnap == logOnly, s"snapshot handoff diverges at cut $c")
    }
  }

  test("FK closure holds at EVERY cut of the mixed-churn stream") {
    // one plan for all cuts: per (cut, table, key) last-write-wins,
    // live orders anti-joined against live users on (cut, purchaser)
    val cutsDf = {
      import spark.implicits._
      wal.map(_._2.lsn).distinct.toDF("cut")
    }
    val w = Window.partitionBy("cut", "table", "key").orderBy(col("lsn").desc)
    val live = envDf.join(broadcast(cutsDf), col("lsn") <= col("cut"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
    val liveOrders = live.filter(col("table") === "orders")
      .select(col("cut"),
        get_json_object(col("after"), "$.purchaser").cast("long").as("purchaser"))
    val liveUsers = live.filter(col("table") === "users")
      .select(col("cut").as("ucut"), col("key").as("uid"))
    val dangling = liveOrders.join(liveUsers,
      col("cut") === col("ucut") && col("purchaser") === col("uid"), "left_anti")
    assert(dangling.count() == 0,
      s"dangling FK refs at cuts: ${dangling.select("cut").distinct().collect().mkString(",")}")

    // bridge the bulk spelling to the API at one post-delete cut
    val c = 341L
    val apiOrders = CdcPipeline.asOfAll(
      Map("orders" -> emptyOf(orderSchema), "users" -> emptyOf(userSchema)),
      envDf, Map("orders" -> orderSchema, "users" -> userSchema),
      Map("orders" -> "id", "users" -> "id"), c)
    assert(apiOrders("orders").count() ==
      liveOrders.filter(col("cut") === c).count())
    assert(apiOrders("users").count() ==
      liveUsers.filter(col("ucut") === c).count())
  }
}
