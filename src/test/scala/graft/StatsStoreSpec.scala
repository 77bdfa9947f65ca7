package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{JoinAdvisor, StatsStore}
import graft.operators.JoinAdvisor.ChainDim

/** The ANALYZE contract (r10 verdict ask #5): statistics are collected
  * once per (table, key) and served to every later planning decision —
  * with decisions IDENTICAL to freshly-computed statistics (same
  * deterministic sketches, same pure decision function) — and appends
  * to the data invalidate what was stored.
  */
class StatsStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft_statsstore").toString + "/stats"

  private def j12Sides(): (DataFrame, DataFrame) = {
    val supp = graft.sources.Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey").as("sk"), col("s_nationkey"))
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(
        when(col("l_orderkey") % 2 === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("sk"),
        col("l_extendedprice"))
    (supp, li)
  }

  test("one ANALYZE pass serves repeated advises; decisions identical to fresh") {
    val (supp, li) = j12Sides()
    val store = new StatsStore(spark, freshPath())
    val fresh = JoinAdvisor.advise(supp, "sk", li, "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    val a1 = JoinAdvisor.adviseStored(store, supp, "supp", "sk", li, "li_skewed", "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    assert(store.scansPerformed == 2) // one per side, never again
    val a2 = JoinAdvisor.adviseStored(store, supp, "supp", "sk", li, "li_skewed", "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    val a3 = JoinAdvisor.adviseStored(store, supp, "supp", "sk", li, "li_skewed", "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    assert(store.scansPerformed == 2)
    assert(a1 == fresh && a2 == fresh && a3 == fresh)
    assert(fresh.strategy == "salted_shuffle") // the engineered skew is detected
  }

  test("a NEW store instance on the same sidecar serves with ZERO scans") {
    val (supp, li) = j12Sides()
    val path = freshPath()
    val warm = new StatsStore(spark, path)
    val a0 = JoinAdvisor.adviseStored(warm, supp, "supp", "sk", li, "li_skewed", "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    assert(warm.scansPerformed == 2)
    // fresh process analogue: no in-memory cache, only the sidecar
    val cold = new StatsStore(spark, path)
    val a1 = JoinAdvisor.adviseStored(cold, supp, "supp", "sk", li, "li_skewed", "sk",
      broadcastRowLimit = 5L, hotFactor = 2L)
    assert(cold.scansPerformed == 0, "stored stats must serve across instances")
    assert(a1 == a0)
  }

  test("chain ordering: ONE combined fact scan + one per dim, then zero; " +
    "order and rows identical to the fresh path") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val promo = graft.sources.Tables.load(spark, sf, "part")
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val supp = graft.sources.Tables.load(spark, sf, "supplier")
      .select("s_suppkey", "s_nationkey")
    val dims = Seq(
      ChainDim("promo_part", "l_partkey", promo, "p_partkey"),
      ChainDim("supplier", "l_suppkey", supp, "s_suppkey"))
    val store = new StatsStore(spark, freshPath())
    val o1 = JoinAdvisor.adviseJoinOrderStored(store, li, "lineitem", dims)
    // 1 combined fact scan (both keys) + 2 dim scans
    assert(store.scansPerformed == 3)
    val o2 = JoinAdvisor.adviseJoinOrderStored(store, li, "lineitem", dims)
    assert(store.scansPerformed == 3)
    assert(o1 == o2)
    assert(o1 == JoinAdvisor.adviseJoinOrder(li, dims))
    // executeChain through the store: identical rows, no new scans
    val rows = JoinAdvisor.executeChain(li, dims, store, "lineitem")
      .groupBy("s_nationkey").count().orderBy("s_nationkey").collect().toSeq
    assert(store.scansPerformed == 3)
    val fresh = JoinAdvisor.executeChain(li, dims)
      .groupBy("s_nationkey").count().orderBy("s_nationkey").collect().toSeq
    assert(rows == fresh && rows.nonEmpty)
  }

  test("APPEND invalidates: new input file => fingerprint drift => re-analyze") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statsstore_tbl").toString
    graft.sources.Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey")).write.mode("append").parquet(dir)
    val store = new StatsStore(spark, freshPath())
    val s1 = store.getOrAnalyze(spark.read.parquet(dir), "t", "s_suppkey")
    assert(store.scansPerformed == 1)
    assert(store.getOrAnalyze(spark.read.parquet(dir), "t", "s_suppkey") == s1)
    assert(store.scansPerformed == 1)
    // append doubles the table — stored stats must NOT serve
    graft.sources.Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey")).write.mode("append").parquet(dir)
    val s2 = store.getOrAnalyze(spark.read.parquet(dir), "t", "s_suppkey")
    assert(store.scansPerformed == 2, "appended data served from stale stats")
    assert(s2.physRows == 2 * s1.physRows)
  }

  test("invalidate(table) drops its rows; in-memory relations never persist") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statsstore_inv").toString
    graft.sources.Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey")).write.mode("append").parquet(dir)
    val store = new StatsStore(spark, freshPath())
    val df = spark.read.parquet(dir)
    store.getOrAnalyze(df, "t", "s_suppkey")
    assert(store.get(df, "t", "s_suppkey").isDefined)
    store.invalidate("t")
    assert(store.get(df, "t", "s_suppkey").isEmpty)
    // pure in-memory data has no files to fingerprint — computed every
    // time, never served stale
    val mem = spark.range(100).toDF("k")
    store.getOrAnalyze(mem, "mem", "k")
    store.getOrAnalyze(mem, "mem", "k")
    assert(store.scansPerformed == 3) // 1 parquet + 2 mem
  }

  test("a served read runs no Spark job: j12 and j13 build with 0 jobs") {
    val (supp, li) = j12Sides()
    val store = new StatsStore(spark, freshPath())
    store.getOrAnalyze(supp, "supp", "sk")
    val cold = new StatsStore(spark, store.path)
    assert(JobCount.of(spark, "stats_served_read")(cold.get(supp, "supp", "sk")) == 0)
    assert(cold.get(supp, "supp", "sk").isDefined && cold.scansPerformed == 0)
    Seq("j12_advised_join", "j13_ordered_join").foreach { q =>
      SparkEntry.queries(q)(spark, sf) // warm
      val jobs = JobCount.of(spark, s"stats_warm_$q")(SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q: building the warm query ran $jobs jobs")
    }
  }
}
