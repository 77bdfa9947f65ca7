package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Reference-parity relational operators (SURVEY.md §2), re-expressed
  * Spark-first over the driver corpus (TESTDATA.md).
  *
  * Every entry is deterministic (explicit ORDER BY, exact decimal
  * arithmetic for money sums so results are independent of partial-agg
  * order) and has a matching DuckDB oracle in [[oracles]].
  *
  * Scale notes baked in:
  *  - money/quantity sums go through DECIMAL(18,2) — exact, so the
  *    result is identical no matter how Spark splits partial aggregates
  *    across 1000 executors;
  *  - joins against dimension tables are broadcast;
  *  - filters/projections stay at the top of the scan so Catalyst
  *    pushes them into the parquet reader.
  */
object CoreQueries {

  /** Exact sum of a double money column: cast per-row to DECIMAL(18,2),
    * sum (exact), surface as double. Matches DuckDB bit-for-bit.
    * ONLY safe on raw stored 2-decimal columns — a double that *is* the
    * representation of an exact 2-decimal value casts identically in
    * both engines. Computed products do NOT (Spark HALF_UPs the exact
    * binary expansion, DuckDB rounds the shortest decimal repr) — use
    * [[centsRevenue]] for those. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private def davg(c: Column): Column = (sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)))

  /** Exact revenue sum for price*(1-discount): recover integer cents
    * (both columns are exact 2-decimal values), multiply in integer
    * space (10^-4 units), sum as BIGINT (exact, order-independent at
    * any parallelism), then surface as double. */
  private def centsRevenue(price: Column, discount: Column): Column =
    (sum(round(price * 100).cast("long") * (lit(100L) - round(discount * 100).cast("long")))
      / lit(10000.0))

  /** Scale-safe global `ntile(k)` over a UNIQUE numeric order column:
    * output is bit-identical to `ntile(k).over(Window.orderBy(orderCol))`
    * (SQL-standard tile sizes: N div k + 1 for the first N mod k tiles)
    * but NO stage funnels the whole table through one task — the global
    * rank comes from [[Ranks.globalRank]] (monotone bucketing +
    * per-bucket windows + bounded offset join), the tile is closed-form
    * in (rank, N). */
  private[graft] def globalNtile(
      df: DataFrame, orderCol: String, k: Int, buckets: Int = 64): DataFrame =
    Ranks.globalRank(df, orderCol, "_rank", buckets)
      .withColumnRenamed("_total", "_n")
      // SQL ntile: q = N div k, r = N mod k; tiles 1..r hold q+1 rows
      .withColumn("tile",
        when(col("_rank") <= (expr(s"_n div $k") + 1) * (col("_n") % k),
          expr(s"(_rank - 1) div (_n div $k + 1) + 1"))
          .otherwise(
            col("_n") % k +
              expr(s"(_rank - (_n div $k + 1) * (_n % $k) - 1) div greatest(_n div $k, 1) + 1"))
          .cast("int"))
      .drop("_n", "_rank")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── S1/P1: projection pushed into the parquet scan (ReadSchema pruning)
    "s1_scan_project" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ── P2: equality predicate (PushedFilters into parquet)
    "p2_filter_eq" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ── P3: LIKE + conjunctive AND (monitoring.ps1:966 shape)
    "p3_filter_like" -> { (s, d) =>
      Tables.load(s, d, "part")
        .filter(col("p_type").like("%ECO%") && col("p_size") >= 10)
        .select("p_partkey", "p_type", "p_size")
        .orderBy("p_partkey")
    },

    // ── P4: regex extraction from semi-structured text (insert.ps1:99 / monitoring.ps1:1085)
    "p4_regex_extract" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", regexp_extract(col("props"), "(\\d+)", 1).cast("int"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // ── P5: constant probe (SELECT 1, insert.ps1:63)
    "p5_const_probe" -> { (s, _) =>
      s.range(1).select(lit(1).as("ok"))
    },

    // ── P6: empty-guard fallback scan (insert.ps1:103–111)
    "p6_empty_fallback" -> { (s, d) =>
      val primary = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "NO_SUCH_SEGMENT")
        .select(col("c_custkey").as("id"))
      val fallback = Tables.load(s, d, "orders")
        .select(col("o_custkey").as("id")).distinct()
      val chosen = if (primary.isEmpty) fallback else primary
      chosen.orderBy("id")
    },

    // ── A1: ungrouped COUNT(*)
    "a1_count_star" -> { (s, d) =>
      Tables.load(s, d, "lineitem").agg(count(lit(1)).as("n"))
    },

    // ── A2: next-key allocation MAX(id)+1 with null→1 (insert.ps1:147–158)
    "a2_next_key" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .agg(coalesce((max("o_orderkey") + 1).cast("long"), lit(1L)).as("next_id"))
    },

    // ── A3: COUNT GROUP BY (monitoring.ps1:887)
    "a3_group_count" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // ── A4: DISTINCT + LIMIT (insert.ps1:106; ordered for determinism)
    "a4_distinct_limit" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .select("c_nationkey").distinct()
        .orderBy("c_nationkey").limit(10)
    },

    // ── A5: min/avg/max stats (insert.ps1:321–323)
    "a5_latency_stats" -> { (s, d) =>
      Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min("l_quantity").as("min_q"),
          max("l_quantity").as("max_q"),
          davg(col("l_quantity")).as("avg_q"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ── A6: per-group totals + grand total via ROLLUP (monitoring.ps1:530–552).
    //    Expressed through the spark.sql channel (S2 parity,
    //    monitoring.ps1:218–231) — the DataFrame rollup() spelling trips
    //    Spark's ambiguous-self-join check on the Expand node.
    "a6_rollup_totals" -> { (s, d) =>
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      Tables.load(s, d, "nation").createOrReplaceTempView("nation")
      s.sql("""SELECT n_name,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
                 COUNT(*) AS n_customers
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               GROUP BY ROLLUP(n_name)
               ORDER BY n_name ASC NULLS FIRST""")
    },

    // ── A7+F6: ratio-of-aggregates % + threshold classification
    //    (replication-efficiency bands, monitoring.ps1:621,626–637)
    "a7_ratio_pct" -> { (s, d) =>
      // pct via exact integer half-up rounding to 1 decimal, then one
      // IEEE double division — bit-identical on any engine version
      // (double-vs-decimal ROUND semantics differ across DuckDB releases)
      Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_disc"))
        .withColumn("pct10", expr("(2000 * n_disc + n) div (2 * n)"))
        .withColumn("pct", col("pct10").cast("double") / 10)
        .withColumn("band",
          when(col("pct10") >= 950, "near real-time")
            .when(col("pct10") >= 800, "acceptable")
            .otherwise("significant lag"))
        .drop("pct10")
        .orderBy("l_returnflag")
    },

    // ── A8: throughput = count / duration (insert.ps1:355–358)
    "a8_throughput" -> { (s, d) =>
      Tables.events(s, d)
        .agg(
          count(lit(1)).as("n_events"),
          (max(expr("ts_ns div 1000000000")) - min(expr("ts_ns div 1000000000"))).as("duration_s"))
        .withColumn("events_per_s", round(col("n_events") / col("duration_s"), 4))
    },

    // ── J1: cross join against a scalar aggregate (monitoring.ps1:887)
    "j1_cross_join" -> { (s, d) =>
      val region = Tables.load(s, d, "region")
      val mx = Tables.load(s, d, "orders").agg(max("o_orderkey").as("max_orderkey"))
      region.crossJoin(mx).select("r_name", "max_orderkey").orderBy("r_name")
    },

    // ── J2+A1+F6: THE reference signature query — replication-lag /
    //    sync-status report (monitoring.ps1:576–637). source vs target
    //    per-group counts, full-outer join, lag, classification,
    //    efficiency %. Target simulated as a lagging snapshot.
    "j2_lag_sync_report" -> { (s, d) => lagReport(s, d, "1998-01-01") },

    // same report when the target has fully caught up → SYNCED rows
    "j2_lag_synced" -> { (s, d) => lagReport(s, d, "2002-01-01") },

    // ── J3: FK-respecting broadcast dim join (insert.ps1:272–273 shape)
    "j3_fk_broadcast_join" -> { (s, d) =>
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer").select("c_custkey", "c_mktsegment")
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // ── flagship 3-way join-agg (SURVEY §7.3): revenue per nation
    "j4_revenue_per_nation" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      val orders = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
      val customer = Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
      val nation = Tables.load(s, d, "nation")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(centsRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // ── J9: salted fact⋈dim join, oracle-PROVED semantics-free — the
    // skew mitigation ([[Skew.saltedJoin]]: deterministic per-row
    // content-hash salt, dim exploded ×8 so every (key, salt) bucket
    // matches) feeding the same revenue rollup a plain join would.
    // The oracle is the plain three-way join: matching hashes prove
    // salting changes ONLY the physical row distribution, never the
    // result. The salt being `pmod(xxhash64(row), 8)` (not `rand()`)
    // is what makes that claim survive a real cluster: map-task
    // retries after shuffle-fetch failures recompute IDENTICAL salts,
    // so no row can double or vanish mid-retry — the single-JVM
    // oracle match here plus retry determinism together justify
    // swapping it in under a hot key. Revenue stays in exact integer
    // 10⁻⁴ units, so the aggregate is order-independent at any
    // parallelism (a float sum would make this test meaningless).
    "j9_salted_agg" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val supp = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val nation = Tables.load(s, d, "nation")
      Skew.saltedJoin(li, supp, "s_suppkey", 8)
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(centsRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // ── j11: Bloom-pruned join, oracle-proved SEMANTICS-FREE — j9's
    // trick applied to the Bloom pre-filter: the DuckDB oracle is the
    // PLAIN join (no bloom anywhere), so the hash gate itself proves
    // the scan-speed prune changes nothing. Why it holds: bloom_probe
    // has NO false negatives, so the prune only discards rows the
    // join would drop anyway; false positives just ride through to
    // the real join. The 100 TB shape: the dim's 128 KiB filter
    // broadcasts, the fact is cut map-side BEFORE the shuffle — the
    // exchange carries only maybe-matching rows (here the ~half of
    // lineitem whose supplier survives the balance cut), which is the
    // whole point of a pre-filtered join.
    "j11_bloom_pruned_join" -> { (s, d) =>
      import graft.functions.BloomFilter.{bloom_build, bloom_probe}
      // filter build + join side
      val dim = Checkpointing.pin(Tables.load(s, d, "supplier")
        .filter(col("s_acctbal") > 5000.0)
        .select("s_suppkey", "s_nationkey"))
      // The filter is a FIXED 128 KiB scalar (size set by nBits, not by
      // data), so materializing it driver-side and re-shipping it as a
      // literal is control-plane, not a data collect — and it matters:
      // as a cross-joined COLUMN the probe re-decodes the 128 KiB blob
      // from the row per fact row (measured 15 s at sf0.1); as a
      // literal it is a class-field constant, evaluated once.
      val fbytes = dim.agg(bloom_build(col("s_suppkey")).as("f"))
        .head.getAs[Array[Byte]](0)
      Tables.load(s, d, "lineitem")
        .select(col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
        .filter(bloom_probe(lit(fbytes), col("l_suppkey")))
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), sum("rev_u").as("rev_u"))
        .orderBy("s_nationkey")
    },

    // ── j12: the SKETCH-ADVISED join, oracle-proved semantics-free —
    // j9/j11's pattern applied to [[JoinAdvisor]] end-to-end: the
    // advisor MEASURES the key distribution (one mergeable-sketch pass
    // per side), picks the physical strategy, and [[JoinAdvisor
    // .execute]] maps it onto the operator it names; the DuckDB oracle
    // is the PLAIN join, so the hash gate proves the advised plan —
    // whatever the data made it choose — changes only physics. The
    // skew is engineered and scale-invariant (every even-orderkey line
    // collapses onto supplier 1 ⇒ hot share ≈ ½, mean ≈ rows/|supp|,
    // ratio ≈ |supp|/2 ≫ hotFactor at every SF), and the small side is
    // passed as LEFT so the probe/salt orientation is exercised on the
    // branch where build=left — the advisor must salt the RIGHT
    // (skewed fact) side and replicate the small supplier side, never
    // the reverse (the r9 scale-killer). PlanQualitySpec pins the
    // decision and the exploded side; this query pins the rows.
    "j12_advised_join" -> { (s, d) =>
      val supp = Tables.load(s, d, "supplier")
        .select(col("s_suppkey").as("sk"), col("s_nationkey"))
      val li = Tables.load(s, d, "lineitem")
        .select(
          when(col("l_orderkey") % 2 === 0, lit(1L))
            .otherwise(col("l_suppkey")).as("sk"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
      // force a measured (non-broadcast) decision at every SF: the
      // smallest supplier table is 10 rows (sf0.001) and its hot-key
      // ratio there is ~5.4× mean (½ of lineitem + its fair share on
      // 10 keys), so hotFactor=2 salts at sf0.001/0.01/0.1 alike.
      // Statistics come from the per-dataset ANALYZE sidecar
      // ([[StatsStore]]): the first run sketches each side once and
      // persists; every rerun serves the decision with ZERO stats
      // scans (fingerprint-guarded — appending to the data re-scans).
      // The skewed fact side is its own named relation: its join key
      // is a transform of l_suppkey, not l_suppkey.
      val store = StatsStore.forDir(s, d)
      val a = JoinAdvisor.adviseStored(store,
        supp, "j12_supp", "sk", li, "j12_li_skewed", "sk",
        broadcastRowLimit = 5L, hotFactor = 2L)
      JoinAdvisor.execute(supp, "sk", li, "sk", a)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), sum("rev_u").as("rev_u"))
        .orderBy("s_nationkey")
    },

    // ── j13: COST-BASED JOIN ORDERING from sketches — the second
    // advisor decision (j12 picks the physical operator; this picks
    // the TREE): |fact ⋈ dim| is CMS-inner-product-estimated per
    // dimension (e9's estimator as an input, not an artifact) and the
    // chain applies the most SELECTIVE join first — here PROMO parts
    // cut lineitem to a fraction before the all-matching supplier
    // join ever runs, so the second join's input is the small
    // intermediate, not the full fact table. Inner equi-joins
    // commute, so the DuckDB oracle is the plain fixed-order 3-way
    // join — the hash gate proves ordering is semantics-free while
    // JoinAdvisorSpec pins that the advised order IS selective-first
    // on the measured distribution.
    "j13_ordered_join" -> { (s, d) =>
      import JoinAdvisor.ChainDim
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
      val promo = Tables.load(s, d, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val supp = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
      // ordering statistics served from the same per-dataset ANALYZE
      // sidecar as j12: the fact-side CMS pair is built in ONE scan on
      // first run and reread (not rescanned) afterwards; the filtered
      // PROMO dim is its own named relation
      JoinAdvisor.executeChain(li, Seq(
        ChainDim("promo_part", "l_partkey", promo, "p_partkey"),
        ChainDim("supplier", "l_suppkey", supp, "s_suppkey")),
        store = StatsStore.forDir(s, d), factName = "lineitem")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), sum("rev_u").as("rev_u"))
        .orderBy("s_nationkey")
    },

    // ── j10: TPC-H Q8-flavored market share — the 7-table snowflake
    // join that exercises the full planner: per order year, the share
    // of PROMO-part revenue delivered to EUROPE customers by
    // ASIA-based suppliers. The scale shape: every dimension chain
    // (part filter, supplier→nation→region, customer→nation→region)
    // is a BROADCAST side — lineitem is scanned once and never
    // shuffles for them; the ONLY repartitioning is the
    // lineitem⨝orders equi-join on orderkey, which the groupBy(year)
    // then reduces map-side. Revenue stays in exact integer units
    // (cents × (100−disc), a7's spelling) so the share is an exact
    // basis-point DIV; ×10⁴ keeps it int64-safe to ~9·10¹⁴ revenue
    // units per year (~$90B of line revenue — DECIMAL(38,0) beyond).
    "j10_market_share" -> { (s, d) =>
      val nr = Tables.load(s, d, "nation")
        .join(Tables.load(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name"))
      val custEu = Tables.load(s, d, "customer")
        .select("c_custkey", "c_nationkey")
        .join(nr.filter(col("r_name") === "EUROPE"),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val promo = Tables.load(s, d, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val supR = Tables.load(s, d, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(nr, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region"))
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("yr"))
        .join(broadcast(custEu), col("o_custkey") === col("c_custkey"))
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supR), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("yr")
        .agg(count(lit(1)).as("n_items"),
          sum("rev_u").as("total_rev_u"),
          sum(when(col("supp_region") === "ASIA", col("rev_u"))
            .otherwise(0L)).as("asia_rev_u"))
        .withColumn("asia_share_bp", expr("asia_rev_u * 10000 DIV total_rev_u"))
        .orderBy("yr")
    },

    // ── J5: left-semi (EXISTS)
    "j5_semi_join" -> { (s, d) =>
      val customer = Tables.load(s, d, "customer")
      val bigOrders = Tables.load(s, d, "orders").filter(col("o_totalprice") > 400000)
      customer.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ── J6/U2: left-anti (NOT EXISTS; monitoring.ps1:392 `-notcontains`)
    "j6_anti_join" -> { (s, d) =>
      val customer = Tables.load(s, d, "customer")
      val orders = Tables.load(s, d, "orders")
      customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ── W1: top-1 per group by metric (monitoring.ps1:1121–1122).
    // Spelled as a hash aggregate (lexicographic struct MAX = spent
    // desc, custkey asc tie-break) rather than a row_number window:
    // a window partitioned by 10 buckets caps that stage's
    // parallelism at 10 and sorts every partition; the aggregate
    // keeps map-side partials and unbounded parallelism at any scale.
    "w1_top1_per_group" -> { (s, d) =>
      val orders = Tables.load(s, d, "orders")
      val spend = orders.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spent"))
      spend
        .withColumn("bucket", (col("o_custkey") % 10).cast("int"))
        .groupBy("bucket")
        .agg(max(struct(col("spent"),
          (-col("o_custkey")).as("neg_key"), col("o_custkey"))).as("top"))
        .select(col("bucket"), col("top.o_custkey").as("o_custkey"),
          col("top.spent").cast("double").as("spent"))
        .orderBy("bucket")
    },

    // ── W3: first-third vs last-third tiling (monitoring.ps1:1133–1139).
    // Tile assignment via [[globalNtile]] — SQL-ntile-identical output
    // with NO single-partition sort of the events table (the r6 scale
    // grade's last funnel): ranks come from a monotone bucketing +
    // per-bucket windows + a bounded offset cumsum.
    "w3_ntile_thirds" -> { (s, d) =>
      globalNtile(Tables.events(s, d), "event_id", 3)
        .groupBy("tile")
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .orderBy("tile")
    },

    // ── W4: trend delta = late-third avg − early-third avg (monitoring.ps1:1137–1142)
    "w4_trend_delta" -> { (s, d) =>
      val tiled = globalNtile(Tables.events(s, d), "event_id", 3)
      tiled.agg(
          (sum(when(col("tile") === 1, col("value")).cast("decimal(18,2)")).cast("double") /
            count(when(col("tile") === 1, lit(1)))).as("early_avg_raw"),
          (sum(when(col("tile") === 3, col("value")).cast("decimal(18,2)")).cast("double") /
            count(when(col("tile") === 3, lit(1)))).as("late_avg_raw"))
        .select(
          round(col("early_avg_raw"), 6).as("early_avg"),
          round(col("late_avg_raw"), 6).as("late_avg"),
          round(col("late_avg_raw") - col("early_avg_raw"), 6).as("delta"))
    },

    // ── W5: ordered top-k LIMIT pushdown
    "w5_topk_orders" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // ── W6: every-Nth sampling (insert.ps1:319 `% 5 == 0`)
    "w6_mod_sampling" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") % 100 === 0)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    },

    // ── U1: union of two sources (monitoring.ps1:64–69)
    "u1_union" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
      val errors = ev.filter(col("event_type") === "error")
      clicks.unionByName(errors)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    },

    // ── U2: multi-column dedup (dropDuplicates)
    "u2_distinct_pairs" -> { (s, d) =>
      Tables.load(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .dropDuplicates("l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ── U3/U4: INTERSECT / EXCEPT — the remaining ANSI set ops.
    // Spark plans both as aggregate + join on the full row (hash
    // semi/anti with dedup) — one shuffle each, same scale shape as
    // any distinct. Users active in BOTH purchase and error events,
    // and purchase-active users with NO error events.
    "u3_intersect" -> { (s, d) =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
    "u4_except" -> { (s, d) =>
      // high-value errors only, so the subtracted set is a strict
      // subset of users and the difference is non-empty — a 0-row
      // result would make the oracle check vacuous
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .except(ev.filter(col("event_type") === "error" && col("value") > lit(90.0))
          .select("user_id"))
        .orderBy("user_id")
    },

    // ── U5/U6: the ALL (multiset) variants — per-user row
    // multiplicities survive: INTERSECT ALL keeps min(n_a, n_b)
    // copies, EXCEPT ALL keeps n_a − n_b. Spark plans both as a
    // count-compare aggregate join (one shuffle), not row-matching.
    "u5_intersect_all" -> { (s, d) =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersectAll(ev.filter(col("event_type") === "view").select("user_id"))
        .orderBy("user_id")
    },
    "u6_except_all" -> { (s, d) =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .exceptAll(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },

    // ── F3: string function suite (monitoring.ps1:524, insert.ps1:98)
    "f3_strings" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 100)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("seg_nat"),
          regexp_replace(col("c_name"), "[aeiou]", "").as("novowels"),
          length(col("c_name")).as("name_len"))
        .orderBy("c_custkey")
    },

    // ── F4: date/time bucketing + arithmetic (insert.ps1:275, monitoring.ps1:439)
    "f4_date_buckets" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("month")
    },

    // ── F5: math suite — ceil/abs/unit-ladder (monitoring.ps1:544–549)
    "f5_math" -> { (s, d) =>
      Tables.load(s, d, "part")
        .filter(col("p_partkey") <= 200)
        .select(
          col("p_partkey"),
          ceil(col("p_retailprice")).cast("long").as("price_ceil"),
          abs(col("p_size") - 25).as("size_dist"),
          (col("p_retailprice") * 2).as("price_x2"),
          when(col("p_retailprice") >= 1500, "high")
            .when(col("p_retailprice") >= 1000, "mid")
            .otherwise("low").as("price_band"))
        .orderBy("p_partkey")
    },

    // ── F6: health-band classification (monitoring.ps1:807–808)
    "f6_health_bands" -> { (s, d) =>
      // same exact-integer pct pattern as a7_ratio_pct
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") > 100, 1L).otherwise(0L)).as("n_high"))
        .withColumn("pct10", expr("(2000 * n_high + n) div (2 * n)"))
        .withColumn("pct_high", col("pct10").cast("double") / 10)
        .withColumn("health",
          when(col("pct10") >= 800, "green")
            .when(col("pct10") >= 500, "yellow")
            .otherwise("red"))
        .drop("pct10")
        .orderBy("event_type")
    },

    // ── F2: pg_size_pretty parity via the custom Catalyst Expression
    //    graft.functions.FormatBytes (monitoring.ps1:515–516; codegen'd,
    //    exact integer rounding — no floats). Cents totals stand in for
    //    byte sizes and hit the B/KiB/MiB/GiB branches.
    "f2_format_bytes" -> { (s, d) =>
      import graft.functions.FormatBytes.format_bytes
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          max(round(col("o_totalprice") * 100).cast("long")).as("max_cents"))
        .select(
          col("o_orderpriority"),
          format_bytes(col("n")).as("n_fmt"),
          format_bytes(col("cents")).as("total_fmt"),
          format_bytes(col("max_cents")).as("max_fmt"))
        .orderBy("o_orderpriority")
    },

    // ── F9: null handling / coalesce-with-default (insert.ps1:151–153)
    "f9_null_default" -> { (s, d) =>
      val nation = Tables.load(s, d, "nation")
      val supCounts = Tables.load(s, d, "supplier")
        .groupBy("s_nationkey").agg(count(lit(1)).as("cnt"))
      nation.join(supCounts, col("n_nationkey") === col("s_nationkey"), "left")
        .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_suppliers"))
        .orderBy("n_name")
    },

    // ── F11: extended string suite — split_part / translate / repeat /
    // reverse / left / right / instr / ascii. All codegen'd built-ins;
    // names differ per engine (instr↔strpos) but semantics align.
    "f11_strings2" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"),
          expr("split_part(c_name, '#', 2)").as("key_part"),
          translate(col("c_name"), "Cust", "Kost").as("translated"),
          expr("repeat(left(c_mktsegment, 2), 3)").as("rep2"),
          reverse(col("c_mktsegment")).as("rev"),
          expr("right(c_name, 4)").as("tail4"),
          instr(col("c_mktsegment"), "IL").as("pos_il"),
          ascii(col("c_mktsegment")).as("first_cp"))
        .orderBy("c_custkey")
    },

    // ── F12: extended date suite — month-end / quarter / day-of-year /
    // ISO week / day-of-week / calendar-clamped add_months (Jan 31 + 1
    // month = Feb 29 in both engines).
    "f12_dates2" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"),
          last_day(col("o_orderdate")).as("eom"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofyear(col("o_orderdate")).as("doy"),
          weekofyear(col("o_orderdate")).as("woy"),
          dayofweek(col("o_orderdate")).as("dow"),
          add_months(col("o_orderdate"), 1).as("next_m"))
        .orderBy("o_orderkey")
    },

    // ── F10: bitwise function suite (AND/OR/XOR/shifts/popcount) —
    // integer-exact in any engine, codegen'd column expressions.
    "f10_bitwise" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 200)
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(255L)).as("lo8"),
          col("event_id").bitwiseXOR(col("user_id")).as("xored"),
          col("event_id").bitwiseOR(lit(4096L)).as("ored"),
          expr("shiftleft(event_id, 3)").as("shl3"),
          expr("shiftright(user_id, 2)").as("shr2"),
          expr("CAST(bit_count(event_id) AS INT)").as("nbits"))
        .orderBy("event_id")
    },

    // ── F13: higher-order array function suite — size/indexing/
    // membership/position, lambda filter, in-row sort+distinct+slice.
    // All per-row expressions: no shuffle beyond the final
    // presentation sort, array work never leaves the row.
    "f13_arrays" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("toks", graft.functions.HashExprs.tokenize(col("text")))
        .select(col("doc_id"),
          size(col("toks")).as("n"),
          element_at(col("toks"), 1).as("first_tok"),
          element_at(col("toks"), -1).as("last_tok"),
          array_contains(col("toks"), "the").as("has_the"),
          expr("array_position(toks, 'the')").as("pos_the"),
          expr("array_join(slice(sort_array(array_distinct(toks)), 1, 3), ',')")
            .as("top3_sorted"),
          expr("size(filter(array('the','a','of'), w -> array_contains(toks, w)))")
            .as("n_stop_kinds"))
        .orderBy("doc_id")
    }
  )

  /** The reference's signature lag/sync analytics (monitoring.ps1
    * §"REPLICATION LAG ANALYSIS", lines 576–637): per-group source vs
    * target row counts, full-outer joined, classified with the exact
    * reference thresholds (SYNCED=0, NEAR_SYNC ≤5 rows, efficiency
    * bands 95/80). Target is simulated as the orders table cut off at
    * `cutoff` (a lagging snapshot). */
  private def lagReport(s: SparkSession, d: String, cutoff: String): DataFrame = {
    val orders = Tables.load(s, d, "orders")
    val src = orders.groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("src_rows"))
    val tgt = orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("tgt_rows_raw"))
    src.join(tgt, Seq("grp"), "full_outer")
      .select(
        col("grp").as("o_orderstatus"),
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("tgt_rows_raw"), lit(0L)).as("tgt_rows"))
      .withColumn("lag", col("src_rows") - col("tgt_rows"))
      .withColumn("sync_status",
        when(col("lag") === 0, "SYNCED")
          .when(abs(col("lag")) <= 5, "NEAR_SYNC")
          .otherwise("LAG"))
      .withColumn("efficiency_pct",
        round(lit(100.0) * col("tgt_rows") / col("src_rows"), 1))
      .withColumn("efficiency_band",
        when(col("efficiency_pct") >= 95, "near real-time")
          .when(col("efficiency_pct") >= 80, "acceptable")
          .otherwise("significant lag"))
      .orderBy("o_orderstatus")
  }

  def oracles: Map[String, String] = Map(
    "s1_scan_project" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    "p2_filter_eq" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey",
    "p3_filter_like" ->
      "SELECT p_partkey, p_type, p_size FROM part WHERE p_type LIKE '%ECO%' AND p_size >= 10 ORDER BY p_partkey",
    "p4_regex_extract" ->
      "SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY k",
    "p5_const_probe" ->
      "SELECT 1 AS ok",
    "p6_empty_fallback" ->
      "SELECT DISTINCT o_custkey AS id FROM orders ORDER BY id",
    "a1_count_star" ->
      "SELECT COUNT(*) AS n FROM lineitem",
    "a2_next_key" ->
      "SELECT COALESCE(CAST(MAX(o_orderkey) + 1 AS BIGINT), 1) AS next_id FROM orders",
    "a3_group_count" ->
      "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY o_orderpriority",
    "a4_distinct_limit" ->
      "SELECT DISTINCT c_nationkey FROM customer ORDER BY c_nationkey LIMIT 10",
    "a5_latency_stats" ->
      """SELECT l_returnflag, MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_q,
         COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "a6_rollup_totals" ->
      """SELECT n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
         COUNT(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP(n_name) ORDER BY n_name NULLS FIRST""",
    "a7_ratio_pct" ->
      """WITH agg AS (
           SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc
           FROM lineitem GROUP BY 1),
         p AS (
           SELECT *, CAST((2000 * n_disc + n) // (2 * n) AS BIGINT) AS pct10 FROM agg)
         SELECT l_returnflag, n, n_disc,
           CAST(pct10 AS DOUBLE) / 10 AS pct,
           CASE WHEN pct10 >= 950 THEN 'near real-time'
                WHEN pct10 >= 800 THEN 'acceptable'
                ELSE 'significant lag' END AS band
         FROM p ORDER BY l_returnflag""",
    "a8_throughput" ->
      """SELECT COUNT(*) AS n_events,
         MAX(epoch_ns(ts) // 1000000000) - MIN(epoch_ns(ts) // 1000000000) AS duration_s,
         ROUND(COUNT(*) / (MAX(epoch_ns(ts) // 1000000000) - MIN(epoch_ns(ts) // 1000000000)), 4) AS events_per_s
         FROM events""",
    "j1_cross_join" ->
      """SELECT r_name, max_orderkey FROM region
         CROSS JOIN (SELECT MAX(o_orderkey) AS max_orderkey FROM orders) ORDER BY r_name""",
    "j2_lag_sync_report" -> lagOracle("1998-01-01"),
    "j2_lag_synced" -> lagOracle("2002-01-01"),
    "j3_fk_broadcast_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    // the PLAIN three-way join — hash-matching it proves the salted
    // physical plan is semantics-free
    "j9_salted_agg" ->
      """SELECT n_name,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1 ORDER BY n_name""",

    // the PLAIN join — no bloom: the hash match IS the proof the
    // pre-filter is semantics-free (no-false-negatives contract)
    "j11_bloom_pruned_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS rev_u
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_acctbal > 5000.0
         GROUP BY 1 ORDER BY s_nationkey""",

    // the PLAIN join over the engineered-skew key — hash-matching it
    // proves whatever strategy the advisor measured its way to
    // (salted, here) is semantics-free
    "j12_advised_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS rev_u
         FROM lineitem JOIN supplier
           ON s_suppkey = (CASE WHEN l_orderkey % 2 = 0 THEN 1
                                ELSE l_suppkey END)
         GROUP BY 1 ORDER BY s_nationkey""",

    // the PLAIN fixed-order 3-way join — inner equi-joins commute, so
    // hash-matching proves the sketch-advised ordering changes only
    // intermediate sizes, never rows
    "j13_ordered_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS rev_u
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY s_nationkey""",

    "j10_market_share" ->
      """WITH nr AS (
           SELECT n_nationkey, r_name
           FROM nation JOIN region ON n_regionkey = r_regionkey),
         eu AS (
           SELECT c_custkey FROM customer
           JOIN nr ON c_nationkey = n_nationkey WHERE r_name = 'EUROPE'),
         promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
         sup AS (
           SELECT s_suppkey, r_name AS supp_region
           FROM supplier JOIN nr ON s_nationkey = n_nationkey),
         f AS (
           SELECT CAST(year(o_orderdate) AS INT) AS yr, supp_region,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
           FROM lineitem
           JOIN promo ON l_partkey = p_partkey
           JOIN sup ON l_suppkey = s_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN eu ON o_custkey = c_custkey)
         SELECT yr, COUNT(*) AS n_items,
           CAST(SUM(rev_u) AS BIGINT) AS total_rev_u,
           CAST(SUM(CASE WHEN supp_region = 'ASIA' THEN rev_u ELSE 0 END)
             AS BIGINT) AS asia_rev_u,
           CAST(SUM(CASE WHEN supp_region = 'ASIA' THEN rev_u ELSE 0 END)
             AS BIGINT) * 10000 // CAST(SUM(rev_u) AS BIGINT) AS asia_share_bp
         FROM f GROUP BY yr ORDER BY yr""",
    "j4_revenue_per_nation" ->
      """SELECT n_name,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY n_name""",
    "j5_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey""",
    "j6_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "w1_top1_per_group" ->
      """SELECT CAST(o_custkey % 10 AS INT) AS bucket, o_custkey, CAST(spent AS DOUBLE) AS spent FROM (
           SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent
           FROM orders GROUP BY 1)
         QUALIFY row_number() OVER (PARTITION BY o_custkey % 10 ORDER BY spent DESC, o_custkey ASC) = 1
         ORDER BY bucket""",
    "w3_ntile_thirds" ->
      """SELECT tile, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value FROM (
           SELECT value, ntile(3) OVER (ORDER BY event_id) AS tile FROM events)
         GROUP BY 1 ORDER BY tile""",
    "w4_trend_delta" ->
      """WITH tiled AS (SELECT value, ntile(3) OVER (ORDER BY event_id) AS tile FROM events),
         s AS (SELECT
           CAST(SUM(CASE WHEN tile = 1 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / COUNT(CASE WHEN tile = 1 THEN 1 END) AS early_raw,
           CAST(SUM(CASE WHEN tile = 3 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / COUNT(CASE WHEN tile = 3 THEN 1 END) AS late_raw
         FROM tiled)
         SELECT ROUND(early_raw, 6) AS early_avg, ROUND(late_raw, 6) AS late_avg,
                ROUND(late_raw - early_raw, 6) AS delta FROM s""",
    "w5_topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    "w6_mod_sampling" ->
      "SELECT event_id, event_type, value FROM events WHERE event_id % 100 = 0 ORDER BY event_id",
    "u1_union" ->
      """SELECT event_id, event_type, value FROM (
           SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT event_id, event_type, value FROM events WHERE event_type = 'error')
         ORDER BY event_id""",
    "u2_distinct_pairs" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",
    "u3_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "u4_except" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error' AND value > 90.0
         ORDER BY user_id""",
    "u5_intersect_all" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT ALL
         SELECT user_id FROM events WHERE event_type = 'view'
         ORDER BY user_id""",
    "u6_except_all" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT ALL
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "f3_strings" ->
      """SELECT c_custkey, UPPER(c_name) AS uname,
         LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
         CONCAT_WS('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat,
         REGEXP_REPLACE(c_name, '[aeiou]', '', 'g') AS novowels,
         LENGTH(c_name) AS name_len
         FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""",
    "f4_date_buckets" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1 ORDER BY month""",
    "f5_math" ->
      """SELECT p_partkey, CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
         ABS(p_size - 25) AS size_dist, p_retailprice * 2 AS price_x2,
         CASE WHEN p_retailprice >= 1500 THEN 'high'
              WHEN p_retailprice >= 1000 THEN 'mid' ELSE 'low' END AS price_band
         FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""",
    "f6_health_bands" ->
      """WITH agg AS (
           SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
           FROM events GROUP BY 1),
         p AS (
           SELECT *, CAST((2000 * n_high + n) // (2 * n) AS BIGINT) AS pct10 FROM agg)
         SELECT event_type, n, n_high,
           CAST(pct10 AS DOUBLE) / 10 AS pct_high,
           CASE WHEN pct10 >= 800 THEN 'green'
                WHEN pct10 >= 500 THEN 'yellow'
                ELSE 'red' END AS health
         FROM p ORDER BY event_type""",
    "f2_format_bytes" -> {
      def fmt(c: String): String =
        s"""CASE WHEN $c < 1024 THEN CAST($c AS VARCHAR) || ' B'
            WHEN $c < 1048576 THEN
              CAST((($c * 10 + 512) // 1024) // 10 AS VARCHAR) || '.' ||
              CAST((($c * 10 + 512) // 1024) % 10 AS VARCHAR) || ' KiB'
            WHEN $c < 1073741824 THEN
              CAST((($c * 10 + 524288) // 1048576) // 10 AS VARCHAR) || '.' ||
              CAST((($c * 10 + 524288) // 1048576) % 10 AS VARCHAR) || ' MiB'
            ELSE
              CAST((($c * 10 + 536870912) // 1073741824) // 10 AS VARCHAR) || '.' ||
              CAST((($c * 10 + 536870912) // 1073741824) % 10 AS VARCHAR) || ' GiB'
            END"""
      s"""WITH t AS (
            SELECT o_orderpriority, COUNT(*) AS n,
              SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
              MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS max_cents
            FROM orders GROUP BY 1)
          SELECT o_orderpriority,
            ${fmt("n")} AS n_fmt,
            ${fmt("cents")} AS total_fmt,
            ${fmt("max_cents")} AS max_fmt
          FROM t ORDER BY o_orderpriority"""
    },
    "f9_null_default" ->
      """SELECT n_name, COALESCE(cnt, 0) AS n_suppliers FROM nation
         LEFT JOIN (SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY 1) sc
           ON n_nationkey = s_nationkey
         ORDER BY n_name""",
    "f11_strings2" ->
      """SELECT c_custkey,
           split_part(c_name, '#', 2) AS key_part,
           translate(c_name, 'Cust', 'Kost') AS translated,
           repeat(left(c_mktsegment, 2), 3) AS rep2,
           reverse(c_mktsegment) AS rev,
           right(c_name, 4) AS tail4,
           CAST(strpos(c_mktsegment, 'IL') AS INT) AS pos_il,
           CAST(ascii(c_mktsegment) AS INT) AS first_cp
         FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""",
    "f12_dates2" ->
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(weekofyear(o_orderdate) AS INT) AS woy,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_m
         FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""",
    "f10_bitwise" ->
      """SELECT event_id, event_id & 255 AS lo8, xor(event_id, user_id) AS xored,
           event_id | 4096 AS ored, event_id << 3 AS shl3, user_id >> 2 AS shr2,
           CAST(bit_count(event_id) AS INT) AS nbits
         FROM events WHERE event_id < 200 ORDER BY event_id""",
    // Spark's array_position returns 0 for a missing element; DuckDB's
    // list_position returns NULL — coalesce to align
    "f13_arrays" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id,
           len(toks) AS n,
           toks[1] AS first_tok,
           toks[-1] AS last_tok,
           list_contains(toks, 'the') AS has_the,
           CAST(COALESCE(list_position(toks, 'the'), 0) AS BIGINT) AS pos_the,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS top3_sorted,
           CAST(len(list_filter(['the','a','of'], w -> list_contains(toks, w))) AS INT)
             AS n_stop_kinds
         FROM t ORDER BY doc_id"""
  )

  private def lagOracle(cutoff: String): String =
    s"""WITH src AS (SELECT o_orderstatus AS grp, COUNT(*) AS src_rows FROM orders GROUP BY 1),
        tgt AS (SELECT o_orderstatus AS grp, COUNT(*) AS tgt_rows_raw FROM orders
                WHERE o_orderdate < TIMESTAMP '$cutoff' GROUP BY 1),
        j AS (SELECT COALESCE(src.grp, tgt.grp) AS o_orderstatus,
                     COALESCE(src_rows, 0) AS src_rows,
                     COALESCE(tgt_rows_raw, 0) AS tgt_rows
              FROM src FULL OUTER JOIN tgt ON src.grp = tgt.grp)
        SELECT o_orderstatus, src_rows, tgt_rows,
               src_rows - tgt_rows AS lag,
               CASE WHEN src_rows - tgt_rows = 0 THEN 'SYNCED'
                    WHEN ABS(src_rows - tgt_rows) <= 5 THEN 'NEAR_SYNC'
                    ELSE 'LAG' END AS sync_status,
               ROUND(100.0 * tgt_rows / src_rows, 1) AS efficiency_pct,
               CASE WHEN ROUND(100.0 * tgt_rows / src_rows, 1) >= 95 THEN 'near real-time'
                    WHEN ROUND(100.0 * tgt_rows / src_rows, 1) >= 80 THEN 'acceptable'
                    ELSE 'significant lag' END AS efficiency_band
        FROM j ORDER BY o_orderstatus"""
}
