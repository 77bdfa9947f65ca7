package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Classic analytics shapes rounding out the SQL surface: HAVING,
  * scalar subqueries, UNION DISTINCT, PIVOT, the full TPC-H-Q1-style
  * multi-aggregate, grouped top-k. All decimal/integer-exact where
  * aggregation order could otherwise leak in. */
object AnalyticsQueries {

  /** a14's moment formulas over the power sums (n, s1..s4) — ONE
    * definition pasted verbatim into BOTH engines, so each computes
    * the identical IEEE operation sequence. Only +,-,*,/ and sqrt
    * (all correctly-rounded per IEEE 754) — no pow()/exp()/ln(),
    * whose last-ulp behavior is libm-specific. */
  private[operators] object MomentSql {
    val mean = "(CAST(s1 AS DOUBLE) / n)"
    val m2 = s"(CAST(s2 AS DOUBLE) / n - $mean * $mean)"
    private val m3 =
      s"(CAST(s3 AS DOUBLE) / n - 3 * $mean * (CAST(s2 AS DOUBLE) / n) + 2 * $mean * $mean * $mean)"
    private val m4 =
      s"(CAST(s4 AS DOUBLE) / n - 4 * $mean * (CAST(s3 AS DOUBLE) / n) + 6 * $mean * $mean * (CAST(s2 AS DOUBLE) / n) - 3 * $mean * $mean * $mean * $mean)"
    val projections: Seq[String] = Seq(
      s"ROUND($mean, 4) AS mean_qty",
      s"ROUND($m2, 4) AS var_qty",
      s"ROUND($m3 / ($m2 * sqrt($m2)), 4) AS skew_qty",
      s"ROUND($m4 / ($m2 * $m2) - 3, 4) AS kurt_qty")
    val finalCols: Seq[String] = Seq("flag", "n") ++ projections
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HAVING: post-aggregation filter
    "x1_having" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
        .filter(col("n") >= 70)
        .orderBy("c_nationkey")
    },

    // scalar subquery in a predicate: orders above the global mean
    "x2_scalar_subquery" -> { (s, d) =>
      Tables.load(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_totalprice > (
                 SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                 FROM orders) * 1.5
               ORDER BY o_orderkey""")
    },

    // UNION DISTINCT (set union, not bag)
    "x3_union_distinct" -> { (s, d) =>
      val o = Tables.load(s, d, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .union(o.filter(col("o_totalprice") > 400000).select("o_custkey"))
        .distinct()
        .orderBy("o_custkey")
    },

    // PIVOT: order counts per priority × status
    "x4_pivot" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    },

    // full TPC-H-Q1-style multi-aggregate with exact integer-cents
    // arithmetic (charge = price*(1-disc)*(1+tax) in 1e-6 units)
    "x5_pricing_summary" -> { (s, d) =>
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val disc = round(col("l_discount") * 100).cast("long")
      val tax = round(col("l_tax") * 100).cast("long")
      Tables.load(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          (sum((cents * (lit(100L) - disc)).cast("decimal(38,0)")) / 10000.0).as("sum_disc_price"),
          (sum((cents * (lit(100L) - disc) * (lit(100L) + tax)).cast("decimal(38,0)")) / 1000000.0)
            .as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // CUBE: all grouping-set combinations (A6's rollup, completed)
    "x7_cube" -> { (s, d) =>
      Tables.load(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
               FROM lineitem
               GROUP BY CUBE(l_returnflag, l_linestatus)
               ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    },

    // stddev/corr via exact integer moments: the aggregation itself is
    // order-independent (integer/decimal sums); the floating formula
    // runs once on exact inputs → deterministic at any parallelism
    "x8_corr_stats" -> { (s, d) =>
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(qc).as("sq"),
          sum(pc).as("sp"),
          sum((qc * qc).cast("decimal(38,0)")).as("sqq"),
          sum((pc * pc).cast("decimal(38,0)")).as("spp"),
          sum((qc * pc).cast("decimal(38,0)")).as("sqp"))
        .select(
          col("l_returnflag"), col("n"),
          round(col("sq").cast("double") / col("n") / 100.0, 6).as("mean_qty"),
          round(sqrt((col("sqq").cast("double") * col("n") - col("sq").cast("double") * col("sq").cast("double"))
            / (col("n").cast("double") * (col("n") - 1))) / 100.0, 6).as("stddev_qty"),
          round(((col("sqp").cast("double") * col("n") - col("sq").cast("double") * col("sp").cast("double"))
            / sqrt((col("sqq").cast("double") * col("n") - col("sq").cast("double") * col("sq").cast("double"))
              * (col("spp").cast("double") * col("n") - col("sp").cast("double") * col("sp").cast("double")))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // grouped top-k with deterministic tie-break: 20 most frequent
    // tokens over the corpus
    "x6_top_tokens" -> { (s, d) =>
      Tables.load(s, d, "documents")
        .select(explode(expr("filter(split(text, '\\\\s+'), x -> x != '')")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    },

    // explicit GROUPING SETS with grouping() disambiguation — the
    // general form behind ROLLUP (a6) and CUBE (x7): one pass, partial
    // aggregates expanded per set, grouping flags distinguish a real
    // NULL key from a subtotal row
    "x9_grouping_sets" -> { (s, d) =>
      Tables.load(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                 CAST(grouping(o_orderstatus) AS INT) AS g_status,
                 CAST(grouping(o_orderpriority) AS INT) AS g_prio
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
               ORDER BY g_status ASC, g_prio ASC,
                 o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    },

    // LATERAL correlated subquery — per-outer-row top-N, the SQL shape
    // ORMs and hand-written reports lean on. Catalyst decorrelates it
    // into a ranked window join (no per-row re-execution), so the
    // plan scales like w1/w8, not like N subquery runs.
    // ── x11/x12: semi-structured JSON column processing — extract a
    // typed field from the `props` JSON payload, then aggregate on it
    // / filter by it. `get_json_object` is a codegen'd built-in (no
    // UDF); at scale the extraction runs inside the scan's projection
    // and the derived predicate still benefits from partial
    // aggregation. Integer-only aggregates keep the oracle exact.
    "x11_json_agg" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    },
    "x12_json_filter" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k") >= 95 && col("event_type") === "purchase")
        .select("event_id", "user_id", "k")
        .orderBy("event_id")
    },

    // ── a10: fixed-width histogram binning (floor-division bins) —
    // the one-pass shape for value-distribution profiling; bins are
    // integer-exact in both engines.
    "a10_value_histogram" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("bin", floor(col("value") / 50).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
        .orderBy("bin")
    },

    // ── a17: Pareto / ABC classification — "which parts make 80 % of
    // revenue", the warehouse-classification read of a global
    // cumulative share. The scale problem is the global running sum
    // in revenue order: the textbook window (`SUM OVER (ORDER BY
    // cents DESC)`) funnels every part through ONE task. Here it goes
    // through [[Ranks.globalCumSum]] — monotone bucketing + parallel
    // per-bucket prefix sums + a ≤ buckets² offset join — so no
    // unpartitioned window touches data that grows with the corpus
    // (the oracle keeps the textbook window spelling: physical
    // optimization, not semantic). Class boundaries use the PREVIOUS
    // cumulative share (strictly-before mass), all in integer basis
    // points; the descending order key is the unique composite
    // `part_id − cents·10⁹` (cents desc, part asc), valid while BOTH
    // part_id < 10⁹ AND any single part's revenue < ~9.2·10⁹ cents
    // (~$92M — `cents·10⁹` wraps int64 past that and silently
    // mis-orders rows). Overflow: cum·10⁴ stays in int64 below
    // ~9·10¹⁴ total cents; a corpus-scale run widens BOTH the order
    // key and the share math to DECIMAL(38,0) (x5's pattern).
    "a17_pareto_abc" -> { (s, d) =>
      val rev = Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey").as("part_id"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      val keyed = rev.withColumn("_ok",
        col("part_id") - col("cents") * lit(1000000000L))
      val tot = rev.agg(sum("cents").as("total"))
      Ranks.globalCumSum(keyed, "_ok", "cents", "cum")
        .crossJoin(broadcast(tot))
        .withColumn("prev_bp", expr("(cum - cents) * 10000 div total"))
        .withColumn("abc_class",
          when(col("prev_bp") < 8000, "A")
            .when(col("prev_bp") < 9500, "B").otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"), sum("cents").as("revenue_cents"),
          first("total").as("total"))
        .withColumn("share_bp", expr("revenue_cents * 10000 div total"))
        .select("abc_class", "n_parts", "revenue_cents", "share_bp")
        .orderBy("abc_class")
    },

    // ── a18: fixed-threshold CDF report — the empirical distribution
    // function read at ten pinned price points, as conditional counts
    // in ONE aggregate pass (the inverse read of a15's equi-depth
    // histogram: there the buckets move and the mass is fixed, here
    // the thresholds are fixed and the mass moves). Shares in integer
    // basis points. This is the scale-perfect distribution report:
    // no sort, no window, no second pass — a single map-side-combined
    // aggregate whatever the corpus size.
    "a18_cdf_report" -> { (s, d) =>
      val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
      val thresholds = (1 to 10).map(_ * 5000000L) // 50k..500k dollars in cents
      val aggs = count(lit(1)).as("n") +:
        thresholds.zipWithIndex.map { case (t, i) =>
          count(when(cents <= t, lit(1))).as(s"c$i")
        }
      val wide = Tables.load(s, d, "orders").agg(aggs.head, aggs.tail: _*)
      val stackArgs = thresholds.zipWithIndex
        .map { case (t, i) => s"${t}L, c$i, (2 * c$i * 10000 + n) div (2 * n)" }
        .mkString(", ")
      wide.selectExpr(
        s"stack(${thresholds.length}, $stackArgs)" +
          " AS (threshold_cents, n_below, share_bp)")
        .orderBy("threshold_cents")
    },

    // ── a19: multi-column equi-depth feature binning — the ML
    // featurization pass every tabular/feature pipeline runs before
    // training: exact quartile bin edges for SEVERAL numeric columns
    // at once. `stack` unpivots columns into (feature, value) groups,
    // so k columns cost ONE grouped two-pass selection
    // ([[Ranks.groupQuantilesDisc]]) instead of k ordered-set
    // aggregates each buffering a whole column — and every window in
    // the plan stays bucket-bounded whatever the column count or
    // corpus size. Values integerized per column (units/cents/basis
    // points); k/4 fractions are exact binary, so the ⌈p·n⌉ ranks
    // agree across engines (the octile determinism rule).
    "a19_feature_bins" -> { (s, d) =>
      val unpivoted = Tables.load(s, d, "lineitem")
        .selectExpr(
          """stack(4,
               'discount_bp', CAST(round(l_discount * 10000) AS BIGINT),
               'extendedprice_cents', CAST(round(l_extendedprice * 100) AS BIGINT),
               'quantity_units', CAST(l_quantity AS BIGINT),
               'tax_bp', CAST(round(l_tax * 10000) AS BIGINT)
             ) AS (feature, v)""")
      Ranks.groupQuantilesDisc(unpivoted, Seq("feature"), "v", None,
          ps = Seq((1, 4), (2, 4), (3, 4)))
        .select(col("feature"),
          (col("_p_idx") + 1).cast("int").as("quartile"),
          col("v").as("edge"))
        .orderBy("feature", "quartile")
    },

    // ── a16: weighted median — the order statistic that answers
    // "what price does the MEDIAN UNIT ship at" (each row weighted by
    // its quantity), which the plain median cannot.
    "a16_weighted_median" -> { (s, d) =>
      // [[Ranks.groupQuantilesDisc]] with the quantity weight: the
      // weighted rank target ⌈W/2⌉ is exactly the old 2·cumw ≥ totw
      // crossing, but the per-flag running sum no longer sorts a
      // whole flag's value cells in one window partition (values are
      // near-unique here, so "cells" ≈ rows — the r7 spelling's
      // #flags-way parallelism was the hidden funnel): cumulative
      // weights run over ≤ 1024 histogram rows per flag and the
      // selection window over one bucket's rows. All exact integers —
      // bit-stable at any parallelism, same output as before.
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"))
      Ranks.groupQuantilesDisc(li, Seq("flag"), "cents", Some("qty"),
          ps = Seq((1, 2)))
        .select(col("flag"), col("cents").as("wmedian_cents"),
          col("_w_total").as("total_qty"))
        .orderBy("flag")
    },

    // ── a15: equi-DEPTH histogram — a10's complement and the shape
    // query optimizers and data profilers actually want (equal mass
    // per bucket, not equal width). (1) all seven OCTILE boundaries
    // come from the bucketed two-pass exact selection
    // ([[Ranks.groupQuantilesDisc]] — order statistics at ⌈k·n/8⌉
    // ranks, never interpolated doubles; k/8 fractions are exact
    // binary, so the rank can never straddle an integer boundary
    // differently across engines — k/10 deciles could), collapsed to
    // one broadcast row; (2) one scan assigns bucket = #boundaries
    // strictly below the value (seven codegen'd comparisons, no sort,
    // no window) and hash-aggregates count/lo/hi per bucket. No task
    // anywhere buffers the column: the octile pass is histogram +
    // bucket-local selection, exact at any scale — approx_percentile
    // (mergeable t-digest) remains the cheaper swap when ±ε rank
    // error is acceptable.
    "a15_equidepth_hist" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      // octile bounds via [[Ranks.groupQuantilesDisc]] — the r7
      // spelling's single percentile_disc call still buffered and
      // sorted the WHOLE column inside one task (the global group IS
      // the few-large-groups worst case); the two-pass selection keeps
      // every window bucket-bounded and the same k/8 exact-binary
      // ranks, so the bounds are bit-identical
      val qrows = Ranks.groupQuantilesDisc(li, Seq.empty, "cents", None,
        ps = (1 to 7).map(k => (k, 8)))
      val bAggs = (1 to 7).map(k =>
        max(when(col("_p_idx") === k - 1, col("cents"))).as(s"b$k"))
      val bounds = qrows.agg(bAggs.head, bAggs.tail: _*)
      val bucket = (1 to 7)
        .map(k => when(col("cents") > col(s"b$k"), 1).otherwise(0))
        .reduce(_ + _)
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("cents").as("lo_cents"), max("cents").as("hi_cents"))
        .orderBy("bucket")
    },

    // ── x14: grouped collect — per-group ordered value list surfaced
    // as a delimited string (cross-engine list representations differ;
    // the joined string compares exactly). collect_list order is
    // nondeterministic, so sort_array supplies the total order.
    "x14_collect_sorted" -> { (s, d) =>
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 200)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          array_join(sort_array(collect_list(col("c_custkey").cast("string"))), ",")
            .as("keys_csv"))
        .orderBy("c_nationkey")
    },

    // ── x13: correlated EXISTS / NOT EXISTS — Catalyst rewrites both
    // into semi/anti hash joins (never per-row re-execution), same
    // ANSI text runs on the oracle.
    "x13_exists" -> { (s, d) =>
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      Tables.load(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 450000)
                 AND NOT EXISTS (SELECT 1 FROM orders o2
                                 WHERE o2.o_custkey = c.c_custkey
                                   AND o2.o_totalprice < 5000)
               ORDER BY c_custkey""")
    },

    "x10_lateral_topn" -> { (s, d) =>
      Tables.load(s, d, "nation").createOrReplaceTempView("nation")
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      s.sql("""SELECT n_name, c_custkey, c_acctbal
               FROM nation, LATERAL (
                 SELECT c_custkey, c_acctbal FROM customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) AS t
               ORDER BY n_name, c_acctbal DESC, c_custkey""")
    },

    // the full SQL ranking-function family in one window: rank /
    // dense_rank / percent_rank / cume_dist / ntile. All are exact
    // rational functions of rank positions — deterministic with a
    // unique total order (acctbal, custkey tiebreak)
    "w8_rank_family" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.load(s, d, "customer")
        .filter(col("c_nationkey") < 3)
        .select(col("c_nationkey"), col("c_custkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"),
          ntile(4).over(w).as("quartile"))
        .orderBy("c_nationkey", "rnk")
    },

    // event funnel: per-user first-touch times per stage, then ordered
    // conversion counts (view → click → purchase). One hash aggregate
    // per level — conditional MIN aggregation, no self-joins, no
    // per-user sequence reconstruction; the standard relational funnel
    // that survives any event volume because state per user is 3
    // timestamps
    "w9_funnel" -> { (s, d) =>
      Tables.load(s, d, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(
          count(col("t_view")).as("n_view"),
          count(when(col("t_click") > col("t_view"), lit(1))).as("n_view_then_click"),
          count(when(col("t_click") > col("t_view") &&
            col("t_purchase") > col("t_click"), lit(1))).as("n_full_funnel"))
    },

    // sketched distinct users per event type, spelled the way a 100 TB
    // pipeline actually runs it: sketch BLOBS built once per fine
    // slice (event_type × day — `hll_sketch`), unioned up to the
    // report grain by register-max (`hll_merge` — lossless: max is
    // associative/commutative/idempotent, so day boundaries, merge
    // order and partitioning never change the estimate), estimated
    // only at the end (`hll_estimate`). The shuffle carries one 4 KiB
    // register file per slice where exact COUNT(DISTINCT) would expand
    // and shuffle every (group, key) pair — and the day-grain blobs
    // are exactly what a warehouse persists so coarser rollups never
    // rescan the fact table. Driver-verifiable (r7 verdict item 2, the
    // e4 bracket trick): the exact count joins in at oracle scale
    // purely to gate the boolean — a broken sketch, merge, or
    // estimator hashes `false` and fails the gate. Bound ±5% + 10 abs
    // over the ±1.6% typical error at p=12 (deterministic hash → the
    // boolean is stable, not flaky). Accuracy/merge micro-properties
    // stay pinned by HllSketchSpec.
    "e1_hll_users" -> { (s, d) =>
      import graft.functions.HllSketch.{hll_estimate, hll_merge, hll_sketch}
      val ev = Tables.load(s, d, "events")
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch(col("user_id")).as("sk"))
      val rolled = daily.groupBy("event_type")
        .agg(hll_merge(col("sk")).as("sk"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(hll_estimate(col("sk")) - col("exact_users"))
            <= col("exact_users") * 0.05 + 10).as("hll_rollup_ok"))
        .orderBy("event_type")
    },

    // ── e4: driver-verifiable HLL accuracy — e1's sketch estimate
    // bracketed against the exact distinct count in one query, emitted
    // as a boolean the DuckDB oracle hash-checks (a broken sketch
    // hashes `false` and fails the gate). e1 stays the PRODUCTION
    // spelling (sketch only — adding the exact count drags the plan
    // through the distinct expansion this family exists to avoid);
    // this harness query pays that cost deliberately at oracle scale.
    // Bound: ±5% + 10 absolute, generous over the ±1.04/√2¹² ≈ 1.6%
    // typical error HllSketchSpec pins (hash is deterministic, so the
    // check is stable, not flaky).
    "e4_hll_check" -> { (s, d) =>
      Tables.load(s, d, "events")
        .groupBy("event_type")
        .agg(
          graft.functions.HllSketch.hll_distinct(col("user_id")).as("approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users"))
            <= col("exact_users") * 0.05 + 10).as("hll_ok"))
        .orderBy("event_type")
    },

    // ── e5: HLL set algebra — distinct-count INTERSECTIONS from
    // mergeable sketches via inclusion–exclusion (|A∩B| ≈ Ȃ + B̂ −
    // Â∪B, where the union sketch is the register-max merge HLL is
    // built for). The sketch path never shuffles user ids — per-type
    // and per-pair union sketches are 4 KiB blobs; the exact
    // intersection (the oracle's half) pays the self-join
    // deliberately at oracle scale, exactly e4's bargain. The bracket
    // is ±15 % + 20 absolute — inclusion–exclusion compounds three
    // sketch errors — and the sketch is deterministic on fixed data,
    // so the boolean is stable, not flaky. Pair cardinality is
    // #types², so every frame after the first agg is tiny.
    "e5_hll_setops" -> { (s, d) =>
      // exact pairs + per-type + union sketches
      val ut = Checkpointing.pin(Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type")).distinct())
      val exact = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(count(lit(1)).as("exact_inter"))
      val per = ut.groupBy("event_type")
        .agg(graft.functions.HllSketch.hll_distinct(col("user_id")).as("h"))
      val pairs = exact.select("ta", "tb")
      val un = ut.join(broadcast(pairs),
          col("event_type") === col("ta") || col("event_type") === col("tb"))
        .groupBy("ta", "tb")
        .agg(graft.functions.HllSketch.hll_distinct(col("user_id")).as("hu"))
      exact
        .join(broadcast(per.select(col("event_type").as("ta"), col("h").as("ha"))), "ta")
        .join(broadcast(per.select(col("event_type").as("tb"), col("h").as("hb"))), "tb")
        .join(un, Seq("ta", "tb"))
        .select(col("ta"), col("tb"), col("exact_inter"),
          (abs(col("ha") + col("hb") - col("hu") - col("exact_inter"))
            <= col("exact_inter") * 0.15 + 20).as("hll_ok"))
        .orderBy("ta", "tb")
    },

    // ── e6: log-bucket histogram quantiles — the quantile SKETCH
    // (DDSketch family) beside e1's distinct-count sketch: per-group
    // state is a sparse bucket-count map (≤ 16384 longs, key-wise-add
    // mergeable — the streaming/rollup quantile state, see
    // [[graft.streaming.EventWindows.valueQuantilesLbHist]]), built
    // on the SAME fixed monotone bucketing as the batch exact
    // operator (log_bucket). Driver-verifiable by the sketch's ACTUAL
    // contract: the read returns the rank-⌈p·W⌉ bucket's LOWER BOUND,
    // so est ≤ exact ≤ est + est div 64 + 1 — an integer-exact
    // bracket (bucket relative width ≤ 1/64; values < 128 live in
    // singleton buckets). The exact side dogfoods
    // [[Ranks.groupQuantilesDisc]] — both sides of the check are
    // no-value-buffer plans. p ∈ {1/2, 3/4, 15/16}: exact binary, so
    // ranks agree across engines.
    "e6_lbhist_quantiles" -> { (s, d) =>
      import graft.functions.LogHist.{lb_hist, lb_quantile}
      val ev = Tables.load(s, d, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("milli"))
      val sk = ev.groupBy("event_type").agg(lb_hist(col("milli")).as("h"))
      val ps = Seq((1, 2), (3, 4), (15, 16))
      val exAggs = ps.zipWithIndex.map { case (_, i) =>
        max(when(col("_p_idx") === i, col("milli"))).as(s"ex$i") }
      val exact = Ranks.groupQuantilesDisc(ev, Seq("event_type"), "milli",
          None, ps)
        .groupBy("event_type").agg(exAggs.head, exAggs.tail: _*)
      def ok(i: Int): Column = {
        val est = lb_quantile(col("h"), ps(i)._1, ps(i)._2)
        est <= col(s"ex$i") &&
          col(s"ex$i") <= est + shiftright(est, 6) + lit(1L)
      }
      sk.join(exact, "event_type")
        .select(col("event_type"),
          col("ex0").as("p50_exact"), col("ex1").as("p75_exact"),
          col("ex2").as("p9375_exact"),
          ok(0).as("ok50"), ok(1).as("ok75"), ok(2).as("ok9375"))
        .orderBy("event_type")
    },

    // ── e7: Bloom-filter membership audit — the (build, probe) pair
    // the incremental-ingest pre-filter rests on, driver-verified by
    // its two CONTRACTS: zero false negatives (every true member
    // probes positive) and a bounded false-positive count. The filter
    // is built in one map-combined aggregate (partial filters
    // OR-merge losslessly), ships as a 128 KiB scalar broadcast, and
    // the probe is a codegen'd expression at scan speed — at 100 TB
    // this is "which of today's docs might already be in the corpus"
    // WITHOUT joining the corpus index (only maybe-seen survivors pay
    // the real join). Exact member counts come from a broadcast join
    // against the build side, so the oracle can replay them; the
    // bloom-dependent counts collapse into booleans (e4's bracket
    // pattern). Bound: 2^20 bits / k=5 over ≤ thousands of build keys
    // → fp ≈ 0; 2 % of probes + 10 is generous and deterministic.
    "e7_bloom_audit" -> { (s, d) =>
      import graft.functions.BloomFilter.{bloom_build, bloom_probe}
      val ev = Tables.load(s, d, "events")
      // build side reused: filter agg + member join
      val errUsers = Checkpointing.pin(ev.filter(col("event_type") === "error")
        .select(col("user_id")).distinct())
      // fixed 128 KiB scalar shipped as a LITERAL, not a cross-joined
      // column — a binary column is re-decoded from the row per probe
      // (j11's measured 19× tax); a literal is a class-field constant
      val fbytes = errUsers.agg(bloom_build(col("user_id")).as("f"))
        .head.getAs[Array[Byte]](0)
      val probes = ev.filter(col("event_type") =!= "error")
        .select("event_type", "user_id").distinct()
        .join(broadcast(errUsers.withColumn("is_member", lit(true))),
          Seq("user_id"), "left")
        .select(col("event_type"),
          bloom_probe(lit(fbytes), col("user_id")).as("pos"),
          coalesce(col("is_member"), lit(false)).as("member"))
      probes.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_probed"),
          sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
          sum(when(col("member") && !col("pos"), 1L).otherwise(0L)).as("fn"),
          sum(when(col("pos") && !col("member"), 1L).otherwise(0L)).as("fp"))
        .select(col("event_type"), col("n_probed"), col("n_members"),
          (col("fn") === 0L).as("no_false_neg"),
          (col("fp") * 50 <= col("n_probed") + 500).as("fp_ok"))
        .orderBy("event_type")
    },

    // ── e9: sketch-based JOIN-SIZE estimation — optimizer statistics
    // as a query. |A ⨝_k B| = Σ_v fA(v)·fB(v) is what a cost-based
    // planner needs before choosing broadcast vs shuffle vs salt; the
    // Count-Min inner product (AMS/CM, Cormode & Muthukrishnan §4.2)
    // estimates it from two 128 KiB blobs built in ONE map-combined
    // pass per side — no key ever shuffles. Contract (driver-checked,
    // e4's bracket pattern): never underestimates, per-row
    // overestimate ≤ N_A·N_B/w — bound spelled with ×4 headroom over
    // the w=4096 expectation, deterministic hashing ⇒ a stable
    // boolean, not a flaky one. The exact side pays the per-key join
    // deliberately at oracle scale. Pairing: click vs purchase events
    // on user_id — the self-join shape behind g2/g3's co-occurrence.
    "e9_join_size" -> { (s, d) =>
      import graft.functions.CountMin.{cms_build, cms_inner}
      val ev = Tables.load(s, d, "events")
      def side(t: String, n: String) = ev.filter(col("event_type") === t)
        .agg(cms_build(col("user_id")).as(s"sk_$n"),
          count(lit(1)).as(s"n_$n"))
      val exact = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(count(lit(1)).as("cb")), "user_id")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_join_size"))
      exact.crossJoin(broadcast(side("click", "a")))
        .crossJoin(broadcast(side("purchase", "b")))
        .withColumn("est", cms_inner(col("sk_a"), col("sk_b")))
        .select(col("exact_join_size"), col("n_a"), col("n_b"),
          (col("est") >= col("exact_join_size")).as("no_underestimate"),
          // Bound arithmetic in DECIMAL(38,0): n_a*n_b*4 wraps int64
          // once the sides reach ~1.5e9 rows each, which would corrupt
          // the contract boolean silently. floor() keeps the DIV
          // (integral) semantics of the documented ×4/w bound.
          (col("est").cast("decimal(38,0)") <= col("exact_join_size").cast("decimal(38,0)")
            + expr("floor(CAST(n_a AS DECIMAL(38,0)) * n_b * 4 / 4096)")
            + lit(20L)).as("bound_ok"))
    },

    // ── e8: 7-day ROLLING distinct users — the read that daily
    // distinct counts cannot answer (distincts don't sum across days;
    // re-scanning 7 days of raw events per output day is the naive
    // 7× blowup). The sketch path: ONE pass builds a 4 KiB HLL blob
    // per day, then the rolling merge is a window aggregate over the
    // DAILY frame (≤ |days| rows — the allowlisted bounded-window
    // case; at corpus scale this frame is still |days|, never data).
    // Register-max merge is associative + idempotent, so the window
    // recomputation is exact over the blobs. Bracket-oracled like e4:
    // the exact rolling distinct (oracle recomputes it relationally)
    // must sit within ±5% + 10 of the estimate — deterministic, not
    // flaky. The exact side here pays the 7-day re-join deliberately
    // at oracle scale; production reads the sketch column only.
    "e8_rolling_distinct" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.HllSketch.{hll_estimate, hll_merge, hll_sketch}
      // sketch side + exact side share it
      val ud = Checkpointing.pin(Tables.load(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
      val daily = ud.groupBy("day").agg(hll_sketch(col("user_id")).as("sk"))
      // Frame by CALENDAR distance, not row position: rangeBetween on
      // an integer day ordinal keeps the 7-day semantics when the
      // event data has day gaps (rowsBetween(-6,0) would merge the
      // last 7 PRESENT days and overshoot the exact/oracle side).
      val w = Window.orderBy("ord").rangeBetween(-6, 0)
      val est = daily
        .withColumn("ord", datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))))
        .withColumn("approx", hll_estimate(hll_merge(col("sk")).over(w)))
        .select("day", "approx")
      val spine = ud.select("day").distinct()
      val exact = spine.join(ud.select(col("day").as("d2"), col("user_id")),
          col("d2") <= col("day") && col("d2") >= date_sub(col("day"), 6))
        .groupBy("day").agg(countDistinct("user_id").as("exact_users"))
      est.join(exact, "day")
        .select(col("day"), col("exact_users"),
          (abs(col("approx") - col("exact_users"))
            <= col("exact_users") * 0.05 + 10).as("hll_ok"))
        .orderBy("day")
    },

    // ── x20: UNPIVOT (wide → long) — the inverse of x4's PIVOT:
    // per-priority aggregates melted into (metric, value) rows via
    // stack, so downstream checks consume metrics as DATA. All values
    // in exact integer cents; DuckDB spells it as a UNION ALL.
    "x20_unpivot" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_cents"),
          max(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("max_cents"))
        .selectExpr("priority",
          "stack(3, 'n', n, 'sum_cents', sum_cents, 'max_cents', max_cents)" +
            " AS (metric, value)")
        .orderBy("priority", "metric")
    },

    // ── x21: NULL-ordering pin — Spark's ASC default is NULLS FIRST,
    // DuckDB's is NULLS LAST; a query that sorts a nullable key and
    // trusts the engine default silently diverges across engines.
    // This query fixes the semantics (ASC NULLS FIRST, explicit in
    // the oracle's text) and hash-pins it. The global window is over
    // a LITERAL-bounded input (event_id < 200) — constant size at any
    // corpus scale, the one case a single-partition sort is fine.
    "x21_nulls_order" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).filter(col("event_id") < 200)
        .select(col("event_id"),
          when(col("value") > 250, lit(null))
            .otherwise(expr("CAST(round(value * 100) AS BIGINT)")).as("v"))
      ev.withColumn("rk", row_number().over(
          Window.orderBy(col("v").asc_nulls_first, col("event_id"))))
        .orderBy("rk")
    },

    // ── e2: deterministic heavy hitters via the two-pass sketch
    // pipeline — Misra–Gries candidates (k=99 ⇒ superset of every
    // token above 1% frequency, O(k) state per partition), broadcast
    // the tiny candidate set, exact-count ONLY candidates, then apply
    // the exact threshold. Output is exact and order-independent; the
    // sketch only prunes the exact pass from all-tokens to ≤ k
    // tokens. At 100 TB this is the difference between shuffling
    // every distinct token and shuffling ≤ 99 of them.
    "e2_heavy_tokens" -> { (s, d) =>
      val toks = Tables.load(s, d, "documents")
        .select(explode(graft.functions.HashExprs.tokenize(col("text"))).as("tok"))
      val summary = toks.agg(
        graft.functions.FreqSketch.freq_candidates(col("tok"), 99).as("cand"),
        count(lit(1)).as("n"))
      val cand = summary.select(explode(col("cand")).as("tok"), col("n"))
      toks.join(broadcast(cand), Seq("tok"))
        .groupBy("tok", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(100L) > col("n"))
        .select("tok", "cnt")
        .orderBy("tok")
    },

    // ── e3: Count-Min two-pass heavy hitters — same exact-output
    // shape as e2 but with the CMS ([[graft.functions.CountMin]]):
    // pass 1 builds one d×w counter grid (map-side partial sketches
    // sum losslessly), the candidate set = distinct tokens whose
    // never-underestimating point query clears the threshold (a
    // guaranteed SUPERSET of the true heavy set), pass 2 exact-counts
    // only candidates and re-filters — so the result is EXACT and the
    // oracle is plain SQL. vs e2's Misra–Gries: MG tracks top-k
    // candidates adaptively; CMS answers arbitrary-key queries and
    // lets the threshold be chosen AFTER the scan.
    "e3_cms_heavy" -> { (s, d) =>
      import graft.functions.CountMin.{cms_build, cms_query}
      val toks = Tables.load(s, d, "documents")
        .select(explode(graft.functions.HashExprs.tokenize(col("text"))).as("tok"))
      val sk = toks.agg(cms_build(col("tok"), 1 << 14, 4).as("sk"))
      val cand = toks.distinct()
        .crossJoin(broadcast(sk))
        .filter(cms_query(col("sk"), col("tok")) >= 200)
        .select("tok")
      toks.join(broadcast(cand), Seq("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 200)
        .orderBy(col("cnt").desc, col("tok"))
    },

    // ── x15: conditional aggregation with the ANSI FILTER clause —
    // many segmented metrics in ONE scan + ONE hash aggregate, where
    // the naive spelling is N self-joined subqueries. Quantities are
    // integer-valued doubles, summed as BIGINT for exactness.
    "x15_filter_agg" -> { (s, d) =>
      Tables.load(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag,
                 count(*) AS n_all,
                 count(*) FILTER (WHERE l_quantity > 25) AS n_big,
                 CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05)
                   AS BIGINT) AS qty_discounted,
                 count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25) AS n_supp_big
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },

    // ── x16: NOT IN with ANSI three-valued-logic semantics — Catalyst
    // plans a null-aware anti join (one pass), never a per-row
    // subquery re-execution. Semantically distinct from NOT EXISTS
    // (x13): a NULL anywhere in the subquery empties the result.
    "x16_not_in" -> { (s, d) =>
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      Tables.load(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer
               WHERE c_custkey NOT IN
                 (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
               ORDER BY c_custkey""")
    },

    // ── w12: grouped top-k as a BOUNDED-STATE aggregate
    // ([[graft.functions.TopKKeys]]) — the scale spelling of the
    // row_number-window idiom: map-side k-entry heaps discard below-
    // threshold rows before the shuffle, the exchange carries ≤ k
    // entries per (partition, group), and nothing is ever sorted but
    // the k winners. Ordering value is unique (cents·10^7 + key) so
    // the result is arrival-order-independent.
    "w12_topk_agg" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("rv",
          expr("CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(graft.functions.TopK.topk_keys(col("o_orderkey"), col("rv"), 3).as("topk"))
        .select(col("o_orderpriority"),
          expr("array_join(transform(topk, x -> CAST(x AS STRING)), ',')").as("top3_csv"))
        .orderBy("o_orderpriority")
    },

    // ── a11: grouped argmax/argmin (max_by/min_by) — the single-agg
    // replacement for the window-rank-filter idiom when only the
    // extreme row is wanted: one partial-merging hash aggregate, no
    // sort, no window. The ordering value is made unique
    // (cents·10^7 + orderkey, both bounded) so ties cannot make the
    // answer engine-dependent.
    "a11_argmax" -> { (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .withColumn("rv", expr("cents * 10000000 + o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(expr("max_by(o_orderkey, rv)").as("top_orderkey"),
          expr("min_by(o_orderkey, rv)").as("bottom_orderkey"),
          max("cents").as("max_cents"))
        .orderBy("o_orderpriority")
    },

    // ── a13: central-tendency suite — exact median (interpolating
    // percentile_cont parity), discrete 25th percentile
    // (percentile_disc WITHIN GROUP), and a DETERMINISTIC mode.
    // Mode is spelled relationally (value-count argmax, ties to the
    // smallest value) rather than via the engines' mode() aggregates,
    // whose tie-breaking is implementation-defined — an
    // arrival-order-dependent answer is exactly what a distributed
    // engine must never return. Shape: one hash aggregate on
    // (flag, qty) then a per-flag argmax — no sort of the fact table.
    "a13_mode_median" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
      val central = li.groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("median(l_quantity)"), 4).as("med_qty"),
          round(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)"), 4)
            .as("p25_disc"))
      val mode = li.groupBy(col("l_returnflag").as("flag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", expr(
          "row_number() OVER (PARTITION BY flag ORDER BY n DESC, l_quantity ASC)"))
        .filter(col("rn") === 1)
        .select(col("flag"), col("l_quantity").cast("double").as("mode_qty"),
          col("n").as("mode_n"))
      central.join(mode, Seq("flag")).orderBy("flag")
    },

    // ── a14: higher central moments (variance / skewness / excess
    // kurtosis) per group — distribution-shape profiling for mixture
    // planning. NOT the engines' skewness()/kurtosis() aggregates:
    // those differ between engines (sample vs population bias
    // correction) and sum doubles in arrival order. Instead the four
    // POWER SUMS Σq..Σq⁴ accumulate in exact BIGINT (l_quantity is
    // integer-valued; Σq⁴ ≤ 50⁴·|lineitem| stays inside int64 up to
    // ~10¹² rows), so partial aggregation order is free, and the
    // moment formulas are ONE shared expression string (`MomentSql`)
    // pasted into both engines — identical IEEE op sequence, identical
    // doubles, no drift possible. Shape: one map-side-combined hash
    // agg over a 3-key space; the moments are per-group scalar math.
    "a14_higher_moments" -> { (s, d) =>
      Tables.load(s, d, "lineitem")
        .selectExpr("l_returnflag AS flag", "CAST(l_quantity AS BIGINT) AS q")
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"),
          sum(col("q") * col("q") * col("q")).as("s3"),
          sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
        .selectExpr(MomentSql.finalCols: _*)
        .orderBy("flag")
    },

    // ── u7: union across EVOLVED schemas (unionByName with missing
    // columns) — the ingest reality where yesterday's files lack
    // today's column. Position-based UNION would silently misalign or
    // reject; name-based union aligns by column name and null-fills
    // the absent side (DuckDB spelling: UNION ALL BY NAME). The
    // rollup proves the null-fill: only supplier-side rows have a
    // NULL balance.
    "u7_union_by_name" -> { (s, d) =>
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_acctbal").cast("double").as("bal"), lit("customer").as("side"))
      val supp = Tables.load(s, d, "supplier")
        .select(col("s_suppkey").as("key"), col("s_name").as("name"),
          lit("supplier").as("side")) // no bal column: schema evolved
      cust.unionByName(supp, allowMissingColumns = true)
        .groupBy("side")
        .agg(count(lit(1)).as("n"),
          sum(when(col("bal").isNull, 1).otherwise(0)).as("n_null_bal"),
          max("key").as("max_key"))
        .orderBy("side")
    },

    // ── x19: running DISTINCT count over an ordered window — Spark
    // (like most engines) rejects COUNT(DISTINCT) OVER. The scalable
    // idiom: mark each key's FIRST occurrence with one row_number
    // window, then a running SUM of the 0/1 marker gives the distinct
    // count so far. Two window passes over narrow columns — no
    // per-row set state, no rescan; this is the cumulative-reach /
    // unique-users-to-date curve every growth dashboard needs.
    "x19_running_distinct" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql("""WITH daily AS (
                 SELECT event_type, user_id,
                   CAST(ts AS DATE) AS day,
                   MIN(ts_ns) AS first_ns
                 FROM events_v GROUP BY 1, 2, 3),
               marked AS (
                 SELECT event_type, day, user_id,
                   CASE WHEN row_number() OVER (
                     PARTITION BY event_type, user_id
                     ORDER BY day, first_ns) = 1 THEN 1 ELSE 0 END AS is_first
                 FROM daily),
               per_day AS (
                 SELECT event_type, day,
                   COUNT(*) AS active_users,
                   CAST(SUM(is_first) AS BIGINT) AS new_users
                 FROM marked GROUP BY 1, 2)
               SELECT event_type, day, active_users, new_users,
                 CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS distinct_users_to_date
               FROM per_day
               ORDER BY event_type, day""")
    },

    // ── x17: RECURSIVE CTE (Spark 4.1 UnionLoop execution) — the
    // iterate-until-fixpoint surface inside one SQL statement:
    // hierarchy walks, BOM rollups, transitive closure. Here each
    // customer key walks its halving chain k → k div 2 → … → 1 (a
    // synthetic parent edge), and the query returns the chain depth
    // and the sum of visited keys. Each recursion step is one
    // self-batch join over the PREVIOUS step's rows only (the frontier
    // — not the accumulated result), so work per step tracks the
    // frontier size exactly like d5's hand-rolled CC loop; the engine
    // runs it without any driver-side iteration code.
    "x17_recursive_cte" -> { (s, d) =>
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      s.sql("""WITH RECURSIVE chain AS (
                 SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
                 FROM customer WHERE c_custkey <= 200
                 UNION ALL
                 SELECT start_key, cur div 2 AS cur, depth + 1 AS depth
                 FROM chain WHERE cur > 1)
               SELECT start_key, MAX(depth) AS chain_len,
                 CAST(SUM(cur) AS BIGINT) AS key_path_sum
               FROM chain GROUP BY start_key ORDER BY start_key""")
    }
  )

  def oracles: Map[String, String] = Map(
    "x1_having" ->
      """SELECT c_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer GROUP BY 1 HAVING COUNT(*) >= 70 ORDER BY c_nationkey""",
    "x2_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (
           SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           FROM orders) * 1.5
         ORDER BY o_orderkey""",
    "x3_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         ORDER BY o_custkey""",
    "x4_pivot" ->
      """SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "x5_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0))) / 10000.0
             AS sum_disc_price,
           SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
               * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)) AS DECIMAL(38,0))) / 1000000.0
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    "x7_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "x8_corr_stats" ->
      """WITH m AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sp,
             SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0))) AS sqq,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS spp,
             SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sqp
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           ROUND(CAST(sq AS DOUBLE) / n / 100.0, 6) AS mean_qty,
           ROUND(sqrt((CAST(sqq AS DOUBLE) * n - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6) AS stddev_qty,
           ROUND((CAST(sqp AS DOUBLE) * n - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / sqrt((CAST(sqq AS DOUBLE) * n - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
               * (CAST(spp AS DOUBLE) * n - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 6)
             AS corr_qty_price
         FROM m ORDER BY l_returnflag""",
    "x6_top_tokens" ->
      """SELECT token, COUNT(*) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents)
         GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20""",
    "x9_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
         ORDER BY g_status ASC, g_prio ASC,
           o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "w9_funnel" ->
      """SELECT COUNT(t_view) AS n_view,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
           COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
             AS n_full_funnel
         FROM (
           -- CAST(ts AS TIMESTAMP) truncates TIMESTAMP_NS to micros —
           -- the same precision Spark's ts carries (Tables.events)
           SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
           FROM events GROUP BY 1)""",
    "x11_json_agg" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1 ORDER BY event_type""",
    "x12_json_filter" ->
      """SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 95
           AND event_type = 'purchase'
         ORDER BY event_id""",
    "a10_value_histogram" ->
      """SELECT CAST(FLOOR(value / 50) AS INT) AS bin, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY bin""",
    "a18_cdf_report" -> {
      val rows = (1 to 10).map { i =>
        val t = i * 5000000L
        s"""SELECT CAST($t AS BIGINT) AS threshold_cents,
              COUNT(CASE WHEN cents <= $t THEN 1 END) AS n_below,
              (2 * COUNT(CASE WHEN cents <= $t THEN 1 END) * 10000 + COUNT(*))
                // (2 * COUNT(*)) AS share_bp
            FROM c"""
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
          SELECT threshold_cents, n_below, CAST(share_bp AS BIGINT) AS share_bp
          FROM ($rows) ORDER BY threshold_cents"""
    },
    // textbook global-window spelling — the Spark side's bucketed
    // two-pass cumsum must be hash-identical to it
    "a17_pareto_abc" ->
      """WITH rev AS (
           SELECT l_partkey AS part_id,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
         cum AS (
           SELECT part_id, cents,
             SUM(cents) OVER (ORDER BY cents DESC, part_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM rev),
         cls AS (
           SELECT part_id, cents,
             CASE WHEN (cum - cents) * 10000 // total < 8000 THEN 'A'
                  WHEN (cum - cents) * 10000 // total < 9500 THEN 'B'
                  ELSE 'C' END AS abc_class
           FROM cum CROSS JOIN tot)
         SELECT abc_class, COUNT(*) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents) * 10000 // total AS BIGINT) AS share_bp
         FROM cls CROSS JOIN tot
         GROUP BY abc_class, total ORDER BY abc_class""",
    // the oracle checks the bracket booleans plus the exact
    // percentiles; `true` is the sketch contract — an out-of-bucket
    // estimate hashes `false` and fails the gate
    "e6_lbhist_quantiles" ->
      """WITH ev AS (
           SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS milli
           FROM events)
         SELECT event_type,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY milli) AS BIGINT)
             AS p50_exact,
           CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY milli) AS BIGINT)
             AS p75_exact,
           CAST(percentile_disc(0.9375) WITHIN GROUP (ORDER BY milli) AS BIGINT)
             AS p9375_exact,
           true AS ok50, true AS ok75, true AS ok9375
         FROM ev GROUP BY 1 ORDER BY event_type""",
    // exact Σ fA·fB + side counts; `true` is the inner-product
    // contract — e4's pattern
    "e9_join_size" ->
      """WITH a AS (
           SELECT user_id, COUNT(*) AS ca FROM events
           WHERE event_type = 'click' GROUP BY 1),
         b AS (
           SELECT user_id, COUNT(*) AS cb FROM events
           WHERE event_type = 'purchase' GROUP BY 1)
         SELECT
           CAST(COALESCE((SELECT SUM(ca * cb) FROM a JOIN b USING (user_id)), 0)
             AS BIGINT) AS exact_join_size,
           (SELECT COUNT(*) FROM events WHERE event_type = 'click') AS n_a,
           (SELECT COUNT(*) FROM events WHERE event_type = 'purchase') AS n_b,
           true AS no_underestimate, true AS bound_ok""",

    // exact rolling distinct recomputed relationally; `true` is the
    // rolling-sketch contract — e4's pattern
    "e8_rolling_distinct" ->
      """WITH ud AS (
           SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         spine AS (SELECT DISTINCT day FROM ud)
         SELECT s.day, COUNT(DISTINCT u.user_id) AS exact_users,
           true AS hll_ok
         FROM spine s JOIN ud u
           ON u.day <= s.day AND u.day >= s.day - INTERVAL 6 DAY
         GROUP BY s.day ORDER BY s.day""",

    // exact probe/member counts; `true` is the bloom contract
    // (no false negatives, fp*50 ≤ n_probed+500) — e4's pattern
    "e7_bloom_audit" ->
      """WITH err AS (
           SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
         pr AS (
           SELECT DISTINCT event_type, user_id FROM events
           WHERE event_type <> 'error')
         SELECT pr.event_type,
           COUNT(*) AS n_probed,
           CAST(SUM(CASE WHEN err.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_members,
           true AS no_false_neg, true AS fp_ok
         FROM pr LEFT JOIN err USING (user_id)
         GROUP BY 1 ORDER BY event_type""",
    // per-feature quartiles in the textbook ordered-set spelling;
    // k/4 fractions are exact binary so ranks agree across engines
    "a19_feature_bins" ->
      """WITH f AS (
           SELECT 'discount_bp' AS feature,
             CAST(round(l_discount * 10000) AS BIGINT) AS v FROM lineitem
           UNION ALL
           SELECT 'extendedprice_cents',
             CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'quantity_units', CAST(l_quantity AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'tax_bp', CAST(round(l_tax * 10000) AS BIGINT) FROM lineitem),
         e AS (
           SELECT feature,
             percentile_disc([0.25, 0.5, 0.75]) WITHIN GROUP (ORDER BY v) AS es
           FROM f GROUP BY 1)
         SELECT feature, CAST(g.i AS INT) AS quartile,
           CAST(es[g.i] AS BIGINT) AS edge
         FROM e CROSS JOIN generate_series(1, 3) AS g(i)
         ORDER BY feature, quartile""",
    "a16_weighted_median" ->
      """WITH li AS (
           SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem),
         cells AS (
           SELECT flag, cents, CAST(SUM(qty) AS BIGINT) AS w
           FROM li GROUP BY 1, 2),
         cum AS (
           SELECT flag, cents,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
           FROM cells),
         tot AS (SELECT flag, CAST(SUM(qty) AS BIGINT) AS totw FROM li GROUP BY 1)
         SELECT cum.flag AS flag, MIN(cents) AS wmedian_cents,
           ANY_VALUE(totw) AS total_qty
         FROM cum JOIN tot ON cum.flag = tot.flag
         WHERE cumw * 2 >= totw
         GROUP BY 1 ORDER BY flag""",
    "a15_equidepth_hist" -> {
      val boundDefs = (1 to 7).map(k =>
        s"CAST(percentile_disc(${k / 8.0}) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b$k")
        .mkString(",\n             ")
      val bucketExpr = (1 to 7)
        .map(k => s"(CASE WHEN cents > b$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH li AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         b AS (
           SELECT $boundDefs
           FROM li)
         SELECT CAST($bucketExpr AS INTEGER) AS bucket,
           COUNT(*) AS n, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
         FROM li CROSS JOIN b
         GROUP BY 1 ORDER BY bucket"""
    },
    // the oracle checks the HLL bracket boolean (plus keys and exact
    // counts); `true` is the contract — an out-of-bound estimate
    // hashes as `false` and fails the gate. e1 gates the day-sketch →
    // merge → estimate ROLLUP path, e4 the direct single-agg path.
    "e1_hll_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           true AS hll_rollup_ok
         FROM events GROUP BY 1 ORDER BY event_type""",
    "e4_hll_check" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, true AS hll_ok
         FROM events GROUP BY 1 ORDER BY event_type""",
    // exact pairwise intersections; `true` is the sketch-algebra contract
    "e5_hll_setops" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
         SELECT a.event_type AS ta, b.event_type AS tb,
           COUNT(*) AS exact_inter, true AS hll_ok
         FROM ut a JOIN ut b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY ta, tb""",
    "x20_unpivot" -> {
      val agg = """SELECT o_orderpriority AS priority, COUNT(*) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
           FROM orders GROUP BY 1"""
      s"""WITH w AS ($agg)
         SELECT priority, 'n' AS metric, n AS value FROM w
         UNION ALL
         SELECT priority, 'sum_cents', sum_cents FROM w
         UNION ALL
         SELECT priority, 'max_cents', max_cents FROM w
         ORDER BY priority, metric"""
    },
    // explicit NULLS FIRST — DuckDB's ASC default is NULLS LAST,
    // Spark's is NULLS FIRST; the pin is the point
    "x21_nulls_order" ->
      """SELECT event_id, v,
           row_number() OVER (ORDER BY v ASC NULLS FIRST, event_id) AS rk
         FROM (SELECT event_id,
                 CASE WHEN value > 250 THEN NULL
                      ELSE CAST(round(value * 100) AS BIGINT) END AS v
               FROM events WHERE event_id < 200)
         ORDER BY rk""",
    // brute-force semantics of the sketch-pruned pipeline: tokens
    // above strict 1% frequency with exact counts
    "e2_heavy_tokens" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM toks)
         SELECT tok, COUNT(*) AS cnt FROM toks, tot
         GROUP BY tok, n HAVING COUNT(*) * 100 > n
         ORDER BY tok""",
    "e3_cms_heavy" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT tok, COUNT(*) AS cnt FROM toks
         GROUP BY tok HAVING COUNT(*) >= 200
         ORDER BY cnt DESC, tok""",
    "x14_collect_sorted" ->
      """SELECT c_nationkey, COUNT(*) AS n,
           string_agg(CAST(c_custkey AS VARCHAR), ','
             ORDER BY CAST(c_custkey AS VARCHAR)) AS keys_csv
         FROM customer WHERE c_custkey <= 200
         GROUP BY 1 ORDER BY c_nationkey""",
    "x13_exists" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 450000)
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_totalprice < 5000)
         ORDER BY c_custkey""",
    "x10_lateral_topn" ->
      """SELECT n_name, c_custkey, c_acctbal
         FROM nation, LATERAL (
           SELECT c_custkey, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) AS t
         ORDER BY n_name, c_acctbal DESC, c_custkey""",
    "w8_rank_family" ->
      """SELECT c_nationkey, c_custkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ROUND(percent_rank() OVER w, 6) AS prnk,
           ROUND(cume_dist() OVER w, 6) AS cdist,
           ntile(4) OVER w AS quartile
         FROM customer WHERE c_nationkey < 3
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
         ORDER BY c_nationkey, rnk""",
    "x15_filter_agg" ->
      """SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05)
             AS BIGINT) AS qty_discounted,
           count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25) AS n_supp_big
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x16_not_in" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey""",
    "w12_topk_agg" ->
      """WITH o AS (
           SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey AS rv
           FROM orders),
         r AS (
           SELECT o_orderpriority, o_orderkey, rv FROM o
           QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY rv DESC) <= 3)
         SELECT o_orderpriority,
           array_to_string(list(CAST(o_orderkey AS VARCHAR) ORDER BY rv DESC), ',') AS top3_csv
         FROM r GROUP BY 1 ORDER BY o_orderpriority""",
    "a11_argmax" ->
      """WITH o AS (
           SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderpriority,
           max_by(o_orderkey, cents * 10000000 + o_orderkey) AS top_orderkey,
           min_by(o_orderkey, cents * 10000000 + o_orderkey) AS bottom_orderkey,
           max(cents) AS max_cents
         FROM o GROUP BY 1 ORDER BY o_orderpriority""",
    "a13_mode_median" ->
      """WITH central AS (
           SELECT l_returnflag AS flag,
             ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS med_qty,
             ROUND(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity), 4) AS p25_disc
           FROM lineitem GROUP BY 1),
         m AS (
           SELECT flag, CAST(l_quantity AS DOUBLE) AS mode_qty, n AS mode_n FROM (
             SELECT l_returnflag AS flag, l_quantity, COUNT(*) AS n,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
             FROM lineitem GROUP BY 1, 2)
           WHERE rn = 1)
         SELECT central.flag, med_qty, p25_disc, mode_qty, mode_n
         FROM central JOIN m ON central.flag = m.flag
         ORDER BY central.flag""",
    // a14 — exact BIGINT power sums, then the SAME MomentSql formula
    // text Spark evaluates (shared constant — cannot drift)
    "a14_higher_moments" ->
      s"""WITH a AS (
           SELECT l_returnflag AS flag, COUNT(*) AS n,
             SUM(q) AS s1, SUM(q * q) AS s2,
             SUM(q * q * q) AS s3, SUM(q * q * q * q) AS s4
           FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
           GROUP BY 1)
         SELECT flag, n, ${MomentSql.projections.mkString(",\n           ")}
         FROM a ORDER BY flag""",
    "u7_union_by_name" ->
      """WITH u AS (
           SELECT c_custkey AS key, c_name AS name,
             CAST(c_acctbal AS DOUBLE) AS bal, 'customer' AS side
           FROM customer
           UNION ALL BY NAME
           SELECT s_suppkey AS key, s_name AS name, 'supplier' AS side
           FROM supplier)
         SELECT side, COUNT(*) AS n,
           CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_bal,
           MAX(key) AS max_key
         FROM u GROUP BY 1 ORDER BY side""",
    "x19_running_distinct" ->
      """WITH daily AS (
           SELECT event_type, user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_ns(ts)) AS first_ns
           FROM events GROUP BY 1, 2, 3),
         marked AS (
           SELECT event_type, day, user_id,
             CASE WHEN row_number() OVER (
               PARTITION BY event_type, user_id
               ORDER BY day, first_ns) = 1 THEN 1 ELSE 0 END AS is_first
           FROM daily),
         per_day AS (
           SELECT event_type, day,
             COUNT(*) AS active_users,
             CAST(SUM(is_first) AS BIGINT) AS new_users
           FROM marked GROUP BY 1, 2)
         SELECT event_type, day, active_users, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_users_to_date
         FROM per_day
         ORDER BY event_type, day""",
    "x17_recursive_cte" ->
      """WITH RECURSIVE chain AS (
           SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
           FROM customer WHERE c_custkey <= 200
           UNION ALL
           SELECT start_key, cur // 2 AS cur, depth + 1 AS depth
           FROM chain WHERE cur > 1)
         SELECT start_key, MAX(depth) AS chain_len,
           CAST(SUM(cur) AS BIGINT) AS key_path_sum
         FROM chain GROUP BY start_key ORDER BY start_key"""
  )
}
