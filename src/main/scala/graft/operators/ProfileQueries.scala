package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data profiling — the audit a pipeline runs before pointing a
  * training job at a corpus: per-column row/null/distinct counts and
  * min/max, as rows (one per column) so downstream checks are data,
  * not schema.
  *
  * Scale shape: ONE scan. All per-column aggregates land in a single
  * `agg` (Spark plans the multi-column COUNT(DISTINCT) set through one
  * Expand — still one pass over the data), producing a single wide
  * row that `stack` pivots into per-column rows driver-free. Profiling
  * N columns costs one table read, not N.
  *
  * At extreme cardinality swap `countDistinct` for
  * [[graft.functions.HllSketch.hll_distinct]] — same query shape, the
  * Expand disappears, and the shuffle carries sketches instead of
  * keys (the exact spelling here is what the oracle can check).
  */
object ProfileQueries {

  /** Per-column profile of `cols`: (column, n, n_null, n_distinct,
    * min_val, max_val) with min/max rendered as strings so mixed-type
    * columns share one output schema. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__null"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__null`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS " +
        "(column_name, n, n_null, n_distinct, min_val, max_val)")
      .orderBy("column_name")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p7_profile_documents" -> { (s, d) =>
      profile(Tables.load(s, d, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
    },

    // ── dq1: cross-table constraint report — the validation gate a
    // pipeline runs before trusting a snapshot: referential integrity
    // (LEFT-join null probes, so the FK check is one equi-join, never
    // a per-row subquery), key uniqueness (count vs distinct), domain
    // ranges, and a stored-vs-derived consistency probe. One row per
    // check so downstream alerting consumes data, not logs. Each check
    // is a single scan + agg; the dimension side of the FK probes
    // broadcasts. At 100 TB the big-big FK probe (lineitem→orders) is
    // the standard shuffled equi-join — nothing quadratic anywhere.
    "dq1_constraint_report" -> { (s, d) =>
      def checked(name: String, df: DataFrame, violation: Column): DataFrame =
        df.agg(count(lit(1)).as("n_checked"),
            count(when(violation, lit(1))).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))
      val customer = Tables.load(s, d, "customer")
      val orders = Tables.load(s, d, "orders")
      val lineitem = Tables.load(s, d, "lineitem")
      val fkOrders = checked("fk_orders_custkey",
        orders.join(broadcast(customer.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left"),
        col("c_custkey").isNull)
      val fkLineitem = checked("fk_lineitem_orderkey",
        lineitem.join(orders.select(col("o_orderkey").as("ref_okey")),
          col("l_orderkey") === col("ref_okey"), "left"),
        col("ref_okey").isNull)
      val uniqCust = customer
        .agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("n_violations"))
        .select(lit("unique_customer_key").as("check_name"),
          col("n_checked"), col("n_violations"))
      val uniqOrder = orders
        .agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
        .select(lit("unique_order_key").as("check_name"),
          col("n_checked"), col("n_violations"))
      val rangeQty = checked("range_lineitem_qty", lineitem,
        col("l_quantity").isNull || col("l_quantity") < 1 || col("l_quantity") > 50)
      val nonnegValue = checked("nonneg_events_value", Tables.events(s, d),
        col("value").isNull || col("value") < 0)
      val docChars = checked("consistent_doc_nchars", Tables.load(s, d, "documents"),
        col("n_chars") =!= length(col("text")))
      Seq(fkOrders, fkLineitem, uniqCust, uniqOrder, rangeQty, nonnegValue, docChars)
        .reduce(_ unionByName _)
        .withColumn("status",
          when(col("n_violations") === 0, "PASS").otherwise("FAIL"))
        .orderBy("check_name")
    },

    // ── dq2: robust outlier report — median/MAD price screening per
    // supplier, the outlier gate that survives the heavy tails that
    // break mean/stddev z-scores. Everything is exact integer cents:
    // the medians are order statistics (no interpolated doubles),
    // |x−med| and the 3·MAD fence stay in BIGINT, and the result is
    // bit-stable at any parallelism. Shape: ONE exchange on s_suppkey
    // serves the whole query (guide §2.4) — both exact medians read
    // off group-local window sorts (percentile_disc(0.5) IS the value
    // at row ⌈n/2⌉ of the group's sort: cume_dist(x_⌈n/2⌉) ≥ ½ and any
    // smaller value sits below ½, ties included), the MAD pass re-sorts
    // the same partitions by |x−med| with no new exchange, and the
    // final rollup groups on the partitioning key. Replaces the
    // r6–r18 aggregate/join spelling whose `dev` subtree was planned
    // twice (lineitem scanned 3×, six ObjectHashAggregates buffering
    // every group's values in memory); the window sorts are group-local
    // and spill-friendly, so the shape also drops the per-group
    // value-buffer memory class. Nothing is driver-side.
    "dq2_outlier_mad" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_suppkey").as("supp_id"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val byS = Window.partitionBy("supp_id")
      val dev = li
        .withColumn("n_items", count(lit(1)).over(byS))
        .withColumn("rn", row_number().over(byS.orderBy("cents")))
        .withColumn("med_cents",
          max(when(col("rn") === expr("(n_items + 1) div 2"), col("cents")))
            .over(byS))
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      dev
        .withColumn("rn2", row_number().over(byS.orderBy("adev")))
        .withColumn("mad_cents",
          max(when(col("rn2") === expr("(n_items + 1) div 2"), col("adev")))
            .over(byS))
        .groupBy("supp_id")
        .agg(count(lit(1)).as("n_items"),
          first("med_cents").as("med_cents"),
          first("mad_cents").as("mad_cents"),
          count(when(col("adev") > col("mad_cents") * 3, lit(1))).as("n_out"))
        .orderBy(col("n_out").desc, col("supp_id"))
        .limit(15)
    },

    // ── dq3: Benford first-significant-digit audit — the fraud/
    // corruption screen for financial-looking columns: the observed
    // digit distribution of order totals vs Benford's law, with the
    // per-digit χ² contribution. The first digit comes from the STRING
    // head of exact integer cents (no log10 anywhere — libm log10 is
    // not bit-identical across engines), the percentage is integer
    // half-up at 4 dp (a7's `(2·s·n + d) div (2d)` idiom), and the
    // Benford expectations are pinned 4-dp integer constants, so every
    // output double is derived from integers by one IEEE division —
    // bit-stable on any engine and any parallelism. Shape: one scan →
    // 9-row hash agg → broadcast scalar total; nothing grows with the
    // corpus after the first agg.
    "dq3_benford" -> { (s, d) =>
      // Benford's law is defined over positive magnitudes — the cents
      // guard keeps zero/negative totals (refunds) out of the digit
      // domain on BOTH engines instead of emitting a null-expectation
      // row here and a dropped row in the oracle's inner join
      val counts = Tables.load(s, d, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("pct4", expr("(2 * n * 1000000 + total) div (2 * total)"))
        .withColumn("b4", expr(
          "element_at(map(1, 301030L, 2, 176091L, 3, 124939L, 4, 96910L, " +
            "5, 79181L, 6, 66947L, 7, 57992L, 8, 51153L, 9, 45757L), digit)"))
        .select(col("digit"), col("n"),
          (col("pct4").cast("double") / 10000).as("pct"),
          (col("b4").cast("double") / 10000).as("benford_pct"),
          (expr("CAST((pct4 - b4) * (pct4 - b4) AS DOUBLE)") /
            expr("CAST(b4 * 10000 AS DOUBLE)")).as("chi2"))
        .orderBy("digit")
    },

    // ── dq4: schema-drift report — the regression check between two
    // snapshots of the same feed: split events at the midpoint of its
    // time range and compare the halves column-wise. Per event_type:
    // share of each half (integer 4-dp percent), the share drift in
    // percentage points, and the mean value of each half in exact
    // integer micros. A training pipeline runs exactly this before
    // appending a new crawl: distribution shift shows up as drift_pp,
    // a silent unit change as a mean jump. Shape: a min/max pass
    // broadcast as the split point, then one scan with conditional
    // aggregates — per-type rows, totals re-broadcast; no shuffle
    // beyond the event_type hash agg in either pass.
    "dq4_schema_drift" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("ts_ns"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vmicro"))
      val mid = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(mid))
        .groupBy("event_type")
        .agg(count(when(col("ts_ns") <= col("mid"), lit(1))).as("n_a"),
          count(when(col("ts_ns") > col("mid"), lit(1))).as("n_b"),
          sum(when(col("ts_ns") <= col("mid"), col("vmicro"))).as("va"),
          sum(when(col("ts_ns") > col("mid"), col("vmicro"))).as("vb"))
      val tot = g.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      g.crossJoin(broadcast(tot))
        .withColumn("pa4", expr("(2 * n_a * 1000000 + ta) div (2 * ta)"))
        .withColumn("pb4", expr("(2 * n_b * 1000000 + tb) div (2 * tb)"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          (col("pa4").cast("double") / 10000).as("pct_a"),
          (col("pb4").cast("double") / 10000).as("pct_b"),
          (abs(col("pa4") - col("pb4")).cast("double") / 10000).as("drift_pp"),
          expr("va div n_a").as("mean_a_micro"),
          expr("vb div n_b").as("mean_b_micro"))
        .orderBy("event_type")
    },

    // ── dq5: join-key skew advisor — the profiling read that decides
    // whether a planned join needs [[graft.operators.Skew.saltedJoin]]
    // and at what salt factor, as a query over the key distribution
    // itself. Shape: per-key counts (ONE partial-agg groupBy — the
    // map side combines, so the shuffle carries ≤ |keys| rows), a
    // 3-value global reduce cross-joined back as a broadcast scalar,
    // and a TakeOrdered top-5 — no window, no global sort, nothing
    // proportional to the table after the first agg. `hot` flags keys
    // over 4× the mean; `salt_factor` is the bucket count that brings
    // a hot key's per-task share back to ~4× mean (capped at 16, the
    // factor saltedJoin's dim-replication side pays for). All integer
    // arithmetic, ties broken by key — bit-stable across engines.
    // ── dq6: DISTRIBUTION-SHIFT report — per-slice token-distribution
    // drift vs the REST of the corpus (the audit a mixing plan reads
    // before reweighting, and the alarm that fires when one source's
    // crawl changes shape between snapshots). Metric: total-variation
    // distance over the global top-200-token vocabulary + '<other>',
    // on a fixed 1e-9 probability grid — TV = Σ|p_slice − p_rest| / 2.
    // Why TV and not KL/JS: TV needs no transcendentals, so on the
    // integer grid (p = cnt·1e9 div tot) every value is EXACT in both
    // engines — the oracle hashes bit-equal and a drift alert never
    // flaps on a last-ulp log difference. Scale shape: ONE tokenize +
    // explode pass → (lang, term) counts (map-side combined); the
    // vocabulary is a 200-row TakeOrdered broadcast; the comparison
    // grid is |slices|×201 rows — constant-size state regardless of
    // corpus size; rest-counts derive from the slice counts (no
    // second token scan; the n_docs scan prunes to the lang column).
    // The one unbounded product (cnt·1e9) runs in DECIMAL(38,0), so a
    // 100 TB slice (term counts ≫ 2^33) cannot overflow it.
    "dq6_dist_shift" -> { (s, d) =>
      distShift(Tables.load(s, d, "documents"))
    },

    "dq5_skew_advisor" -> { (s, d) =>
      val counts = Tables.load(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val g = counts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"))
      counts.crossJoin(broadcast(g))
        .withColumn("mean_cnt", expr("total DIV n_keys"))
        .select(col("user_id"), col("cnt"),
          expr("cnt * 10000 DIV total").as("share_bp"),
          col("n_keys"), col("total"), col("mean_cnt"),
          expr("cnt > 4 * mean_cnt").as("hot"),
          expr("least(16L, greatest(1L, cnt DIV greatest(4 * mean_cnt, 1)))")
            .as("salt_factor"))
        .orderBy(col("cnt").desc, col("user_id"))
        .limit(5)
    }
  )

  /** dq6's engine: per-slice token-distribution drift vs the REST of
    * the corpus over the global top-`vocabSize` vocabulary +
    * '<other>', as exact-integer total-variation distance on a 1e-9
    * probability grid (see the dq6 entry above for the full design
    * rationale). `docs` needs (`lang`, `text`); output one row per
    * slice: (lang, n_docs, tv_nano, top_term, top_gap_nano), slices
    * that ARE the whole corpus omitted (no rest to compare). */
  def distShift(docs: DataFrame, vocabSize: Int = 200): DataFrame = {
    import graft.functions.HashExprs.tokenize
    // one token pass serves vocab AND grid
    val termCounts = Checkpointing.pin(docs
      .select(col("lang"), explode(tokenize(col("text"))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cs")))
    val vocab = termCounts.groupBy("term").agg(sum("cs").as("cg"))
      .orderBy(col("cg").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(true).as("inv"))
    // |slices|×(vocabSize+1) rows
    val sliced = Checkpointing.pin(termCounts
      .join(broadcast(vocab), Seq("term"), "left")
      .withColumn("vterm",
        when(col("inv"), col("term")).otherwise(lit("<other>")))
      .groupBy("lang", "vterm").agg(sum("cs").as("cs")))
    val gterm = sliced.groupBy("vterm").agg(sum("cs").as("cg"))
    val tots = sliced.groupBy("lang").agg(sum("cs").as("ts"))
    val grid = broadcast(tots.select("lang")).crossJoin(broadcast(gterm))
      .join(sliced, Seq("lang", "vterm"), "left")
      .na.fill(0L, Seq("cs"))
      .join(broadcast(tots), Seq("lang"))
      .crossJoin(broadcast(sliced.agg(sum("cs").as("tg"))))
      .filter(col("tg") > col("ts")) // a slice that IS the corpus has no rest
      .withColumn("ps",
        expr("CAST((CAST(cs AS DECIMAL(38,0)) * 1000000000) DIV ts AS BIGINT)"))
      .withColumn("pr",
        expr("CAST((CAST(cg - cs AS DECIMAL(38,0)) * 1000000000) DIV (tg - ts) AS BIGINT)"))
      .withColumn("gap", abs(col("ps") - col("pr")))
    val tv = grid.groupBy("lang").agg(expr("sum(gap) DIV 2").as("tv_nano"))
    val top = grid.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("gap").desc, col("vterm").asc)))
      .filter(col("rn") === 1)
      .select(col("lang"), col("vterm").as("top_term"),
        col("gap").as("top_gap_nano"))
    val nd = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // a slice whose documents yield ZERO tokens (blank/whitespace
    // text — e.g. a crawler source going dark) must not vanish from
    // the report: it IS the drift alarm. It gets the TV ceiling and a
    // '<none>' marker term. (A tokened slice that is the WHOLE corpus
    // stays omitted — there is no rest to compare against.)
    val tokenless = nd.join(tots, Seq("lang"), "left_anti")
      .select(col("lang"), col("n_docs"),
        lit(1000000000L).as("tv_nano"), lit("<none>").as("top_term"),
        lit(1000000000L).as("top_gap_nano"))
    // report join of three |slices|-row frames: size stats don't
    // survive the window chain, so Spark would sort-merge — broadcast
    // the tiny sides explicitly
    tv.join(broadcast(top), Seq("lang")).join(broadcast(nd), Seq("lang"))
      .select("lang", "n_docs", "tv_nano", "top_term", "top_gap_nano")
      .unionByName(tokenless)
      .orderBy("lang")
  }

  private def colProfileSql(c: String): String =
    s"""SELECT '$c' AS column_name, COUNT(*) AS n,
          COUNT(*) - COUNT($c) AS n_null,
          COUNT(DISTINCT $c) AS n_distinct,
          CAST(MIN($c) AS VARCHAR) AS min_val,
          CAST(MAX($c) AS VARCHAR) AS max_val
        FROM documents"""

  def oracles: Map[String, String] = Map(
    "p7_profile_documents" -> (
      Seq("doc_id", "lang", "source", "n_chars")
        .map(colProfileSql).mkString("", " UNION ALL ", " ORDER BY column_name")),
    "dq1_constraint_report" ->
      """WITH r AS (
           SELECT 'fk_orders_custkey' AS check_name, COUNT(*) AS n_checked,
             COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_violations
           FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           UNION ALL
           SELECT 'fk_lineitem_orderkey', COUNT(*),
             COUNT(CASE WHEN oo.o_orderkey IS NULL THEN 1 END)
           FROM lineitem l LEFT JOIN orders oo ON l.l_orderkey = oo.o_orderkey
           UNION ALL
           SELECT 'unique_customer_key', COUNT(*),
             COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
           UNION ALL
           SELECT 'unique_order_key', COUNT(*),
             COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
           UNION ALL
           SELECT 'range_lineitem_qty', COUNT(*),
             COUNT(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
                   THEN 1 END)
           FROM lineitem
           UNION ALL
           SELECT 'nonneg_events_value', COUNT(*),
             COUNT(CASE WHEN value IS NULL OR value < 0 THEN 1 END) FROM events
           UNION ALL
           SELECT 'consistent_doc_nchars', COUNT(*),
             COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) FROM documents)
         SELECT check_name, n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           CASE WHEN n_violations = 0 THEN 'PASS' ELSE 'FAIL' END AS status
         FROM r ORDER BY check_name""",
    "dq2_outlier_mad" ->
      """WITH li AS (
           SELECT l_suppkey AS supp_id,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         med AS (
           SELECT supp_id, COUNT(*) AS n_items,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
               AS med_cents
           FROM li GROUP BY 1),
         dev AS (
           SELECT li.supp_id, n_items, med_cents,
             abs(cents - med_cents) AS adev
           FROM li JOIN med ON li.supp_id = med.supp_id),
         mad AS (
           SELECT supp_id,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS BIGINT)
               AS mad_cents
           FROM dev GROUP BY 1)
         SELECT dev.supp_id AS supp_id, ANY_VALUE(n_items) AS n_items,
           ANY_VALUE(med_cents) AS med_cents,
           ANY_VALUE(mad.mad_cents) AS mad_cents,
           COUNT(CASE WHEN adev > mad.mad_cents * 3 THEN 1 END) AS n_out
         FROM dev JOIN mad ON dev.supp_id = mad.supp_id
         GROUP BY dev.supp_id
         ORDER BY n_out DESC, supp_id LIMIT 15""",
    "dq3_benford" ->
      """WITH cents AS (
           SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         c AS (
           SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             COUNT(*) AS n
           FROM cents WHERE cents > 0 GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
         b(bdigit, b4) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
           (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
           (9, 45757)),
         p AS (
           SELECT digit, n,
             (2 * n * 1000000 + total) // (2 * total) AS pct4,
             CAST(b4 AS BIGINT) AS b4
           FROM c CROSS JOIN t JOIN b ON b.bdigit = c.digit)
         SELECT digit, n,
           CAST(pct4 AS DOUBLE) / 10000 AS pct,
           CAST(b4 AS DOUBLE) / 10000 AS benford_pct,
           CAST((pct4 - b4) * (pct4 - b4) AS DOUBLE)
             / CAST(b4 * 10000 AS DOUBLE) AS chi2
         FROM p ORDER BY digit""",
    "dq4_schema_drift" ->
      """WITH ev AS (
           SELECT event_type, epoch_ns(ts) AS ts_ns,
             CAST(round(value * 1000000) AS BIGINT) AS vmicro
           FROM events),
         m AS (SELECT (MIN(ts_ns) + MAX(ts_ns)) // 2 AS mid FROM ev),
         g AS (
           SELECT event_type,
             COUNT(CASE WHEN ts_ns <= mid THEN 1 END) AS n_a,
             COUNT(CASE WHEN ts_ns > mid THEN 1 END) AS n_b,
             SUM(CASE WHEN ts_ns <= mid THEN vmicro END) AS va,
             SUM(CASE WHEN ts_ns > mid THEN vmicro END) AS vb
           FROM ev CROSS JOIN m GROUP BY 1),
         t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                      CAST(SUM(n_b) AS BIGINT) AS tb FROM g),
         p AS (
           SELECT event_type, n_a, n_b,
             (2 * n_a * 1000000 + ta) // (2 * ta) AS pa4,
             (2 * n_b * 1000000 + tb) // (2 * tb) AS pb4,
             CAST(va // n_a AS BIGINT) AS mean_a_micro,
             CAST(vb // n_b AS BIGINT) AS mean_b_micro
           FROM g CROSS JOIN t)
         SELECT event_type, n_a, n_b,
           CAST(pa4 AS DOUBLE) / 10000 AS pct_a,
           CAST(pb4 AS DOUBLE) / 10000 AS pct_b,
           CAST(abs(pa4 - pb4) AS DOUBLE) / 10000 AS drift_pp,
           mean_a_micro, mean_b_micro
         FROM p ORDER BY event_type""",
    "dq5_skew_advisor" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                      CAST(SUM(cnt) AS BIGINT) AS total FROM c)
         SELECT user_id, cnt,
           cnt * 10000 // total AS share_bp,
           n_keys, total,
           total // n_keys AS mean_cnt,
           cnt > 4 * (total // n_keys) AS hot,
           least(16, greatest(1, cnt // greatest(4 * (total // n_keys), 1)))
             AS salt_factor
         FROM c CROSS JOIN g
         ORDER BY cnt DESC, user_id LIMIT 5""",
    // dq6 — same nano-grid integer arithmetic (HUGEINT stands in for
    // Spark's DECIMAL(38,0) on the one unbounded product)
    "dq6_dist_shift" ->
      """WITH tok AS (
           SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
           FROM documents),
         vocab AS (
           SELECT term FROM (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1)
           ORDER BY c DESC, term LIMIT 200),
         sc AS (
           SELECT lang,
             CASE WHEN term IN (SELECT term FROM vocab) THEN term
                  ELSE '<other>' END AS vterm,
             COUNT(*) AS cs
           FROM tok GROUP BY 1, 2),
         gterm AS (SELECT vterm, SUM(cs) AS cg FROM sc GROUP BY 1),
         tots AS (SELECT lang, SUM(cs) AS ts FROM sc GROUP BY 1),
         gtot AS (SELECT SUM(cs) AS tg FROM sc),
         grid AS (
           SELECT l.lang, g.vterm, COALESCE(sc.cs, 0) AS cs, g.cg
           FROM (SELECT DISTINCT lang FROM sc) l
           CROSS JOIN gterm g
           LEFT JOIN sc ON sc.lang = l.lang AND sc.vterm = g.vterm),
         gaps AS (
           SELECT lang, vterm,
             abs(CAST((CAST(cs AS HUGEINT) * 1000000000) // ts AS BIGINT)
               - CAST((CAST(cg - cs AS HUGEINT) * 1000000000) // (tg - ts) AS BIGINT))
               AS gap
           FROM grid JOIN tots USING (lang) CROSS JOIN gtot
           WHERE tg > ts),
         tv AS (SELECT lang, CAST(SUM(gap) // 2 AS BIGINT) AS tv_nano
                FROM gaps GROUP BY 1),
         top AS (
           SELECT lang, vterm AS top_term, gap AS top_gap_nano FROM (
             SELECT lang, vterm, gap,
               row_number() OVER (PARTITION BY lang
                 ORDER BY gap DESC, vterm ASC) AS rn
             FROM gaps) WHERE rn = 1),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)
         SELECT * FROM (
           SELECT tv.lang, nd.n_docs, tv.tv_nano, top.top_term,
             top.top_gap_nano
           FROM tv JOIN top USING (lang) JOIN nd USING (lang)
           UNION ALL
           SELECT lang, n_docs, CAST(1000000000 AS BIGINT) AS tv_nano,
             '<none>' AS top_term, CAST(1000000000 AS BIGINT) AS top_gap_nano
           FROM nd WHERE lang NOT IN (SELECT lang FROM tots))
         ORDER BY lang"""
  )
}
