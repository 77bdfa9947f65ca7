package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Time-series shaping over the event stream: calendar gap-filling
  * (dense daily series from a sparse fact table) and weekly cohort
  * retention — the two reshapes every analytics pipeline needs
  * before charting or training on event data. The reference's
  * trend/monitoring suite (reference monitoring.ps1:1068–1144)
  * computes the same first/last-third style rollups client-side; a
  * calendar-complete series is the general form.
  *
  * Scale notes: the calendar spine (days × event types) is tiny and
  * derived from a single min/max aggregate — it broadcasts to the
  * pre-aggregated fact side, so the gap-fill costs one scan + one
  * broadcast join at any corpus size. Retention shuffles events once
  * on `user_id`; the per-user cohort aggregate reuses the same
  * partitioning (no second exchange of the big side).
  */
object TimeSeriesQueries {

  /** THE hourly event-rate spine shared by ts9/ts10/ts11:
    * (event_type, hr, cnt) with hr = ts_ns div 1h-in-ns. One
    * partial-agg groupBy — everything the three statistics queries do
    * afterwards is ≤ |types|×|hours| rows. `localCheckpoint`ed
    * because every consumer reads it at least twice (self-join sides
    * / totals + window). Changing the bucketing here changes all
    * three consumers AND their oracle CTE ([[hourlyCountsSql]])
    * together. */
  private def hourlyCounts(s: SparkSession, d: String): DataFrame =
    Checkpointing.pin(Tables.events(s, d)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt")))

  /** DuckDB CTE `hr(event_type, hr, cnt)` — the oracle half of
    * [[hourlyCounts]]. */
  private val hourlyCountsSql: String =
    """hr AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── ts1: zero-filled daily spike counts per event type. Spikes
    // (value > 480) are sparse (~2% of events), so most (type, day)
    // cells are empty — the calendar × type spine reinstates them
    // with an explicit 0 instead of a silent hole.
    "ts1_gap_fill" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val spikes = ev.filter(col("value") > 480.0)
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val cal = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      cal.crossJoin(types)
        .join(spikes, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "day")
    },

    // ── ts2: weekly cohort retention — users grouped by first-seen
    // week (Monday-truncated), distinct active users per week offset.
    "ts2_retention" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(cohort, "user_id")
        .withColumn("week_offset",
          expr("CAST(datediff(week, cohort_week) DIV 7 AS INT)"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // ── ts3: batch sessionization (gaps-and-islands) — a new session
    // starts after a >4 h silence. The batch complement of the
    // streaming `session_window` (sw3): one shuffle on user_id, then
    // lag + running sum + grouped rollup all reuse that partitioning
    // (a single exchange at any scale). All time math in exact
    // integer microseconds.
    "ts3_sessionize" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val gapUs = 4L * 3600 * 1000000
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("prev_us", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"),
          expr("(max(us) - min(us)) div 1000000").as("duration_s"))
        .orderBy("user_id", "session_idx")
    },

    // ── ts4: last-observation-carried-forward imputation. The
    // observed series (last spike reading per type per day) is
    // sparse; the calendar spine reinstates missing days and
    // `last(_, ignoreNulls)` over an UNBOUNDED PRECEDING frame
    // carries the latest reading across the gap. Pure value copy —
    // no float arithmetic — so cross-engine exact.
    "ts4_locf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val wLast = Window.partitionBy("event_type", "day")
        .orderBy(col("ts_ns").desc, col("event_id").desc)
      val lastSpike = ev.filter(col("value") > 480.0)
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day"), col("value").as("obs"))
      val cal = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      val wFill = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.crossJoin(types)
        .join(lastSpike, Seq("event_type", "day"), "left")
        .withColumn("filled", last("obs", ignoreNulls = true).over(wFill))
        .select(col("event_type"), col("day"), col("obs"), col("filled"))
        .orderBy("event_type", "day")
    },

    // ── ts5: rolling anomaly flags — a day is anomalous when its
    // event count deviates from the trailing-week mean by more than
    // two standard deviations. The z-score test is algebraically
    // rearranged into pure integer arithmetic over windowed sums
    // ((cnt·x − s)² > 4·(cnt·q − s²), s = Σx, q = Σx² over the
    // frame), so there is no float σ to diverge cross-engine, and
    // the whole thing is two codegen'd window sums — no second scan.
    "ts5_anomaly" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val cal = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      cal.crossJoin(types)
        .join(daily, Seq("event_type", "day"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("s", sum("n").over(w))
        .withColumn("q", sum(expr("n * n")).over(w))
        .withColumn("is_anomaly",
          expr("cnt >= 4 AND (cnt*n - s)*(cnt*n - s) > 4*(cnt*q - s*s)"))
        .select(col("event_type"), col("day"), col("n"), col("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // ── ts6: time-weighted average — each reading weighted by how
    // long it was the user's current value (the correct mean for
    // irregularly-sampled gauges; the arithmetic mean over-weights
    // bursts). Numerator and denominator accumulate as exact integer
    // cent·microsecond products; ONE double division at the end.
    // Same single user_id shuffle as ts3, reused by lead + groupBy.
    "ts6_time_weighted" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("next_us", lead("us", 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy("user_id")
        .agg(sum(expr("cents * (next_us - us)")).as("wsum"),
          sum(expr("next_us - us")).as("dsum"),
          count(lit(1)).as("n_intervals"))
        .filter(col("dsum") > 0)
        .withColumn("twa", round(col("wsum") / (col("dsum") * lit(100.0)), 6))
        .select("user_id", "n_intervals", "twa")
        .orderBy("user_id")
    },

    // ── ts7: OHLC resampling — downsample the irregular event stream
    // to 15-minute bars (open/high/low/close/count per event_type),
    // the canonical time-series densification every monitoring and
    // market pipeline runs. open/close are min_by/max_by on a
    // (ts, event_id) struct — a tie-proof total order — so the bar is
    // a SINGLE partial-merging hash aggregate: no window, no per-bar
    // sort, map-side combine carries one candidate row per (type,
    // bar) — the shape that holds at any stream volume. Values pass
    // through unrounded (no double accumulation anywhere).
    "ts7_ohlc_bars" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("ws", expr("ts_ns div 1000000000 div 900 * 900"))
        .groupBy("event_type", "ws")
        .agg(
          expr("min_by(value, struct(ts_ns, event_id))").as("open"),
          max("value").as("high"),
          min("value").as("low"),
          expr("max_by(value, struct(ts_ns, event_id))").as("close"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "ws")
    },

    // ── ts8: exponentially-weighted moving average, α = ½, truncated
    // at 8 terms — the trend smoother beside ts5's z-anomaly. The
    // infinite EWMA recursion can't be windowed AND its (1−α)^(n−i)
    // factors explode doubles; the standard fix is the truncated
    // form: weights halve per step back (128, 64, …, 1 — exact
    // powers of two), the denominator renormalizes over the terms
    // actually present (256 − 2^(8−cnt), via shiftleft — no float
    // pow), and the whole thing is eight lag() reads inside ONE
    // compiled window frame over exact integer micros. Scale: one
    // shuffle on user_id, group-local sort, no unbounded state — the
    // same single-exchange shape as ts3/ts5; window start-up rows
    // renormalize instead of emitting nulls.
    "ts8_ewma" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ns"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      val num = (0 to 7)
        .map(k => coalesce(lag(col("v_micro"), k).over(w), lit(0L)) *
          lit(1L << (7 - k)))
        .reduce(_ + _)
      ev.withColumn("cnt", least(row_number().over(w), lit(8)))
        .withColumn("num", num)
        .withColumn("ewma_micro",
          expr("num div (256 - shiftleft(1, 8 - cnt))"))
        .select("user_id", "event_id", "v_micro", "ewma_micro")
        .orderBy("user_id", "event_id")
    },

    // ── ts9: lagged autocorrelation of the hourly event-rate series,
    // per type — the seasonality probe a pipeline runs before picking
    // training-data time windows. Semantics are join-based (a pair
    // exists only when BOTH hours exist), so calendar gaps weaken the
    // correlation instead of silently pairing non-adjacent hours the
    // way lead() over existing rows would. Shape: one partial-agg
    // groupBy to (type, hour) counts — everything after is ≤ |types|
    // × |hours| rows; the lag spine (1..3) broadcasts; moments are
    // exact integers (squares in DECIMAL(38,0), x8's pattern) so the
    // one double division at the end is bit-stable across engines.
    "ts9_autocorr" -> { (s, d) =>
      import s.implicits._
      val hr = hourlyCounts(s, d)
      val lags = Seq(1, 2, 3).toDF("lag")
      val pairs = hr.crossJoin(broadcast(lags))
        .withColumn("bhr", col("hr") + col("lag"))
        .select(col("event_type"), col("lag"), col("bhr"), col("cnt").as("x"))
        .join(hr.select(col("event_type"), col("hr").as("bhr"),
          col("cnt").as("y")), Seq("event_type", "bhr"))
      pairs.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
          sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"),
          sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round((col("sxy").cast("double") * col("n_pairs") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("sxx").cast("double") * col("n_pairs") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("syy").cast("double") * col("n_pairs") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("r"))
        .orderBy("event_type", "lag")
    },

    // ── ts10: CUSUM drift detection over the hourly series — the
    // control-chart read that catches a slow rate shift long before
    // per-point outlier tests (ts5) fire. Deviations are kept exact
    // by scaling: dev_t = cnt_t·T − total (T = #hours for the type,
    // so Σdev = 0 by construction); the running sum is a window over
    // the per-type hourly aggregate (≤ |types|×|hours| rows — the
    // window input is already reduced, never the raw event table).
    // Peak hour ties break to the EARLIEST hour via a struct-max with
    // negated hour. Bound: |dev| ≤ total·T, cusum ≤ total·T² —
    // int64-safe to ~3e5 hours (34 years) per 2⁶³/total budget at
    // total ≤ 1e8; corpus-scale widens to DECIMAL(38,0).
    "ts10_cusum_drift" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hr = hourlyCounts(s, d)
      val tot = hr.groupBy("event_type")
        .agg(count(lit(1)).as("t"), sum("cnt").as("total"))
      val w = Window.partitionBy("event_type").orderBy("hr")
      hr.join(broadcast(tot), "event_type")
        .withColumn("cusum", sum(col("cnt") * col("t") - col("total")).over(w))
        .groupBy("event_type")
        .agg(max("t").as("n_hours"), max("total").as("total"),
          max("cusum").as("max_pos"), min("cusum").as("max_neg"),
          max(struct(abs(col("cusum")), (col("hr") * -1).as("nhr"))).as("pk"))
        .select(col("event_type"), col("n_hours"), col("total"),
          col("max_pos"), col("max_neg"), (col("pk.nhr") * -1).as("peak_hr"))
        .orderBy("event_type")
    },

    // ── ts11: banded Theil–Sen robust trend — the median of pairwise
    // slopes, the estimator that shrugs off the outlier hours that
    // wreck a least-squares fit. Pairs are LAG-BANDED (h2−h1 ≤ 168,
    // one week): the classic all-pairs Theil–Sen is O(T²) in series
    // length, the band keeps it ≤ 168·T — linear in T and
    // corpus-volume-independent either way (the series is the hourly
    // AGGREGATE). The banded self-join is an equi-join on a derived
    // week-block key (off ∈ {0,1} replication), never a cross join;
    // slopes are exact integers (Δcnt·10⁶ DIV Δh — both engines
    // truncate toward zero) and the median is the no-value-buffer
    // two-pass [[Ranks.groupQuantilesDisc]], so the result is
    // bit-stable at any parallelism.
    "ts11_theilsen" -> { (s, d) =>
      import s.implicits._
      val hr = hourlyCounts(s, d)
      // band pairs via week-block equi-join: a row joins its own block
      // (off=0) and the next (off=1); the lag filter keeps h2-h1 in
      // (0, 168] — every true pair appears exactly once
      val a = hr.crossJoin(broadcast(Seq(0, 1).toDF("off")))
        .select(col("event_type"),
          (expr("hr div 168") + col("off")).as("blk"),
          col("hr").as("h1"), col("cnt").as("c1"))
      val b = hr.select(col("event_type"), expr("hr div 168").as("blk"),
        col("hr").as("h2"), col("cnt").as("c2"))
      val pairs = a.join(b, Seq("event_type", "blk"))
        .filter(col("h2") > col("h1") && col("h2") - col("h1") <= 168)
        // nullif guards the ANSI DIV: Catalyst may evaluate the
        // projection alongside the join before the lag filter lands,
        // and h2 = h1 rows exist pre-filter (they are always dropped,
        // so the null never survives)
        .withColumn("slope_micro",
          expr("((c2 - c1) * 1000000) DIV nullif(h2 - h1, 0)"))
      val med = Ranks.groupQuantilesDisc(
          pairs, Seq("event_type"), "slope_micro", None, Seq((1, 2)))
        .groupBy("event_type")
        .agg(max(when(col("_p_idx") === 0, col("slope_micro")))
          .as("median_slope_micro"))
      pairs.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
        .join(med, "event_type")
        .withColumn("trend",
          when(col("median_slope_micro") > 0, "rising")
            .when(col("median_slope_micro") < 0, "falling")
            .otherwise("flat"))
        .orderBy("event_type")
    }
  )

  def oracles: Map[String, String] = Map(
    "ts1_gap_fill" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
         cal AS (
           SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev)),
         types AS (SELECT DISTINCT event_type FROM ev),
         spikes AS (
           SELECT event_type, day, COUNT(*) AS n FROM ev
           WHERE value > 480.0 GROUP BY 1, 2)
         SELECT t.event_type, c.day, COALESCE(s.n, 0) AS n
         FROM cal c CROSS JOIN types t
         LEFT JOIN spikes s ON s.event_type = t.event_type AND s.day = c.day
         ORDER BY t.event_type, c.day""",
    "ts2_retention" ->
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
         cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
         FROM ev e JOIN cohort c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    // CAST(ts AS TIMESTAMP) truncates the nanosecond store to micros
    // — the same floor Spark's `ts_ns div 1000` takes
    "ts3_sessionize" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
           FROM events),
         f AS (
           SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 14400000000 THEN 1 ELSE 0 END AS new_s
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         se AS (
           SELECT user_id, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM f)
         SELECT user_id, session_idx, COUNT(*) AS n_events, MIN(us) AS start_us,
           (MAX(us) - MIN(us)) // 1000000 AS duration_s
         FROM se GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    "ts4_locf" ->
      """WITH ev AS (
           SELECT event_type, CAST(ts AS DATE) AS day, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
           FROM events),
         last_spike AS (
           SELECT event_type, day, value AS obs FROM ev
           WHERE value > 480.0
           QUALIFY row_number() OVER (PARTITION BY event_type, day
             ORDER BY us DESC, event_id DESC) = 1),
         cal AS (
           SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev)),
         types AS (SELECT DISTINCT event_type FROM ev)
         SELECT t.event_type, c.day, l.obs,
           last_value(l.obs IGNORE NULLS) OVER (PARTITION BY t.event_type ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM cal c CROSS JOIN types t
         LEFT JOIN last_spike l ON l.event_type = t.event_type AND l.day = c.day
         ORDER BY t.event_type, c.day""",
    "ts5_anomaly" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
         daily AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
         cal AS (
           SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev)),
         types AS (SELECT DISTINCT event_type FROM ev),
         series AS (
           SELECT t.event_type, c.day, COALESCE(d.n, 0) AS n
           FROM cal c CROSS JOIN types t
           LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = c.day),
         win AS (
           SELECT event_type, day, n,
             COUNT(*) OVER w AS cnt,
             CAST(SUM(n) OVER w AS BIGINT) AS s,
             CAST(SUM(n*n) OVER w AS BIGINT) AS q
           FROM series
           WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, n,
           (cnt >= 4 AND (cnt*n - s)*(cnt*n - s) > 4*(cnt*q - s*s)) AS is_anomaly
         FROM win ORDER BY event_type, day""",
    "ts6_time_weighted" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         iv AS (
           SELECT user_id, cents, us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
           FROM ev),
         agg AS (
           SELECT user_id,
             CAST(SUM(cents * (next_us - us)) AS BIGINT) AS wsum,
             CAST(SUM(next_us - us) AS BIGINT) AS dsum,
             COUNT(*) AS n_intervals
           FROM iv WHERE next_us IS NOT NULL GROUP BY 1)
         SELECT user_id, n_intervals,
           ROUND(wsum / (dsum * 100.0), 6) AS twa
         FROM agg WHERE dsum > 0 ORDER BY user_id""",
    "ts7_ohlc_bars" ->
      """SELECT event_type,
           epoch_ns(ts) // 1000000000 // 900 * 900 AS ws,
           first(value ORDER BY epoch_ns(ts), event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           last(value ORDER BY epoch_ns(ts), event_id) AS close,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, ws""",
    "ts8_ewma" -> {
      val numSql = (0 to 7)
        .map(k => s"COALESCE(lag(v_micro, $k) OVER w, 0) * ${1L << (7 - k)}")
        .mkString(" +\n             ")
      s"""WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
             CAST(round(value * 1000000) AS BIGINT) AS v_micro
           FROM events),
         l AS (
           SELECT user_id, event_id, v_micro,
             LEAST(row_number() OVER w, 8) AS cnt,
             $numSql AS num
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
         SELECT user_id, event_id, v_micro,
           CAST(num // (256 - (1 << (8 - cnt))) AS BIGINT) AS ewma_micro
         FROM l ORDER BY user_id, event_id"""
    },

    "ts9_autocorr" ->
      s"""WITH $hourlyCountsSql,
         lags(lag) AS (VALUES (1), (2), (3)),
         pairs AS (
           SELECT a.event_type, lags.lag, a.cnt AS x, b.cnt AS y
           FROM hr a CROSS JOIN lags
           JOIN hr b ON b.event_type = a.event_type
                    AND b.hr = a.hr + lags.lag),
         m AS (
           SELECT event_type, lag, COUNT(*) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
             SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
           FROM pairs GROUP BY 1, 2)
         SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
           ROUND((CAST(sxy AS DOUBLE) * n_pairs - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) * n_pairs - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(syy AS DOUBLE) * n_pairs - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r
         FROM m ORDER BY event_type, lag""",

    "ts10_cusum_drift" ->
      s"""WITH $hourlyCountsSql,
         tot AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(cnt) AS BIGINT) AS total
           FROM hr GROUP BY 1),
         c AS (
           SELECT hr.event_type, hr.hr,
             CAST(SUM(hr.cnt * tot.t - tot.total)
               OVER (PARTITION BY hr.event_type ORDER BY hr.hr) AS BIGINT) AS cusum,
             tot.t, tot.total
           FROM hr JOIN tot USING (event_type))
         SELECT event_type, MAX(t) AS n_hours, MAX(total) AS total,
           MAX(cusum) AS max_pos, MIN(cusum) AS max_neg,
           CAST(-((MAX(struct_pack(a := abs(cusum), nhr := -hr))).nhr) AS BIGINT)
             AS peak_hr
         FROM c GROUP BY event_type ORDER BY event_type""",

    // ts11 — unbanded spelling of the SAME pair set (the lag filter is
    // the semantics; the engine's week-block equi-join is how it scales)
    "ts11_theilsen" ->
      s"""WITH $hourlyCountsSql,
         pairs AS (
           SELECT a.event_type,
             ((b.cnt - a.cnt) * 1000000) // (b.hr - a.hr) AS slope_micro
           FROM hr a JOIN hr b
             ON b.event_type = a.event_type
            AND b.hr > a.hr AND b.hr - a.hr <= 168),
         m AS (
           SELECT event_type, COUNT(*) AS n_pairs,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_micro)
               AS BIGINT) AS median_slope_micro
           FROM pairs GROUP BY 1)
         SELECT event_type, n_pairs, median_slope_micro,
           CASE WHEN median_slope_micro > 0 THEN 'rising'
                WHEN median_slope_micro < 0 THEN 'falling'
                ELSE 'flat' END AS trend
         FROM m ORDER BY event_type"""
  )
}
