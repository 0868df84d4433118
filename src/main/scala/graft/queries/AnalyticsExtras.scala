package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 analytic breadth: ranking/distribution window functions, range
  * frames, exact statistical moments, grouping sets, pivot/unpivot,
  * deterministic hash sampling, and two star-schema rollups exercising the
  * broadcast-join path (SURVEY §2.3-§2.6 completeness).
  *
  * Determinism notes (SURVEY §7.3.1): every double aggregate routes through
  * DECIMAL sums ([[Q.dsum]]) or exact rational window functions; every
  * query ends in a total ORDER BY; null ordering is pinned explicitly
  * because Spark defaults ASC NULLS FIRST while DuckDB defaults NULLS LAST.
  */
object AnalyticsExtras {
  import Q._

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** W5: ranking + distribution functions — rank/dense_rank/percent_rank/
    * cume_dist/ntile over a per-user value ordering (deterministic via the
    * unique event_id tiebreak; exact rationals rounded identically).
    */
  val w5RankAnalytics: Q = Q(
    "w5_rank_analytics",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").asc_nulls_first, col("event_id"))
      t(s, dir, "events")
        .select(
          col("user_id"), col("event_id"), col("value"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"),
          ntile(4).over(w).as("tile4"))
        .orderBy("event_id")
    },
    Some("""SELECT user_id, event_id, value,
      rank() OVER w AS rnk,
      dense_rank() OVER w AS drnk,
      round(percent_rank() OVER w, 6) AS prnk,
      round(cume_dist() OVER w, 6) AS cdist,
      ntile(4) OVER w AS tile4
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY value ASC NULLS FIRST, event_id)
      ORDER BY event_id""")
  )

  /** W6: first/last/nth value over an explicit full-partition frame. */
  val w6FirstLast: Q = Q(
    "w6_first_last",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(
          col("user_id"), col("event_id"),
          first(col("event_id")).over(w).as("first_ev"),
          last(col("event_id")).over(w).as("last_ev"),
          nth_value(col("event_id"), 2).over(w).as("second_ev"))
        .orderBy("event_id")
    },
    Some("""SELECT user_id, event_id,
      first_value(event_id) OVER w AS first_ev,
      last_value(event_id) OVER w AS last_ev,
      nth_value(event_id, 2) OVER w AS second_ev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY event_id""")
  )

  /** W7: time-range frame — trailing 1 h sum per user on the event-time
    * axis. RANGE frames make same-instant rows peers, so no tiebreak is
    * needed; the sum routes through DECIMAL for cross-engine exactness.
    * unix_timestamp/floor(epoch) both floor toward -inf on the µs stamps.
    */
  val w7RangeFrame: Q = Q(
    "w7_range_frame",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("epoch"))
        .rangeBetween(-3600, 0)
      t(s, dir, "events")
        .withColumn("epoch", unix_timestamp(col("ts")))
        .select(
          col("user_id"), col("event_id"), col("epoch"),
          sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("trailing_1h_sum"))
        .orderBy("event_id")
    },
    Some("""SELECT user_id, event_id, epoch,
      CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY epoch
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS trailing_1h_sum
      FROM (SELECT user_id, event_id, value,
              CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events)
      ORDER BY event_id""")
  )

  /** A12: exact statistical moments — var/stddev/corr assembled from
    * DECIMAL power sums so Spark's parallel partials and DuckDB's serial
    * sums feed IDENTICAL doubles into one shared final expression (no
    * Welford-merge nondeterminism; corpus values carry 2 dp, epoch is
    * integral, so the decimal casts are lossless).
    */
  val a12StatsMoments: Q = Q(
    "a12_stats_moments",
    (s, dir) => {
      val sx = dsum(col("value"), 2)
      val sxx = sum((col("value") * col("value")).cast(DecimalType(28, 4))).cast("double")
      val sy = sum(col("epoch").cast(DecimalType(28, 0))).cast("double")
      val syy = sum((col("epoch") * col("epoch")).cast(DecimalType(38, 0))).cast("double")
      val sxy = sum((col("value") * col("epoch")).cast(DecimalType(28, 2))).cast("double")
      val n = count(lit(1)).cast("double")
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("epoch", unix_timestamp(col("ts")))
        .groupBy("event_type")
        .agg(
          n.as("n"),
          round((sxx - sx * sx / n) / n, 6).as("var_pop"),
          round(sqrt((sxx - sx * sx / n) / n), 6).as("stddev_pop"),
          round(
            (sxy - sx * sy / n) /
              (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)),
            6).as("corr_value_epoch"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type,
      n,
      round((sxx - sx * sx / n) / n, 6) AS var_pop,
      round(sqrt((sxx - sx * sx / n) / n), 6) AS stddev_pop,
      round((sxy - sx * sy / n) /
            (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
        AS corr_value_epoch
      FROM (SELECT event_type,
              ${sqlDsum("value")} AS sx,
              CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
              CAST(sum(CAST(epoch AS DECIMAL(28,0))) AS DOUBLE) AS sy,
              CAST(sum(CAST(epoch * epoch AS DECIMAL(38,0))) AS DOUBLE) AS syy,
              CAST(sum(CAST(value * epoch AS DECIMAL(28,2))) AS DOUBLE) AS sxy,
              CAST(count(*) AS DOUBLE) AS n,
              count(*) AS cnt
            FROM (SELECT event_type, value,
                    CAST(floor(epoch(ts)) AS BIGINT) AS epoch
                  FROM events WHERE value IS NOT NULL)
            GROUP BY event_type)
      ORDER BY event_type""")
  )

  /** A13: conditional/boolean aggregates — count_if, bool_and/bool_or,
    * filtered min/max.
    */
  val a13Conditional: Q = Q(
    "a13_conditional_agg",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("count_if(value > 250)").as("n_big"),
          expr("bool_and(value > 0)").as("all_positive"),
          expr("bool_or(value > 489)").as("any_near_max"),
          max(when(col("value") <= 250, col("value"))).as("max_small"),
          min(when(col("value") > 250, col("value"))).as("min_big"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
      count(*) FILTER (value > 250) AS n_big,
      bool_and(value > 0) AS all_positive,
      bool_or(value > 489) AS any_near_max,
      max(value) FILTER (value <= 250) AS max_small,
      min(value) FILTER (value > 250) AS min_big
      FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** A14: global census — interpolated median (identical linear-interp
    * definition on both engines) + multi-column distinct counts.
    */
  val a14MedianDistinct: Q = Q(
    "a14_median_distinct",
    (s, dir) =>
      t(s, dir, "events")
        .agg(
          round(expr("median(value)"), 6).as("median_value"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("user_id"), col("event_type")).as("n_user_type_pairs"),
          count(lit(1)).as("n_rows")),
    Some("""SELECT round(median(value), 6) AS median_value,
      count(DISTINCT user_id) AS n_users,
      count(DISTINCT (user_id, event_type)) AS n_user_type_pairs,
      count(*) AS n_rows FROM events""")
  )

  /** A15: GROUPING SETS with grouping() indicators — the generalized form
    * of a8 rollup / a9 cube, via Spark SQL over a temp view.
    */
  val a15GroupingSets: Q = Q(
    "a15_grouping_sets",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_a15")
      s.sql(s"""SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS INT) AS g_rf,
        CAST(grouping(l_linestatus) AS INT) AS g_ls,
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_a15
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(grouping(l_returnflag) AS INT) AS g_rf,
      CAST(grouping(l_linestatus) AS INT) AS g_ls,
      count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  )

  /** P9: pivot — event counts per user, one column per (pinned) event
    * type; the explicit value list keeps the output schema static, which
    * is also what makes pivot plannable at scale (no driver-side distinct
    * scan to discover columns).
    */
  val p9Pivot: Q = Q(
    "p9_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted
        .select(
          col("user_id") +:
            types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
      count(*) FILTER (event_type = 'click') AS n_click,
      count(*) FILTER (event_type = 'error') AS n_error,
      count(*) FILTER (event_type = 'purchase') AS n_purchase,
      count(*) FILTER (event_type = 'signup') AS n_signup,
      count(*) FILTER (event_type = 'view') AS n_view
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  /** P10: unpivot/melt — wide lineitem measures to long form. */
  val p10Unpivot: Q = Q(
    "p10_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
    Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      ORDER BY l_orderkey, l_linenumber, measure""")
  )

  /** P11: deterministic hash sampling — md5-bucket 1/16 sample, the
    * reproducible alternative to TABLESAMPLE for pipeline splits (same
    * rows on every engine, every run, any partitioning).
    */
  val p11HashSample: Q = Q(
    "p11_hash_sample",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 1)
            === "0")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE substr(md5(l_orderkey || '|' || l_linenumber), 1, 1) = '0'
      ORDER BY l_orderkey, l_linenumber""")
  )

  /** Q05: star-schema revenue rollup (TPC-H Q5 flavor) — lineitem ⋈ orders
    * ⋈ customer ⋈ nation ⋈ region with the dimension sides explicitly
    * broadcast: the fact table never shuffles for the dim joins, which is
    * THE plan shape that survives 100 TB.
    */
  val q05RevenueByNation: Q = Q(
    "q05_revenue_by_nation",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    },
    Some(s"""SELECT r_name, n_name,
      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
      count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")
  )

  /** Q06: predicate-pushdown showcase (TPC-H Q6 flavor) — tight range
    * filters that must reach the Parquet scan, one global sum.
    */
  val q06ForecastRevenue: Q = Q(
    "q06_forecast_revenue",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("2001-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_lines")),
    Some(s"""SELECT ${sqlDsum("l_extendedprice * l_discount", 4)} AS revenue,
      count(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2001-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")
  )

  /** A16: ordered funnel — how many users progressed view → click →
    * purchase IN ORDER (each later stage strictly after the user's earliest
    * qualifying earlier stage). Three keyed min-aggregates chained by
    * equi-joins on user_id: every stage is a map-side-combinable hash agg
    * over one shuffle key, and at 100 TB the per-stage user tables shrink
    * monotonically — the classic funnel shape, no window over the full
    * event stream required.
    */
  val a16Funnel: Q = Q(
    "a16_funnel",
    (s, dir) => {
      val ev = t(s, dir, "events")
      def firstAfter(evType: String, prev: org.apache.spark.sql.DataFrame, prevTs: String, outTs: String) =
        ev.filter(col("event_type") === evType)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(prevTs))
          .groupBy("user_id")
          .agg(min(col("ts")).as(outTs))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = firstAfter("click", v, "t1", "t2")
      val p = firstAfter("purchase", c, "t2", "t3")
      val stages = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        }
      stages.reduce(_.unionByName(_)).orderBy("stage")
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
            JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
            JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      SELECT '1_view' AS stage, count(*) AS n_users FROM v
      UNION ALL SELECT '2_click', count(*) FROM c
      UNION ALL SELECT '3_purchase', count(*) FROM p
      ORDER BY stage""")
  )

  /** A17: retention cohorts — users grouped by first-active day, distinct
    * active users counted per (cohort, day-offset). Two hash aggregates
    * and one equi-join on user_id; the cohort table is a per-user scalar,
    * broadcastable at any corpus size.
    */
  val a17Retention: Q = Q(
    "a17_retention",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val first = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort"))
      val activity = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      activity.join(first, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "day_offset")
    },
    Some("""WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
               FROM events GROUP BY user_id),
      activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      SELECT f.cohort, date_diff('day', f.cohort, a.day) AS day_offset,
        count(DISTINCT a.user_id) AS n_users
      FROM activity a JOIN first f ON a.user_id = f.user_id
      GROUP BY 1, 2 ORDER BY cohort, day_offset""")
  )

  /** A18: gap-based sessionization with EXPLICIT session ids — the
    * row-level twin of s3's `session_window`: users also need the id ON
    * each event (for joins, funnels, replay), which the windowed form
    * doesn't give. Classic two-window shape: a lag-gap flag, then a
    * running sum of flags as the id — one shuffle on user_id serves both
    * windows. Gaps compare integer MICROSECONDS (`unix_micros` /
    * `epoch_us`), never float seconds.
    */
  val a18Sessionize: Q = Q(
    "a18_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gapUs = 1800L * 1000000L
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .groupBy("user_id", "session_id")
        .agg(
          min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("duration_us"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH o AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id, ts,
          CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM o)
      SELECT user_id, session_id, min(ts) AS session_start, count(*) AS n_events,
        max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""")
  )

  /** H1: slowly-changing-dimension Type-2 history build — collapse each
    * user's event stream into [valid_from, valid_to) validity intervals of
    * its changing state, the canonical warehouse dimension-history
    * operator (Kimball SCD2) the reference's append-only price store never
    * needs but any engine claiming its query surface does. Consecutive
    * equal states are collapsed (gaps-and-islands via `lag`), versions are
    * dense per key, the open interval carries `valid_to IS NULL` +
    * `is_current = 1`.
    *
    * Scale: two windows and nothing else, both partitioned on the
    * dimension key — one shuffle on `user_id` total, no joins, no
    * self-join (the naive SCD2 build joins the stream to itself on
    * version±1; `lead` over the same partitioning is the same result with
    * zero extra shuffles). Order within a key is totalized by
    * (ts, event_id) so same-timestamp ingest can't flip runs.
    */
  /** h1's interval table, shared with h2's point-in-time reconstruction
    * (the snapshot must read the SAME history semantics).
    */
  private[queries] def h1History(s: SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val starts = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type").as("state"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("ts").as("valid_from"), col("state"),
        row_number().over(w).cast("long").as("version"))
    val wv = Window.partitionBy("user_id").orderBy("version")
    starts
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0)).as("is_current"))
  }

  /** The same history in DuckDB SQL (no ORDER BY — callers wrap it). */
  private[queries] val sqlH1History = """WITH ordered AS (
        SELECT user_id, event_id, ts, event_type AS state,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      starts AS (
        SELECT user_id, ts AS valid_from, state,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        FROM ordered WHERE prev IS NULL OR prev <> state)
      SELECT user_id, version, state, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        CASE WHEN lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
             THEN 1 ELSE 0 END AS is_current
      FROM starts"""

  val h1Scd2History: Q = Q(
    "h1_scd2_history",
    (s, dir) => h1History(s, dir).orderBy("user_id", "version"),
    Some(s"""SELECT * FROM ($sqlH1History) ORDER BY user_id, version""")
  )

  /** H2: point-in-time snapshot — reconstruct every user's state AS OF one
    * instant from h1's validity intervals, the query that makes an SCD2
    * history worth building ("what did the dimension look like last
    * Tuesday"): half-open interval containment `valid_from <= T <
    * valid_to` with the current row's open end treated as +∞.
    *
    * Scale: the interval predicate is a per-row filter over the history —
    * no join, no window beyond h1's own one-shuffle build; at 100 TB the
    * snapshot reads the (much smaller) history table, never the event log.
    */
  val h2PointInTime: Q = Q(
    "h2_point_in_time",
    (s, dir) => {
      val at = lit("2024-01-15 00:00:00").cast("timestamp")
      h1History(s, dir)
        .filter(col("valid_from") <= at &&
          (col("valid_to").isNull || col("valid_to") > at))
        .select(col("user_id"), col("version"), col("state"), col("valid_from"))
        .orderBy("user_id")
    },
    Some(s"""SELECT user_id, version, state, valid_from
      FROM ($sqlH1History)
      WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
      ORDER BY user_id""")
  )

  /** H3: SCD2 dimension join — attach to every purchase fact the dimension
    * VERSION that was valid at the fact's own timestamp (the canonical
    * consumption of h1's history, and the query every warehouse kimball
    * layer runs: "which customer state did this order see"). h2 snapshots
    * one instant; h3 resolves a per-row instant for every fact.
    *
    * Scale: NOT a range join — the interval predicate would plan a
    * partial-cross product. The native backward as-of join
    * ([[graft.plans.NativeAsOf]]) co-partitions facts and version starts
    * on the user key and merges them in one pass: linear in facts +
    * versions at any scale (the j9 contract). Interval semantics coincide
    * with as-of because versions partition time: the latest
    * `valid_from <= ts` IS the containing interval, and a version whose
    * microsecond interval is empty loses the equal-ts tiebreak (greatest
    * `(version, state)` wins) to its successor on both engines (the
    * oracle compares at integer microseconds for exactly that reason).
    */
  val h3Scd2DimJoin: Q = Q(
    "h3_scd2_dim_join",
    (s, dir) => {
      val hist = h1History(s, dir)
        .select(col("user_id"), col("valid_from"), col("version"), col("state"))
      val fact = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.NativeAsOf
        .joinAsOf(fact, hist, "user_id", "ts", "valid_from", Seq("version", "state"))
        .select(col("event_id"), col("user_id"),
          col("asof_version").as("version"), col("asof_state").as("state"))
        .orderBy("event_id")
    },
    Some(s"""SELECT f.event_id, f.user_id, h.version, h.state
      FROM events f
      JOIN ($sqlH1History) h
        ON h.user_id = f.user_id
       AND epoch_us(h.valid_from) <= epoch_us(f.ts)
       AND (h.valid_to IS NULL OR epoch_us(f.ts) < epoch_us(h.valid_to))
      WHERE f.event_type = 'purchase'
      ORDER BY f.event_id""")
  )

  /** W8: longest activity streak per user — gaps-and-islands over active
    * DAYS (the engagement metric every analytics stack ships): distinct
    * active days, `day − row_number` collapses each consecutive run to a
    * constant anchor, and the longest run survives a (length desc, start
    * asc) tie-broken top-1 per user.
    *
    * Scale: two shuffles total, both carrying the user key — the day
    * dedup shuffles on (user_id, day) with map-side combine (repeated
    * events collapse before they move), then ONE user_id shuffle is
    * shared by both windows and the run aggregate. Integer day
    * arithmetic.
    */
  val w8Streak: Q = Q(
    "w8_streak",
    (s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val wd = Window.partitionBy("user_id").orderBy("d")
      val runs = days
        .withColumn("grp", date_sub(col("d"), row_number().over(wd)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("streak_len"), min(col("d")).as("streak_start"))
      val wtop = Window.partitionBy("user_id")
        .orderBy(desc("streak_len"), col("streak_start"))
      runs.withColumn("rn", row_number().over(wtop)).filter(col("rn") === 1)
        .select(col("user_id"), col("streak_start"), col("streak_len"))
        .orderBy("user_id")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      runs AS (SELECT user_id,
                      d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp,
                      d FROM days),
      st AS (SELECT user_id, count(*) AS streak_len, min(d) AS streak_start
             FROM runs GROUP BY user_id, grp)
      SELECT user_id, streak_start, streak_len FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY streak_len DESC, streak_start) AS rn
        FROM st) WHERE rn = 1 ORDER BY user_id""")
  )

  /** A20: trailing-window z-score anomaly detection over the daily revenue
    * series — the data-quality monitor an ingest pipeline runs on every
    * partition landing ("is today's volume statistically unlike the last
    * week's"): flag a day when its revenue is more than 3 population
    * standard deviations from the trailing-7-day mean.
    *
    * Exactness: the z-test is evaluated ENTIRELY in integers — revenue is
    * quantized to 1e-4 units (exact for 2dp×2dp products, see [[Q.qsum]]),
    * and `z² > 9` is cross-multiplied into
    * `(n·x − s)² > 9·(n·Σx² − s²)` so no division or square root ever
    * happens. Squares reach ~1e24, past int64 — the engine carries them in
    * `DECIMAL(38,0)` (exact, order-independent) and the oracle in DuckDB's
    * HUGEINT (int128); both are exact integer arithmetic, so the flag is
    * bit-identical however partial sums associate.
    *
    * Scale: one map-side-combinable groupBy collapses the fact table to
    * calendar days BEFORE the window, so the unpartitioned trailing window
    * (Spark's "No Partition Defined" warning, deliberate) sees thousands
    * of rows at ANY corpus size — the same bounded-input argument as e4's
    * centroid ranking. At 100 TB nothing but (day, long) pairs shuffles.
    */
  val a20Anomaly: Q = Q(
    "a20_anomaly",
    (s, dir) => {
      val dec = DecimalType(38, 0)
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("rev_u"))
      val wt = Window.orderBy("d").rowsBetween(-7, -1)
      daily
        .withColumn("n", count(col("rev_u")).over(wt))
        .withColumn("sv", sum(col("rev_u")).over(wt))
        .withColumn("ssq", sum(col("rev_u").cast(dec) * col("rev_u").cast(dec)).over(wt))
        .withColumn("num",
          (col("n") * col("rev_u") - col("sv")).cast(dec) *
            (col("n") * col("rev_u") - col("sv")).cast(dec))
        .withColumn("den",
          col("n").cast(dec) * col("ssq") - col("sv").cast(dec) * col("sv").cast(dec))
        .select(
          col("d"),
          (col("rev_u").cast("double") / 10000).as("rev"),
          col("n").as("n_prior"),
          when(col("n") >= 4 && col("num") > lit(9).cast(dec) * col("den"), 1)
            .otherwise(0).as("is_anomaly"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS rev_u
        FROM lineitem GROUP BY 1),
      win AS (
        SELECT d, CAST(rev_u AS BIGINT) AS rev_u,
               count(rev_u) OVER wt AS n,
               CAST(sum(rev_u) OVER wt AS BIGINT) AS sv,
               sum(CAST(rev_u AS HUGEINT) * CAST(rev_u AS HUGEINT)) OVER wt AS ssq
        FROM (SELECT d, CAST(rev_u AS BIGINT) AS rev_u FROM daily)
        WINDOW wt AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT d, CAST(rev_u AS DOUBLE) / 10000 AS rev,
        CAST(n AS BIGINT) AS n_prior,
        CASE WHEN n >= 4
              AND CAST(n * rev_u - sv AS HUGEINT) * CAST(n * rev_u - sv AS HUGEINT)
                  > 9 * (n * ssq - CAST(sv AS HUGEINT) * CAST(sv AS HUGEINT))
             THEN 1 ELSE 0 END AS is_anomaly
      FROM win ORDER BY d""")
  )

  /** W9: bounded-kernel EWMA over the daily revenue series — the smoothed
    * trend line next to w2's flat moving average: each day's value is the
    * recursive blend `ewma = 0.8·prev + 0.2·x` folded over the trailing
    * 8-day window (a bounded kernel, so late-arriving history outside the
    * frame can never perturb old results — the re-statement property a
    * production metric store needs).
    *
    * Exactness: EWMA is order-sensitive by definition, so the frame's
    * values are collected, sorted by day, and folded SEQUENTIALLY —
    * Spark seeds `aggregate` with the first element and folds the rest,
    * which is exactly DuckDB `list_reduce`'s no-init semantics, so both
    * engines evaluate the identical chain of IEEE operations
    * (x19's fold discipline applied to a recursive kernel).
    *
    * Scale: same bounded-window argument as a20 — the fact table
    * collapses to calendar days before the window, so the unpartitioned
    * frame sees thousands of rows at any corpus size, each carrying an
    * ≤8-element array.
    */
  val w9Ewma: Q = Q(
    "w9_ewma",
    (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("rev_u"))
        .select(col("d"), (col("rev_u").cast("double") / 10000).as("rev"))
      val wf = Window.orderBy("d").rowsBetween(-7, 0)
      daily
        .withColumn("arr",
          transform(array_sort(collect_list(struct(col("d"), col("rev"))).over(wf)),
            e => e("rev")))
        .select(col("d"), col("rev"),
          // floor-quantize, don't round: the fold's blend lands near
          // x.xxxxxx5 often enough that Spark's HALF_UP-on-binary and the
          // oracle's round() disagree by 1 ulp of the 6th decimal
          // (observed at sf0.1); floor of the identical product has no
          // tie semantics to disagree on.
          (floor(aggregate(
            slice(col("arr"), lit(2), size(col("arr")) - 1),
            element_at(col("arr"), 1),
            (acc, x) => acc * lit(0.8) + x * lit(0.2)) * 1000000) / 1000000)
            .as("ewma_f6"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 AS DOUBLE) / 10000 AS rev
        FROM lineitem GROUP BY 1),
      win AS (
        SELECT d, rev,
               list_sort(list(struct_pack(d := d, rev := rev))
                 OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) AS arr
        FROM daily)
      SELECT d, rev,
        floor(list_reduce(list_transform(arr, x -> x.rev),
          (a, b) -> a * 0.8 + b * 0.2) * 1000000) / 1000000 AS ewma_f6
      FROM win ORDER BY d""")
  )

  /** W10: maximum drawdown per series — the peak-to-trough risk metric the
    * reference's asset-price domain lives on (how far below its running
    * high-water mark did the series fall): running peak via an unbounded
    * preceding window, drawdown = peak − value, and the per-series maximum
    * of that gap. Computed over the event value stream keyed by type.
    *
    * Exactness: values are quantized to 1e-4 units (`round(v·10⁴)` on
    * bit-identical doubles in both engines), so the running max, the
    * subtraction and the final max are all integer-exact; the two output
    * doubles are single exact-integer/constant divisions.
    *
    * Scale: ONE shuffle on the series key shared by the window and the
    * final aggregate (same-key window→groupBy reuses the partitioning);
    * the running max is a streaming frame (O(1) state per row, no frame
    * re-scan). The (ts, event_id) ordering is total, so the running peak
    * is deterministic under any partitioning.
    */
  val w10Drawdown: Q = Q(
    "w10_drawdown",
    (s, dir) => {
      val ticks = t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          round(col("value") * 10000).cast("long").as("vu"))
      val wp = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ticks
        .withColumn("peak_u", max(col("vu")).over(wp))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          max(col("peak_u")).as("hi_u"),
          max(col("peak_u") - col("vu")).as("dd_u"))
        .select(col("event_type"), col("n_events"),
          (col("hi_u").cast("double") / 10000).as("peak"),
          (col("dd_u").cast("double") / 10000).as("max_drawdown"))
        .orderBy("event_type")
    },
    Some("""WITH ticks AS (SELECT event_type, ts, event_id,
               CAST(round(value * 10000) AS BIGINT) AS vu FROM events),
      runs AS (SELECT event_type, vu,
                 max(vu) OVER (PARTITION BY event_type ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_u
               FROM ticks)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(peak_u) AS DOUBLE) / 10000 AS peak,
             CAST(max(peak_u - vu) AS DOUBLE) / 10000 AS max_drawdown
      FROM runs GROUP BY event_type ORDER BY event_type""")
  )

  /** A21: equi-width histogram with exact integer edges — the
    * distribution profile (SURVEY §2.4's percentile family, bucketed
    * form): order totals quantized to cents, bucketed into 20 fixed-width
    * bins anchored at the GLOBAL min/max (two scalar aggregates broadcast
    * into the binning expression), each bin reporting count and exact
    * quantized mass.
    *
    * Scale: the min/max pass is one map-side-combinable scalar aggregate;
    * the histogram is one groupBy on ≤20 keys with map-side combine —
    * nothing but (bin, long, long) triples shuffles at any corpus size.
    * All arithmetic is integer (cents), so bin assignment is bit-identical
    * across engines and partitionings.
    */
  val a21Histogram: Q = Q(
    "a21_histogram",
    (s, dir) => {
      val cents = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("pc"))
      val ext = cents.agg(min(col("pc")).as("lo"), max(col("pc")).as("hi"))
      cents.crossJoin(ext)
        .select(
          least(lit(19L),
            expr("(pc - lo) * 20 div (hi - lo + 1)")).as("bin"),
          col("pc"), col("lo"), col("hi"))
        .groupBy("bin", "lo", "hi")
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("mass_c"))
        .select(col("bin"),
          expr("lo + (bin * (hi - lo + 1)) div 20")
            .cast("double").as("edge_lo_c"),
          col("n"),
          (col("mass_c").cast("double") / 100).as("mass"))
        .orderBy("bin")
    },
    Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
      ext AS (SELECT min(pc) AS lo, max(pc) AS hi FROM c),
      b AS (SELECT least(19, (pc - lo) * 20 // (hi - lo + 1)) AS bin, pc, lo, hi
            FROM c, ext)
      SELECT bin,
             CAST(lo + (bin * (hi - lo + 1)) // 20 AS DOUBLE) AS edge_lo_c,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pc) AS DOUBLE) / 100 AS mass
      FROM b GROUP BY bin, lo, hi ORDER BY bin""")
  )

  /** W11: CUSUM changepoint monitor over the daily revenue series — the
    * sequential drift detector (Page 1954) production metric stores run
    * next to a20's pointwise z-score: accumulate above-mean deviation
    * `Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − µ))`, alarm when the accumulated excess
    * crosses a threshold (here: one average day's revenue). CUSUM catches
    * small persistent shifts a per-day z-test never flags.
    *
    * Exactness: ENTIRELY integer — the mean is never divided out; every
    * term is scaled by n (`eᵢ = n·xᵢ − Σx`, threshold `Sᵢ > n·µ ⇔ Sᵢ >
    * Σx`), and the clamped recursion is ELIMINATED via the prefix-sum
    * identity `Sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ)` (P = running sum of e), so
    * the whole monitor is two streaming window functions + one aggregate
    * over exact int64s — no sequential fold anywhere, bit-identical on
    * both engines by construction. n-scaled sums stay ≤ ~1e16 at sf0.1
    * and ≤ ~1e18 at 100×; beyond that the same plan runs on DECIMAL(38,0).
    *
    * Scale: the fact table collapses to calendar days in one map-side-
    * combinable groupBy BEFORE the windows; the running-sum/min frames
    * are streaming (O(1) state per row) over the bounded day series
    * (thousands of rows at any corpus size) — the same bounded-input
    * argument as w9/a20.
    */
  val w11Cusum: Q = Q(
    "w11_cusum",
    (s, dir) => {
      val wAll = Window.partitionBy()
      val wRun = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("x"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("x")).over(wAll))
        .withColumn("p", sum(col("n") * col("x") - col("tot")).over(wRun))
        .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(wRun)))
        .agg(max(col("n")).as("n_days"), max(col("tot")).as("tot_u"),
          max(col("cusum")).as("mx"),
          sum(when(col("cusum") > col("tot"), 1L).otherwise(0L)).as("n_alarm_days"),
          min(when(col("cusum") > col("tot"), col("d"))).as("first_alarm"))
        .select(col("n_days"),
          round(col("mx").cast("double") / (col("n_days") * 10000), 6)
            .as("max_cusum_r6"),
          col("n_alarm_days"), col("first_alarm"))
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS x
        FROM lineitem GROUP BY 1),
      g AS (SELECT d, x,
              CAST(count(*) OVER () AS BIGINT) AS n,
              CAST(sum(x) OVER () AS BIGINT) AS tot
            FROM daily),
      p AS (SELECT d, n, tot,
              CAST(sum(n * x - tot) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
            FROM g),
      c AS (SELECT d, n, tot,
              p - least(CAST(0 AS BIGINT), min(p) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
            FROM p)
      SELECT max(n) AS n_days,
             round(CAST(max(cusum) AS DOUBLE) / (max(n) * 10000), 6) AS max_cusum_r6,
             CAST(sum(CASE WHEN cusum > tot THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
             min(CASE WHEN cusum > tot THEN d END) AS first_alarm
      FROM c""")
  )

  /** W12: day-of-week seasonal index — the seasonality profile a metric
    * store computes before de-seasonalizing alerts ("Mondays run 12%
    * hot"): per-weekday mean revenue relative to the global daily mean,
    * as an integer permille index.
    *
    * Exactness: weekday is epoch-day mod 7 (identical integer arithmetic
    * in both engines — the engines' native dayofweek() conventions
    * DIFFER, Spark 1=Sunday vs DuckDB 0=Sunday, so neither is used);
    * means are floor divisions of exact integer sums, evaluated with the
    * same operands on both sides, and the index is one more integer
    * floor division. No float ever appears before the final display
    * column.
    *
    * Scale: fact → days (map-side combine) → 7 weekday rows; the global
    * totals window runs over those ≤7 rows. Same bounded shape as v10.
    */
  val w12Seasonality: Q = Q(
    "w12_seasonality",
    (s, dir) => {
      val wAll = Window.partitionBy()
      t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("x"))
        .withColumn("dow",
          (datediff(col("d"), lit("1970-01-01").cast("date")) % 7).cast("long"))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s_u"))
        .withColumn("n_tot", sum(col("n_days")).over(wAll))
        .withColumn("tot_u", sum(col("s_u")).over(wAll))
        .select(col("dow"), col("n_days"),
          (expr("s_u div n_days").cast("double") / 10000).as("mean_rev"),
          expr("(1000 * (s_u div n_days)) div (tot_u div n_tot)").as("idx_pm"))
        .orderBy("dow")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS x
        FROM lineitem GROUP BY 1),
      byd AS (SELECT CAST((d - DATE '1970-01-01') % 7 AS BIGINT) AS dow,
                     CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(x) AS BIGINT) AS s_u
              FROM daily GROUP BY 1),
      g AS (SELECT *, CAST(sum(n_days) OVER () AS BIGINT) AS n_tot,
                      CAST(sum(s_u) OVER () AS BIGINT) AS tot_u
            FROM byd)
      SELECT dow, n_days,
             CAST(s_u // n_days AS DOUBLE) / 10000 AS mean_rev,
             (1000 * (s_u // n_days)) // (tot_u // n_tot) AS idx_pm
      FROM g ORDER BY dow""")
  )

  /** A23: first-order Markov transition matrix over each user's event
    * sequence — the behavioral-model primitive next to a16's funnel and
    * a18's sessions: P(next event type | current event type), estimated
    * from every consecutive pair in per-user event order. Training-data
    * pipelines run this to build session simulators and to spot
    * degenerate scrape loops (a self-transition probability near 1 for
    * one type is a bot signature).
    *
    * Determinism: sequences order by the unique `event_id` (the corpus
    * assigns ids in arrival order), so no timestamp tie can reorder a
    * pair across engines; counts are integers and the probability is an
    * integer-permille floor division.
    *
    * Scale: one `lead` window per user (hash-partitioned on user_id — no
    * global window), a map-side-combinable count on the ≤|types|² matrix
    * cells, and a row-total window over those bounded rows. Only (type,
    * type, count) triples shuffle after the scan.
    */
  val a23Transitions: Q = Q(
    "a23_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total",
          sum(col("n")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(1000 * n) div row_total").as("p_pm"))
        .orderBy("prev_type", "next_type")
    },
    Some("""WITH seq AS (
        SELECT event_type AS prev_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        FROM events),
      m AS (SELECT prev_type, next_type, count(*) AS n FROM seq
            WHERE next_type IS NOT NULL GROUP BY prev_type, next_type)
      SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
             (1000 * CAST(n AS BIGINT)) // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_pm
      FROM m ORDER BY prev_type, next_type""")
  )

  /** A25: funnel latency — time from first `view` to first `purchase` per
    * user, rolled up by acquisition-week cohort: a16 counts who converts,
    * this measures HOW LONG conversion takes (the latency half of every
    * funnel dashboard). Users whose first purchase precedes their first
    * view carry no causal latency and drop out.
    *
    * Exactness: µs-integer first-event times from one map-side-combinable
    * conditional-min aggregate; deltas, the epoch-week cohort and the
    * floor average are all integer arithmetic (w12's engine-neutral
    * calendar rule).
    *
    * Scale: ONE user-keyed aggregate over the event stream (no window, no
    * join), then an O(weeks) rollup.
    */
  val a25TimeToConvert: Q = Q(
    "a25_time_to_convert",
    (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", unix_micros(col("ts")))).as("v0"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p0"))
        .filter(col("v0").isNotNull && col("p0").isNotNull && col("p0") > col("v0"))
        .select(expr("(p0 - v0) div 1000000").as("delta_s"),
          expr("(v0 div 86400000000) div 7").as("cohort_week"))
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"),
          expr("sum(delta_s) div count(1)").cast("long").as("avg_s"),
          min(col("delta_s")).as("min_s"), max(col("delta_s")).as("max_s"))
        .orderBy("cohort_week")
    },
    Some("""WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v0,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p0
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id),
      d AS (SELECT (p0 - v0) // 1000000 AS delta_s,
                   (v0 // 86400000000) // 7 AS cohort_week
            FROM f WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 > v0)
      SELECT cohort_week, count(*) AS n_users,
             CAST(CAST(sum(delta_s) AS BIGINT) // count(*) AS BIGINT) AS avg_s,
             CAST(min(delta_s) AS BIGINT) AS min_s,
             CAST(max(delta_s) AS BIGINT) AS max_s
      FROM d GROUP BY cohort_week ORDER BY cohort_week""")
  )

  /** A26: per-key mode — the most frequent event type per user with its
    * share of the user's activity, the categorical summary statistic
    * (a14 is the numeric median; this is its categorical sibling, and
    * the label a nearest-centroid classifier or session profiler reads
    * per entity).
    *
    * Determinism: the argmax over the census rank-orders by
    * (count DESC, type ASC) — an explicit total order, so equal-count
    * ties resolve identically on both engines. The share is an
    * integer-permille floor division (a23's rule).
    *
    * Scale: ONE map-side-combinable census bounded at keys × |types|;
    * both the rank and the per-key total ride the census's own
    * user_id-keyed exchange — the raw stream shuffles only census cells
    * after the scan.
    */
  val a26Mode: Q = Q(
    "a26_mode",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("cnt").desc, col("event_type"))
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .withColumn("total",
          sum(col("cnt")).over(Window.partitionBy("user_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("modal_type"),
          col("cnt").as("n_modal"),
          expr("(1000 * cnt) div total").as("share_pm"))
        .orderBy("user_id")
    },
    Some("""WITH census AS (
        SELECT user_id, event_type, count(*) AS cnt FROM events
        GROUP BY user_id, event_type),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY cnt DESC, event_type) AS rn,
              CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total
            FROM census)
      SELECT user_id, event_type AS modal_type, cnt AS n_modal,
             (1000 * cnt) // total AS share_pm
      FROM r WHERE rn = 1 ORDER BY user_id""")
  )

  /** P16: leave-one-out target encoding — replace each row's categorical
    * key with the mean target over the key's OTHER rows, the standard
    * high-cardinality feature encoding (leave-one-out prevents the row
    * from leaking its own target into its feature — Micci-Barreca 2001).
    *
    * Exactness: targets quantize ONCE to integer cents; each row's LOO
    * mean is `(S − x)/(n − 1)` on exact BIGINTs — one IEEE division of
    * identical operands, then an identical /100 rescale. Single-row keys
    * encode NULL on both engines.
    *
    * Scale: the per-key census is O(|categories|) and broadcast back; the
    * encode itself is a narrow codegen projection — the corpus shuffles
    * nothing (at open cardinality the broadcast degrades to a shuffled
    * join on the key, the x10 rule — here the hint is justified because
    * event types are enum-bounded by construction).
    */
  val p16TargetEncode: Q = Q(
    "p16_target_encode",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val census = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      ev.join(broadcast(census), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          when(col("n") > 1,
            (col("s") - col("cents")).cast("double") / (col("n") - 1) / 100)
            .as("loo_mean"))
        .orderBy("event_id")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      c AS (SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
            FROM ev GROUP BY event_type)
      SELECT event_id, ev.event_type,
             CASE WHEN n > 1
                  THEN CAST(s - cents AS DOUBLE) / (n - 1) / 100 END AS loo_mean
      FROM ev JOIN c ON c.event_type = ev.event_type
      ORDER BY event_id""")
  )

  /** A27: top event paths — the corpus-wide census of 3-step event
    * sequences per user (a23 models single transitions; journey mining
    * wants the most frequent short PATHS — the "view>view>purchase"
    * signal product analytics reads, and a degenerate dominant path is
    * the same bot signature a23 flags). Sequences order by the unique
    * event_id, so no timestamp tie can reorder a path across engines.
    *
    * Scale: one user-keyed window serves both leads; paths collapse into
    * a map-side-combinable census bounded at |types|³ cells; the top-20
    * is TakeOrdered with a total (n desc, path) tie-break.
    */
  val a27PathCensus: Q = Q(
    "a27_path_census",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(20)
    },
    Some("""WITH seq AS (
        SELECT event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      SELECT concat_ws('>', t0, t1, t2) AS path, count(*) AS n
      FROM seq WHERE t2 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")
  )

  /** A28: cohort LTV curves — the triangle table behind every lifetime-
    * value dashboard: per acquisition-week cohort, purchase revenue by
    * weeks-since-acquisition, cumulated into the running LTV-per-user
    * curve (a17 counts retained USERS; this follows the MONEY — the pair
    * every growth team reads together).
    *
    * Exactness: revenue in exact integer cents; cohort/age weeks are
    * epoch-week integers (w12's calendar rule); the cumulative is a
    * bounded per-cohort window over O(weeks) cells; per-user LTV is an
    * integer floor division of non-negative operands.
    *
    * Scale: one user-keyed aggregate assigns cohorts; the purchase join
    * back to cohorts is a keyed equi-join; cells census-bound at
    * weeks²/2; cohort sizes are an O(weeks) broadcast.
    */
  val a28CohortLtv: Q = Q(
    "a28_cohort_ltv",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("(unix_micros(ts) div 86400000000) div 7").as("wk"),
          round(col("value") * 100).cast("long").as("cents"))
      val cohorts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
      val wCum = Window.partitionBy("cohort_week").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.filter(col("event_type") === "purchase")
        .join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("age_week"))
        .agg(sum(col("cents")).as("week_cents"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("cum_cents", sum(col("week_cents")).over(wCum))
        .select(col("cohort_week"), col("age_week"), col("n_users"),
          col("week_cents"), col("cum_cents"),
          expr("cum_cents div n_users").as("ltv_per_user_cents"))
        .orderBy("cohort_week", "age_week")
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type,
               (epoch_us(ts) // 86400000000) // 7 AS wk,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      cohorts AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id),
      sizes AS (SELECT cohort_week, count(*) AS n_users FROM cohorts GROUP BY cohort_week),
      cells AS (
        SELECT c.cohort_week, e.wk - c.cohort_week AS age_week,
               CAST(sum(e.cents) AS BIGINT) AS week_cents
        FROM ev e JOIN cohorts c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (SELECT cohort_week, age_week, week_cents,
                     CAST(sum(week_cents) OVER (PARTITION BY cohort_week ORDER BY age_week
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
              FROM cells)
      SELECT m.cohort_week, m.age_week, s.n_users, m.week_cents, m.cum_cents,
             m.cum_cents // s.n_users AS ltv_per_user_cents
      FROM cum m JOIN sizes s ON s.cohort_week = m.cohort_week
      ORDER BY m.cohort_week, m.age_week""")
  )

  /** A29: RFM segmentation — recency / frequency / monetary tercile
    * buckets per purchasing user, the standard customer-segmentation
    * grid (a "111" is a recent, frequent, high-spend customer). Buckets
    * come from exact census quantiles, NOT a global ntile: an
    * unpartitioned ntile over users is a single-partition sort of the
    * whole customer base, where the census-quantile trick (c10's rule)
    * needs only value-bounded censuses — recency is calendar-bounded,
    * frequency is count-bounded, monetary is binned to whole dollars.
    *
    * Determinism: bucket(v) = 1 + (v > t1) + (v > t2) with
    * t_i = min value whose running census count reaches i·n/3 — a pure
    * integer definition with no tie ambiguity (ties share a bucket,
    * unlike ntile's row-split); metrics are negated where bigger is
    * better so bucket 1 is always "best".
    *
    * Scale: one user-keyed aggregate builds the metrics; each census +
    * running sum is bounded by the metric's VALUE range; thresholds are
    * 1-row broadcasts; the encode is a narrow projection.
    */
  val a29Rfm: Q = Q(
    "a29_rfm",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val maxDay = ev.agg(max(col("day")).as("max_day"))
      val base = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("monetary_cents"))
        .crossJoin(broadcast(maxDay))
        .select(col("user_id"),
          (col("max_day") - col("last_day")).as("recency_days"),
          col("n_purchases"), col("monetary_cents"),
          (-col("n_purchases")).as("neg_f"),
          (-expr("monetary_cents div 100")).as("neg_m"))
      val n1 = base.agg(count(lit(1)).as("n"))
      def thresholds(metric: String) = {
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        base.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(w))
          .crossJoin(broadcast(n1))
          .agg(min(when(col("cum") * 3 >= col("n"), col("v"))).as(s"t1_$metric"),
            min(when(col("cum") * 3 >= lit(2) * col("n"), col("v"))).as(s"t2_$metric"))
      }
      def bucket(metric: String) =
        lit(1) + (col(metric) > col(s"t1_$metric")).cast("int") +
          (col(metric) > col(s"t2_$metric")).cast("int")
      base
        .crossJoin(broadcast(thresholds("recency_days")))
        .crossJoin(broadcast(thresholds("neg_f")))
        .crossJoin(broadcast(thresholds("neg_m")))
        .select(col("user_id"), col("recency_days"), col("n_purchases"),
          col("monetary_cents"),
          bucket("recency_days").as("r"), bucket("neg_f").as("f"),
          bucket("neg_m").as("m"))
        .withColumn("segment",
          concat(col("r").cast("string"), col("f").cast("string"),
            col("m").cast("string")))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      md AS (SELECT max(day) AS max_day FROM ev),
      base AS (
        SELECT user_id, max_day - max(day) AS recency_days,
               count(*) AS n_purchases,
               CAST(sum(cents) AS BIGINT) AS monetary_cents,
               -count(*) AS neg_f,
               -(CAST(sum(cents) AS BIGINT) // 100) AS neg_m
        FROM ev CROSS JOIN md WHERE event_type = 'purchase'
        GROUP BY user_id, max_day),
      nn AS (SELECT count(*) AS n FROM base),
      tr AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                    min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
             FROM (SELECT v, CAST(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                   FROM (SELECT recency_days AS v, count(*) AS c FROM base GROUP BY 1))
             CROSS JOIN nn),
      tf AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                    min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
             FROM (SELECT v, CAST(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                   FROM (SELECT neg_f AS v, count(*) AS c FROM base GROUP BY 1))
             CROSS JOIN nn),
      tm AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                    min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
             FROM (SELECT v, CAST(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                   FROM (SELECT neg_m AS v, count(*) AS c FROM base GROUP BY 1))
             CROSS JOIN nn)
      SELECT user_id, recency_days, n_purchases, monetary_cents,
             1 + CAST(recency_days > tr.t1 AS INTEGER) + CAST(recency_days > tr.t2 AS INTEGER) AS r,
             1 + CAST(neg_f > tf.t1 AS INTEGER) + CAST(neg_f > tf.t2 AS INTEGER) AS f,
             1 + CAST(neg_m > tm.t1 AS INTEGER) + CAST(neg_m > tm.t2 AS INTEGER) AS m,
             CAST(1 + CAST(recency_days > tr.t1 AS INTEGER) + CAST(recency_days > tr.t2 AS INTEGER) AS VARCHAR)
               || CAST(1 + CAST(neg_f > tf.t1 AS INTEGER) + CAST(neg_f > tf.t2 AS INTEGER) AS VARCHAR)
               || CAST(1 + CAST(neg_m > tm.t1 AS INTEGER) + CAST(neg_m > tm.t2 AS INTEGER) AS VARCHAR)
               AS segment
      FROM base CROSS JOIN tr CROSS JOIN tf CROSS JOIN tm
      ORDER BY user_id""")
  )

  /** A32: multi-touch attribution — the conversion-credit model marketing
    * analytics runs over event streams: each purchase is attributed to
    * the user's clicks in the preceding 7 days under BOTH the
    * first-touch and last-touch models, and the report counts
    * conversions per (model, channel). Channels derive from the click's
    * props payload (f13's json parity). Deterministic: ties on click
    * timestamp break by event_id in the row_number ordering.
    *
    * Scale: candidates come from a user-keyed equi-join with the 7-day
    * predicate riding it (never a time-range cross join); per-purchase
    * work is bounded by one user's week of clicks. Both attribution
    * windows share ONE purchase-keyed sort (same partition key and
    * ordering — rn_first and rn_last are opposite ranks of the same
    * frame), and the final census is a tiny (model × channel) rollup.
    */
  val a32Attribution: Q = Q(
    "a32_attribution",
    (s, dir) => {
      val ev = Tables.table(s, dir, "events")
      val winUs = 7L * 86400000000L
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"),
          unix_micros(col("ts")).as("ct"), col("event_id").as("click_id"),
          // coalesce: a props payload without an integer $.k would yield a
          // NULL channel, and the gate compares rows positionally while the
          // engines disagree on NULL placement in ORDER BY (Spark NULLS
          // FIRST, DuckDB NULLS LAST) — pin a sentinel on BOTH engines.
          coalesce(concat(lit("ch"),
            get_json_object(col("props"), "$.k").cast("int") % 4),
            lit("ch_unknown")).as("channel"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pt"),
          col("event_id").as("purchase_id"))
      val cand = purch.join(clicks, Seq("user_id"))
        .filter(col("ct") <= col("pt") && col("ct") >= col("pt") - winUs)
      val byPurchase = Window.partitionBy("purchase_id")
      val ranked = cand
        .withColumn("rn_first",
          row_number().over(byPurchase.orderBy(col("ct").asc, col("click_id").asc)))
        .withColumn("rn_last",
          row_number().over(byPurchase.orderBy(col("ct").desc, col("click_id").desc)))
      ranked.filter(col("rn_first") === 1)
        .select(lit("first_touch").as("model"), col("channel"))
        .unionByName(ranked.filter(col("rn_last") === 1)
          .select(lit("last_touch").as("model"), col("channel")))
        .groupBy("model", "channel")
        .agg(count(lit(1)).as("n_convs"))
        .orderBy("model", "channel")
    },
    Some("""WITH clicks AS (SELECT user_id, epoch_us(ts) AS ct,
            event_id AS click_id,
            coalesce('ch' || CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
                         AS VARCHAR), 'ch_unknown') AS channel
          FROM events WHERE event_type = 'click'),
        purch AS (SELECT user_id, epoch_us(ts) AS pt, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'),
        cand AS (SELECT p.purchase_id, c.channel, c.ct, c.click_id
          FROM purch p JOIN clicks c ON c.user_id = p.user_id
          WHERE c.ct <= p.pt AND c.ct >= p.pt - 604800000000),
        ranked AS (SELECT *,
            row_number() OVER (PARTITION BY purchase_id
              ORDER BY ct ASC, click_id ASC) AS rn_first,
            row_number() OVER (PARTITION BY purchase_id
              ORDER BY ct DESC, click_id DESC) AS rn_last
          FROM cand)
        SELECT model, channel, count(*) AS n_convs FROM (
          SELECT 'first_touch' AS model, channel FROM ranked WHERE rn_first = 1
          UNION ALL
          SELECT 'last_touch' AS model, channel FROM ranked WHERE rn_last = 1)
        GROUP BY model, channel ORDER BY model, channel""")
  )

  /** A33: root-cause contribution analysis (the Adtributor shape,
    * Bhagwan et al. 2014) — when a metric moves between two periods, rank
    * which dimension values EXPLAIN the move: per (dimension, value), the
    * signed share of the total delta (contribution_pm) plus both periods'
    * integer-cent sums, across two dimensions (event_type, weekday). The
    * on-call drill-down that turns "revenue dipped 8%" into "errors on
    * Saturday".
    *
    * Determinism: values quantize to cents ONCE per row; every sum and
    * the permille share are exact integer arithmetic (sign-safe: `div`
    * and `//` both truncate toward zero on negatives, the e20 rule).
    *
    * Scale: ONE events scan — both periods are conditional aggregates and
    * both dimensions come from a single GROUPING SETS aggregate (never a
    * scan per period or per dimension); each dimension's cells PARTITION
    * the events, so the per-dimension window sum IS the global total and
    * no separate totals pass exists. Everything after the aggregate is
    * bounded at |values| rows per dimension.
    */
  val a33RootCause: Q = Q(
    "a33_root_cause",
    (s, dir) => {
      val cents = expr("cast(round(value * 100) as bigint)")
      val split = lit("2024-01-15").cast("timestamp")
      Tables.table(s, dir, "events")
        .select(col("event_type"), cents.as("cents"),
          (col("ts") < split).as("p1"),
          date_format(col("ts"), "EEEE").as("weekday"))
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("weekday"))),
          col("event_type"), col("weekday"))
        .agg(sum(when(col("p1"), col("cents")).otherwise(0L)).as("s1"),
          sum(when(!col("p1"), col("cents")).otherwise(0L)).as("s2"))
        // event_type/weekday are non-null in the data, so the NULL side
        // identifies the grouping set without a grouping() marker (which
        // Spark only resolves inside the aggregate projection itself).
        .select(
          when(col("event_type").isNotNull, "event_type")
            .otherwise("weekday").as("dimension"),
          coalesce(col("event_type"), col("weekday")).as("dim_value"),
          col("s1"), col("s2"))
        .withColumn("delta_c", col("s2") - col("s1"))
        .withColumn("contribution_pm", expr(
          """(s2 - s1) * 1000 div
             nullif(sum(s2) over (partition by dimension)
                  - sum(s1) over (partition by dimension), 0L)"""))
        .orderBy("dimension", "dim_value")
    },
    Some("""WITH base AS (SELECT event_type,
          CAST(round(value * 100) AS BIGINT) AS cents,
          ts < TIMESTAMP '2024-01-15 00:00:00' AS p1,
          dayname(CAST(ts AS DATE)) AS weekday
        FROM events),
      cells AS (
        SELECT CASE WHEN event_type IS NOT NULL THEN 'event_type'
                    ELSE 'weekday' END AS dimension,
          coalesce(event_type, weekday) AS dim_value,
          CAST(sum(CASE WHEN p1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
          CAST(sum(CASE WHEN NOT p1 THEN cents ELSE 0 END) AS BIGINT) AS s2
        FROM base GROUP BY GROUPING SETS ((event_type), (weekday)))
      SELECT dimension, dim_value, s1, s2, s2 - s1 AS delta_c,
        (s2 - s1) * 1000 // nullif(
          CAST(sum(s2) OVER (PARTITION BY dimension) AS BIGINT)
          - CAST(sum(s1) OVER (PARTITION BY dimension) AS BIGINT), 0)
          AS contribution_pm
      FROM cells
      ORDER BY dimension, dim_value""")
  )

  /** A34: bootstrap confidence interval for the per-type mean value — the
    * error bar every data-quality report should carry before anyone acts
    * on "mean purchase value moved": B=32 deterministic Poisson-style
    * resamples, each row's weight in resample b drawn from the seeded
    * 60-bit hash of (b, event_id) mod 8 → {0,0,0,1,1,1,2,3} — a
    * two-moment match for Poisson(1) (E[w] = 1, Var[w] = 1), which is the
    * distributed-friendly bootstrap: no sampling with replacement, no
    * shared state, each row decides its own multiplicity per resample.
    * The CI is the 2nd/31st order statistics of the 32 resample means
    * (≈ the 5th/95th percentile).
    *
    * Determinism: weights are pure md5 functions of (b, event_id); each
    * resample mean is ONE IEEE division of an exact integer cent sum by
    * an exact integer weight sum (the Q.davg rule), so all 32 means are
    * bit-identical cross-engine and the order statistics need only the
    * (mean, b) total order.
    *
    * Scale: the explode is ×32 narrow longs (never payloads); the
    * resample sums are ONE map-side-combinable aggregate keyed on
    * (event_type, b) — B·|types| cells; the order-statistic window sorts
    * 32 rows per type. At 100 TB this is the bootstrap you can actually
    * run: one pass, no per-resample shuffles of the fact table.
    */
  val a34BootstrapCi: Q = Q(
    "a34_bootstrap_ci",
    (s, dir) => {
      import graft.functions.Text
      val e = Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val weighted = e
        .select(col("event_type"), col("cents"),
          explode(sequence(lit(0), lit(31))).as("b"),
          col("event_id"))
        .withColumn("h",
          pmod(Text.seededHash64(col("b"), col("event_id").cast("string")), lit(8L)))
        .withColumn("w",
          when(col("h") < 3, 0L).when(col("h") < 6, 1L)
            .when(col("h") === 6, 2L).otherwise(3L))
      val means = weighted
        .groupBy("event_type", "b")
        .agg(sum(col("w") * col("cents")).as("sw"), sum(col("w")).as("nw"))
        .select(col("event_type"), col("b"),
          (col("sw").cast("double") / greatest(col("nw"), lit(1L))).as("mean_b"))
      val byType = Window.partitionBy("event_type")
        .orderBy(col("mean_b"), col("b"))
      val ranked = means.withColumn("rn", row_number().over(byType))
      ranked.groupBy("event_type")
        .agg(
          max(when(col("rn") === 2, col("mean_b"))).as("boot_lo"),
          max(when(col("rn") === 31, col("mean_b"))).as("boot_hi"))
        .join(
          e.groupBy("event_type")
            .agg(count(lit(1)).as("n_events"),
              (sum(col("cents")).cast("double") / count(lit(1))).as("mean_cents")),
          Seq("event_type"))
        .select("event_type", "n_events", "mean_cents", "boot_lo", "boot_hi")
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_id, event_type,
            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      wt AS (SELECT event_type, cents, b,
            CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '|' ||
                 CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS h
          FROM e CROSS JOIN (SELECT unnest(range(32)) AS b) g),
      w AS (SELECT event_type, b, cents,
            CASE WHEN h < 3 THEN 0 WHEN h < 6 THEN 1
                 WHEN h = 6 THEN 2 ELSE 3 END AS w
          FROM wt),
      means AS (SELECT event_type, b,
            CAST(sum(w * cents) AS DOUBLE) /
              greatest(CAST(sum(w) AS BIGINT), 1) AS mean_b
          FROM w GROUP BY event_type, b),
      rk AS (SELECT event_type, mean_b,
            row_number() OVER (PARTITION BY event_type
                               ORDER BY mean_b, b) AS rn
          FROM means),
      ci AS (SELECT event_type,
            max(CASE WHEN rn = 2 THEN mean_b END) AS boot_lo,
            max(CASE WHEN rn = 31 THEN mean_b END) AS boot_hi
          FROM rk GROUP BY event_type),
      pt AS (SELECT event_type, count(*) AS n_events,
            CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
          FROM e GROUP BY event_type)
      SELECT pt.event_type, pt.n_events, pt.mean_cents, ci.boot_lo, ci.boot_hi
      FROM pt JOIN ci ON ci.event_type = pt.event_type
      ORDER BY pt.event_type""")
  )

  val all: Seq[Q] = Seq(
    w5RankAnalytics, w6FirstLast, w7RangeFrame, a12StatsMoments,
    a13Conditional, a14MedianDistinct, a15GroupingSets, a16Funnel,
    a17Retention, a18Sessionize, p9Pivot, p10Unpivot, p11HashSample,
    q05RevenueByNation, q06ForecastRevenue, h1Scd2History, h2PointInTime,
    w8Streak, a20Anomaly, w9Ewma, w10Drawdown, a21Histogram, w11Cusum,
    w12Seasonality, a23Transitions, h3Scd2DimJoin, a25TimeToConvert,
    a26Mode, p16TargetEncode, a27PathCensus, a28CohortLtv, a29Rfm,
    a32Attribution, a33RootCause, a34BootstrapCi)
}
