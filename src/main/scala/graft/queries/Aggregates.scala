package graft.queries

import graft.{Pin, Q, Tables}
import graft.operators.Merge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Aggregation + window surface (SURVEY §2.4, §2.5): keyed last-value state,
  * daily identity dedup, grouped stats, rollup/cube, HLL sketch, the A6
  * upsert merge, and the window-function family (lag returns, moving average,
  * per-group top-n, running sums). Partial aggregation (map-side combine) is
  * automatic via HashAggregateExec; windows shuffle once on their partition
  * keys.
  */
object Aggregates {
  import Q._

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** A3: last-value-per-key state (`self.current_prices.at[symbol,'price'] =
    * price`, `update_live_price.py:164`) as a batch `max_by`.
    */
  val a3MaxBy: Q = Q(
    "a3_last_per_key",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          max_by(col("value"), col("ts")).as("last_value"),
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id"),
    Some("""SELECT user_id, arg_max(value, ts) AS last_value,
      max(ts) AS last_ts, count(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""")
  )

  /** A5: daily identity — at most one row per (key, calendar day), keeping
    * the latest (`update_live_price.py:251-254`), via row_number dedup.
    */
  val a5DailyDedup: Q = Q(
    "a5_daily_dedup",
    (s, dir) => {
      val w = Window
        .partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("value"))
        .orderBy("user_id", "day")
    },
    Some("""SELECT user_id, CAST(ts AS DATE) AS day, event_id, value
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id, CAST(ts AS DATE)
        ORDER BY ts DESC, event_id DESC) = 1
      ORDER BY user_id, day""")
  )

  /** A-completeness: grouped sum/avg/min/max/count/countDistinct. */
  val a7GroupStats: Q = Q(
    "a7_group_stats",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          dsum(col("value")).as("sum_value"),
          davg(col("value")).as("avg_value"))
        .orderBy("event_type"),
    Some(s"""SELECT event_type, count(*) AS n,
      count(DISTINCT user_id) AS n_users,
      min(value) AS min_value, max(value) AS max_value,
      ${sqlDsum("value")} AS sum_value, ${sqlDavg("value")} AS avg_value
      FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Rollup over the region→nation hierarchy (grouping-set nulls collapsed
    * to 'ALL' so null-ordering dialects can't diverge).
    */
  val a8Rollup: Q = Q(
    "a8_rollup",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy("region_name", "nation_name")
    },
    Some(s"""SELECT coalesce(r_name, 'ALL') AS region_name,
      coalesce(n_name, 'ALL') AS nation_name,
      count(*) AS n_customers, ${sqlDsum("c_acctbal")} AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region_name, nation_name""")
  )

  /** Cube over two independent order dimensions. */
  val a9Cube: Q = Q(
    "a9_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("status", "priority"),
    Some(s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
      coalesce(o_orderpriority, 'ALL') AS priority,
      count(*) AS n_orders, ${sqlDsum("o_totalprice")} AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")
  )

  /** HLL sketch cardinality — sketch values differ across engines, so this
    * query gets the rows-only check (SURVEY §7.1.4: approx ops excluded from
    * the oracle map).
    */
  val a10ApproxDistinct: Q = Q(
    "a10_approx_count_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps"))
        .orderBy("l_returnflag"),
    None
  )

  /** A6 flagship merge: daily bars upserted with a batch of live trades —
    * matched keys overwrite only `adj_close`, new keys insert null-padded
    * rows (see [[graft.operators.Merge]]). Stored bars = per-(user, day)
    * OHLC-ish aggregates before the cutoff; incoming = trades on the cutoff
    * day (update path) and the day after (insert path).
    */
  val a6Upsert: Q = Q(
    "a6_upsert_daily_close",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val stored = ev
        .filter(to_date(col("ts")) <= lit("2024-01-24").cast(DateType))
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          // struct tiebreak: equal-ts rows resolve on value, so open/close
          // are deterministic on tie-bearing days (ADVICE r1)
          min_by(col("value"), struct(col("ts"), col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("value"))).as("adj_close"),
          count(lit(1)).cast("long").as("volume"))
      val incoming = ev
        .filter(
          to_date(col("ts")) === lit("2024-01-24").cast(DateType) ||
            to_date(col("ts")) === lit("2024-01-25").cast(DateType))
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").as("price"), col("ts"))
      Merge
        .upsertDailyClose(stored, incoming, Seq("user_id", "day"), "price", "ts", "adj_close")
        .select("user_id", "day", "open", "high", "low", "adj_close", "volume")
        .orderBy("user_id", "day")
    },
    Some("""WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
          row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts ASC, value ASC) AS rn_open,
          row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, value DESC) AS rn_close
        FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-24'),
      stored AS (
        SELECT user_id, day,
          max(value) FILTER (rn_open = 1) AS open, max(value) AS high,
          min(value) AS low,
          max(value) FILTER (rn_close = 1) AS adj_close, count(*) AS volume
        FROM ranked GROUP BY user_id, day),
      incoming AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value AS price
        FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-24'
           OR CAST(ts AS DATE) = DATE '2024-01-25'
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts DESC, value DESC) = 1)
      SELECT s.user_id, s.day, s.open, s.high, s.low,
        coalesce(i.price, s.adj_close) AS adj_close, s.volume
      FROM stored s LEFT JOIN incoming i
        ON s.user_id = i.user_id AND s.day = i.day
      UNION ALL
      SELECT i.user_id, i.day, NULL AS open, NULL AS high, NULL AS low,
        i.price AS adj_close, NULL AS volume
      FROM incoming i
      WHERE NOT EXISTS (
        SELECT 1 FROM stored s WHERE s.user_id = i.user_id AND s.day = i.day)
      ORDER BY user_id, day""")
  )

  /** W1: lag/lead — per-key period-over-period delta (returns series,
    * SURVEY §2.5).
    */
  val w1LagLead: Q = Q(
    "w1_lag_lead",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(
          col("user_id"), col("ts"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy("user_id", "ts", "event_id")
    },
    Some("""SELECT user_id, ts, event_id, value,
      lag(value, 1) OVER w AS prev_value,
      lead(value, 1) OVER w AS next_value,
      value - lag(value, 1) OVER w AS delta
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, ts, event_id""")
  )

  /** W2: moving average over the trailing 7 rows (decimal-routed for
    * cross-engine determinism).
    */
  val w2MovingAvg: Q = Q(
    "w2_moving_avg",
    (s, dir) => {
      val w = Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, 0)
      t(s, dir, "events")
        .select(
          col("user_id"), col("ts"), col("event_id"),
          (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .over(w).cast("double") / count(col("value")).over(w))
            .as("moving_avg_7"))
        .orderBy("user_id", "ts", "event_id")
    },
    Some("""SELECT user_id, ts, event_id,
      CAST(sum(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE)
        / count(value) OVER w AS moving_avg_7
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id""")
  )

  /** W3: per-group top-n via row_number (latest-N-files pattern,
    * `parquet_details.py:22-23`, generalized per key).
    */
  val w3TopNPerGroup: Q = Q(
    "w3_topn_per_group",
    (s, dir) => {
      val w = Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn""")
  )

  /** W4: running cumulative sum per key (decimal-routed). */
  val w4RunningSum: Q = Q(
    "w4_running_sum",
    (s, dir) => {
      val w = Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .select(
          col("user_id"), col("ts"), col("event_id"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .over(w).cast("double").as("running_value"))
        .orderBy("user_id", "ts", "event_id")
    },
    Some("""SELECT user_id, ts, event_id,
      CAST(sum(CAST(value AS DECIMAL(28,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events ORDER BY user_id, ts, event_id""")
  )

  /** A19: mergeable-sketch rollup — THE 100 TB pattern for serving distinct
    * counts: per-day HLL sketches are pre-aggregated once (map-side
    * combinable, bytes-bounded state), and any coarser rollup (weekly here)
    * is a cheap `hll_union_agg` over stored sketches — the raw events are
    * never rescanned. Sketch merges are commutative/idempotent max-register
    * ops, so the estimate is deterministic under any partitioning; bytes
    * differ across engines → rows-only check like a10, with the accuracy
    * bound asserted in AggregatesSketchSpec against the exact count.
    */
  val a19SketchRollup: Q = Q(
    "a19_sketch_rollup",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          count(lit(1)).as("n_events"))
      daily
        .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
          sum(col("n_events")).as("n_events"),
          count(lit(1)).as("n_days"))
        .orderBy("week")
    },
    None
  )

  /** A22: Count-Min sketch heavy hitters — the fixed-memory frequency
    * sketch (Cormode & Muthukrishnan 2005) next to a10's HLL, but — unlike
    * HLL — built from DETERMINISTIC md5 row hashes, so the full sketch AND
    * its estimates are exactly reproducible in ANSI SQL and oracle-checked
    * (a10 is rows-only by design; this one isn't). d=4 rows × w=64
    * counters; each top-20 true heavy hitter is probed as
    * `min_i counter[i][h_i(token)]`, and the one-sided CMS error
    * (`est ≥ true`) is emitted as the overestimate column.
    *
    * Scale: THE point of CMS — the counting pass is one map-side-
    * combinable aggregation into 256 cells regardless of corpus size
    * (per-executor partials are 256 longs; the shuffle is 256 rows); the
    * probe side is a 256-row broadcast against the bounded top-20. The
    * 60-bit seeded hash is the fused codegen expression d3 uses
    * ([[graft.functions.Text.seededHash64]]).
    */
  val a22CountMin: Q = Q(
    "a22_count_min",
    (s, dir) => {
      graft.functions.FastVec.register(s) // graft_md5_60 (idempotent)
      import graft.functions.Text
      val seeds = 0 to 3
      val toks = Pin.owned(Tables.table(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok")))
      toks.count() // eager: census + sketch both scan it
      val cms = toks
        .select(explode(array(seeds.map(i =>
          struct(lit(i).as("i"),
            pmod(Text.seededHash64(lit(i), col("tok")), lit(64L)).as("h"))): _*))
          .as("cell"))
        .select(col("cell")("i").as("i"), col("cell")("h").as("h"))
        .groupBy("i", "h").agg(count(lit(1)).as("c"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("true_freq"))
        .orderBy(desc("true_freq"), col("tok")).limit(20)
      val probes = top.select(col("tok"), col("true_freq"),
        explode(array(seeds.map(i =>
          struct(lit(i).as("i"),
            pmod(Text.seededHash64(lit(i), col("tok")), lit(64L)).as("h"))): _*))
          .as("cell"))
        .select(col("tok"), col("true_freq"),
          col("cell")("i").as("i"), col("cell")("h").as("h"))
      probes.join(broadcast(cms), Seq("i", "h"))
        .groupBy("tok", "true_freq")
        .agg(min(col("c")).as("est_freq"))
        .select(col("tok").as("token"), col("true_freq"), col("est_freq"),
          (col("est_freq") - col("true_freq")).as("overestimate"))
        .orderBy(desc("true_freq"), col("token"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      seeds AS (SELECT unnest([0, 1, 2, 3]) AS i),
      cells AS (SELECT s.i,
                  CAST('0x' || substr(md5(s.i || '|' || t.tok), 1, 15) AS BIGINT) % 64 AS h
                FROM toks t CROSS JOIN seeds s),
      cms AS (SELECT i, h, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY i, h),
      top AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_freq FROM toks
              GROUP BY tok ORDER BY true_freq DESC, tok LIMIT 20),
      probe AS (SELECT t.tok, t.true_freq, s.i,
                  CAST('0x' || substr(md5(s.i || '|' || t.tok), 1, 15) AS BIGINT) % 64 AS h
                FROM top t CROSS JOIN seeds s),
      est AS (SELECT p.tok, p.true_freq, min(c.c) AS est_freq
              FROM probe p JOIN cms c ON c.i = p.i AND c.h = p.h
              GROUP BY p.tok, p.true_freq)
      SELECT tok AS token, true_freq, est_freq, est_freq - true_freq AS overestimate
      FROM est ORDER BY true_freq DESC, token""")
  )

  /** A30: KMV bottom-k distinct-count sketch — the custom
    * [[graft.functions.BottomKAgg]] TypedImperativeAggregate (explicit
    * ≤k-long buffer, map-side partials, shuffle-serialized merges) driven
    * as a registry query: per event type, the k = 32 smallest distinct
    * 60-bit user hashes, the classic (k−1)·M/h_k distinct-count estimate
    * they imply, and the exact count it approximates. Unlike a10's HLL
    * (rows-only), bottom-k is a pure function of the input set, so the
    * ORACLE reproduces the sketch itself: `row_number() OVER
    * (ORDER BY hv) <= k` over the distinct hashes.
    *
    * Determinism: hashes via the md5-prefix expression (= DuckDB's
    * `CAST('0x'||substr(md5(..),1,15)`); the estimate is one IEEE
    * division of identical operands ((k−1)·2^60 is an exact double);
    * groups smaller than k report their exact size (the KMV rule).
    *
    * Scale: the buffer is ≤ k longs per group whatever the corpus size —
    * the mergeable-sketch contract of a19, but exact-bottom-k, which is
    * what makes this the family's ORACLE-CHECKED representative.
    */
  val a30KmvDistinct: Q = Q(
    "a30_kmv_distinct",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      val k = 32
      val m = math.pow(2, 60)
      t(s, dir, "events")
        .select(col("event_type"),
          expr("graft_md5_60(cast(user_id as string))").as("hv"))
        .groupBy("event_type")
        .agg(graft.functions.Sketch.bottomK(col("hv"), k).as("sketch"),
          countDistinct(col("hv")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          size(col("sketch")).cast("long").as("sketch_size"),
          element_at(col("sketch"), 1).as("h_min"),
          when(size(col("sketch")) < k, lit(null).cast("long"))
            .otherwise(element_at(col("sketch"), k)).as("h_k"),
          when(size(col("sketch")) < k, size(col("sketch")).cast("double"))
            .otherwise(lit((k - 1).toDouble * m) / element_at(col("sketch"), k))
            .as("est_distinct"))
        .orderBy("event_type")
    },
    Some("""WITH h AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv,
                   row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n_exact
            FROM h),
      s AS (SELECT event_type, n_exact,
                   count(*) AS sketch_size,
                   min(hv) AS h_min,
                   max(CASE WHEN rn = 32 THEN hv END) AS h_k
            FROM r WHERE rn <= 32
            GROUP BY event_type, n_exact)
      SELECT event_type, n_exact, sketch_size, h_min, h_k,
             CASE WHEN sketch_size < 32 THEN CAST(sketch_size AS DOUBLE)
                  ELSE 31.0 * 1152921504606846976.0 / h_k END AS est_distinct
      FROM s ORDER BY event_type""")
  )

  /** A31: mergeable sketch ROLLUP — a19's pre-aggregate-then-merge shape
    * (per-day sketches unioned into weekly distinct estimates WITHOUT
    * rescanning the event stream) on the bottom-k sketch instead of HLL,
    * which makes the rollup ORACLE-CHECKABLE: bottom-k of a union equals
    * bottom-k of the member sketches' union (each day retains at least
    * its own k smallest, so no weekly-top-k value can be lost — the
    * mergeability proof is structural). The weekly merge touches only
    * days × k longs; events are scanned exactly once.
    */
  val a31KmvRollup: Q = Q(
    "a31_kmv_rollup",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      val k = 32
      val m = math.pow(2, 60)
      t(s, dir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          expr("graft_md5_60(cast(user_id as string))").as("hv"))
        .groupBy("day")
        .agg(graft.functions.Sketch.bottomK(col("hv"), k).as("sketch"))
        .select(expr("day div 7").as("wk"), col("day"),
          explode(col("sketch")).as("hv"))
        .groupBy("wk")
        .agg(countDistinct(col("day")).as("n_days"),
          graft.functions.Sketch.bottomK(col("hv"), k).as("sketch"))
        .select(col("wk"), col("n_days"),
          size(col("sketch")).cast("long").as("sketch_size"),
          element_at(col("sketch"), 1).as("h_min"),
          when(size(col("sketch")) < k, lit(null).cast("long"))
            .otherwise(element_at(col("sketch"), k)).as("h_k"),
          when(size(col("sketch")) < k, size(col("sketch")).cast("double"))
            .otherwise(lit((k - 1).toDouble * m) / element_at(col("sketch"), k))
            .as("est_distinct"))
        .orderBy("wk")
    },
    Some("""WITH h AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        FROM events),
      w AS (SELECT DISTINCT day // 7 AS wk, hv FROM h),
      nd AS (SELECT day // 7 AS wk, count(DISTINCT day) AS n_days
             FROM h GROUP BY 1),
      r AS (SELECT wk, hv,
                   row_number() OVER (PARTITION BY wk ORDER BY hv) AS rn
            FROM w),
      s AS (SELECT wk, count(*) AS sketch_size, min(hv) AS h_min,
                   max(CASE WHEN rn = 32 THEN hv END) AS h_k
            FROM r WHERE rn <= 32 GROUP BY wk)
      SELECT s.wk, nd.n_days, s.sketch_size, s.h_min, s.h_k,
             CASE WHEN s.sketch_size < 32 THEN CAST(s.sketch_size AS DOUBLE)
                  ELSE 31.0 * 1152921504606846976.0 / s.h_k END AS est_distinct
      FROM s JOIN nd ON nd.wk = s.wk ORDER BY s.wk""")
  )

  val all: Seq[Q] = Seq(
    a3MaxBy, a5DailyDedup, a6Upsert, a7GroupStats, a8Rollup, a9Cube,
    a10ApproxDistinct, a19SketchRollup, w1LagLead, w2MovingAvg, w3TopNPerGroup,
    w4RunningSum, a22CountMin, a30KmvDistinct, a31KmvRollup)
}
