package graft.queries

import graft.{Pin, Q, Tables}
import graft.plans.{AsOfForward, AsOfNearest, NativeAsOf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Join surface (SURVEY §2.3): the reference's degenerate set-joins (semi /
  * anti membership, keyed upsert match, cross-source align) plus the
  * completeness set over the star schema. Dimension sides are explicitly
  * `broadcast()` so the sf-independent small tables never shuffle the fact
  * table — at 100 TB the lineitem side stays partition-local.
  */
object Joins {
  import Q._

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** J1: left-semi — keep keys present in a category bucket
    * (`download_historical_price.py:232-239`).
    */
  val j1Semi: Q = Q(
    "j1_semi_join",
    (s, dir) => {
      val rich = t(s, dir, "customer")
        .filter(col("c_acctbal") > 7000.0)
        .select("c_nationkey")
      t(s, dir, "nation")
        .join(broadcast(rich), col("n_nationkey") === col("c_nationkey"), "left_semi")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name FROM nation
      WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 7000.0)
      ORDER BY n_nationkey""")
  )

  /** J2: left-anti — exclude keys in the negative cache
    * (`download_historical_price.py:385-401`, `update_live_price.py:136`).
    */
  val j2Anti: Q = Q(
    "j2_anti_join",
    (s, dir) => {
      val bigLines = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45.0)
        .select("l_partkey")
      t(s, dir, "part")
        .join(bigLines, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (
        SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45.0)
      ORDER BY p_partkey""")
  )

  /** J3: inner equi-join. NO forced broadcast: customer GROWS with scale
    * (unlike nation/region), so the hint is left to Catalyst — broadcast
    * under the threshold, sort-merge on the shared key beyond it.
    */
  val j3Inner: Q = Q(
    "j3_inner_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(c, col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, c_name, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""")
  )

  /** J4: cross-source align — two derived frames full-outer joined on the
    * shared time key, the engine form of `compare_parquet.py:22-33`.
    */
  val j4FullOuter: Q = Q(
    "j4_full_outer_align",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(davg(col("value")).as("click_avg"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(davg(col("value")).as("view_avg"))
      clicks.join(views, Seq("day"), "full_outer").orderBy("day")
    },
    Some(s"""WITH clicks AS (
        SELECT CAST(ts AS DATE) AS day, ${sqlDavg("value")} AS click_avg
        FROM events WHERE event_type = 'click' GROUP BY 1),
      views AS (
        SELECT CAST(ts AS DATE) AS day, ${sqlDavg("value")} AS view_avg
        FROM events WHERE event_type = 'view' GROUP BY 1)
      SELECT day, click_avg, view_avg
      FROM clicks FULL JOIN views USING (day)
      ORDER BY day""")
  )

  /** J5: left outer join + grouped count (zero-preserving). */
  val j5Left: Q = Q(
    "j5_left_join_agg",
    (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_spent"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c_custkey, count(o_orderkey) AS order_cnt,
      ${sqlDsum("o_totalprice")} AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""")
  )

  /** J6: right outer join (null-extending the fact side onto dims). */
  val j6Right: Q = Q(
    "j6_right_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_orderkey")
      val p = t(s, dir, "part").select("p_partkey", "p_name")
      li.join(p, col("l_partkey") === col("p_partkey"), "right_outer")
        .groupBy("p_partkey")
        .agg(count(col("l_orderkey")).as("times_ordered"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, count(l_orderkey) AS times_ordered
      FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
      GROUP BY p_partkey ORDER BY p_partkey""")
  )

  /** J7: theta/range join — equi key plus inequality predicate. */
  val j7ThetaRange: Q = Q(
    "j7_theta_range_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // part grows with scale — no forced broadcast (see j3); the theta
      // predicate rides on the equi key either way.
      val p = t(s, dir, "part")
      li.join(
          p,
          col("l_partkey") === col("p_partkey") &&
            col("l_quantity") > col("p_size").cast("double"),
          "inner")
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("brand_revenue"))
        .orderBy("p_brand")
    },
    Some(s"""SELECT p_brand, count(*) AS n_lines,
      ${sqlDsum("l_extendedprice")} AS brand_revenue
      FROM lineitem JOIN part
        ON l_partkey = p_partkey AND l_quantity > CAST(p_size AS DOUBLE)
      GROUP BY p_brand ORDER BY p_brand""")
  )

  /** J8: cross join (small × small). */
  val j8Cross: Q = Q(
    "j8_cross_join",
    (s, dir) => {
      val r1 = t(s, dir, "region").select(col("r_name").as("region_a"))
      val r2 = t(s, dir, "region").select(col("r_name").as("region_b"))
      r1.crossJoin(r2).orderBy("region_a", "region_b")
    },
    Some("""SELECT r1.r_name AS region_a, r2.r_name AS region_b
      FROM region r1 CROSS JOIN region r2
      ORDER BY region_a, region_b""")
  )

  /** J9: as-of join — for each purchase, the user's most recent click at or
    * before it (SURVEY §2.3 as-of completeness; the oracle is DuckDB's
    * native ASOF JOIN). Planned through the native as-of exec
    * ([[graft.plans.NativeAsOf]], backward direction): one exchange and
    * one sort per side, each carrying only its own columns, and a
    * streamed merge holding one candidate row.
    */
  val j9AsOf: Q = Q(
    "j9_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      // Collapse same-instant clicks to one row (max value) so right
      // (key, ts) is unique — DuckDB's ASOF picks arbitrarily among
      // duplicates, so uniqueness is enforced on both sides (ADVICE r1).
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max(col("value")).as("value"))
      NativeAsOf.joinAsOf(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
        .select(
          col("event_id"), col("user_id"), col("ts"),
          col("asof_ts").as("last_click_ts"),
          col("asof_value").as("last_click_value"))
        .orderBy("event_id")
    },
    Some("""SELECT l.event_id, l.user_id, l.ts,
        r.ts AS last_click_ts, r.value AS last_click_value
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                      FROM events WHERE event_type = 'click'
                      GROUP BY user_id, ts) r
        ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.event_id""")
  )

  /** J14: j9 under its second registry name. */
  val j14AsOfNative: Q = j9AsOf.copy(name = "j14_asof_native")

  /** J10: skew-mitigated fact⋈dim join — [[graft.operators.Skew.saltedJoin]]
    * spreads each hot `user_id`'s event rows over 8 salt buckets (salt =
    * hash of the unique event_id) while the user dim replicates 8×, so no
    * single reducer owns a hot key. Salting is semantics-preserving by
    * construction (it only changes physical row placement), which is why
    * the oracle is the PLAIN join + aggregate.
    */
  val j10SaltedSkew: Q = Q(
    "j10_salted_skew_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "value")
      val users = t(s, dir, "customer")
        .filter(col("c_custkey") < 1500)
        .select(col("c_custkey").as("user_id"), col("c_name"))
      graft.operators.Skew
        .saltedJoin(ev, users, Seq("user_id"), col("event_id"), buckets = 8)
        .groupBy("user_id", "c_name")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    },
    Some(s"""SELECT user_id, c_name, count(*) AS n_events,
        ${sqlDsum("value")} AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      WHERE c_custkey < 1500
      GROUP BY user_id, c_name ORDER BY user_id""")
  )

  /** R1: record linkage by blocking + edit-distance verify — the
    * data-cleaning join family (Fellegi-Sunter style) next to the
    * token-set joins in d2/d9: match documents whose 60-char openings are
    * within Levenshtein 10, finding near-identical "titles" that token-set
    * similarity can miss (single-character edits barely move Jaccard).
    *
    * Scale: candidates come from an equi-join on (first-3-tokens block,
    * length-band) — never an all-pairs compare. The length band is sound
    * pruning, not a heuristic: levenshtein(a, b) >= |len(a) - len(b)|, so
    * same-prefix strings from distant bands can't pass the verify anyway.
    * The O(n·m) DP verify runs only inside blocks; both engines implement
    * the classic Wagner-Fischer distance, so the verdicts agree exactly.
    */
  /** r1's matched-pair table, shared with r2's golden-record build (r2's
    * clustering must consume the SAME candidate semantics, not re-derive a
    * variant).
    */
  private[queries] def r1Pairs(s: SparkSession, dir: String) = {
    graft.plans.LevRules.register(s)
    val n = t(s, dir, "documents").select(
      col("doc_id"),
      substring(col("text"), 1, 60).as("pfx"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("blk"),
      expr("length(text) div 50").as("lb"))
    val a = n.select(col("doc_id").as("id_a"), col("pfx").as("pfx_a"),
      col("blk"), col("lb"))
    val b = n.select(col("doc_id").as("id_b"), col("pfx").as("pfx_b"),
      col("blk"), col("lb"))
    a.join(b, Seq("blk", "lb"))
      .filter(col("id_a") < col("id_b"))
      // The builtin threshold spelling — the SAME text as the DuckDB
      // oracle; RewriteThresholdLevenshtein swaps in the banded-DP
      // graft_lev_le reject (O(k) rows for a non-match) at optimization
      // time, and the full distance is projected only for survivors
      // (PlanSpec asserts the rewrite fired).
      .filter(levenshtein(col("pfx_a"), col("pfx_b")) <= 10)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("edit_dist"))
  }

  /** The same pair table in DuckDB SQL (columns id_a, id_b, edit_dist; no
    * ORDER BY — callers wrap it).
    */
  private[queries] val sqlR1Pairs =
    """WITH n AS (SELECT doc_id, substr(text, 1, 60) AS pfx,
               array_to_string((string_split(text, ' '))[1:3], ' ') AS blk,
               len(text) // 50 AS lb
             FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
      FROM n a JOIN n b ON a.blk = b.blk AND a.lb = b.lb AND a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= 10"""

  val r1EntityMatch: Q = Q(
    "r1_entity_match",
    (s, dir) => r1Pairs(s, dir).orderBy("id_a", "id_b"),
    Some(s"""SELECT * FROM ($sqlR1Pairs) ORDER BY id_a, id_b""")
  )

  /** R2: golden-record survivorship — the consolidation step after r1's
    * linkage, the second half of every master-data pipeline: matched pairs
    * become entity clusters (connected components over the match graph —
    * every endpoint of a match edge is in a ≥2-member cluster by
    * construction, so the output is exactly the merged entities), and each
    * cluster collapses to ONE canonical record under explicit survivorship
    * rules: entity id = minimum member id (the component label itself),
    * canonical payload = longest text (doc_id tie-break), language = most
    * frequent member language (lexicographic tie-break), plus member /
    * source / volume censuses.
    *
    * Scale: clustering reuses [[graft.operators.ConnectedComponents]]
    * (frontier propagation, one action per round); survivorship is two
    * keyed window passes + one keyed aggregate over the MEMBER table —
    * which is match-graph-sized, not corpus-sized, because the cluster⋈
    * documents join is a key equi-join that prunes every unmatched doc.
    * Tie-breaks are total orders, so every engine and partitioning picks
    * the same survivor.
    */
  val r2GoldenRecord: Q = Q(
    "r2_golden_record",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = r1Pairs(s, dir)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val clusters = graft.operators.ConnectedComponents.minLabels(pairs)
      val mem = Pin.owned(clusters
        .join(t(s, dir, "documents"), col("id") === col("doc_id"))
        .select(col("lbl"), col("doc_id"), col("lang"), col("source"), col("n_chars")))
      mem.count() // eager: three downstream subtrees scan it
      val wCanon = Window.partitionBy("lbl")
        .orderBy(desc("n_chars"), col("doc_id"))
      val canon = mem
        .withColumn("rn", row_number().over(wCanon)).filter(col("rn") === 1)
        .select(col("lbl"), col("doc_id").as("canonical_doc_id"),
          col("n_chars").as("canonical_chars"))
      val wLang = Window.partitionBy("lbl").orderBy(desc("c"), col("lang"))
      val langMode = mem.groupBy("lbl", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wLang)).filter(col("rn") === 1)
        .select(col("lbl"), col("lang").as("lang_mode"))
      val stats = mem.groupBy("lbl").agg(
        count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      stats.join(canon, Seq("lbl")).join(langMode, Seq("lbl"))
        .select(col("lbl").as("entity_id"), col("n_members"), col("n_sources"),
          col("total_chars"), col("canonical_doc_id"), col("canonical_chars"),
          col("lang_mode"))
        .orderBy("entity_id")
    },
    Some(s"""WITH RECURSIVE pairs AS ($sqlR1Pairs),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      walk(id, lbl) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id),
      cl AS (SELECT id, min(lbl) AS lbl FROM walk GROUP BY id),
      mem AS (SELECT cl.lbl, d.doc_id, d.lang, d.source, d.n_chars
              FROM cl JOIN documents d ON d.doc_id = cl.id),
      canon AS (SELECT lbl, doc_id AS canonical_doc_id, n_chars AS canonical_chars
                FROM (SELECT *, row_number() OVER (
                        PARTITION BY lbl ORDER BY n_chars DESC, doc_id) AS rn
                      FROM mem) WHERE rn = 1),
      lm AS (SELECT lbl, lang AS lang_mode
             FROM (SELECT lbl, lang, row_number() OVER (
                     PARTITION BY lbl ORDER BY count(*) DESC, lang) AS rn
                   FROM mem GROUP BY lbl, lang) WHERE rn = 1),
      st AS (SELECT lbl, count(*) AS n_members, count(DISTINCT source) AS n_sources,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
             FROM mem GROUP BY lbl)
      SELECT st.lbl AS entity_id, n_members, n_sources, total_chars,
             canonical_doc_id, canonical_chars, lang_mode
      FROM st JOIN canon ON canon.lbl = st.lbl JOIN lm ON lm.lbl = st.lbl
      ORDER BY entity_id""")
  )

  /** J11: bloom-filtered semi-join reduction — the explicit form of the
    * runtime-filter technique that makes selective fact⋈dim joins viable
    * at 100 TB (Spark's InjectRuntimeFilter, Delta's dynamic file
    * pruning): the build side's keys are folded into an m=2¹⁶-bit, k=3
    * bloom bitmap that ships to the probe scan as an 8 KB literal, so
    * non-matching fact rows die INSIDE the codegen'd scan projection —
    * before the join shuffle ever sees them. The trailing exact equi-join
    * keeps the result exact (bloom false positives are re-checked), which
    * is why a plain relational oracle can verify it.
    *
    * Bounded by construction: the driver collects DISTINCT bit positions,
    * ≤ m = 65,536 rows regardless of build cardinality (the e10 bounded-
    * collect contract). As the build side approaches m keys the FP rate
    * degrades gracefully toward pass-through — never wrong, just less
    * selective — and the bitmap stays 8 KB.
    */
  val j11BloomSemi: Q = Q(
    "j11_bloom_semi_join",
    (s, dir) => {
      val m = 65536
      val build = t(s, dir, "part").filter(col("p_size") === 1).select("p_partkey")
      val bitmap = graft.operators.Bloom.build(build, "p_partkey", m, 3)
      val probe = graft.operators.Bloom.mightContain(
        t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount")),
        "l_partkey", bitmap, m, 3)
      probe.join(build, col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey")
        .agg(qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy("p_partkey")
    },
    Some(s"""SELECT p_partkey,
        ${Q.sqlQsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey AND p_size = 1
      GROUP BY p_partkey ORDER BY p_partkey""")
  )

  /** J12: interval-overlap join WITHOUT an equi key — for every purchase
    * instant, how many 20-minute view-intervals (any user's) were open at
    * that instant. j7 covers the equi-key-plus-inequality theta shape and
    * j9 the as-of shape; this is the remaining range-join case, where the
    * ONLY predicate is containment and a naive plan is a cross product
    * (BroadcastNestedLoop at small scale, quadratic death at 100 TB).
    *
    * Scale path — temporal binning: both sides key to fixed 20-minute
    * chunks (chunk = interval length, so an interval spans ≤ 2 chunks and
    * a point exactly 1 — no dedup step needed), turning the range join
    * into a chunk EQUI-join + residual containment filter. Cost is
    * O(|points| + 2·|intervals|) shuffled rows on a time-uniform key;
    * residual hot chunks are AQE skew-split like any equi-join. At 100 TB
    * the chunk width tunes to the interval-length p99 (wider intervals →
    * replicate intervals, never points). Output stays one row per point
    * (zero-match points kept by the count-preserving left join back).
    */
  /** j12's binning core over arbitrary frames: `points(id, pt)` ×
    * `intervals(s0, e0)` (half-open µs) → one row per point with its
    * overlap count. Also unit-tested directly on chunk-boundary cases
    * (pt == s0, pt == e0, intervals spanning a chunk edge).
    */
  private[graft] def pointInIntervalCounts(
      points: org.apache.spark.sql.DataFrame,
      intervals: org.apache.spark.sql.DataFrame,
      chunkUs: Long): org.apache.spark.sql.DataFrame = {
    val chunks = intervals.select(
      explode(sequence(expr(s"s0 div $chunkUs"), expr(s"(e0 - 1) div $chunkUs")))
        .as("chunk"),
      col("s0"), col("e0"))
    val pts = points.withColumn("chunk", expr(s"pt div $chunkUs"))
    val hits = pts.join(chunks, Seq("chunk"))
      .filter(col("s0") <= col("pt") && col("pt") < col("e0"))
      .groupBy("id").agg(count(lit(1)).as("n_active"))
    points.select("id", "pt")
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("pt"), coalesce(col("n_active"), lit(0L)).as("n_active"))
  }

  val j12IntervalJoin: Q = Q(
    "j12_interval_join",
    (s, dir) => {
      val cUs = 1200000000L // 20-minute chunk == interval length
      val ev = t(s, dir, "events")
      val iv = ev.filter(col("event_type") === "view")
        .select(unix_micros(col("ts")).as("s0"))
        .withColumn("e0", col("s0") + lit(cUs)) // half-open [s0, e0)
      val pts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"), unix_micros(col("ts")).as("pt"))
      pointInIntervalCounts(pts, iv, cUs)
        .select(col("id").as("event_id"), col("pt"), col("n_active"))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.pt, count(v.s0) AS n_active
      FROM (SELECT event_id, epoch_us(ts) AS pt FROM events
            WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT epoch_us(ts) AS s0 FROM events
                 WHERE event_type = 'view') v
        ON v.s0 <= p.pt AND p.pt < v.s0 + 1200000000
      GROUP BY p.event_id, p.pt ORDER BY event_id""")
  )

  /** J13: FORWARD as-of join with a tolerance — for each purchase, the
    * NEXT click by the same user within 10 minutes (pandas
    * `merge_asof(direction='forward', tolerance=...)`): the attribution
    * lookup j9's backward join can't express. The native exec runs with
    * `direction = AsOfForward`: both children sort (key ASC, ts DESC) and
    * the merge flips one comparison sign; equal timestamps still match
    * (inclusive). The tolerance is a post-join null-out, which preserves
    * the left row count.
    *
    * Right payload is NOT pre-collapsed: the right sort (key ASC, ts DESC,
    * payload ASC) makes the greatest payload win ties on (key, ts) — the
    * oracle's `c.value DESC` tiebreak.
    */
  val j13AsOfForward: Q = Q(
    "j13_asof_forward",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val tolUs = 600000000L // 10 minutes
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ct"), col("value"))
      NativeAsOf
        .joinAsOf(facts, clicks, key = "user_id",
          leftTs = "pt", rightTs = "ct", rightVals = Seq("value"),
          direction = AsOfForward)
        .select(col("event_id"), col("pt"),
          when(col("asof_ts") - col("pt") <= tolUs, col("asof_ts")).as("next_ts"),
          when(col("asof_ts") - col("pt") <= tolUs, col("asof_value"))
            .as("next_value"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS pt FROM events
              WHERE event_type = 'purchase'),
      c AS (SELECT user_id, epoch_us(ts) AS ct, value FROM events
            WHERE event_type = 'click'),
      m AS (SELECT p.event_id, c.ct, c.value,
              row_number() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ct, c.value DESC) AS rn
            FROM p JOIN c ON c.user_id = p.user_id
              AND c.ct >= p.pt AND c.ct <= p.pt + 600000000)
      SELECT p.event_id, p.pt, m.ct AS next_ts, m.value AS next_value
      FROM p LEFT JOIN (SELECT event_id, ct, value FROM m WHERE rn = 1) m
        USING (event_id)
      ORDER BY event_id""")
  )

  /** J16: j13 under its second registry name. */
  val j16AsOfNativeForward: Q = j13AsOfForward.copy(name = "j16_asof_native_forward")

  /** J15: nearest as-of join — pandas `merge_asof(direction='nearest')`,
    * completing the as-of family (j9 backward, j13 forward): for each
    * purchase, the click closest in time in EITHER direction, ties to the
    * backward side (pandas' rule). One merge pass computes both arms: the
    * backward candidate is the exec's held row, the forward candidate is
    * the right stream's head after the advance loop (a peek, not a second
    * shuffle), and the winner is chosen by integer µs distance.
    *
    * Clicks collapse per (user_id, ct) first, which removes the one case
    * where the two arms' (key, ts) tiebreaks differ (documented on the
    * exec). An equal-ts click is the backward arm at distance 0, so the
    * oracle's strictly-after forward spelling returns the same winner.
    */
  val j15AsOfNearest: Q = Q(
    "j15_asof_nearest",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ct"), col("value"))
        .groupBy("user_id", "ct").agg(max(col("value")).as("value"))
      NativeAsOf
        .joinAsOf(facts, clicks, key = "user_id",
          leftTs = "pt", rightTs = "ct", rightVals = Seq("value"),
          direction = AsOfNearest)
        .select(col("event_id"), col("pt"),
          col("asof_ts").as("nearest_ts"),
          col("asof_value").as("nearest_value"),
          when(col("asof_ts").isNull, lit(null).cast("string"))
            .when(col("asof_ts") <= col("pt"), lit("prev"))
            .otherwise(lit("next")).as("direction"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS pt FROM events
              WHERE event_type = 'purchase'),
      c AS (SELECT user_id, epoch_us(ts) AS ct, max(value) AS value FROM events
            WHERE event_type = 'click' GROUP BY 1, 2),
      b AS (SELECT event_id, ct, value FROM (
              SELECT p.event_id, c.ct, c.value,
                     row_number() OVER (PARTITION BY p.event_id ORDER BY c.ct DESC) AS rn
              FROM p JOIN c ON c.user_id = p.user_id AND c.ct <= p.pt)
            WHERE rn = 1),
      f AS (SELECT event_id, ct, value FROM (
              SELECT p.event_id, c.ct, c.value,
                     row_number() OVER (PARTITION BY p.event_id ORDER BY c.ct) AS rn
              FROM p JOIN c ON c.user_id = p.user_id AND c.ct > p.pt)
            WHERE rn = 1)
      SELECT p.event_id, p.pt,
        CASE WHEN f.ct IS NULL OR (b.ct IS NOT NULL AND p.pt - b.ct <= f.ct - p.pt)
             THEN b.ct ELSE f.ct END AS nearest_ts,
        CASE WHEN f.ct IS NULL OR (b.ct IS NOT NULL AND p.pt - b.ct <= f.ct - p.pt)
             THEN b.value ELSE f.value END AS nearest_value,
        CASE WHEN b.ct IS NULL AND f.ct IS NULL THEN NULL
             WHEN f.ct IS NULL OR (b.ct IS NOT NULL AND p.pt - b.ct <= f.ct - p.pt)
             THEN 'prev' ELSE 'next' END AS direction
      FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
      ORDER BY event_id""")
  )

  /** J17: j15 under its second registry name. */
  val j17AsOfNativeNearest: Q = j15AsOfNearest.copy(name = "j17_asof_native_nearest")

  /** R3: blocking-recall audit — the d11/e9 self-evaluation pattern
    * applied to entity resolution: of the TRUE matches (r1's similarity
    * predicate with NO blocking), what fraction does r1's
    * (3-token-block, length-bucket) candidate generator retain? Blocking
    * recall is the number every linkage paper reports before trusting a
    * blocked pipeline at scale — r1's blocks can miss same-prefix docs
    * whose full lengths straddle a bucket boundary, and this measures
    * exactly that.
    *
    * Ground truth is probe-sampled (doc_id % 50 — a bounded deterministic
    * eval sample, the annProbe rule): each probe compares against the
    * WHOLE corpus under the unblocked predicate, so truth cost is
    * |probes|·n, never n² — expensive by specification like d11, bounded
    * by the sample. Both-probe pairs count once per direction in
    * numerator AND denominator, so the ratio is unbiased and identical
    * cross-engine. All counts BIGINT; recall is an integer-permille
    * floor division.
    *
    * Scale: probes broadcast; candidates stream through one scan; the
    * result is a 1-row global aggregate with map-side partials.
    */
  val r3BlockingRecall: Q = Q(
    "r3_blocking_recall",
    (s, dir) => {
      graft.plans.LevRules.register(s)
      val n = t(s, dir, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 60).as("pfx"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("blk"),
        expr("length(text) div 50").as("lb"))
      val probes = n.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id_p"), col("pfx").as("pfx_p"),
          col("blk").as("blk_p"), col("lb").as("lb_p"))
      n.crossJoin(broadcast(probes))
        .filter(col("doc_id") =!= col("id_p"))
        .select(
          // builtin threshold spelling (the oracle's text);
          // RewriteThresholdLevenshtein plans it as banded graft_lev_le
          (levenshtein(col("pfx"), col("pfx_p")) <= 10).as("is_true"),
          (col("blk") === col("blk_p") && col("lb") === col("lb_p")).as("is_blocked"))
        .agg(
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("is_true") && col("is_blocked"), 1L).otherwise(0L))
            .as("n_retained"))
        .select(col("n_true"), col("n_retained"),
          when(col("n_true") > 0,
            expr("(1000 * n_retained) div n_true")).as("recall_pm"))
    },
    Some("""WITH n AS (SELECT doc_id, substr(text, 1, 60) AS pfx,
               array_to_string((string_split(text, ' '))[1:3], ' ') AS blk,
               len(text) // 50 AS lb
             FROM documents),
      p AS (SELECT doc_id AS id_p, pfx AS pfx_p, blk AS blk_p, lb AS lb_p
            FROM n WHERE doc_id % 50 = 0),
      f AS (SELECT levenshtein(n.pfx, p.pfx_p) <= 10 AS is_true,
                   (n.blk = p.blk_p AND n.lb = p.lb_p) AS is_blocked
            FROM n CROSS JOIN p WHERE n.doc_id <> p.id_p),
      c AS (SELECT CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                   CAST(sum(CASE WHEN is_true AND is_blocked THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_retained
            FROM f)
      SELECT n_true, n_retained,
             CASE WHEN n_true > 0 THEN (1000 * n_retained) // n_true END AS recall_pm
      FROM c""")
  )

  val all: Seq[Q] = Seq(
    j1Semi, j2Anti, j3Inner, j4FullOuter, j5Left, j6Right, j7ThetaRange,
    j8Cross, j9AsOf, j10SaltedSkew, r1EntityMatch, r2GoldenRecord, j11BloomSemi,
    j12IntervalJoin, j13AsOfForward, j14AsOfNative, r3BlockingRecall,
    j15AsOfNearest, j16AsOfNativeForward, j17AsOfNativeNearest)
}
