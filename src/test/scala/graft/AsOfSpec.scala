package graft

import graft.plans.NativeAsOf
import java.sql.Timestamp

/** As-of join semantics (SURVEY §2.3 completeness): most recent right row
  * at-or-before each left row per key; null when no prior row; keys are
  * isolated from each other. The registry's backward, forward and nearest
  * queries (j9, j13, j15) each equal a brute-force scan of the corpus.
  */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 1.0),
    ("A", ts("2024-01-01 11:00:00"), 2.0),
    ("B", ts("2024-01-01 10:30:00"), 9.0)
  ).toDF("key", "qts", "quote")

  private val trades = Seq(
    ("A", ts("2024-01-01 10:30:00"), "t1"), // between quotes → 1.0
    ("A", ts("2024-01-01 11:00:00"), "t2"), // exact match   → 2.0
    ("A", ts("2024-01-01 09:00:00"), "t3"), // before any    → null
    ("B", ts("2024-01-01 12:00:00"), "t4")  // B's own quote → 9.0, not A's
  ).toDF("key", "tts", "tid")

  test("picks most recent right row at-or-before, per key, null if none") {
    val out = NativeAsOf
      .joinAsOf(trades, quotes, "key", "tts", "qts", Seq("quote"))
      .select($"tid", $"asof_quote")
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out("t1").contains(1.0))
    assert(out("t2").contains(2.0), "exact-timestamp quote must be visible")
    assert(out("t3").isEmpty, "no prior quote → null")
    assert(out("t4").contains(9.0), "keys must not leak across")
  }

  test("left row multiplicity is preserved") {
    val out = NativeAsOf.joinAsOf(trades, quotes, "key", "tts", "qts", Seq("quote"))
    assert(out.count() == trades.count())
  }

  test("j9 backward equals the brute-force last-click join") {
    import org.apache.spark.sql.functions._
    val fast = SparkEntry.queries("j9_asof_join")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getTimestamp(3), r.getDouble(4)))))
      .toMap
    val ev = Tables.table(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val slow = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .collect().map { r =>
        val (id, u, pt) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
        val cands = clicks.filter(c => c._1 == u && !c._2.after(pt))
        // latest click at or before; greatest value at equal ts (j9
        // collapses same-instant clicks to their max value)
        id -> cands.maxByOption(c => (c._2.getTime, c._2.getNanos, c._3))
          .map { case (_, ct, v) => (ct, v) }
      }.toMap
    assert(fast == slow)
    assert(fast.values.exists(_.nonEmpty) && fast.values.exists(_.isEmpty),
      "corpus must exercise both the matched and the no-prior-click case")
  }

  test("j13 forward+tolerance equals the brute-force next-click join") {
    import org.apache.spark.sql.functions._
    val fast = SparkEntry.queries("j13_asof_forward")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getDouble(3)))))
      .toMap
    val ev = Tables.table(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ct"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val slow = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      .collect().map { r =>
        val (id, u, pt) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val cands = clicks.filter(c =>
          c._1 == u && c._2 >= pt && c._2 <= pt + 600000000L)
        // earliest following click; greatest value at equal ts (the
        // as-of payload tiebreak)
        id -> (if (cands.isEmpty) None
               else Some(cands.minBy(c => (c._2, -c._3)) match {
                 case (_, ct, v) => (ct, v)
               }))
      }.toMap
    assert(fast == slow)
    assert(fast.values.exists(_.nonEmpty) && fast.values.exists(_.isEmpty),
      "corpus must exercise both the matched and the tolerance-expired case")
  }

  test("j15 nearest equals the brute-force two-direction arbiter with the " +
    "prev-on-tie rule") {
    import org.apache.spark.sql.functions._
    val fast = SparkEntry.queries("j15_asof_nearest")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None
         else Some((r.getLong(2), r.getDouble(3), r.getString(4)))))
      .toMap
    val ev = Tables.table(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ct"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(c => (c._1, c._2)).view
      .mapValues(_.map(_._3).max).toSeq
      .map { case ((u, ct), v) => (u, ct, v) }
    val slow = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      .collect().map { r =>
        val (id, u, pt) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val mine = clicks.filter(_._1 == u)
        val prev = mine.filter(_._2 <= pt).sortBy(c => -c._2).headOption
        val next = mine.filter(_._2 > pt).sortBy(c => c._2).headOption
        id -> ((prev, next) match {
          case (None, None) => None
          case (Some((_, ct, v)), None) => Some((ct, v, "prev"))
          case (None, Some((_, ct, v))) => Some((ct, v, "next"))
          case (Some((_, bc, bv)), Some((_, fc, fv))) =>
            if (pt - bc <= fc - pt) Some((bc, bv, "prev"))
            else Some((fc, fv, "next"))
        })
      }.toMap
    assert(fast == slow)
    assert(fast.values.flatten.map(_._3).toSet == Set("prev", "next"),
      "corpus must exercise both directions")
  }
}
