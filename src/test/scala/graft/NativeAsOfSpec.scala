package graft

import graft.plans.{AsOfBackward, AsOfDirection, AsOfForward, AsOfNearest, NativeAsOf}
import graft.queries.Joins
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The native planner-integrated as-of join (`graft.plans.AsOfJoinPlan`):
  * randomized equality with a brute-force reference in every direction,
  * the payload tiebreak, and the physical shape the custom node declares.
  */
class NativeAsOfSpec extends SparkSpec {
  import spark.implicits._

  /** The as-of contract by brute force: collect both sides, then scan the
    * right rows `(key, rts, v)` per left row `(lid, key, lts)`. Null keys
    * and null timestamps never match; ties on (key, ts) resolve to the
    * greatest payload; NEAREST breaks equal distances toward the backward
    * side. Returns `(lid, asof_ts, asof_v)`, nulls where nothing matches.
    */
  private def reference(l: DataFrame, r: DataFrame, dir: AsOfDirection) = {
    def opt(row: Row, i: Int) = if (row.isNullAt(i)) None else Some(row.getLong(i))
    val rights = r.select("key", "rts", "v").collect().toSeq.flatMap { row =>
      for (k <- opt(row, 0); t <- opt(row, 1)) yield (k, t, row.getDouble(2))
    }
    l.select("lid", "key", "lts").collect().map { row =>
      val hit = for {
        k <- opt(row, 1)
        t <- opt(row, 2)
        mine = rights.filter(_._1 == k)
        back = mine.filter(_._2 <= t).maxByOption(c => (c._2, c._3))
        fwd = mine.filter(_._2 >= t).minByOption(c => (c._2, -c._3))
        m <- dir match {
          case AsOfBackward => back
          case AsOfForward => fwd
          case AsOfNearest => (back, fwd) match {
            case (Some(b), Some(f)) => if (t - b._2 <= f._2 - t) back else fwd
            case _ => back.orElse(fwd)
          }
        }
      } yield m
      (row.getLong(0), hit.map(m => Long.box(m._2)).orNull: Any,
        hit.map(m => Double.box(m._3)).orNull: Any)
    }.toSet
  }

  private def native(l: DataFrame, r: DataFrame, dir: AsOfDirection) =
    NativeAsOf.joinAsOf(l, r, "key", "lts", "rts", Seq("v"), dir)
      .select($"lid", $"asof_ts", $"asof_v")
      .collect().map(row => (row.getLong(0), row.get(1), row.get(2))).toSet

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 1.0),
    ("A", ts("2024-01-01 11:00:00"), 2.0),
    ("B", ts("2024-01-01 10:30:00"), 9.0)
  ).toDF("key", "qts", "quote")

  private def trades = Seq(
    ("A", ts("2024-01-01 10:30:00"), "t1"),
    ("A", ts("2024-01-01 11:00:00"), "t2"), // equal ts → quote visible
    ("A", ts("2024-01-01 09:00:00"), "t3"), // before any → null
    ("B", ts("2024-01-01 12:00:00"), "t4")
  ).toDF("key", "tts", "tid")

  test("equal-(key, ts) right ties resolve to the greatest payload") {
    val dupQuotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 5.0),
      ("A", ts("2024-01-01 10:00:00"), 7.0),
      ("A", ts("2024-01-01 10:00:00"), 6.0)
    ).toDF("key", "qts", "quote")
    val one = Seq(("A", ts("2024-01-01 10:30:00"), "t")).toDF("key", "tts", "tid")
    val out = NativeAsOf.joinAsOf(one, dupQuotes, "key", "tts", "qts", Seq("quote"))
      .select($"asof_quote").collect()
    assert(out.map(_.getDouble(0)).toSeq == Seq(7.0))
  }

  test("physical shape: AsOfJoinExec with one exchange and one sort per side " +
    "— never a union-width shuffle, window, or nested loop") {
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.table(spark, sf, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "value")
    val df = NativeAsOf.joinAsOf(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (cut >= 0) plan.substring(0, cut) else plan
    // SparkPlan.nodeName strips the "Exec" suffix in rendered trees
    assert(finalPlan.contains("AsOfJoin "), finalPlan.take(3000))
    assert(!finalPlan.contains("Window"),
      "the as-of must plan no Window:\n" + finalPlan.take(3000))
    assert(!finalPlan.contains("BroadcastNestedLoopJoin") &&
      !finalPlan.contains("CartesianProduct"), finalPlan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges == 2, s"one exchange per side, got $exchanges:\n${finalPlan.take(3000)}")
  }

  test("left multiplicity is preserved and output ordering passes through") {
    val out = NativeAsOf.joinAsOf(trades, quotes, "key", "tts", "qts", Seq("quote"))
    assert(out.count() == trades.count())
  }

  test("forward physical shape: AsOfJoinExec, no Window, descending-ts " +
    "sorts, one exchange per side") {
    val sf = "/root/testdata/sf0.001"
    val df = Joins.j16AsOfNativeForward.fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (cut >= 0) plan.substring(0, cut) else plan
    assert(finalPlan.contains("AsOfJoin "), finalPlan.take(3000))
    // the ORDER BY event_id at the top is a Sort but adds no Window
    assert(!finalPlan.contains("Window"), finalPlan.take(3000))
    assert(finalPlan.contains("DESC"),
      "forward direction must sort ts descending:\n" + finalPlan.take(3000))
  }

  test("randomized adversarial FORWARD equality with the brute-force reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 20L)
      v <- Gen.choose(0L, 9L)
    } yield (k, t, v.toDouble)
    def sample(seed: Long, n: Int) = Gen.listOfN(n, rowGen)
      .apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
    (1L to 6L).foreach { seed =>
      val l = sample(seed, 50).zipWithIndex
        .map { case ((k, t, _), i) => (i.toLong, k, t) }
        .toDF("lid", "key", "lts")
      val r = sample(seed + 100, 50).toDF("key", "rts", "v")
        .repartition((seed % 3 + 1).toInt)
      val got = native(l, r, AsOfForward)
      val want = reference(l, r, AsOfForward)
      assert(got == want, s"seed=$seed\n" +
        s"native-only=${got -- want}\nreference-only=${want -- got}")
    }
  }

  test("randomized adversarial NEAREST equality with the brute-force reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 20L)
      v <- Gen.choose(0L, 9L)
    } yield (k, t, v.toDouble)
    def sample(seed: Long, n: Int) = Gen.listOfN(n, rowGen)
      .apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
    (1L to 6L).foreach { seed =>
      val l = sample(seed, 50).zipWithIndex
        .map { case ((k, t, _), i) => (i.toLong, k, t) }
        .toDF("lid", "key", "lts")
      // collapse right per (key, ts): the nearest contract (exec scaladoc)
      val r = sample(seed + 100, 50).toDF("key", "rts", "v")
        .groupBy("key", "rts").agg(max($"v").as("v"))
        .repartition((seed % 3 + 1).toInt)
      val got = native(l, r, AsOfNearest)
      val want = reference(l, r, AsOfNearest)
      assert(got == want, s"seed=$seed\n" +
        s"native-only=${got -- want}\nreference-only=${want -- got}")
    }
  }

  test("randomized adversarial BACKWARD equality with the brute-force reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // few keys + tiny ts domain → heavy boundary traffic (key changes,
    // exact-ts ties, duplicate right rows) — exactly where a streamed
    // merge's held-row logic can go stale
    // null keys as well as null ts: neither may ever match (a null key
    // null-pads, as `l.key = r.key` never holds in DuckDB's ASOF)
    val rowGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 20L)
      v <- Gen.choose(0L, 9L)
      nullTs <- Gen.prob(0.1)
      nullKey <- Gen.prob(0.1)
    } yield (if (nullKey) null else java.lang.Long.valueOf(k),
      if (nullTs) null else java.lang.Long.valueOf(t), v.toDouble)
    def sample(seed: Long, n: Int) = Gen.listOfN(n, rowGen)
      .apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

    (1L to 8L).foreach { seed =>
      val lRows = sample(seed, 60)
      val rRows = sample(seed + 100, 60)
      val l = lRows.zipWithIndex
        .map { case ((k, t, _), i) => (i.toLong, k, t) }
        .toDF("lid", "key", "lts")
      val r = rRows.map { case (k, t, v) => (k, t, v) }.toDF("key", "rts", "v")
        .repartition((seed % 3 + 1).toInt) // vary pre-join layout
      val got = native(l, r, AsOfBackward)
      val want = reference(l, r, AsOfBackward)
      assert(got == want, s"seed=$seed\n" +
        s"native-only=${got -- want}\nreference-only=${want -- got}")
      assert(lRows.exists(_._1 == null) && want.exists(_._2 != null),
        s"seed=$seed must exercise null keys and matches")
    }
  }
}
