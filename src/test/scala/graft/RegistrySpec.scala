package graft

/** Smoke: every registered query executes at sf0.001 (schema + plan
  * validity); entry returns rows; names and oracle keys are consistent.
  */
class RegistrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** PLANS.md's signature lines (`- <name>: <signature>`), in file order. */
  private lazy val committed: Seq[(String, String)] = {
    val line = """^- ([a-z0-9_]+): ?(.*)$""".r
    scala.io.Source.fromFile("PLANS.md", "UTF-8").getLines().collect {
      case line(name, sig) => name -> sig
    }.toSeq
  }

  test("registry names are unique and oracle keys ⊆ query names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Plans.canonical renumbers ids in order of first appearance and " +
    "masks run-specific tokens, so equal plans print equal text") {
    def plan(x: Int, e: Int, p: Int, stage: Int, hash: String, root: String) =
      s"""*($stage) Project [transform(v#${e + 7}, lambdafunction(lambda x_$x#$e, lambda x_$x#$e, false)) AS w#${e + 3}L]
         |+- Exchange hashpartitioning(w#${e + 3}L, 4), ENSURE_REQUIREMENTS, [plan_id=$p]
         |   +- ShuffleQueryStage ${stage + 1}
         |      +- Scan UnsafeArrayData@$hash TrainPipeline$$$$Lambda$$5661/0x0000000801fbcd8b@$hash
         |         +- FileScan parquet Location: [file:/tmp/graft-mv-$root/s0/graft_co_adj_x]""".stripMargin
    val a = Plans.canonical(plan(1, 1128, 45, 3, "7a50b5f7", "ccbde225"))
    assert(a == Plans.canonical(plan(12, 40, 977, 11, "1c2d", "0f31aa07")))
    assert(a.contains("lambda x_0#1,") && a.contains("AS w#2L]") && a.contains("[plan_id=0]"))
    assert(a.startsWith("*(_) Project") && a.contains("ShuffleQueryStage _"))
    assert(a.contains("UnsafeArrayData@* TrainPipeline$$Lambda"), a)
    assert(a.contains("/tmp/graft-mv-*/s0/graft_co_adj_x"), a)
    assert(a != Plans.canonical(plan(1, 1128, 45, 3, "7a50b5f7", "ccbde225")
      .replace("w#1131L, 4", "v#1135L, 4")), "distinct ids must stay distinct")
  }

  test("Plans.signature counts nodes inside query stages and subqueries, " +
    "counts a cached scan once, and ignores child order") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, max}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // A scalar subquery (global aggregate: single exchange) over an
    // adaptive outer aggregate (hash exchange): both exchanges sit in
    // query stages, the subquery's in its own adaptive plan.
    val staged = spark.sql("SELECT id % 3 AS k, count(*) AS n FROM range(100) " +
      "WHERE id > (SELECT max(id) FROM range(10)) GROUP BY id % 3")
    val plan = Plans.executed(staged)
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
    assert(Plans.signature(plan) ==
      "Exchange.hash=1 Exchange.single=1 HashAggregate=4", plan)

    val cached = spark.range(1000).groupBy((col("id") % 7).as("k"))
      .agg(count(lit(1)).as("n")).persist()
    try {
      cached.count()
      assert(Plans.signature(Plans.executed(cached.filter(col("n") > 0))) ==
        "InMemoryTableScan=1")
      assert(Plans.signature(Plans.executed(cached.union(cached))) ==
        "InMemoryTableScan=2")
    } finally cached.unpersist()

    val agg = spark.range(50).groupBy((col("id") % 5).as("k")).count()
      .select(col("k"), col("count"))
    val ranked = spark.range(50).select((col("id") % 5).as("k"),
      max(col("id")).over(Window.partitionBy(col("id") % 5)).as("count"))
    val ab = Plans.executed(agg.union(ranked))
    val ba = Plans.executed(ranked.union(agg))
    assert(ab.toString != ba.toString, "the two unions must differ in child order")
    assert(Plans.signature(ab) == Plans.signature(ba))
    assert(Plans.signature(ab) == "Exchange.hash=2 HashAggregate=2 Sort=1 Window=1", ab)
  }

  test("PLANS.md holds exactly one signature line per registry query and " +
    "no stray lines") {
    val names = SparkEntry.registry.map(_.name)
    val lines = committed.map(_._1)
    val dup = lines.diff(lines.distinct).distinct
    assert(dup.isEmpty, s"queries with more than one PLANS.md line: $dup")
    val missing = names.filterNot(lines.toSet)
    assert(missing.isEmpty,
      s"registry queries without a PLANS.md line (run `sbt \"runMain graft.Plans\"`): $missing")
    val stray = lines.filterNot(names.toSet)
    assert(stray.isEmpty, s"PLANS.md lines for unknown queries: $stray")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench headline names ⊆ registry (a typo would zero a bench column)") {
    val names = SparkEntry.queries.keySet
    val stray = Bench.headline.filterNot(names)
    assert(stray.isEmpty, s"headline names not in registry: $stray")
  }

  test("PLANS.md selection rule: every PlanSpec-asserted registry query is " +
    "annotated in graft.Plans (a reviewer can resolve any name to either " +
    "a ran-plan or the explicit exclusion rule)") {
    // The rule lives in Plans' scaladoc; this assert makes it mechanical:
    // scrape the PlanSpec SOURCE for the query names it asserts plan
    // properties on, and require each to carry a PLANS.md annotation.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/scala/graft/PlanSpec.scala")), "UTF-8")
    val asserted =
      ("""executedPlan\("([a-z0-9_]+)"\)""".r.findAllMatchIn(src).map(_.group(1)) ++
        """queries\("([a-z0-9_]+)"\)""".r.findAllMatchIn(src).map(_.group(1))).toSet
    assert(asserted.size > 100, s"PlanSpec scrape looks broken: $asserted")
    val annotated = Plans.annotated.map(_._1).toSet
    val missing = (asserted -- annotated).toSeq.sorted
    assert(missing.isEmpty,
      s"PlanSpec asserts plan properties for unannotated queries " +
        s"(add them to Plans.annotated and regenerate PLANS.md): $missing")
    // and every annotation must resolve to a real registry query
    val stray = (annotated -- SparkEntry.queries.keySet).toSeq.sorted
    assert(stray.isEmpty, s"annotations for unknown queries: $stray")
  }

  /** The signature of `q`'s executed plan; the frame is dropped on return. */
  private def executedSignature(q: Q): String = {
    val df = q.fn(spark, sf)
    assert(df.columns.nonEmpty)
    Plans.signature(Plans.executed(df))
  }

  /** Each query runs from a clean slate, as in `graft.Plans`, so its
    * signature does not depend on what an earlier query left cached.
    * Once its result is collected and the frame dropped, every persisted
    * RDD still listed must belong to a [[Memo]] cell: a pin no cell owns
    * would outlive the query.
    */
  SparkEntry.registry.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      Memo.reset(spark)
      val sig = executedSignature(q)
      val leaked = unownedPersists()
      assert(leaked.isEmpty, s"${q.name} left persisted RDDs that no Memo cell owns: " +
        leaked.toSeq.sorted.map(id => spark.sparkContext.getPersistentRDDs.get(id)
          .fold(s"$id")(_.toString.linesIterator.next())).mkString(", "))
      val want = committed.find(_._1 == q.name).map(_._2)
      assert(want.contains(sig),
        s"${q.name}: the executed plan's signature is not PLANS.md's line\n" +
          s"  PLANS.md: ${want.getOrElse("(none)")}\n  executed: $sig\n" +
          "If the plan change is intended, regenerate with `sbt \"runMain graft.Plans\"` " +
          "and review the diff.")
    }
  }

  /** Best-effort alias extraction from an oracle's OUTERMOST select list
    * (r8 verdict #8: the recurring gate-trip cause is a Spark/oracle
    * column-name mismatch, which the driver only catches AFTER a commit).
    * Scans at paren depth 0 outside string literals, takes the LAST
    * top-level SELECT, splits its list on top-level commas, and reads
    * each item's `AS alias` (or the bare/dotted identifier). Returns None
    * when any item is an unaliased expression or `*` — those few oracles
    * are exempt (house style is to alias every computed column anyway).
    */
  private def oracleCols(sql: String): Option[Seq[String]] = {
    val s = sql
    // depth/quote-aware scan: record top-level keyword positions
    var depth = 0; var inStr = false; var i = 0
    var lastSelect = -1
    val fromAfter = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def wordAt(p: Int, w: String): Boolean =
      s.regionMatches(true, p, w, 0, w.length) &&
        (p == 0 || !s(p - 1).isLetterOrDigit && s(p - 1) != '_') &&
        (p + w.length >= s.length ||
          !s(p + w.length).isLetterOrDigit && s(p + w.length) != '_')
    while (i < s.length) {
      val c = s(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0) {
            if (wordAt(i, "select")) lastSelect = i
            else if (wordAt(i, "from")) fromAfter += ((i, lastSelect))
          }
      }
      i += 1
    }
    if (lastSelect < 0) return None
    val fromPos = fromAfter.collectFirst {
      case (f, sel) if sel == lastSelect && f > lastSelect => f
    }.getOrElse(return None)
    var list = s.substring(lastSelect + "select".length, fromPos).trim
    if (list.toLowerCase.startsWith("distinct "))
      list = list.substring("distinct ".length)
    // split on top-level commas
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    var d = 0; var q0 = false; var start = 0
    for (j <- list.indices) list(j) match {
      case '\'' => q0 = !q0
      case '(' if !q0 => d += 1
      case ')' if !q0 => d -= 1
      case ',' if !q0 && d == 0 =>
        items += list.substring(start, j).trim; start = j + 1
      case _ =>
    }
    items += list.substring(start).trim
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    val asRe = s"""(?is).*\\bas\\s+($ident)\\s*$$""".r
    val bareRe = s"""(?s)^\\s*(?:$ident\\.)?($ident)\\s*$$""".r
    val cols = items.map {
      case asRe(a) => a.toLowerCase
      case bareRe(c) => c.toLowerCase
      case _ => return None
    }
    Some(cols.toSeq)
  }

  test("every oracle's outermost select list matches the Spark columns " +
    "(name AND order) — the gate's schema compare, run before any commit") {
    val unparsed = scala.collection.mutable.ArrayBuffer.empty[String]
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.registry.foreach { q =>
      SparkEntry.oracleSql.get(q.name).foreach { sql =>
        oracleCols(sql) match {
          case None => unparsed += q.name
          case Some(cols) =>
            val sparkCols = q.fn(spark, sf).columns.toSeq.map(_.toLowerCase)
            if (cols != sparkCols)
              bad += s"${q.name}: oracle=$cols spark=$sparkCols"
        }
      }
    }
    assert(bad.isEmpty, s"oracle/Spark column mismatches:\n${bad.mkString("\n")}")
    // the parser must keep covering ~the whole registry — a style drift
    // that silently exempted new queries would hollow the assert out
    assert(unparsed.size <= 12,
      s"too many unparseable oracle select lists: $unparsed")
  }

  test("s4 scheduler boundary: an event exactly at close+1h fires SAME day " +
    "(the reference's strict next < now comparison) — via the shipped query") {
    import spark.implicits._
    // drive the REAL registry query on a synthetic events table so a change
    // to s4ScheduleFire's comparison cannot slip past this test
    val dir = java.nio.file.Files.createTempDirectory("s4spec").toString
    // Tables.table("events") expects the driver file's shape: epoch-NANO
    // long ts (the TIMESTAMP(NANOS) repair path) and the full column set.
    def nanos(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    Seq(
      (1L, nanos("2024-03-05 17:00:00"), 1L, "click", 1.0, "{}"), // exactly at fire
      (2L, nanos("2024-03-05 17:00:01"), 1L, "click", 1.0, "{}"), // one second past
      (3L, nanos("2024-03-05 16:59:59"), 1L, "click", 1.0, "{}")) // just before
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.WindowQueries.s4ScheduleFire.fn(spark, dir)
      .select("next_fire", "n_events")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(out == Map(
      java.sql.Timestamp.valueOf("2024-03-05 17:00:00") -> 2L, // ids 1 and 3
      java.sql.Timestamp.valueOf("2024-03-06 17:00:00") -> 1L)) // id 2
  }
}
