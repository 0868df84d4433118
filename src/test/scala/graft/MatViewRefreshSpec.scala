package graft

import org.apache.spark.sql.functions._

/** Incremental (append-delta) MatView refresh — the corpus-refresh
  * lifecycle r9's verdict flagged as missing: views were rebuilt per
  * session with no O(delta) path. The contract under test:
  *
  *  1. PARITY — a view built on a base corpus then append-refreshed with
  *     a delta equals (as a multiset) the view built from scratch over
  *     base ∪ delta. This is what keeps view-backed registry queries
  *     oracle-green across refreshes.
  *  2. LAYOUT — the refreshed table still plans bucket-local (no Exchange
  *     on the view side of a groupBy on the bucket key), i.e. the delta
  *     was hashed into the SAME bucket layout rather than tacked on as
  *     unbucketed files.
  *  3. CONTRACT — the staleness log records the refresh (count, rows,
  *     seconds), the e26-style signal a deployment reads to decide when
  *     to compact.
  */
class MatViewRefreshSpec extends SparkSpec {
  import graft.sources.MatView

  private val dir = "/spec/refresh"

  private def shingles(df: org.apache.spark.sql.DataFrame) =
    graft.operators.MinHashLSH.shingleTable(df, "doc_id", "text", 3)

  test("append-delta refresh: parity with from-scratch, bucket-local plan, " +
    "staleness log") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"alpha b$i c$i d$i e$i f$i"))
      .toDF("doc_id", "text")
    val delta = (40L until 55L).map(i => (i, s"gamma b$i c$i d$i e$i f$i"))
      .toDF("doc_id", "text")

    val name = s"test_refresh_${System.nanoTime()}"
    val tbl = MatView.table(dir, name)
    MatView.of(spark, dir, name, "doc_id", 4)(shingles(base))
    MatView.append(spark, dir, name, "doc_id", 4)(shingles(delta))

    // 1. parity: refreshed view == from-scratch view over base ∪ delta
    val refreshed = spark.table(tbl)
      .groupBy("doc_id", "shingle").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val scratch = shingles(base.unionByName(delta))
      .groupBy("doc_id", "shingle").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(refreshed == scratch,
      "append-refreshed view diverged from a from-scratch build")

    // 2. layout: a groupBy on the bucket key over the refreshed table
    // plans with NO Exchange (the delta landed in the bucket layout)
    val plan = spark.table(tbl).groupBy("doc_id").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"refreshed table lost bucket-local planning:\n$plan")

    // 3. staleness contract
    val (cnt, rows, sec) = MatView.refreshCosts(tbl)
    assert(cnt == 1L && rows > 0L && sec >= 0.0)

    // second refresh accumulates
    val delta2 = Seq((55L, "omega x y z w v")).toDF("doc_id", "text")
    MatView.append(spark, dir, name, "doc_id", 4)(shingles(delta2))
    val (cnt2, rows2, _) = MatView.refreshCosts(tbl)
    assert(cnt2 == 2L && rows2 > rows)
    assert(spark.table(tbl).filter(col("doc_id") === 55L).count() > 0,
      "second delta not visible through the refreshed handle")
  }

  test("bucket-file compaction: repeated refreshes bound the per-bucket " +
    "file count, multiset parity and Exchange-free reads survive the " +
    "compaction swap, and the staleness log records it") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"alpha b$i c$i d$i e$i f$i"))
      .toDF("doc_id", "text")
    val name = s"test_compact_${System.nanoTime()}"
    val tbl = MatView.table(dir, name)
    MatView.of(spark, dir, name, "doc_id", 4)(shingles(base))
    assert(MatView.maxBucketFiles(spark, tbl) >= 1)

    // ~10 refreshes with a tight policy: every bucket takes one file per
    // refresh, so without compaction the count would reach 11
    val deltas = (0 until 10).map { k =>
      val lo = 100L + k * 10; val hi = lo + 10
      (lo until hi).map(i => (i, s"delta$k b$i c$i d$i e$i f$i"))
        .toDF("doc_id", "text")
    }
    deltas.foreach(d =>
      MatView.append(spark, dir, name, "doc_id", 4, maxFilesPerBucket = 3)(
        shingles(d)))
    val maxFiles = MatView.maxBucketFiles(spark, tbl)
    assert(maxFiles <= 4, // policy 3 → compaction fires before a 5th lands
      s"compaction policy did not bound bucket files: $maxFiles")
    val (nCompact, cSec) = MatView.compactCosts(tbl)
    assert(nCompact >= 2L && cSec >= 0.0,
      s"expected repeated compactions in the log, got $nCompact")

    // parity: compacted+refreshed view == from-scratch over everything
    val everything = (Seq(base) ++ deltas).reduce(_ unionByName _)
    val got = spark.table(tbl)
      .groupBy("doc_id", "shingle").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = shingles(everything)
      .groupBy("doc_id", "shingle").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, "compaction changed the view's contents")

    // layout: bucket-local planning survives the directory swap
    val plan = spark.table(tbl).groupBy("doc_id").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"compacted table lost bucket-local planning:\n$plan")
  }

  test("explicit compact returns a refreshed view to one file per bucket") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"alpha b$i c$i d$i e$i f$i"))
      .toDF("doc_id", "text")
    val name = s"test_compact1_${System.nanoTime()}"
    val tbl = MatView.table(dir, name)
    MatView.of(spark, dir, name, "doc_id", 4)(shingles(base))
    // opt out of auto-compaction to accumulate files deliberately
    (0 until 3).foreach { k =>
      val d = Seq((200L + k, s"solo$k x y z")).toDF("doc_id", "text")
      MatView.append(spark, dir, name, "doc_id", 4, maxFilesPerBucket = 0)(
        shingles(d))
    }
    assert(MatView.maxBucketFiles(spark, tbl) > 1)
    val before = spark.table(tbl).count()
    MatView.compact(spark, tbl, "doc_id", 4)
    def listing = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
      new java.io.File(loc).listFiles.map(_.getName).sorted.mkString("\n")
    }
    assert(MatView.maxBucketFiles(spark, tbl) == 1,
      s"compact did not return the table to one file per bucket:\n$listing")
    assert(spark.table(tbl).count() == before, "compact changed row count")
  }

  test("append to a missing view fails fast") {
    import spark.implicits._
    val delta = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      MatView.append(spark, dir, "test_refresh_missing", "doc_id", 4)(
        shingles(delta))
    }
    assert(e.getMessage.contains("does not exist"))
  }
}
