package graft

import graft.operators.Merge
import graft.streaming.LiveFeed
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

/** E2-shaped end-to-end: file-source trade stream → foreachBatch upsert →
  * final stored table equals the batch-merge golden output (SURVEY §5.2).
  * The store is day-partitioned and the upsert must be partition-
  * incremental: micro-batches may only touch the partitions whose days they
  * carry.
  */
class LiveFeedSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)
  private def ts(s: String) = Timestamp.valueOf(s)

  /** (path, size, mtime) of every data file under a partition dir. */
  private def partFiles(dir: String): Seq[(String, Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toSeq.sortBy(_._1)
    }
  }

  test("streamed upsert equals batch merge golden; untouched partitions untouched") {
    val root = Files.createTempDirectory("livefeed").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))

    val stored = Seq(
      // day 2024-01-01: never referenced by any trade — must not be rewritten
      ("GOOG", d("2024-01-01"), 5.0, 6.0, 4.0, 5.5, 500.0),
      ("AAPL", d("2024-01-02"), 10.0, 12.0, 9.0, 11.0, 1000.0),
      ("MSFT", d("2024-01-02"), 20.0, 22.0, 19.0, 21.0, 2000.0)
    ).toDF("symbol", "day", "open", "high", "low", "adj_close", "volume")
    stored.write.mode("overwrite").partitionBy("day").parquet(storedDir)
    val untouchedBefore = partFiles(s"$storedDir/day=2024-01-01")
    assert(untouchedBefore.nonEmpty)

    // one poll response: an update, a NaN reject, and a new-key insert
    Files.writeString(Paths.get(s"$in/batch0.json"),
      """{"symbol":"AAPL","price":99.5,"ts":"2024-01-02T15:59:00.000Z"}
        |{"symbol":"AAPL","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
        |{"symbol":"TSLA","price":50.0,"ts":"2024-01-03T10:00:00.000Z"}
        |""".stripMargin)

    val q = LiveFeed.startUpsert(spark, in, storedDir, ckpt)
    q.awaitTermination(120000)

    val cols = Seq("symbol", "day", "open", "high", "low", "adj_close", "volume")
    val got = spark.read.parquet(storedDir)
      .select(cols.map(col): _*).orderBy("symbol", "day").collect().toSeq

    val incoming = Seq(
      ("AAPL", d("2024-01-02"), 99.5, ts("2024-01-02 15:59:00")),
      ("TSLA", d("2024-01-03"), 50.0, ts("2024-01-03 10:00:00"))
    ).toDF("symbol", "day", "price", "ts")
    val golden = Merge
      .upsertDailyClose(stored, incoming, Seq("symbol", "day"), "price", "ts", "adj_close")
      .select(cols.map(col): _*).orderBy("symbol", "day").collect().toSeq

    assert(got == golden)
    // the NaN trade must have been rejected, not merged
    val aapl = got.find(_.getString(0) == "AAPL").get
    assert(aapl.getDouble(aapl.fieldIndex("adj_close")) == 99.5)
    // partition-incremental contract: the untouched day's files are the
    // SAME files (path, size, mtime) — not a byte was rewritten
    assert(partFiles(s"$storedDir/day=2024-01-01") == untouchedBefore)
    // touched + new partitions exist
    assert(partFiles(s"$storedDir/day=2024-01-03").nonEmpty)
  }

  test("processing-time trigger merges successive micro-batches (60s poll model)") {
    // Models the reference's 60 s polling loop (`update_live_price.py:118,192`)
    // with a compressed interval: two poll responses arriving in separate
    // trigger firings must both land via the same merge path.
    val root = Files.createTempDirectory("livefeed3").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))

    val stored = Seq(("AAPL", d("2024-01-02"), 10.0, 11.0))
      .toDF("symbol", "day", "open", "adj_close")
    stored.write.mode("overwrite").partitionBy("day").parquet(storedDir)

    Files.writeString(Paths.get(s"$in/poll0.json"),
      """{"symbol":"AAPL","price":42.0,"ts":"2024-01-02T15:00:00.000Z"}""" + "\n")

    val q = LiveFeed.startUpsert(spark, in, storedDir, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      val mid = spark.read.parquet(storedDir).filter($"symbol" === "AAPL")
        .select("adj_close").as[Double].collect().toSeq
      assert(mid == Seq(42.0))

      // second poll: a later trade the next trigger firing must pick up
      Files.writeString(Paths.get(s"$in/poll1.json"),
        """{"symbol":"AAPL","price":43.5,"ts":"2024-01-02T15:01:00.000Z"}""" + "\n")
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()

    val fin = spark.read.parquet(storedDir)
      .select("symbol", "day", "open", "adj_close")
      .orderBy("symbol", "day").as[(String, Date, Double, Double)].collect().toSeq
    assert(fin == Seq(("AAPL", d("2024-01-02"), 10.0, 43.5)))
  }

  test("invalid trades land in the dead-letter side-output, valid ones merge") {
    val root = Files.createTempDirectory("livefeed4").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"
    val ckpt = s"$root/ckpt"; val dead = s"$root/dead"
    Files.createDirectories(Paths.get(in))

    Seq(("AAPL", d("2024-01-02"), 10.0, 11.0))
      .toDF("symbol", "day", "open", "adj_close")
      .write.mode("overwrite").partitionBy("day").parquet(storedDir)

    // one valid update + two rejects (NaN price, missing ts)
    Files.writeString(Paths.get(s"$in/batch0.json"),
      """{"symbol":"AAPL","price":99.5,"ts":"2024-01-02T15:59:00.000Z"}
        |{"symbol":"BADP","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
        |{"symbol":"BADT","price":1.0}
        |""".stripMargin)

    val q = LiveFeed.startUpsertFrom(
      spark, LiveFeed.readTrades(spark, in), storedDir, ckpt,
      deadLetterDir = Some(dead))
    q.awaitTermination(120000)

    // nothing silently dropped: both invalid rows are in the side-output
    val rejected = spark.read.parquet(dead)
      .select("symbol").as[String].collect().toSeq.sorted
    assert(rejected == Seq("BADP", "BADT"))
    // and neither polluted the store
    val got = spark.read.parquet(storedDir)
      .select("symbol", "adj_close").as[(String, Double)].collect().toSeq
    assert(got == Seq(("AAPL", 99.5)))
  }

  /** A store at `root/stored` and an empty poll directory at `root/in`. */
  private def liveStore(root: String, stored: Seq[(String, Date, Double, Double)]): Unit = {
    Files.createDirectories(Paths.get(s"$root/in"))
    stored.toDF("symbol", "day", "open", "adj_close")
      .write.mode("overwrite").partitionBy("day").parquet(s"$root/stored")
  }

  private def rows(dir: String, order: String*) =
    spark.read.parquet(dir).orderBy(order.map(col): _*).collect().toSeq

  test("every job of a batch, dead-letter write included, runs in the stream's job group") {
    // Two queries, one after the other: a side write on a pooled thread
    // would carry the first query's job group, or none, into the second.
    Seq("livefeed-group-a", "livefeed-group-b").foreach { prefix =>
      val root = Files.createTempDirectory(prefix).toString
      liveStore(root, Seq(("AAPL", d("2024-01-02"), 10.0, 11.0)))
      val q = LiveFeed.startUpsertFrom(spark, LiveFeed.readTrades(spark, s"$root/in"),
        s"$root/stored", s"$root/ckpt", Trigger.ProcessingTime("100 milliseconds"),
        deadLetterDir = Some(s"$root/dead"))
      val (_, jobs) = try jobsStartedDuring {
        Files.writeString(Paths.get(s"$root/in/poll0.json"),
          """{"symbol":"AAPL","price":12.5,"ts":"2024-01-02T15:00:00.000Z"}
            |{"symbol":"BADP","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
            |""".stripMargin)
        q.processAllAvailable()
      } finally q.stop()
      assert(rows(s"$root/dead", "symbol").map(_.getAs[String]("symbol")) == Seq("BADP"))
      assert(jobs.nonEmpty)
      val groups = jobs.map(_.getProperty("spark.jobGroup.id"))
      assert(groups.forall(_ == q.runId.toString),
        s"$prefix: jobs outside the stream's group ${q.runId}: $groups")
    }
  }

  test("a batch reads only the leaves of the days it touches, never the store root") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("livefeed-leaves").toString
    val storedDir = s"$root/stored"
    val days = (1 to 30).map(i => d(f"2024-01-$i%02d"))
    liveStore(root, days.map(day => ("AAPL", day, 10.0, 11.0)))
    // one existing day and one day the store has never seen
    Files.writeString(Paths.get(s"$root/in/batch0.json"),
      """{"symbol":"AAPL","price":12.5,"ts":"2024-01-07T15:00:00.000Z"}
        |{"symbol":"AAPL","price":13.5,"ts":"2024-02-01T15:00:00.000Z"}
        |""".stripMargin)

    val storeRoot = new Path(storedDir).toUri.getPath
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fence = s"fence-${System.nanoTime()}"
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec => s }
          .flatMap(_.relation.location.rootPaths)
          .foreach(p => scanned.add(p.toUri.getPath))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the start, so the stream's cloned session has it too
    spark.listenerManager.register(listener)
    try {
      LiveFeed.startUpsert(spark, s"$root/in", storedDir, s"$root/ckpt").awaitTermination(120000)
      // the listener bus is ordered: once the fence's scan is seen, so are the batch's
      spark.read.parquet(storedDir).filter(col("symbol") === fence).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!scanned.contains(storeRoot) && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val seen = scanned.asScala.toSeq
    assert(seen.last == storeRoot, s"listener never saw the fence scan: $seen")
    val batchScans = seen.init.filter(p => p == storeRoot || p.startsWith(storeRoot + "/"))
    assert(batchScans == Seq(s"$storeRoot/day=2024-01-07"), s"store scans of the batch: $batchScans")
    val got = rows(storedDir, "day").filter(r => Set(d("2024-01-07"), d("2024-02-01"))(r.getAs[Date]("day")))
      .map(r => (r.getAs[Date]("day"), r.getAs[Double]("adj_close")))
    assert(got == Seq((d("2024-01-07"), 12.5), (d("2024-02-01"), 13.5)))
  }

  test("a failed dead-letter write fails the batch; a restart converges to the clean run") {
    val trades =
      """{"symbol":"AAPL","price":99.5,"ts":"2024-01-02T15:59:00.000Z"}
        |{"symbol":"TSLA","price":50.0,"ts":"2024-01-03T10:00:00.000Z"}
        |{"symbol":"BADP","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
        |{"symbol":"BADT","price":1.0}
        |""".stripMargin
    def prepare(prefix: String): String = {
      val root = Files.createTempDirectory(prefix).toString
      liveStore(root, Seq(("AAPL", d("2024-01-02"), 10.0, 11.0), ("MSFT", d("2024-01-02"), 20.0, 21.0)))
      Files.writeString(Paths.get(s"$root/in/batch0.json"), trades)
      root
    }
    def run(root: String, dead: String) =
      LiveFeed.startUpsertFrom(spark, LiveFeed.readTrades(spark, s"$root/in"),
        s"$root/stored", s"$root/ckpt", deadLetterDir = Some(dead))

    val clean = prepare("livefeed-clean")
    run(clean, s"$clean/dead").awaitTermination(120000)

    val root = prepare("livefeed-replay")
    // no directory can be made below a regular file
    Files.writeString(Paths.get(s"$root/blocker"), "")
    val failed = run(root, s"$root/blocker/dead")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](failed.awaitTermination(120000))
    assert(failed.exception.isDefined)
    run(root, s"$root/dead").awaitTermination(120000)

    assert(rows(s"$root/stored", "symbol", "day") == rows(s"$clean/stored", "symbol", "day"))
    val dead = rows(s"$root/dead", "symbol")
    assert(dead == rows(s"$clean/dead", "symbol"))
    assert(dead.map(r => (r.getAs[String]("symbol"), r.getAs[Int]("batch_id"))) ==
      Seq(("BADP", 0), ("BADT", 0)))
  }
}
