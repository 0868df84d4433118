package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Conform, Merge}
import graft.sources.{BarStore, Compact, Sidecar}
import graft.streaming.LiveFeed

/** Size of the generated universe and of each pipeline step. */
final case class BarParams(symbols: Int, days: Int, refreshRounds: Int, pointReads: Int,
    compares: Int, polls: Int, invalidShare: Double)

object BarParams {
  val default: BarParams = BarParams(symbols = 80, days = 8, refreshRounds = 1,
    pointReads = 12, compares = 1, polls = 10, invalidShare = 0.01)
}

/** One polled trade; a null price or ts, or a NaN price, makes it invalid. */
final case class Trade(symbol: String, price: java.lang.Double, tsMicros: java.lang.Long) {
  def valid: Boolean = price != null && !price.isNaN && tsMicros != null
}

/** What the seeded generator produced: the program sees only the files. */
final case class BarInputs(dir: Path, yfTime: String, yfClose: String,
    polls: IndexedSeq[IndexedSeq[Trade]], reads: Seq[(String, String)], compares: Seq[String])

/** The reference workflow on a generated universe: two-source backfill,
  * daily refresh, point reads and a two-source compare, the live upsert
  * fed one poll file at a time, a negative cache of dead-lettered symbols,
  * and a final compaction.
  */
object BarPipeline {
  val sources = Seq("alpaca", "yfinance")
  // BarFeed's first bar is 2024-01-01T21:00Z; day d is 2024-01-01 + d (UTC)
  private val day0Sec = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond

  /** Generates the universe and every poll file from `seed`, writing the
    * files on `threads` threads.
    */
  def generate(seed: Long, p: BarParams, dir: Path, threads: Int): BarInputs = {
    val rng = new SplittableRandom(seed)
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    while (names.size < p.symbols) {
      val len = 3 + rng.nextInt(3)
      names += (0 until len).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
    }
    val symbols = names.toIndexedSeq
    val yfTime = if (rng.nextBoolean()) "Date" else "Datetime"
    val yfClose = if (rng.nextBoolean()) "Close" else "Adj Close"
    val lastDay = p.days + p.refreshRounds - 1
    val polls = (0 until p.polls).map { k =>
      // first half of the polls updates the last stored day, the rest opens
      // the next day (inserts)
      val day = if (k < p.polls / 2) lastDay else lastDay + 1
      val minute = day0Sec + day * 86400L + 14 * 3600L + 30 * 60L + k * 60L
      symbols.map { s =>
        val ts: java.lang.Long = (minute + rng.nextInt(60)) * 1000000L
        val price: java.lang.Double = math.rint((10.0 + rng.nextDouble() * 490.0) * 100) / 100
        if (rng.nextDouble() >= p.invalidShare) Trade(s, price, ts)
        else rng.nextInt(3) match {
          case 0 => Trade(s, null, ts)
          case 1 => Trade(s, java.lang.Double.NaN, ts)
          case _ => Trade(s, price, null)
        }
      }
    }
    val pick = (n: Int) => (0 until n).map(_ => symbols(rng.nextInt(symbols.size)))
    val reads = pick(p.pointReads).zipWithIndex.map { case (s, i) => (sources(i % 2), s) }
    val compares = pick(p.compares)

    Files.createDirectories(dir.resolve("staged"))
    Files.write(dir.resolve("universe.txt"), symbols.asJava)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      polls.zipWithIndex.map { case (trades, k) =>
        pool.submit(() => {
          val lines = trades.map { t =>
            val price = if (t.price == null) "null" else if (t.price.isNaN) "NaN" else t.price.toString
            val ts = if (t.tsMicros == null) "null"
              else "\"" + Instant.ofEpochSecond(t.tsMicros / 1000000L).toString + "\""
            s"""{"symbol":"${t.symbol}","price":$price,"ts":$ts}"""
          }
          Files.write(dir.resolve(f"staged/poll-$k%03d.json"), lines.asJava)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    BarInputs(dir, yfTime, yfClose, polls, reads, compares)
  }

  private val storeSchema = StructType(StructField("symbol", StringType) +: Conform.barSchema.fields)

  private object PlanFiles extends AdaptiveSparkPlanHelper {
    def read(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case n if n.metrics.contains("numFiles") => n.metrics("numFiles").value
      }.sum
  }

  private def listStore(dir: Path): Map[String, Set[String]] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("day="))
      .map(p => p.getFileName.toString -> Files.list(p).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
      .toMap

  private def treeStats(dir: Path): (Long, Long) = {
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Outcome of the end-of-run checks: failed operation ids and messages. */
  final case class Verdict(failedOps: Set[Int], messages: Seq[String])

  def run(spark: SparkSession, runner: Runner, tracer: Tracer, in: BarInputs, p: BarParams,
      work: Path): (Verdict, Map[String, Double]) = {
    val barDir = work.resolve("barstore").toString
    val liveDir = work.resolve("live/store")
    val pollDir = work.resolve("live/polls")
    val deadDir = work.resolve("live/dead").toString
    val sideDir = work.resolve("sidecar").toString
    val universe = Files.readAllLines(in.dir.resolve("universe.txt")).asScala.toSeq
    val history = p.days + p.refreshRounds
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def vendorFrame(src: String, days: Int): DataFrame = {
      val raw = spark.read.format("graft.sources.BarFeedProvider")
        .option("symbols", universe.mkString(",")).option("days", days.toLong).load()
      if (src == "alpaca")
        raw.select(col("symbol"), col("ts").as("timestamp"), col("open"), col("high"),
          col("low"), col("adj_close").as("close"), col("volume"))
      else
        raw.select(col("symbol").as("Symbol"), col("ts").as(in.yfTime), col("open").as("Open"),
          col("high").as("High"), col("low").as("Low"), col("adj_close").as(in.yfClose),
          col("volume").as("Volume"), lit(0.0).as("Dividends"), lit(0.0).as("Stock Splits"))
    }

    def ingest(src: String, days: Int): Map[String, Double] = {
      val bars = tracer.span("sources", "BarFeed.load") { vendorFrame(src, days) }
      val conformed = tracer.span("operators", "Conform.conform") { Conform.conform(bars, storeSchema) }
      tracer.span("sources", "BarStore.write") {
        BarStore.write(conformed.withColumn("source", lit(src)), barDir)
      }
      Map("new_rows" -> universe.size.toDouble * (if (days == p.days) days else 1))
    }

    // backfill, then the daily refresh rounds
    val backfill = sources.map(src => runner.run(s"backfill.$src", "backfill", "sources")(ingest(src, p.days)))
    if (tracer.enabled) {
      val (files, bytes) = treeStats(work.resolve("barstore"))
      facts("barstore.files") = files.toDouble
      facts("barstore.bytes_per_bar") = bytes.toDouble / (sources.size * universe.size * p.days)
    }
    val refresh = (1 to p.refreshRounds).flatMap { r =>
      sources.map(src => runner.run(s"refresh.$r.$src", "refresh", "sources")(ingest(src, p.days + r)))
    }

    // point reads and the two-source compare
    in.reads.foreach { case (src, sym) =>
      runner.run(s"read.$src.$sym", "read", "sources") {
        val df = tracer.span("sources", "BarStore.readSymbol") { BarStore.readSymbol(spark, barDir, src, sym) }
        val rows = tracer.span("sources", "collect") { df.collect() }
        if (rows.length != history || rows.exists(_.getAs[String]("symbol") != sym))
          throw new WrongResult(s"$src/$sym: ${rows.length} rows, expected $history")
        Map("files_read" -> (if (tracer.enabled) PlanFiles.read(df).toDouble else 0.0))
      }
    }
    in.compares.foreach { sym =>
      runner.run(s"cmp.$sym", "compare", "sources") {
        val Seq(a, b) = sources.map { src =>
          tracer.span("sources", "BarStore.readSymbol") { BarStore.readSymbol(spark, barDir, src, sym) }
            .select(col("timestamp"), col("adj_close").as(src))
        }
        val r = a.join(b, Seq("timestamp"), "full_outer")
          .agg(count(lit(1)), sum(when(col(sources(0)) <=> col(sources(1)), 0).otherwise(1)))
          .collect()(0)
        if (r.getLong(0) != history || r.getLong(1) != 0)
          throw new WrongResult(s"$sym: ${r.getLong(0)} bars, ${r.getLong(1)} differ")
        Map.empty
      }
    }

    // live poller: one full-universe poll file at a time into the
    // day-partitioned store, each committed before the next lands
    def liveSeed: DataFrame = BarStore.read(spark, barDir).filter(col("source") === sources(0))
      .select(col("symbol"), to_date(col("timestamp")).as("day"), col("open"), col("high"),
        col("low"), col("adj_close"), col("volume"))
    runner.run("live.seed", "live_seed", "streaming") {
      tracer.span("sources", "parquet.write") { liveSeed.write.partitionBy("day").parquet(liveDir.toString) }
      Map.empty
    }
    Files.createDirectories(pollDir)
    var query: StreamingQuery = null
    runner.run("live.start", "live_start", "streaming") {
      query = tracer.span("streaming", "LiveFeed.startUpsertFrom") {
        LiveFeed.startUpsertFrom(spark, LiveFeed.readTrades(spark, pollDir.toString),
          liveDir.toString, work.resolve("live/checkpoint").toString,
          Trigger.ProcessingTime(0L), Some(deadDir))
      }
      query.processAllAvailable()
      Map.empty
    }
    def committedLog(q: StreamingQuery): Long =
      q.recentProgress.filter(_.numInputRows > 0).flatMap(_.sources.headOption)
        .map(s => """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(s.endOffset)
          .map(_.group(1).toLong).getOrElse(-1L))
        .foldLeft(-1L)(math.max)
    val live = in.polls.indices.map { k =>
      runner.run(f"live.poll.$k%03d", "live_poll", "streaming") {
        if (query == null) throw new IllegalStateException("stream not started")
        val before = if (tracer.enabled) listStore(liveDir) else Map.empty[String, Set[String]]
        val name = f"poll-$k%03d.json"
        val t0 = System.nanoTime()
        Files.move(in.dir.resolve("staged").resolve(name), pollDir.resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
        tracer.span("streaming", "LiveFeed.commit") {
          query.processAllAvailable()
          while (committedLog(query) < k) { Thread.sleep(5); query.processAllAvailable() }
        }
        val lag = (System.nanoTime() - t0) / 1e9
        val figures = if (!tracer.enabled) Map.empty[String, Double] else {
          val after = listStore(liveDir)
          val rewritten = after.count { case (d, fs) => before.get(d).forall(_ != fs) }
          val added = after.map { case (d, fs) => (fs -- before.getOrElse(d, Set.empty)).size }.sum
          Map("partitions_rewritten" -> rewritten.toDouble, "files_added" -> added.toDouble)
        }
        figures ++ Map("lag_s" -> lag, "trades" -> in.polls(k).size.toDouble)
      }
    }
    runner.run("live.stop", "live_stop", "streaming") {
      if (query != null) {
        tracer.span("streaming", "StreamingQuery.stop") { query.stop() }
        if (tracer.enabled) {
          val progress = query.recentProgress.filter(_.numInputRows > 0)
          facts("livefeed.input_rows") = progress.map(_.numInputRows).sum.toDouble
          Seq("addBatch" -> "add_batch_ms", "latestOffset" -> "latest_offset_ms",
            "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
            "commitOffsets" -> "commit_offsets_ms", "triggerExecution" -> "trigger_ms")
            .foreach { case (k, name) =>
              facts(s"livefeed.$name") = Stats.median(progress.toSeq
                .map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
            }
        }
      }
      Map.empty
    }

    // negative cache of the dead-lettered symbols
    val expectedDead = in.polls.flatten.filterNot(_.valid)
    val deadSymbols = expectedDead.map(_.symbol).toSet
    runner.run("sidecar", "sidecar", "sources") {
      val dead = spark.read.parquet(deadDir).filter(col("symbol").isNotNull)
        .select("symbol").as(Encoders.STRING)
      tracer.span("sources", "Sidecar.add") { Sidecar.add(spark, sideDir, dead) }
      val got = tracer.span("sources", "Sidecar.read") { Sidecar.read(spark, sideDir).collect().toSet }
      if (got != deadSymbols) throw new WrongResult(s"sidecar holds ${got.size}, expected ${deadSymbols.size}")
      val kept = tracer.span("sources", "Sidecar.exclude") {
        Sidecar.exclude(spark, sideDir, spark.createDataset(universe)(Encoders.STRING).toDF("symbol"),
          "symbol").count()
      }
      if (kept != universe.size - deadSymbols.size) throw new WrongResult(s"exclude kept $kept")
      Map.empty
    }

    // compaction of the live store
    runner.run("compact", "compact", "sources") {
      val before = if (tracer.enabled) Compact.partitionStats(spark, liveDir.toString) else Nil
      val rewritten = tracer.span("sources", "Compact.compact") { Compact.compact(spark, liveDir.toString) }
      val bytes = before.filter(s => rewritten.contains(s.dir)).map(_.bytes).sum
      Map("partitions_rewritten" -> rewritten.size.toDouble, "mb_rewritten" -> bytes / 1048576.0)
    }

    // end-of-run checks, outside every timed operation
    val failed = scala.collection.mutable.Set.empty[Int]
    val messages = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: => Boolean, msg: String, ops: Seq[OpRec]): Unit =
      if (!(try ok catch { case e: Throwable => messages += e.toString; false })) {
        messages += msg
        failed ++= ops.map(_.id)
      }
    check(BarStore.read(spark, barDir).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      sources.map(_ -> (universe.size.toLong * history)).toMap,
      s"barstore does not hold ${universe.size} x $history rows per source", backfill ++ refresh)
    val tradeSchema = StructType(Seq(StructField("symbol", StringType),
      StructField("price", DoubleType), StructField("ts", TimestampType)))
    def tradesDf(ts: Seq[Trade]): DataFrame = spark.createDataFrame(
      ts.map(t => Row(t.symbol, t.price,
        if (t.tsMicros == null) null else new java.sql.Timestamp(t.tsMicros / 1000L))).asJava,
      tradeSchema)
    val valid = tradesDf(in.polls.flatten.filter(_.valid))
      .select(col("symbol"), to_date(col("ts")).as("day"), col("price"), col("ts"))
    val golden = Merge.upsertDailyClose(liveSeed, valid, Seq("symbol", "day"), "price", "ts", "adj_close")
    val cols = golden.columns.toSeq.map(col)
    val store = spark.read.parquet(liveDir.toString).select(cols: _*)
    check(store.exceptAll(golden.select(cols: _*)).isEmpty &&
      golden.select(cols: _*).exceptAll(store).isEmpty,
      "live store differs from the batch upsert of every polled trade", live)
    val dead = spark.read.parquet(deadDir).select("symbol", "price", "ts")
    val expected = tradesDf(expectedDead)
    check(dead.count() == expectedDead.size && dead.exceptAll(expected).isEmpty,
      s"dead letters differ from the ${expectedDead.size} invalid trades generated", live)

    facts("trades_polled") = in.polls.map(_.size).sum.toDouble
    facts("dead_letters") = if (tracer.enabled) dead.count().toDouble else 0.0
    (Verdict(failed.toSet, messages.toSeq), facts.toMap)
  }
}
