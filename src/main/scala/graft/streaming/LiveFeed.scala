package graft.streaming

import graft.operators.Merge
import graft.sources.AtomicSwap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's live-price loop
  * (`update_live_price.py` — E2 in SURVEY §3): a micro-batch source of
  * trade rows → validity filter → watermark → last-write-wins dedup →
  * `foreachBatch` upsert into the stored daily-bar table.
  *
  * The reference polls REST every 60 s and rewrites one whole Parquet file
  * per trade (`update_live_price.py:118,289-292`); here the trigger models
  * the poll interval and the merge rewrites only the affected partitions in
  * one Catalyst-planned pass. State stays bounded: the per-key "current
  * price" frame (`ulp:69,164`) becomes the watermarked per-batch `max_by`,
  * not an unbounded `mapGroupsWithState` (SURVEY §7.3.5).
  */
object LiveFeed {

  /** Incoming trade shape (`update_live_price.py:153-165`). */
  val tradeSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("ts", TimestampType)))

  /** File-based micro-batch source standing in for the REST poll
    * (`ulp:126-157`); each dropped file is one poll response.
    */
  def readTrades(spark: SparkSession, dir: String): DataFrame =
    Epoch.readJson(spark, tradeSchema, dir)

  /** DataSourceV2 micro-batch source for the same poll loop — the
    * in-engine connector ([[graft.sources.BarFeedProvider]] with
    * `feed=trades`): each micro-batch is one sweep over every subscribed
    * symbol, fanned out one input partition per symbol batch
    * (`download_historical_price.py:322-335` batching), with the trigger
    * interval as the poll cadence (`ulp:118`: 60 s).
    */
  def readTradesFeed(
      spark: SparkSession,
      symbols: Seq[String],
      maxPolls: Int = Int.MaxValue,
      batchSize: Int = 10): DataFrame =
    spark.readStream
      .format("graft.sources.BarFeedProvider")
      .option("feed", "trades")
      .option("symbols", symbols.mkString(","))
      .option("batchSize", batchSize)
      .option("maxPolls", maxPolls)
      .load()

  /** Validity predicate (`ulp:160-161`): non-null, non-NaN price and ts. */
  def validTrades(trades: DataFrame): DataFrame =
    trades.filter(
      col("price").isNotNull && !isnan(col("price")) && col("ts").isNotNull)

  /** Start the upsert stream: every micro-batch is reduced last-write-wins
    * per (symbol, day) and merged into the stored bar table at
    * `storedDir` — the batch `Merge.upsertDailyClose` is reused verbatim,
    * so streaming and batch semantics cannot drift apart.
    *
    * PARTITION-INCREMENTAL: `storedDir` must be an existing `day=`-partitioned
    * Parquet dataset (write the seed with `.partitionBy("day")`); its schema
    * is resolved once, when the stream starts. Each micro-batch finds its
    * touched days in one job, reads ONLY those days' leaf directories
    * (addressed by path, as [[graft.sources.BarStore.readSymbol]] does, so
    * no batch lists the store's other `day=` directories), merges them, and
    * republishes ONLY those partitions — I/O per batch is O(touched days),
    * not O(store). The reference rewrites one whole per-symbol file per
    * trade (`update_live_price.py:289-292`); this is the same replace idea
    * at day-partition granularity.
    */
  def startUpsert(
      spark: SparkSession,
      inputDir: String,
      storedDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startUpsertFrom(spark, readTrades(spark, inputDir), storedDir, checkpointDir, trigger)

  /** Complement of [[validTrades]] — the rows the reference shunts into
    * its invalid-symbol registry (`update_live_price.py:170-179`).
    */
  def invalidTrades(trades: DataFrame): DataFrame =
    trades.filter(
      col("price").isNull || isnan(col("price")) || col("ts").isNull)

  /** Same upsert loop over ANY streaming trade source — used with
    * [[readTradesFeed]] to run the reference's E2 pipeline end-to-end
    * in-engine: DSv2 poll feed → validity → watermark → per-day merge.
    *
    * @param deadLetterDir when set, each micro-batch's INVALID rows
    *        (null/NaN price, null ts) are written there as Parquet keyed
    *        by batch_id — the streaming dead-letter analogue of the
    *        reference's invalid-symbol registry growth (`ulp:170-179`):
    *        nothing is silently dropped, and the sink is an [[Epoch]]
    *        sink, so replays cannot double-count rejects. The write
    *        runs concurrently with the merge; the batch returns only when
    *        both are done, and fails if either fails.
    */
  def startUpsertFrom(
      spark: SparkSession,
      trades: DataFrame,
      storedDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetterDir: Option[String] = None): StreamingQuery = {
    val store = new Path(storedDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Heal any mid-swap crash from a previous run BEFORE the first batch:
    // an interrupted publish leaves a partition aside-copied and invisible,
    // and merging against the partial store would lose its rows.
    AtomicSwap.recover(fs, store)
    // Resolved once: a per-batch `spark.read.parquet(storedDir)` lists every
    // `day=` directory and runs a schema-inference job before it prunes.
    val storeSchema = spark.read.parquet(storedDir).schema
    trades
      .withWatermark("ts", "1 day")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        val deadLetters = deadLetterDir.map { d =>
          new SideTask(s"livefeed-dead-letters-$batchId",
            Epoch.write(invalidTrades(raw), d, batchId))
        }
        var failure: Throwable = null
        try upsertBatch(spark, validTrades(raw), fs, store, storeSchema)
        catch { case e: Throwable => failure = e; throw e }
        finally deadLetters.foreach(_.join(failure))
      }
      .start()
  }

  /** Merge one batch of valid trades into the day partitions they touch. */
  private def upsertBatch(
      spark: SparkSession,
      valid: DataFrame,
      fs: FileSystem,
      store: Path,
      storeSchema: StructType): Unit = {
    val incoming = valid
      .select(col("symbol"), to_date(col("ts")).as("day"), col("price"), col("ts"))
    // The touched-day list is partition METADATA, not data: bounded by the
    // watermark (~2 calendar days per batch), the same driver-side
    // footprint dynamic partition overwrite itself needs. A per-partition
    // distinct keeps it to one job with no exchange.
    val days = incoming.select("day").as(Encoders.DATE)
      .mapPartitions(_.toSet.iterator)(Encoders.DATE).collect().distinct
    if (days.isEmpty) return
    // A touched day without a leaf is a new day: it has no stored rows.
    val leaves = days.toSeq
      .map(d => ExternalCatalogUtils.generatePartitionPath(Map("day" -> d.toString), Seq("day"), store))
      .filter(fs.exists)
    val stored =
      if (leaves.isEmpty) spark.createDataFrame(java.util.List.of[Row](), storeSchema)
      else spark.read.schema(storeSchema).option("basePath", store.toString)
        .parquet(leaves.map(_.toString): _*)
    val merged = Merge
      .upsertDailyClose(stored, incoming, Seq("symbol", "day"), "price", "ts", "adj_close")
    // Crash-safe per-partition publish mirroring the reference's
    // tmp+os.replace (`ulp:289-292`) at day granularity: stage the touched
    // partitions, then aside-swap each one into place (AtomicSwap — every
    // crash window is recoverable by AtomicSwap.recover at restart).
    // Untouched partitions are never read, written, or renamed.
    val tmp = new Path(store.toString + ".tmp")
    merged.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
    fs.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .foreach(part => AtomicSwap.publish(fs, part.getPath, new Path(store, part.getPath.getName)))
    fs.delete(tmp, true)
  }

  /** Runs `body` on a fresh thread. A new thread, not a pool: it inherits a
    * clone of the starting thread's Spark local properties (the stream's
    * job group, its query and SQL execution ids), so `query.stop()` cancels
    * the side task's jobs too. A pooled thread would keep the properties of
    * whichever thread created it.
    */
  private final class SideTask(name: String, body: => Unit) {
    @volatile private var failure: Throwable = null
    private val thread = new Thread(() => try body catch { case e: Throwable => failure = e }, name)
    thread.setDaemon(true)
    thread.start()

    /** Waits for `body` — through interrupts, so no side write outlives its
      * batch — then throws its failure, or adds it to `primary`, the
      * caller's own failure, as suppressed.
      */
    def join(primary: Throwable): Unit = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      if (failure != null) {
        if (primary == null) throw failure
        primary.addSuppressed(failure)
      }
    }
  }
}
