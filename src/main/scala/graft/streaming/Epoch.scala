package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The `batch_id=` epoch protocol: how a `foreachBatch` sink is made
  * exactly-once without transactions. Every [[CorpusIngest]] gate and
  * [[LiveFeed]]'s dead-letter sink follow it, and only this object knows
  * it. Three rules:
  *
  *  1. An epoch writes each sink under its own `batch_id=` partition with
  *     dynamic partition overwrite ([[write]]), so an at-least-once replay
  *     of the epoch REWRITES its partition instead of appending duplicates.
  *  2. A gate reads a sink only through [[committed]], which keeps
  *     `batch_id < current`, so a replayed epoch cannot be rejected by its
  *     own half-written delta.
  *  3. Census compaction ([[run]]) folds the committed partitions into
  *     one labeled `current − 1` once their count breaches a bound.
  *
  * The rules are exact because by the time epoch B's batch runs, every
  * batch < B is committed in the streaming checkpoint and can never re-run;
  * only B itself can replay.
  */
private[streaming] object Epoch {

  /** File-drop micro-batch source: each dropped JSON file is one delivery,
    * read with an explicit schema, at most 16 files per trigger.
    */
  def readJson(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .json(dir)

  /** Starts the append-mode stream that runs `gate(batch, batchId, pin)`
    * once per epoch of `input`. Before the gate, each epoch runs `pin` (a
    * check of what the census's rows mean, which must fail before anything
    * is rewritten), then compacts `censusDir` once it holds more than
    * `maxCensusParts` partitions (0 disables compaction). The gate pins its
    * intermediates through the epoch's [[graft.Pin.Scope]], released when
    * the gate returns or throws (a failed [[write]] included).
    */
  def run(
      input: DataFrame,
      checkpointDir: String,
      trigger: Trigger,
      censusDir: String,
      maxCensusParts: Int,
      pin: () => Unit = () => ())(
      gate: (DataFrame, Long, graft.Pin.Scope) => Unit): StreamingQuery = {
    val spark = input.sparkSession
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        pin()
        compactCensus(spark, censusDir, batchId, maxCensusParts)
        graft.Pin.scoped(scope => gate(raw, batchId, scope))
      }
      .start()
  }

  /** Writes `df` as epoch `batchId` of the sink at `dir`, replacing only
    * that epoch's `batch_id=` partition (rule 1).
    */
  def write(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** The sink at `dir` as of the epochs before `batchId` (rule 2), or None
    * while it holds no `batch_id=` partition. A bare `fs.exists` is the
    * wrong probe: an epoch that writes ZERO rows still creates the
    * directory (with only _SUCCESS), and `spark.read.parquet` on a
    * partitionless directory throws schema inference errors, wedging every
    * later epoch of the stream.
    */
  def committed(spark: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    if (partitions(spark, new Path(dir)).isEmpty) None
    else Some(spark.read.parquet(dir).filter(col("batch_id") < batchId))

  /** Pins an integer a census's rows are only meaningful under: the value
    * is recorded in the root marker file `marker` on first write and
    * `require()`d to match on every later epoch. A marker over an EMPTY
    * census pins nothing: the marker is written before the epoch's first
    * batch commits, so an epoch that failed before any census rows landed
    * would otherwise wedge the directory at a value no stored row ever
    * used. Changes are allowed, by re-pinning, exactly while no `batch_id=`
    * partition exists to be incompatible.
    */
  def pin(spark: SparkSession, censusDir: String, marker: String, value: Int)(
      mismatch: (Int, Int) => String): Unit = {
    val path = new Path(censusDir, marker)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val stored =
        try scala.io.Source.fromInputStream(in).mkString.trim.toInt
        finally in.close()
      if (stored == value) return
      require(partitions(spark, new Path(censusDir)).isEmpty, mismatch(stored, value))
    }
    val out = fs.create(path, true)
    try out.write(s"$value\n".getBytes("UTF-8")) finally out.close()
  }

  /** The `batch_id=` partitions of `dir`; empty when it does not exist. */
  private def partitions(spark: SparkSession, dir: Path): Array[FileStatus] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
  }

  /** IN-PATH census compaction (rule 3): every epoch appends one
    * `batch_id=` partition to its census, so a year-long stream otherwise
    * pays ~10⁵ partitions of file-listing cost on every epoch's probe —
    * the asymmetry [[graft.sources.MatView.append]] closed for batch
    * views, here wired into the ingest commit path itself.
    *
    * When the partition count breaches `maxParts`, every partition with
    * `batch_id < current` is folded into ONE partition labeled
    * `batch_id = current − 1`, staged as a sibling directory and swapped
    * in via [[graft.sources.AtomicSwap.publish]] (a crash anywhere leaves
    * either the old or the new complete census). The label is the
    * load-bearing choice: only the current epoch B can replay, its
    * [[committed]] probe `batch_id < B` still sees the folded partition,
    * and its own rewrite targets partition B, which the fold deliberately
    * excludes (a half-written B partition from a crashed attempt is
    * dropped by the swap; B's replay rewrites it in full either way). Root
    * marker files (see [[pin]]) are carried into the staged copy.
    *
    * Cost is O(census) read+write, amortized LSM-style by the `maxParts`
    * trigger; between compactions the probe pays at most `maxParts + 1`
    * partition listings. Census row DUPLICATION cannot result from any
    * crash window (the swap is atomic), and row LOSS cannot either (the
    * fold reads the live directory before the swap and the write is to
    * the staging sibling).
    */
  private def compactCensus(spark: SparkSession, censusDir: String,
      batchId: Long, maxParts: Int): Unit = {
    if (maxParts <= 0 || batchId <= 0) return
    val live = new Path(censusDir)
    if (partitions(spark, live).length <= maxParts) return
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(live.getParent, live.getName + ".census-compact-tmp")
    fs.delete(staged, true)
    committed(spark, censusDir, batchId).get
      .withColumn("batch_id", lit(batchId - 1))
      .write.mode("overwrite")
      .partitionBy("batch_id")
      .parquet(staged.toString)
    // An all-empty fold (possible only if every stored partition were
    // ≥ B, which the replay protocol forbids) must not swap an EMPTY
    // census into place — committed would turn None and the gates would
    // stop probing. Belt-and-braces guard, not an expected path.
    if (partitions(spark, staged).isEmpty) { fs.delete(staged, true); return }
    fs.listStatus(live).filter(_.isFile).foreach { f =>
      FileUtil.copy(fs, f.getPath, fs, new Path(staged, f.getPath.getName),
        false, spark.sparkContext.hadoopConfiguration)
    }
    graft.sources.AtomicSwap.publish(fs, staged, live)
  }
}
