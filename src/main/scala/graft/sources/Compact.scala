package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for partitioned Parquet stores — the maintenance
  * operator every long-running ingest needs at scale. A streaming upsert
  * like [[graft.streaming.LiveFeed]] adds a file per touched partition per
  * micro-batch; after a day that is thousands of KB-sized files per
  * partition, and at 100 TB the scan's task count (and the namenode's
  * listing cost) is driven by file COUNT, not data size.
  *
  * `compact` rewrites ONLY the partitions whose file population violates
  * the policy (more than `maxFiles` files, or average file size below
  * `minBytes`), each into `ceil(bytes / targetBytes)` files, and publishes
  * them with the same crash-safe aside-swap as the streaming sink: stage
  * to `<dir>.compact-tmp`, move the live partition ASIDE (dot-prefixed, so
  * a crashed swap never surfaces as a bogus partition), promote, drop the
  * aside copy. Healthy partitions are never read, written, or renamed —
  * I/O is O(violating partitions), which is what lets this run as a
  * rolling maintenance job (subject to the single-writer-per-partition
  * contract documented on [[compact]]).
  *
  * The reference has no analogue (one file per symbol by construction,
  * `download_historical_price.py:74-82`); this is the engine-completeness
  * extension that keeps that one-file-per-key invariant once the layout
  * becomes a multi-writer partitioned dataset.
  */
object Compact {

  /** One partition directory's health. */
  case class PartitionStats(dir: String, nFiles: Int, bytes: Long) {
    def violates(maxFiles: Int, minBytes: Long): Boolean =
      nFiles > maxFiles || (nFiles > 1 && bytes / nFiles < minBytes)
  }

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith(".") && !n.startsWith("_")
    }

  /** Stats for every leaf `<col>=<value>` partition directory under `dir`
    * (one partition column level, the [[BarStore]]/LiveFeed day layout;
    * nested layouts recurse on the caller's side).
    */
  def partitionStats(spark: SparkSession, dir: String): Seq[PartitionStats] = {
    // resolve the filesystem FROM the path, not fs.defaultFS — the store
    // may live on a different scheme (s3a://, file:// under an hdfs default)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { p =>
        val files = dataFiles(fs, p.getPath)
        PartitionStats(p.getPath.getName, files.length, files.map(_.getLen).sum)
      }
      .toSeq
  }

  /** Compact the violating partitions of a one-level partitioned store.
    *
    * CONCURRENCY CONTRACT: the caller must guarantee no other writer
    * touches a partition between its read here and its swap (single
    * writer per partition — e.g. run compaction in the same driver as the
    * streaming upsert, between batches, or fence partitions externally).
    * Compaction is a read-then-replace; a concurrent publish into a
    * victim partition would be overwritten with stale compacted data.
    * Optimistic-concurrency table formats solve this with commit
    * conflicts; a plain Parquet store must serialize writers.
    *
    * Heals interrupted swaps (AtomicSwap.recover) before measuring. The
    * partitions must share one data schema: it is read once, from the
    * first victim, and every victim is rewritten with it.
    *
    * @return the partition names that were rewritten
    */
  def compact(
      spark: SparkSession,
      dir: String,
      maxFiles: Int = 8,
      minBytes: Long = 8L << 20,
      targetBytes: Long = 128L << 20): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, new Path(dir))
    val victims = partitionStats(spark, dir)
      .filter(_.violates(maxFiles, minBytes))
    if (victims.isEmpty) return Seq.empty

    val tmp = new Path(dir + ".compact-tmp")
    fs.delete(tmp, true)
    // One schema for every victim: inferring it per partition costs a job
    // each. coalesce merges small files without the shuffle a repartition
    // would add, so each victim is one job: its read-and-write.
    val schema = spark.read.parquet(s"$dir/${victims.head.dir}").schema
    victims.foreach { v =>
      val nOut = math.max(1L, (v.bytes + targetBytes - 1) / targetBytes).toInt
      spark.read.schema(schema).parquet(s"$dir/${v.dir}")
        .coalesce(nOut)
        .write.mode("overwrite").parquet(s"$tmp/${v.dir}")
      AtomicSwap.publish(fs, new Path(tmp, v.dir), new Path(dir, v.dir))
    }
    fs.delete(tmp, true)
    victims.map(_.dir)
  }
}
