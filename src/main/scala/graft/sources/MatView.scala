package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Write-once BUCKETED materialized views for shared derivations — the
  * generalization of the r7 g-family fix (co-purchase adjacency/degrees,
  * bipartite pairs) now also carrying the dedup family's verified-pair and
  * cluster-label tables.
  *
  * The problem it solves: several registry queries consume one expensive
  * derivation (the MinHash-LSH verified near-dup pairs, the co-purchase
  * edge set). An in-memory memo shares it per session, but every ISOLATED
  * measurement (bench hygiene clears memos + cache between queries, as a
  * fresh cluster job would) rebuilt the whole pipeline per query — d5 paid
  * d3's full LSH rebuild (14.9 s in the r7 driver artifact). On a cluster
  * the answer is a warehouse table: pay the derivation + shuffle ONCE at
  * write time, bucketed+sorted on the downstream join/group key so every
  * consumer plans bucket-local reads with NO Exchange (PlanSpec-asserted).
  * This object is that warehouse table, scoped to /tmp for the sandbox.
  *
  * Semantics are unchanged — the table IS the derivation's output; only
  * the physical pass is shared. No handle is memoized: the catalog
  * records whether a view exists, so [[graft.Memo.reset]] (bench hygiene)
  * leaves every view in place, exactly like a warehouse table would
  * survive between cluster jobs.
  *
  * Paths are (JVM, session)-scoped: the per-JVM random root keeps a fresh
  * run from ever reading a stale corpus, and the per-SESSION subdirectory
  * keeps a second SparkSession in the same JVM (whose own catalog reports
  * tableExists = false) from SaveMode.Overwrite-deleting parquet files a
  * prior session's live plans may still reference — it rebuilds under its
  * own subdir instead (r7 advice).
  */
object MatView {

  /** table → one-time build seconds, accumulated across sessions; dumped
    * into the bench artifact so view-backed timings stay self-describing
    * (the min-of-2 clean-slate protocol otherwise reports only the
    * warm-table read and the build cost would vanish from the JSON).
    */
  private val buildLog = new ConcurrentHashMap[String, Double]().asScala

  private val buildLock = new Object

  /** Tables resolved since the last [[drainTouched]] — lets the bench tag
    * each measurement as view-backed (r7 advice: min-of-2 under the
    * clean-slate protocol reports warm-table time, so the artifact must
    * say which timings lean on a materialized view).
    */
  private val touched = new ConcurrentHashMap[String, Unit]().asScala

  /** The view tables resolved since the last call, then reset. */
  def drainTouched(): Set[String] = {
    val t = touched.keySet.toSet
    t.foreach(touched.remove)
    t
  }

  /** One root per JVM; deleted on exit so repeated bench/test runs don't
    * accumulate abandoned table directories in /tmp.
    */
  private lazy val root = {
    val r = s"/tmp/graft-mv-${java.util.UUID.randomUUID().toString.take(8)}"
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    }
    r
  }

  /** Unique per-session path component. identityHashCode is NOT unique
    * (two sessions in one JVM can collide, re-enabling the Overwrite
    * clobber hazard the subdirectory exists to prevent) — assign each
    * session a monotonic id on first sight instead; the map is weak-keyed
    * so closed sessions don't pin.
    */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Integer]())
  private val nextSessionId = new java.util.concurrent.atomic.AtomicInteger(0)

  private def sessionTag(s: SparkSession): String =
    s"s${sessionIds.computeIfAbsent(s, _ => nextSessionId.getAndIncrement())}"

  /** The catalog name of view `name` over the corpus at `dir`:
    * `graft_<name>_<dir with every non-alphanumeric replaced by _>`.
    * Bench artifacts key `view_build_sec` and `view_backed` on it.
    */
  def table(dir: String, name: String): String =
    s"graft_${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** The bucketed view `name` over the corpus at `dir` ([[table]]), built
    * from `build` exactly once per catalog — later calls (and later
    * SESSIONS sharing the catalog) read the existing table.
    * `key`/`buckets` fix the bucket layout; consumers joining or grouping
    * on `key` plan with no Exchange.
    */
  def of(s: SparkSession, dir: String, name: String, key: String, buckets: Int)(
      build: => DataFrame): DataFrame = {
    val table = this.table(dir, name)
    touched.put(table, ())
    if (!s.catalog.tableExists(table)) buildLock.synchronized {
      if (!s.catalog.tableExists(table)) {
        val t0 = System.nanoTime()
        Bucketed.write(build, table, key, buckets,
          Some(s"$root/${sessionTag(s)}/$table"))
        buildLog.put(table,
          buildLog.getOrElse(table, 0.0) + (System.nanoTime() - t0) / 1e9)
      }
    }
    s.table(table)
  }

  /** One-time build cost per table (seconds), for artifact self-description. */
  def buildCosts: Map[String, Double] = buildLog.toMap

  /** table → (refresh count, appended rows, total refresh seconds) — the
    * staleness contract in e26's style: a consumer can read how far the
    * view has drifted from its base build and decide when to compact.
    */
  private val refreshLog = new ConcurrentHashMap[String, (Long, Long, Double)]().asScala

  def refreshCosts: Map[String, (Long, Long, Double)] = refreshLog.toMap

  /** APPEND-DELTA refresh of an existing bucketed view (r9 verdict #4):
    * the corpus-refresh world d7/d8/CorpusIngest model grows by a batch,
    * and the batch's derived rows (shingles, window fingerprints, pairs
    * involving new docs) are appended WITHOUT rebuilding the view —
    * refresh cost is O(delta), not O(corpus). Spark appends to a bucketed
    * table by hashing only the delta into the SAME bucket layout (bucket
    * spec must match — `require`d here): each bucket accumulates one more
    * file, reads stay bucket-local with no Exchange, and within-bucket
    * ordering degrades from globally-sorted to per-file-sorted, which
    * bucketed SortMergeJoin handles with a (cheap, bucket-local) sort and
    * zero shuffle. Deltas must be DISJOINT from existing rows by
    * construction (the d7 admission contract: only rows derived from
    * newly-admitted keys are appended) — the view stays exactly equal to
    * a from-scratch build over the grown corpus, a parity
    * MatViewRefreshSpec asserts. Call [[of]] with the same `dir` and
    * `name` first so the base table exists; the refresh is logged to
    * [[refreshCosts]] (count, rows, seconds) — the artifact-visible
    * staleness contract. When any
    * bucket's file count breaches `maxFilesPerBucket` the refresh
    * triggers [[compact]] (set it ≤ 0 to opt out), so per-bucket file
    * counts — and with them the per-file sorted-run count inside every
    * bucket-local SortMergeJoin — stay bounded across unbounded refreshes.
    */
  def append(s: SparkSession, dir: String, name: String, key: String, buckets: Int,
      maxFilesPerBucket: Int = 8)(
      delta: DataFrame): Unit = {
    val table = this.table(dir, name)
    buildLock.synchronized {
      require(s.catalog.tableExists(table),
        s"append-refresh target $table does not exist — build it with of() first")
      val t0 = System.nanoTime()
      // Pin before count+write: the staleness-log count and the bucketed
      // write otherwise each execute the full delta plan, so the logged
      // refresh seconds (the numerator of the O(delta) claim) would include
      // a redundant recomputation of the delta derivation.
      val n = graft.Pin.scoped { pin =>
        val deltaP = pin(delta)
        val n = deltaP.count()
        deltaP.write
          .format("parquet")
          .mode(SaveMode.Append)
          .bucketBy(buckets, key)
          .sortBy(key)
          .saveAsTable(table)
        n
      }
      val (c, r, sec) = refreshLog.getOrElse(table, (0L, 0L, 0.0))
      refreshLog.put(table,
        (c + 1, r + n, sec + (System.nanoTime() - t0) / 1e9))
      // Cached plans hold the table's file listing at resolve time; refresh
      // so the next consumer re-resolves and sees the appended files.
      s.catalog.refreshTable(table)
      // Bucket-file compaction policy (r10 verdict #5): each refresh appends
      // one file per touched bucket, so a long-lived view otherwise degrades
      // to many per-file sorts inside every bucket-local SortMergeJoin.
      // Bound it here rather than leaving it to an external janitor — the
      // refresh IS the single writer the compaction contract requires.
      // Inside buildLock (r11 verdict): the census + trigger would otherwise
      // race a concurrent appender; the lock is reentrant, so the nested
      // compact()'s own synchronized block is free for this thread.
      if (maxFilesPerBucket > 0 && maxBucketFiles(s, table) > maxFilesPerBucket)
        compact(s, table, key, buckets)
    }
  }

  private def tableLocation(s: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location)

  /** The view's file-count high-water mark: data files in the MOST
    * populated bucket (bucket ids parsed from the `_NNNNN` suffix Spark
    * stamps on bucketed file names). This is the namenode-visible health
    * number the compaction policy gates on — reads degrade with per-bucket
    * file count (one sorted run each inside a bucket-local merge join),
    * not with total bytes.
    */
  def maxBucketFiles(s: SparkSession, table: String): Int = {
    val loc = tableLocation(s, table)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) return 0
    val bucketId = """_(\d+)(?:\.|$)""".r
    fs.listStatus(loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
      .flatMap(f => bucketId.findFirstMatchIn(f.getPath.getName).map(_.group(1)))
      .groupBy(identity).values.map(_.length).maxOption.getOrElse(0)
  }

  /** table → (compaction count, total compaction seconds) — the other half
    * of the staleness contract: a reader of [[refreshCosts]] sees how far
    * the view drifted, a reader of this sees when the janitor paid it back.
    */
  private val compactLog = new ConcurrentHashMap[String, (Long, Double)]().asScala

  def compactCosts: Map[String, (Long, Double)] = compactLog.toMap

  /** Rewrite a refreshed bucketed view back to ONE file per bucket
    * (r10 verdict #5), preserving the bucket spec and the crash-safety of
    * the streaming sinks: the compacted copy is staged as a sibling
    * directory with the SAME bucketBy/sortBy layout, then swapped into the
    * live table location via [[AtomicSwap.publish]] (aside-swap — a crash
    * anywhere leaves either the old or the new complete directory, never a
    * mix). The catalog entry (bucket spec, location) is untouched; only
    * directory contents change, so every consumer keeps its Exchange-free
    * bucket-local plan (MatViewRefreshSpec asserts parity + layout across
    * an append → compact → query round).
    *
    * One write task per bucket: `repartition(buckets, key)` hashes with
    * the same Murmur3 `pmod` bucketBy uses, so each task holds exactly one
    * bucket's rows and emits exactly one sorted file for it — per-bucket
    * file count returns to 1 regardless of how many refreshes accumulated.
    * I/O is O(table) — amortized by running it only when
    * [[maxBucketFiles]] breaches the policy, the classic LSM trade.
    * Same single-writer contract as [[graft.sources.Compact.compact]].
    *
    * READER QUIESCENCE (r11 advice): unlike [[append]], which only ever
    * ADDS files, compaction physically replaces the live directory — a
    * reader holding a plan resolved BEFORE the swap (a held handle,
    * or an in-flight scan) references file paths that no longer exist
    * after it and fails with FileNotFoundException mid-scan. Deferring
    * the aside-directory delete would NOT help: the rename moves the old
    * files to a different path, so stale plans break either way —
    * surviving concurrent readers needs manifest-level snapshots (an
    * Iceberg-class table format), not a directory swap. The contract is
    * therefore single-writer PLUS quiesced readers across a compact();
    * handles obtained after it re-resolve cleanly (the catalog is
    * refreshed below). Bench/Verify honor this by
    * construction — queries never run concurrently with a refresh.
    */
  def compact(s: SparkSession, table: String, key: String, buckets: Int): Unit =
    buildLock.synchronized {
      require(s.catalog.tableExists(table),
        s"compaction target $table does not exist")
      val t0 = System.nanoTime()
      val live = tableLocation(s, table)
      val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = new org.apache.hadoop.fs.Path(
        live.getParent, live.getName + ".compact-tmp")
      val stagingTable = table + "__compacting"
      s.sql(s"DROP TABLE IF EXISTS $stagingTable")
      fs.delete(staged, true)
      // Read the live directory as a PLAIN parquet path, not s.table(...):
      // the catalog scan advertises HashPartitioning(key, buckets), so the
      // planner removes the repartition as redundant — and then
      // DisableUnnecessaryBucketedScan (nothing downstream of a write
      // declares interesting partitioning) falls back to file-split
      // partitions, writing MIXED buckets per task (probed live: 3 files
      // per bucket instead of 1). The path read has UnknownPartitioning,
      // so the repartition survives and aligns tasks to buckets.
      s.read.parquet(live.toString)
        .repartition(buckets, col(key))
        .write.format("parquet")
        .mode(SaveMode.Overwrite)
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", staged.toString)
        .saveAsTable(stagingTable)
      // external staging table: DROP removes the catalog entry only
      s.sql(s"DROP TABLE $stagingTable")
      AtomicSwap.publish(fs, staged, live)
      s.catalog.refreshTable(table)
      val (c, sec) = compactLog.getOrElse(table, (0L, 0.0))
      compactLog.put(table, (c + 1, sec + (System.nanoTime() - t0) / 1e9))
    }
}
