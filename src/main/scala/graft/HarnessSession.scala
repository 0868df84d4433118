package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the measurement and verification mains
  * (Bench, Verify, Plans, ScaleProbe): `local[cpus]` with `cpus` shuffle
  * partitions, UTC, and the settings below. `extra` is applied last, so
  * it may override any of them. ScaleProbe's dispatch leg varies runtime
  * SQL confs on `newSession()`s of one such session.
  */
object HarnessSession {

  def apply(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); see graft.Tables.table
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Small-shuffle syscall churn: the bypass-merge writer creates one
      // file PER REDUCE PARTITION per map task (32×32 = 1024 files per
      // exchange on join shuffles, which have no map-side combine), and
      // reduce fetches mmap each block — stack dumps showed map0/unmap0
      // dominating the dedup family. The sort writer emits ONE file per
      // map task regardless of partition count.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Let AQE coalesce genuinely tiny exchanges down to few tasks
      // instead of padding to parallelism (Spark's recommended production
      // setting); at real scale partitions exceed the 64m advisory size
      // and this is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Shuffle/spill files live on tmpfs: the container's root fs mounts
      // ext4 with `discard`, so the burst file deletions of Spark's
      // ContextCleaner issue TRIM storms that stall the virtio device for
      // seconds (observed as episodic multi-x slowdowns with high sys%,
      // mmap/unmap-bound executor stacks, and idle CPUs). On a real
      // cluster these are executor-local SSD scratch dirs anyway.
      .config("spark.local.dir", "/dev/shm/graft-spark")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** ContextCleaner is GC-driven and its default periodic GC is 30 min —
    * longer than a whole full-registry run — so the long-lived sessions
    * (Bench, Verify) reclaim dereferenced shuffle files every 5 min.
    */
  val periodicGC: Map[String, String] = Map("spark.cleaner.periodicGC.interval" -> "5min")
}
