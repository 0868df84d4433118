package graft

import graft.sources.Compact
import org.apache.spark.sql.functions._

/** Small-file compaction: only violating partitions are rewritten, data
  * survives byte-exactly, healthy partitions keep their exact files, and
  * a second pass is a no-op.
  */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def files(dir: String): Set[(String, Long, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .toSet
  }

  test("compact rewrites only violating partitions, preserves data, converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/store"
    // day=a: fragmented (12 files); day=b: healthy single file
    (1 to 120).map(i => (i.toLong, "a")).toDF("v", "day")
      .repartition(12).write.partitionBy("day").mode("overwrite").parquet(dir)
    (200 to 205).map(i => (i.toLong, "b")).toDF("v", "day")
      .coalesce(1).write.partitionBy("day").mode("append").parquet(dir)

    val before = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    val healthyBefore = files(s"$dir/day=b")
    assert(files(s"$dir/day=a").size == 12)

    val rewritten = Compact.compact(spark, dir, maxFiles = 4, minBytes = 1L)
    assert(rewritten == Seq("day=a"))
    assert(files(s"$dir/day=a").size < 12)
    // healthy partition: the SAME physical files, not rewritten copies
    assert(files(s"$dir/day=b") == healthyBefore)
    // data is intact
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet == before)
    // second pass finds nothing to do
    assert(Compact.compact(spark, dir, maxFiles = 4, minBytes = 1L).isEmpty)
  }

  test("compacting N victim partitions launches at most N+1 jobs, keeps every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-jobs").toString + "/store"
    val victims = Seq("a", "b", "c")
    (1 to 240).map(i => (i.toLong, s"v$i", victims(i % victims.size))).toDF("v", "s", "day")
      .repartition(10).write.partitionBy("day").mode("overwrite").parquet(dir)
    (300 to 305).map(i => (i.toLong, s"v$i", "d")).toDF("v", "s", "day")
      .coalesce(1).write.partitionBy("day").mode("append").parquet(dir)
    val before = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet

    val (rewritten, jobs) = jobsLaunchedBy(Compact.compact(spark, dir, maxFiles = 4, minBytes = 1L))
    assert(rewritten.sorted == victims.map(v => s"day=$v"))
    // one schema inference for the whole pass, then one read-and-write job
    // per victim: no per-victim inference, no shuffle
    assert(jobs <= victims.size + 1, s"$jobs jobs for ${victims.size} victims")
    assert(spark.read.parquet(dir).as[(Long, String, String)].collect().toSet == before)
  }
}
