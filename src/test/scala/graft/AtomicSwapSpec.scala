package graft

import graft.sources.AtomicSwap
import org.apache.hadoop.fs.{FileSystem, Path}

/** Every crash window of the aside-swap publish must leave the store
  * recoverable — recover() restores interrupted swaps, sweeps committed
  * leftovers, and is an idempotent no-op on a healthy store.
  */
class AtomicSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def writePart(dir: String, name: String, values: Seq[Long]): Unit =
    values.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")

  private def readPart(dir: String, name: String): Set[Long] =
    spark.read.parquet(s"$dir/$name").as[Long].collect().toSet

  test("publish replaces the live partition and leaves no aside copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    writePart(dir, "day=a", Seq(1L, 2L))
    writePart(dir + ".tmp", "day=a", Seq(3L, 4L))
    AtomicSwap.publish(fs, new Path(dir + ".tmp", "day=a"), new Path(dir, "day=a"))
    assert(readPart(dir, "day=a") == Set(3L, 4L))
    assert(!fs.exists(new Path(dir, ".day=a.old")))
  }

  test("crash between aside and promote: recover restores the old data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    writePart(dir, "day=a", Seq(1L, 2L))
    // simulate: step 2 done (live moved aside), step 3 never happened
    fs.rename(new Path(dir, "day=a"), new Path(dir, ".day=a.old"))
    assert(!fs.exists(new Path(dir, "day=a")))
    val restored = AtomicSwap.recover(fs, new Path(dir))
    assert(restored == Seq("day=a"))
    assert(readPart(dir, "day=a") == Set(1L, 2L))
    assert(!fs.exists(new Path(dir, ".day=a.old")))
  }

  test("crash between promote and cleanup: recover sweeps the stale shadow") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    writePart(dir, "day=a", Seq(3L, 4L)) // new data already live
    writePart(dir, ".day=a.old", Seq(1L, 2L)) // old shadow left behind
    val restored = AtomicSwap.recover(fs, new Path(dir))
    assert(restored.isEmpty)
    assert(readPart(dir, "day=a") == Set(3L, 4L)) // new data kept
    assert(!fs.exists(new Path(dir, ".day=a.old")))
  }

  test("recover raises on a failed restore and keeps the aside copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    writePart(dir, "day=a", Seq(1L, 2L))
    fs.rename(new Path(dir, "day=a"), new Path(dir, ".day=a.old"))
    val noRename = new AtomicSwapSpec.NoRename
    noRename.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[java.io.IOException](AtomicSwap.recover(noRename, new Path(dir)))
    assert(e.getMessage.contains("day=a"), e.getMessage)
    assert(!fs.exists(new Path(dir, "day=a")))
    assert(readPart(dir, ".day=a.old") == Set(1L, 2L), "the aside copy must survive")
  }

  test("recover is a no-op on a healthy store and idempotent after healing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    writePart(dir, "day=a", Seq(1L))
    writePart(dir, "day=b", Seq(2L))
    assert(AtomicSwap.recover(fs, new Path(dir)).isEmpty)
    fs.rename(new Path(dir, "day=b"), new Path(dir, ".day=b.old"))
    assert(AtomicSwap.recover(fs, new Path(dir)) == Seq("day=b"))
    assert(AtomicSwap.recover(fs, new Path(dir)).isEmpty)
    assert(readPart(dir, "day=a") == Set(1L))
    assert(readPart(dir, "day=b") == Set(2L))
  }
}

object AtomicSwapSpec {

  /** The local filesystem with every rename reporting failure by returning
    * false, as Hadoop filesystems do.
    */
  class NoRename extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean = false
  }
}
