package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-clock down; tests must not mutate global conf).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The local properties of every job started, on any thread, while
    * `body` runs. Listener events arrive asynchronously but in order, so a
    * fence job in its own group marks the point by which every job of
    * `body` has been seen.
    */
  protected def jobsStartedDuring[T](body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val fence = s"fence-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Properties]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties())
        if (p.getProperty("spark.jobGroup.id") == fence) fenced = true
        else if (!fenced) seen.add(p)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "listener never saw the fence job")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The persisted RDDs of the context that no [[Memo]] cell owns. A
    * frame-owned pin stays listed until a GC lets the `ContextCleaner`
    * free it, so only when such an RDD is listed does this force GCs,
    * for at most 20 seconds, until the list clears; a clean state costs
    * nothing extra. Ids only: `getPersistentRDDs` holds the RDDs strongly.
    */
  protected def unownedPersists(): Set[Int] = {
    def unowned = spark.sparkContext.getPersistentRDDs.keysIterator.toSet -- Memo.owned(spark)
    val deadline = System.nanoTime() + 20L * 1000000000L
    var left = unowned
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      left = unowned
    }
    left
  }

  /** Jobs launched by `body` on this thread. */
  protected def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val (out, jobs) = jobsStartedDuring {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
    }
    (out, jobs.count(_.getProperty("spark.jobGroup.id") == group))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
