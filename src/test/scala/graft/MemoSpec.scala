package graft

import graft.queries.SimilarityQueries
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `Memo`: one-shot cells keyed by (session, name), and `reset` as the
  * single lifetime boundary for every memo and every persist a memo made.
  */
class MemoSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Run `f` on `n` threads released together; every result, in order. */
  private def race[T](n: Int)(f: => T): Seq[T] = {
    val go = new CountDownLatch(1)
    val fs = (1 to n).map(_ => Future { go.await(); f })
    go.countDown()
    fs.map(Await.result(_, 120.seconds))
  }

  test("two racing callers on one key share one build") {
    Memo.reset(spark)
    val builds = new AtomicInteger
    // The build outlasts the threads' start skew, so a memo that runs
    // the build outside a cell (raw getOrElseUpdate) builds twice.
    val Seq(a, b) = race(2) {
      Memo(spark, "memo-spec-race") {
        builds.incrementAndGet(); Thread.sleep(500); new Object
      }
    }
    assert(builds.get == 1, s"one key must build once (built ${builds.get} times)")
    assert(a eq b, "both callers must receive the memoized instance")
    // The e9 leg-pool case: racing pqAdcDists legs share one ADC table.
    val Seq(x, y) = race(2)(SimilarityQueries.pqAdcDists(spark, sf, normalize = true))
    assert(x eq y, "both pqAdcDists callers must receive the memoized instance")
    Memo.reset(spark)
  }

  test("reset racing an in-flight build: later callers build afresh") {
    Memo.reset(spark)
    val key = "memo-spec-inflight"
    val builds = new AtomicInteger
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // A: a slow build that persists only after the reset below.
    val a = Future(Memo(spark, key) {
      builds.incrementAndGet(); inBuild.countDown()
      release.await(60, TimeUnit.SECONDS)
      val p = spark.range(10).persist(); p.count(); p
    })
    try {
      assert(inBuild.await(60, TimeUnit.SECONDS))
      // C joins A's build rather than starting its own: wait until C is
      // parked on A's cell (or, were it building, done) before the reset.
      var rc: AnyRef = null
      val c = new Thread(() => rc = Memo(spark, key) {
        builds.incrementAndGet(); spark.range(1)
      })
      c.start()
      while (c.getState != Thread.State.BLOCKED &&
        c.getState != Thread.State.TERMINATED) Thread.sleep(10)
      Memo.reset(spark)
      // B, after the reset, must not be handed A's dropped cell.
      val b = Await.result(Future(Memo(spark, key) {
        builds.incrementAndGet(); spark.range(5)
      }), 30.seconds)
      release.countDown()
      val ra = Await.result(a, 60.seconds)
      c.join(60000)
      assert(builds.get == 2, s"A and B build, C waits on A (built ${builds.get} times)")
      assert(rc eq ra, "a caller racing a build must receive that build")
      assert(!(b eq ra), "a caller after reset must get a fresh build")
      assert(b.count() == 5 && ra.count() == 10)
    } finally release.countDown()
    // A's persist landed after the first reset; the next one releases it.
    Memo.reset(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "reset must release every persist, even one made across a reset")
  }

  test("after reset, pqAdcDists hands back a persisted table") {
    Memo.reset(spark)
    val first = SimilarityQueries.pqAdcDists(spark, sf, normalize = true)
    assert(first.storageLevel != StorageLevel.NONE)
    Memo.reset(spark)
    val again = SimilarityQueries.pqAdcDists(spark, sf, normalize = true)
    assert(again.storageLevel != StorageLevel.NONE,
      "a memo must never outlive the persist it holds")
    Memo.reset(spark)
  }
}
