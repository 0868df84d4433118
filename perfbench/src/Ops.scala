package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A result that disagrees with its golden: the operation counts as failed. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** One operation of the closed loop. Times are `System.nanoTime` (for
  * durations) and epoch ms (to attribute listener events).
  */
final case class OpRec(id: Int, name: String, kind: String, group: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    error: Option[String], extra: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def ok: Boolean = error.isEmpty
}

/** Runs operations one after another — one client, closed loop — each on a
  * watchdogged thread. A failed, wrong or timed-out operation is recorded
  * with its error and never dropped; one due after `deadlineNs` is
  * recorded as not started.
  */
final class Runner(spark: SparkSession, tracer: Tracer, timeoutSec: Int, deadlineNs: Long) {
  val ops = ArrayBuffer.empty[OpRec]

  /** Runs `body`, which returns per-operation figures (`extra`). */
  def run(name: String, kind: String, group: String)(body: => Map[String, Double]): OpRec = {
    val id = ops.size
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    @volatile var extra = Map.empty[String, Double]
    @volatile var error: Option[String] = Some("timeout")
    if (t0 > deadlineNs) error = Some("not started: run deadline passed")
    else {
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(s"perfbench-$id", name, interruptOnCancel = true)
          extra = tracer.root(id, name)(body)
          error = None
        } catch {
          case e: WrongResult => error = Some("wrong: " + e.getMessage)
          case e: Throwable => error = Some(e.getClass.getSimpleName + ": " + e.getMessage)
        }
      }, s"perfbench-op-$id")
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000L)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(s"perfbench-$id")
        worker.interrupt()
        worker.join(10000L)
        error = Some(s"timeout after $timeoutSec s")
      }
    }
    val rec = OpRec(id, name, kind, group, t0, System.nanoTime(), startMs,
      System.currentTimeMillis(), error, extra)
    ops += rec
    rec.error.foreach(e => System.err.println(s"[perfbench] op $name FAILED: ${e.take(300)}"))
    rec
  }
}
