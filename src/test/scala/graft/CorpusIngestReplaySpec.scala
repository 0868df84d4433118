package graft

import graft.streaming.CorpusIngest
import org.apache.spark.sql.streaming.StreamingQuery
import java.io.File
import java.nio.file.{Files, Paths}

/** At-least-once replay of each CorpusIngest gate: after two epochs the
  * checkpoint's last commit record is deleted and the stream restarted, so
  * epoch 1 runs a second time over sinks that already hold its output. The
  * `batch_id=` epoch protocol must make that replay rewrite epoch 1's
  * partitions in place: every sink equals the clean run row for row,
  * `batch_id` included.
  */
class CorpusIngestReplaySpec extends SparkSpec {

  /** A gate under test: the JSON lines of each epoch, the sinks it writes
    * under its root, and how to start it there.
    */
  private case class Gate(name: String, sinks: Seq[String], epochs: Seq[String => Unit],
      start: String => StreamingQuery)

  private def words(tag: String): Seq[String] = (1 to 30).map(i => s"$tag$i")
  private val tA = words("alpha").mkString(" ")
  private val tB = words("bravo").mkString(" ")
  private val tC = words("charlie").mkString(" ")
  // near copy of B: first token replaced, so its fingerprints differ
  private val tBNear = ("zulu" +: words("bravo").tail).mkString(" ")

  private def docs(k: Int, rows: (Long, String)*): String => Unit = in =>
    Files.writeString(Paths.get(s"$in/m$k.json"), rows.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t","source":"s"}""" }.mkString("", "\n", "\n"))

  // epoch 0: A twice (within-batch dup) and B; epoch 1: an exact copy of
  // A, a near copy of B, a span copy of A and a novel C
  private val docEpochs = Seq(
    docs(0, 1L -> tA, 2L -> tB, 3L -> tA),
    docs(1, 4L -> tA, 5L -> tBNear, 6L -> tC, 7L -> s"$tA delta echo"))

  /** A seeded random 16-dimensional embedding, scaled by `sign`. */
  private def vec(id: Long, seed: Int, sign: Double = 1.0): String = {
    val r = new scala.util.Random(seed)
    s"""{"vec_id":$id,"embedding":[${Seq.fill(16)(sign * r.nextGaussian()).mkString(",")}],"label":1}"""
  }

  // epoch 0: 20 random vectors; epoch 1: an exact copy of vector 1
  // (rejected) and the negation of vector 2 (admitted)
  private def vectors(k: Int): String => Unit = in =>
    Files.writeString(Paths.get(s"$in/v$k.json"),
      (if (k == 0) (1 to 20).map(i => vec(i, i)) else Seq(vec(100, 1), vec(101, 2, -1.0)))
        .mkString("", "\n", "\n"))

  private val gates = Seq(
    Gate("exact", Seq("corpus", "census"), docEpochs, r =>
      CorpusIngest.startIngest(spark, s"$r/in", s"$r/corpus", s"$r/census", s"$r/ckpt")),
    Gate("near-dup", Seq("corpus", "census"), docEpochs, r =>
      CorpusIngest.startIngestNearDup(spark, s"$r/in", s"$r/corpus", s"$r/census", s"$r/ckpt")),
    Gate("spans", Seq("corpus", "census", "stats"), docEpochs, r =>
      CorpusIngest.startIngestSpans(spark, s"$r/in", s"$r/corpus", s"$r/census",
        s"$r/stats", s"$r/ckpt")),
    Gate("vectors", Seq("corpus", "census", "planes"), Seq(vectors(0), vectors(1)), r =>
      CorpusIngest.startIngestVectors(spark, s"$r/in", s"$r/corpus", s"$r/census",
        s"$r/planes", s"$r/ckpt")),
    Gate("frames", Seq("corpus", "census"), docEpochs, r =>
      CorpusIngest.startIngestFrames(spark, s"$r/in", s"$r/corpus", s"$r/census", s"$r/ckpt")))

  /** Schema, sorted rows and `batch_id=` directories of the sink at `dir`. */
  private def snapshot(dir: String): (String, Seq[String], Seq[String]) = {
    val df = spark.read.parquet(dir)
    (df.schema.treeString, df.collect().map(_.toString).sorted.toSeq,
      new File(dir).list().filter(_.startsWith("batch_id=")).sorted.toSeq)
  }

  private def dataFiles(dir: String): Set[String] =
    new File(dir).list().filter(_.startsWith("part-")).toSet

  /** Query executions during `body` that ran a scan of the parquet sink at
    * `dir`. Cached plans are walked too, and a scan counts only in the
    * execution that moved its row metric, so a cache read is no scan.
    */
  private def scansRun(dir: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val fence = s"fence-${System.nanoTime()}"
    val rows = scala.collection.mutable.Map.empty[Long, Long]
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var fenced = false
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      private def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) {
        case s: FileSourceScanExec => Seq(s)
        case c: InMemoryTableScanExec => scans(c.relation.cachedPlan)
      }.flatten
      // the listener bus delivers one event at a time, in order
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(fence)) fenced = true
        else {
          val moved = scans(qe.executedPlan)
            .filter(_.relation.location.rootPaths.exists(_.toUri.getPath == root))
            .map(_.metrics("numOutputRows"))
            .count { m =>
              val before = rows.getOrElse(m.id, 0L)
              rows(m.id) = m.value
              m.value > before
            }
          if (moved > 0) runs.incrementAndGet()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the start, so the stream's cloned session has it too
    spark.listenerManager.register(listener)
    try {
      body
      spark.sql(s"SELECT '$fence' AS fence").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "listener never saw the fence query")
      runs.get
    } finally spark.listenerManager.unregister(listener)
  }

  gates.foreach { g =>
    test(s"${g.name} gate: an epoch probes the stored census once") {
      val root = Files.createTempDirectory(s"probe-${g.name}").toString
      Files.createDirectories(Paths.get(s"$root/in"))
      g.epochs.head(s"$root/in")
      g.start(root).awaitTermination(180000)
      g.epochs(1)(s"$root/in")
      val probes = scansRun(s"$root/census")(g.start(root).awaitTermination(180000))
      assert(probes == 1, s"epoch 1 scanned the census in $probes queries")
    }
  }

  gates.foreach { g =>
    test(s"${g.name} gate: a replayed epoch rewrites its own partitions and every " +
      "sink equals the clean run") {
      val root = Files.createTempDirectory(s"replay-${g.name}").toString
      Files.createDirectories(Paths.get(s"$root/in"))
      g.epochs.foreach { epoch => epoch(s"$root/in"); g.start(root).awaitTermination(180000) }
      val clean = g.sinks.map(s => snapshot(s"$root/$s"))
      // epoch 1 admitted rows, so it wrote the corpus and census partitions
      val written = Seq("corpus", "census").map(s => dataFiles(s"$root/$s/batch_id=1"))
      assert(written.forall(_.nonEmpty), s"epoch 1 wrote $written")

      Files.delete(Paths.get(s"$root/ckpt/commits/1"))
      Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.1.crc"))
      g.start(root).awaitTermination(180000)

      g.sinks.zip(clean).foreach { case (s, want) =>
        assert(snapshot(s"$root/$s") == want, s"$s differs from the clean run after the replay")
      }
      // the replay ran epoch 1 again and rewrote, not kept, its partitions
      Seq("corpus", "census").zip(written).foreach { case (s, before) =>
        val after = dataFiles(s"$root/$s/batch_id=1")
        assert(after.nonEmpty && after.intersect(before).isEmpty, s"$s: epoch 1 was not rewritten")
      }
    }
  }
}
