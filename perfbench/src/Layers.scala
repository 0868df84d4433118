package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Every name is emitted on every
  * workload; a layer the workload does not exercise reads 0.
  */
object Layers {
  private val mb = 1048576.0

  def metrics(spark: SparkSession, ops: Seq[OpRec], tracer: Tracer, events: SparkEvents,
      plans: PlanEvents, facts: Map[String, Double], params: BarParams, runS: Double,
      gcS: Double, heapPeakMb: Double, tailPct: Int): Seq[(String, Double, String)] = {
    def opAt(ms: Long): Option[OpRec] = ops.find(o => o.startMs <= ms && ms <= o.endMs)
    val jobs = events.jobs
    jobs.foreach { j =>
      opAt(j.startMs).foreach(o => tracer.addChild(o.id, "spark", s"job ${j.id}",
        tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs)))
    }
    val tasks = events.tasks.asScala.toSeq
    def sumT(f: TaskEnd => Long): Double = tasks.map(f).sum.toDouble
    def kind(k: String) = ops.filter(_.kind == k)
    def extra(os: Seq[OpRec], k: String) = os.map(_.extra.getOrElse(k, 0.0)).sum
    def inOps(os: Seq[OpRec], ms: Long) = os.exists(o => o.startMs <= ms && ms <= o.endMs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // union of job intervals: time the scheduler had at least one job active
    val jobActiveS = jobs.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) {
      case ((acc, reach), j) =>
        val lo = math.max(j.startMs, reach)
        if (j.endMs > lo) (acc + j.endMs - lo, j.endMs) else (acc, reach)
    }._1 / 1e3
    val opWall = ops.map(_.seconds).sum
    val taskRunS = sumT(_.runMs) / 1e3

    val queries = kind("query")
    val families = QueryWorkload.families.map { case (f, _) =>
      (s"queries.$f.busy_s", queries.filter(_.group == f).map(_.seconds).sum, "s")
    }

    val backfill = kind("backfill")
    val refresh = kind("refresh")
    val reads = kind("read")
    val polls = kind("live_poll")
    val compact = kind("compact")
    val backfillS = backfill.map(_.seconds).sum
    val refreshOutRows = tasks.filter(t => inOps(refresh, t.finishMs)).map(_.outRows.toDouble).sum
    val lookupJobs = jobs.count(j => inOps(reads, j.startMs))
    val lags = polls.filter(_.ok).map(_.extra.getOrElse("lag_s", 0.0))
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / mb
    val selfS = tracer.selfSeconds
    val failed = ops.count(!_.ok)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    Seq(
      ("queries.build_s", extra(queries, "build_s"), "s"),
      ("queries.materialize_s", extra(queries, "materialize_s"), "s"),
      ("queries.result_rows", extra(queries, "rows"), "count")) ++ families ++ Seq(
      ("spark.actions", plans.actions.get.toDouble, "count"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", jobs.flatMap(_.stages).distinct.size.toDouble - events.skippedStages, "count"),
      ("spark.stages_skipped", events.skippedStages.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.job_active_s", jobActiveS, "s"),
      ("spark.driver_gap_s", math.max(0.0, opWall - jobActiveS), "s"),
      ("spark.sched_delay_s", sumT(_.schedDelayMs) / 1e3, "s"),
      ("spark.cores_eff", ratio(taskRunS, opWall), "ratio"),
      ("spark.plan.analysis_ms", plans.ms("analysis").toDouble, "ms"),
      ("spark.plan.optimization_ms", plans.ms("optimization").toDouble, "ms"),
      ("spark.plan.planning_ms", plans.ms("planning").toDouble, "ms"),
      ("spark.task_run_s", taskRunS, "s"),
      ("spark.task_cpu_s", sumT(_.cpuNs) / 1e9, "s"),
      ("spark.task_gc_s", sumT(_.gcMs) / 1e3, "s"),
      ("spark.task_deser_s", sumT(_.deserMs) / 1e3, "s"),
      ("spark.shuffle.write_mb", sumT(_.shuffleWriteBytes) / mb, "MB"),
      ("spark.shuffle.read_mb", sumT(_.shuffleReadBytes) / mb, "MB"),
      ("spark.shuffle.fetch_wait_s", sumT(_.fetchWaitMs) / 1e3, "s"),
      ("spark.shuffle.write_s", sumT(_.shuffleWriteNs) / 1e9, "s"),
      ("spark.spill.memory_mb", sumT(_.spillMem) / mb, "MB"),
      ("spark.spill.disk_mb", sumT(_.spillDisk) / mb, "MB"),
      ("spark.input_mb", sumT(_.inBytes) / mb, "MB"),
      ("spark.input_rows", sumT(_.inRows), "count"),
      ("spark.output_mb", sumT(_.outBytes) / mb, "MB"),
      ("spark.output_rows", sumT(_.outRows), "count"),
      ("spark.tasks_failed", tasks.count(_.failed).toDouble, "count"),
      ("spark.stage_retries", events.stageRetries.get.toDouble, "count"),
      ("spark.cached_mb_after", cachedMb, "MB"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("sources.barstore.backfill_s", backfillS, "s"),
      ("sources.barstore.files", facts.getOrElse("barstore.files", 0.0), "count"),
      ("sources.barstore.bytes_per_bar", facts.getOrElse("barstore.bytes_per_bar", 0.0), "B"),
      ("sources.barstore.refresh_s", refresh.map(_.seconds).sum, "s"),
      ("sources.barstore.rows_written_per_new_row", ratio(refreshOutRows, extra(refresh, "new_rows")), "ratio"),
      ("sources.barstore.read_symbol_s", reads.map(_.seconds).sum, "s"),
      ("sources.barstore.jobs_per_lookup", ratio(lookupJobs, reads.size), "ratio"),
      ("sources.barstore.files_read_per_lookup", ratio(extra(reads, "files_read"), reads.size), "ratio"),
      ("streaming.livefeed.add_batch_ms", facts.getOrElse("livefeed.add_batch_ms", 0.0), "ms"),
      ("streaming.livefeed.latest_offset_ms", facts.getOrElse("livefeed.latest_offset_ms", 0.0), "ms"),
      ("streaming.livefeed.query_planning_ms", facts.getOrElse("livefeed.query_planning_ms", 0.0), "ms"),
      ("streaming.livefeed.wal_commit_ms", facts.getOrElse("livefeed.wal_commit_ms", 0.0), "ms"),
      ("streaming.livefeed.commit_offsets_ms", facts.getOrElse("livefeed.commit_offsets_ms", 0.0), "ms"),
      ("streaming.livefeed.trigger_ms", facts.getOrElse("livefeed.trigger_ms", 0.0), "ms"),
      ("streaming.livefeed.input_rows_per_trade",
        ratio(facts.getOrElse("livefeed.input_rows", 0.0), facts.getOrElse("trades_polled", 0.0)), "ratio"),
      ("streaming.livefeed.partitions_rewritten_per_batch", mean(polls.map(_.extra.getOrElse("partitions_rewritten", 0.0))), "ratio"),
      ("streaming.livefeed.store_files_added_per_batch", mean(polls.map(_.extra.getOrElse("files_added", 0.0))), "ratio"),
      ("streaming.livefeed.dead_letters", facts.getOrElse("dead_letters", 0.0), "count"),
      ("sources.compact_s", compact.map(_.seconds).sum, "s"),
      ("sources.compact.partitions_rewritten", extra(compact, "partitions_rewritten"), "count"),
      ("sources.compact.mb_rewritten", extra(compact, "mb_rewritten"), "MB"),
      ("pipeline.backfill_bars_per_s",
        ratio(BarPipeline.sources.size * params.symbols * params.days, backfillS), "1/s"),
      ("pipeline.refresh_p50_s", Stats.median(refresh.filter(_.ok).map(_.seconds)), "s"),
      ("pipeline.live_lag_p50_s", Stats.median(lags), "s"),
      ("pipeline.live_lag_tail_s", Stats.tail(lags)._2, "s"),
      ("pipeline.live_lag_tail_pct", Stats.tail(lags)._1.toDouble, "percentile"),
      ("pipeline.point_read_p50_s", Stats.median(reads.filter(_.ok).map(_.seconds)), "s"),
      ("ops.count", ops.size.toDouble, "count"),
      ("ops.failed_ratio", ratio(failed, ops.size), "ratio"),
      ("ops.tail_pct", tailPct.toDouble, "percentile"),
      ("trace.run_s", runS, "s"),
      ("trace.spans", tracer.all.size.toDouble, "count")) ++
      Seq("op", "queries", "operators", "sources", "streaming", "spark").map { l =>
        (s"self_s.$l", selfS.getOrElse(l, 0.0), "s")
      }
  }
}
