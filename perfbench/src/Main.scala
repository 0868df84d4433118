package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` in a fresh JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <checkout> --work <scratch dir> --out <results dir> --t0-ms <launch epoch ms>
  *      [--symbols <n>] [--golden-out <dir>]
  * }}}
  *
  * Prints one JSON line (`correct`, `attempted`, `failed`, `metrics`) last
  * on stdout. End-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(opt("root")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val sfDir = root.resolve("perfbench/data/sf0.01").toString
    Files.createDirectories(work.resolve("tmp"))

    val spark0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    opt.get("golden-out") match {
      case Some(out) =>
        QueryWorkload.dumpForGoldens(spark, sfDir, Paths.get(out))
        spark.stop()
      case None =>
        try measure(spark, opt, root, work, sfDir, cores, mainMs, spark0)
        finally spark.stop()
    }
  }

  /** Engine warm-up on synthetic rows (no benchmark data), paid in set-up:
    * class loading and code generation of the parquet path would otherwise
    * land on whichever operation runs first.
    */
  private def warmUp(spark: SparkSession, dir: Path): Unit = {
    spark.range(1000).selectExpr("sum(id * 2)").collect()
    spark.range(1000).selectExpr("id", "cast(id as double) AS v", "cast(id as string) AS s")
      .write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString).filter("id > 10").groupBy("s").count().collect()
  }

  /** Bench's fixed CPU-bound fold, run outside every timed window. */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 64)
      .selectExpr("sum(((id % 1000003) * 2654435761 + shiftright(id, 13)) % 999983)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def measure(spark: SparkSession, opt: Map[String, String], root: Path, work: Path,
      sfDir: String, cores: Int, mainMs: Long, spark0: Long): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    warmUp(spark, work.resolve("tmp/warm"))
    val sessionS = (System.nanoTime() - spark0) / 1e9
    val launchS = (mainMs - opt("t0-ms").toLong) / 1e3

    // Input set-up, repeated three times; the median is reported.
    val params = opt.get("symbols").fold(BarParams.default)(n => BarParams.default.copy(symbols = n.toInt))
    var bar: BarInputs = null
    var goldens: Map[String, QueryWorkload.Golden] = Map.empty
    val genS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      if (workload == "bar_pipeline")
        bar = BarPipeline.generate(seed, params, work.resolve(s"input-$i"), cores)
      else {
        goldens = QueryWorkload.loadGoldens(root.resolve("perfbench/goldens.json"))
        QueryWorkload.list(workload).foreach { n =>
          if (!goldens.contains(n)) throw new IllegalStateException(s"no golden for $n")
        }
        spark.read.parquet(graft.Tables.all.map(t => s"$sfDir/$t.parquet"): _*).schema
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = launchS + sessionS + Stats.median(genS)

    val tracer = new Tracer(traced)
    val events = new SparkEvents
    val plans = new PlanEvents
    // after set-up and in both modes, so traced and untraced runs enter the
    // measured phase with the same JIT and codegen warm-up
    val canaryBefore = canary(spark)
    if (traced) {
      Proc.watchHeapAfterGc()
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(plans)
    }
    System.gc()
    val gc0 = Proc.gcSeconds
    // no operation starts later than 110 s after launch and none runs
    // longer than 40 s, so the process ends inside its 180 s budget
    val deadlineNs = System.nanoTime() +
      (opt("t0-ms").toLong + 110000L - System.currentTimeMillis()) * 1000000L
    val runner = new Runner(spark, tracer, math.min(40, math.max(20, 2 * seconds)), deadlineNs)

    val cpu0 = Proc.cpuSeconds
    val t0 = System.nanoTime()
    val (verdict, facts) = workload match {
      case "bar_pipeline" => BarPipeline.run(spark, runner, tracer, bar, params, work)
      case _ =>
        QueryWorkload.run(spark, runner, tracer, workload, sfDir, goldens)
        (BarPipeline.Verdict(Set.empty, Nil), Map.empty[String, Double])
    }
    val ops = runner.ops.toSeq
    val runS = (ops.last.endNs - t0) / 1e9
    val runCpuS = Proc.cpuSeconds - cpu0
    val gcS = Proc.gcSeconds - gc0
    if (traced) {
      System.gc()
      Drain.until(() => events.events.get)
      Drain.until(() => plans.actions.get.toLong)
    }
    val heapPeak = Proc.heapAfterGcPeakMb

    val failedIds = ops.filterNot(_.ok).map(_.id).toSet ++ verdict.failedOps
    verdict.messages.foreach(m => System.err.println(s"[perfbench] check FAILED: $m"))
    val latencies = ops.filterNot(o => failedIds(o.id)).map(_.seconds)
    val (tailPct, tailS) = Stats.tail(latencies)
    System.err.println(f"[perfbench] $workload seed=$seed: ${ops.size} ops, ${failedIds.size} failed, " +
      f"run ${runS}%.3f s, op p50 ${Stats.median(latencies)}%.3f s, " +
      f"op tail p$tailPct ${tailS}%.3f s over ${latencies.size} samples")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"), ("run_s", runS, "s"), ("run_cpu_s", runCpuS, "s"),
        ("op_p50_s", Stats.median(latencies), "s"), ("op_tail_s", tailS, "s"),
        ("peak_rss_mb", Proc.peakRssMb, "MB"))
      else {
        val layer = Layers.metrics(spark, ops, tracer, events, plans, facts, params, runS,
          gcS, heapPeak, tailPct)
        val canaryAfter = canary(spark)
        layer ++ Seq(("host.canary_before_s", canaryBefore, "s"), ("host.canary_after_s", canaryAfter, "s"))
      }

    val outDir = Paths.get(opt("out"))
    Files.createDirectories(outDir)
    val tag = s"$workload-s$seed-t${opt("trace")}"
    if (traced) tracer.writeJsonLines(outDir.resolve(s"$tag.spans.jsonl"))
    val m = Json.mapper
    val file = m.createObjectNode().put("workload", workload).put("seed", seed)
      .put("trace", traced).put("run_s", runS)
      .put("op_tail_percentile", tailPct).put("op_samples", latencies.size)
    val checks = file.putArray("checks_failed")
    verdict.messages.foreach(msg => checks.add(msg))
    file.set[JsonNode]("metrics", Json.metrics(metrics))
    val opList = file.putArray("ops")
    ops.foreach { o =>
      opList.addObject().put("name", o.name).put("kind", o.kind).put("group", o.group)
        .put("seconds", if (failedIds(o.id)) -1.0 else o.seconds).put("ok", !failedIds(o.id))
        .put("error", o.error.map(_.take(500)).orNull)
    }
    m.writeValue(outDir.resolve(s"$tag.json").toFile, file)

    val result = m.createObjectNode().put("correct", failedIds.isEmpty)
      .put("attempted", ops.size).put("failed", failedIds.size)
    result.set[JsonNode]("metrics", Json.metrics(metrics))
    println(m.writeValueAsString(result))
  }
}
