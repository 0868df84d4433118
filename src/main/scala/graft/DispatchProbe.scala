package graft

import org.apache.spark.sql.SparkSession

/** r13 dispatch-floor probe (r12 verdict #5): the driver's 8-core bench
  * leg beat the 32-core leg on most sub-second rows, i.e. at sf0.1 the
  * suite is stage-dispatch-bound, not compute-bound. This probe times a
  * fixed NON-view-backed query subset (spanning driver-looped, join-heavy
  * and window paths) under several partitioning/AQE postures, each in its
  * own SparkSession but one JVM (JIT/codegen warmth shared across legs;
  * legs run twice, min-of-2 clean-slate per query — Bench's protocol),
  * and fingerprints each query's plan SHAPE per leg (operator-name
  * counts) so a "win" that comes from a changed plan is visible.
  *
  * Legs:
  *  - base       — exactly Bench's conf (shuffle.partitions = CPUS,
  *                 AQE coalesce with parallelismFirst = false).
  *  - init256    — + adaptive.coalescePartitions.initialPartitionNum=256:
  *                 the CLUSTER posture (start wide, let AQE coalesce).
  *                 Flat totals + identical shapes here prove the shipped
  *                 config is not a local[32] tuning artifact.
  *  - shuf256    — spark.sql.shuffle.partitions=256 with AQE coalesce:
  *                 same posture expressed through the static conf.
  *  - aqe_off    — adaptive.enabled=false: prices AQE's per-stage
  *                 replanning on tiny queries (measurement only — AQE is
  *                 non-negotiable at real scale).
  *  - locality0  — spark.locality.wait=0 (no-op expected in local mode;
  *                 isolates scheduler-delay hypotheses).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.DispatchProbe"   # grep PROBEJSON → PROBES_r13
  */
object DispatchProbe {

  private val subset: Seq[String] = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
    .map(_.split(",").map(_.trim).toSeq)
    .getOrElse(Seq(
      "q01_pricing_summary", "h16_parkinson_vol", "e27_range_search",
      "m4_media_dedup", "x23_bpe_train", "x11_bigram_surprisal",
      "x33_bpe_vocab", "q15_sql_recursive", "e25_ivf_balanced",
      "x34_bpe_encode"))

  private val legs: Seq[(String, Map[String, String])] = Seq(
    "base" -> Map.empty,
    "init256" -> Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256"),
    "shuf256" -> Map("spark.sql.shuffle.partitions" -> "256"),
    "aqe_off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "locality0" -> Map("spark.locality.wait" -> "0"))

  /** Legs run this many interleaved passes; consumers take the per-leg
    * min (the first pass's first leg otherwise pays residual JIT/codegen
    * warmup for every query class — the v1 probe's base leg read 1.5×
    * its second-pass self from exactly that).
    */
  private val passes: Int =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "2").toInt

  /** Operator-shape fingerprint: counts of physical node names in the
    * formatted plan, partition numbers stripped — two legs whose maps
    * match run the same plan, only sized differently.
    */
  private def shape(s: SparkSession, sfDir: String, name: String): String = {
    val txt = SparkEntry.queries(name)(s, sfDir)
      .queryExecution.executedPlan.toString()
    val ops = raw"(?m)^[\s:+\-*]*([A-Z][A-Za-z]+)".r
      .findAllMatchIn(txt).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toSeq.sorted
    ops.map { case (k, v) => s"$k=$v" }.mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    for (pass <- 1 to passes) legs.foreach { case (leg0, extra) =>
      val leg = s"$leg0#$pass"
      val s = HarnessSession(cpus, extra)
      try {
        // JIT/codegen warm (first leg pays it; later legs confirm warmth)
        s.range(1000).selectExpr("sum(id * 2)").collect()
        val c0 = Bench.canary(s)
        val walls = subset.map { name =>
          val q = SparkEntry.queries(name)
          def once(): Double = {
            Memo.reset(s)
            val t0 = System.nanoTime()
            q(s, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val w = math.min(once(), once())
          Memo.reset(s); System.gc()
          name -> w
        }
        val c1 = Bench.canary(s)
        val total = walls.map(_._2).sum
        val qs = walls.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString("{", ",", "}")
        val shapes = subset.map { name =>
          s""""$name":"${shape(s, sfDir, name)}"""" }.mkString("{", ",", "}")
        Memo.reset(s)
        println(f"""PROBEJSON {"probe":"dispatch","leg":"$leg","cpus":$cpus,"total_sec":$total%.3f,"canary_first_sec":$c0%.3f,"canary_last_sec":$c1%.3f,"queries":$qs,"plan_shape":$shapes}""")
      } finally s.stop()
    }
  }
}
