package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan evidence: writes `explain("formatted")` for the
  * named queries to one text file each — the `plans/r{N}/<query>_{before,after}.txt`
  * deliverable the optimization judge diffs against the bench claims.
  *
  *   SPARK_GRAFT_PLAN_ONLY=e9_ann_recall,x33_bpe_vocab \
  *   SPARK_GRAFT_PLAN_SUFFIX=before \
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r12"
  *
  * This is the PRE-EXECUTION formatted plan (Exchange count, join strategy,
  * PushedFilters/ReadSchema, codegen spans — guide §1/§7.2); [[Plans]]
  * remains the post-AQE dump at sf0.001 for the PLANS.md artifact.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = HarnessSession(cpus)
    new java.io.File(outDir).mkdirs()
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val names = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq)
    val all = SparkEntry.queries
    // A misspelled SPARK_GRAFT_PLAN_ONLY entry must not silently produce
    // no plan file — missing before/after evidence then goes unnoticed.
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[plandump] ERROR: not in SparkEntry.queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    names.foreach { name =>
      try {
        val df = all(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          s"== $name @ $sfDir ==\n$txt")
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      Memo.reset(spark)
    }
    spark.stop()
  }
}
