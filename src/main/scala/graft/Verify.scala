package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = HarnessSession(cpus, HarnessSession.periodicGC)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (comma-separated names); the driver never sets
    // it, so the full registry always runs in the real gate.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Per-query engine dtype manifest (column → Spark simpleString), written
    // alongside the parquet: lets oracle/engine type drift (e.g. DuckDB
    // HUGEINT→float64 vs Spark bigint, the r4 failure class) be diffed
    // from artifacts alone, without running DuckDB.
    val dtypes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, String)]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        dtypes(name) = df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Bench's clean-slate discipline: drop the shared Memo cells and
      // their persisted tables, so each query runs as it would alone.
      // Per-query pins need no reset: each is released by its builder
      // or freed with the frame it belongs to.
      Memo.reset(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SF-parametric oracles: a query whose DuckDB mirror must name a
    // filesystem path literally (o4's read_blob — DuckDB table functions
    // take literal paths, not views) carries the __GRAFT_SF_DIR__
    // placeholder, substituted here with the corpus dir THIS dump ran
    // against — so the oracle always inspects the same corpus as the
    // engine, at every scale factor.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_SF_DIR__", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val dtypeJson = dtypes
      .map { case (name, cols) =>
        s"${q(name)}: ${cols.map { case (c, t) => s"${q(c)}: ${q(t)}" }.mkString("{", ",", "}")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/dtypes.json"), dtypeJson)
    spark.stop()
  }
}
