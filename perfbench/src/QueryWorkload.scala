package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Q, SparkEntry}
import graft.queries._

/** The query workload: a fixed query list drawn from the registry in
  * registry order, run once each over the committed seed-42 corpus.
  */
object QueryWorkload {

  /** The relational registry families by name, in registry order. */
  val families: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Joins" -> Joins.all, "Aggregates" -> Aggregates.all,
    "WindowQueries" -> WindowQueries.all, "TimeSeries" -> TimeSeries.all)

  val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Every second query of each relational family: a fixed, even sample of
    * short planning- and dispatch-bound queries that read no view.
    */
  val stride = 2

  def list(workload: String): Seq[String] = workload match {
    case "relational_queries" =>
      val picked = families.flatMap { case (_, qs) =>
        qs.map(_.name).zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
      }.toSet
      SparkEntry.registry.map(_.name).filter(picked)
  }

  /** Row count and an order-independent hash over every output column,
    * computed in the one action that materializes the query. The query's
    * own physical plan runs unchanged (a final sort and its range shuffle
    * included), as one SQL execution like a caller's action; each
    * partition hashes its rows with xxhash64 over the columns in name
    * order and sums the row hashes exactly, and the driver adds up the
    * partitions.
    */
  def fingerprint(df: DataFrame): (Long, String, Seq[String]) = {
    val qe = df.queryExecution
    val attrs = qe.analyzed.output
    // seed 42, as functions.xxhash64
    val hashExpr = XxHash64(attrs.zipWithIndex.sortBy { case (a, i) => (a.name, i) }
      .map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }, 42L)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.fingerprint")) {
      qe.toRdd.mapPartitions { rows =>
        val project = UnsafeProjection.create(Seq(hashExpr))
        var n = 0L
        var sum = BigInt(0)
        rows.foreach { r => n += 1; sum += project(r).getLong(0) }
        Iterator((n, sum))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum.toString, attrs.map(_.name).sorted)
  }

  final case class Golden(rows: Long, hash: Option[String], cols: Seq[String])

  def loadGoldens(path: Path): Map[String, Golden] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    import scala.jdk.CollectionConverters._
    root.properties().asScala.map { e =>
      val g = e.getValue
      e.getKey -> Golden(g.get("rows").asLong(),
        Option(g.get("hash")).filterNot(_.isNull).map(_.asText()),
        g.get("cols").elements().asScala.map(_.asText()).toSeq)
    }.toMap
  }

  /** Runs the workload's list once. */
  def run(spark: SparkSession, runner: Runner, tracer: Tracer, workload: String,
      sfDir: String, goldens: Map[String, Golden]): Unit =
    list(workload).foreach { name =>
      val family = familyOf(name)
      runner.run(name, "query", family) {
        val fn = SparkEntry.queries(name)
        val b0 = System.nanoTime()
        val df = tracer.span("queries", s"$family.build") { fn(spark, sfDir) }
        val b1 = System.nanoTime()
        val (rows, hash, cols) = tracer.span("queries", s"$family.materialize") { fingerprint(df) }
        val b2 = System.nanoTime()
        val g = goldens.getOrElse(name, throw new WrongResult(s"no golden for $name"))
        if (g.cols != cols) throw new WrongResult(s"columns $cols, golden ${g.cols}")
        if (g.rows != rows) throw new WrongResult(s"rows $rows, golden ${g.rows}")
        g.hash.foreach(h => if (h != hash) throw new WrongResult(s"content hash $hash, golden $h"))
        Map("build_s" -> (b1 - b0) / 1e9, "materialize_s" -> (b2 - b1) / 1e9,
          "rows" -> rows.toDouble)
      }
    }

  /** Writes each listed query's output (parquet, one directory per query)
    * and fingerprint, plus the DuckDB oracle SQL in the `oracle_sql.json`
    * layout `tools/check.py` reads, for `derive_goldens.py` to check and
    * freeze.
    */
  def dumpForGoldens(spark: SparkSession, sfDir: String, out: Path): Unit = {
    Files.createDirectories(out)
    val names = list("relational_queries")
    val m = Json.mapper
    val prints = m.createObjectNode()
    val oracles = m.createObjectNode()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      val (rows, hash, cols) = fingerprint(df)
      val colList = prints.putObject(name).put("rows", rows).put("hash", hash).putArray("cols")
      cols.foreach(c => colList.add(c))
      SparkEntry.oracleSql.get(name)
        .foreach(o => oracles.put(name, o.replace("__GRAFT_SF_DIR__", sfDir)))
    }
    m.writeValue(out.resolve("fingerprints.json").toFile, prints)
    m.writeValue(out.resolve("oracle_sql.json").toFile, oracles)
  }
}
