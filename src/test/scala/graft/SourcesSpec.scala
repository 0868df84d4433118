package graft

import java.nio.file.Files

import graft.sources.{BarStore, Sidecar}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** S2/S8/S9 + layout semantics: Hive-partitioned bar store with leaf-
  * addressed point reads, and the sidecar registry round-trip (idempotent
  * insert-if-absent, broadcast anti-membership).
  */
class SourcesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("BarStore: partitioned write round-trips and prunes to one (source, symbol)") {
    import spark.implicits._
    val dir = tmpDir("barstore")
    val bars = Seq(
      ("alpaca", "AAPL", "2024-01-02 00:00:00", 101.0),
      ("alpaca", "MSFT", "2024-01-02 00:00:00", 390.0),
      ("yfinance", "AAPL", "2024-01-02 00:00:00", 100.9),
      ("yfinance", "MSFT", "2024-01-03 00:00:00", 391.2))
      .toDF("source", "symbol", "ts", "adj_close")
      .withColumn("timestamp", col("ts").cast("timestamp"))
      .drop("ts")
    BarStore.write(bars, dir)

    val slice = BarStore.readSymbol(spark, dir, "alpaca", "AAPL")
    assert(slice.count() == 1)
    assert(slice.select("adj_close").as[Double].head() == 101.0)

    // dynamic partition overwrite touches only the partitions in the batch
    val update = Seq(("alpaca", "AAPL", "2024-01-03 00:00:00", 102.5))
      .toDF("source", "symbol", "ts", "adj_close")
      .withColumn("timestamp", col("ts").cast("timestamp"))
      .drop("ts")
    BarStore.write(update, dir)
    val after = BarStore.read(spark, dir)
    assert(after.filter(col("symbol") === "MSFT").count() == 2, "sibling symbols clobbered")
    assert(
      BarStore.readSymbol(spark, dir, "alpaca", "AAPL")
        .select("adj_close").as[Double].head() == 102.5)
  }

  private def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case n if n.metrics.contains("numFiles") => n.metrics("numFiles").value
    }.sum

  test("BarStore.readSymbol reads one leaf directory: two jobs, one file, same rows and schema as the filtered scan") {
    import spark.implicits._
    val dir = tmpDir("barstore-leaf")
    // 40 symbols per source: past the 32-directory threshold at which a
    // whole-store listing runs as a Spark job. Three of them need care in
    // a path: escaped characters, and an all-digit symbol that partition
    // inference over one leaf would type as int. One row has a null
    // symbol, which the writer puts in Spark's default partition.
    val symbols = Seq("BRK/B", "A:B", "0700") ++ (1 to 37).map(i => f"S$i%02d")
    val sources = Seq("alpaca", "yfinance")
    val bars = ((for {
      (src, si) <- sources.zipWithIndex
      (sym, yi) <- symbols.zipWithIndex
      day <- 1 to 3
    } yield (src, sym, s"2024-01-0$day 00:00:00", 100.0 * si + yi + day / 10.0, day.toLong)) :+
      (("alpaca", null, "2024-01-01 00:00:00", 0.0, 0L)))
      .toDF("source", "symbol", "ts", "adj_close", "volume")
      .withColumn("timestamp", col("ts").cast("timestamp"))
      .drop("ts")
    BarStore.write(bars, dir)

    val store = BarStore.read(spark, dir)
    val byKey = store.collect().groupBy(r => (r.getAs[String]("source"), r.getAs[String]("symbol")))
    assert(byKey.size == sources.size * symbols.size + 1)

    val (slice, jobs) = jobsLaunchedBy {
      val df = BarStore.readSymbol(spark, dir, "alpaca", "S17")
      df.collect()
      df
    }
    assert(jobs <= 2, s"$jobs jobs for one point read")
    assert(filesRead(slice) == 1)

    for (src <- sources; sym <- symbols) {
      val df = BarStore.readSymbol(spark, dir, src, sym)
      assert(df.schema == store.schema, s"$src/$sym: ${df.schema.treeString}")
      val got = df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val want = byKey((src, sym)).map(_.toSeq).sortBy(_.toString).toSeq
      assert(got == want, s"$src/$sym")
    }
    assert(store.schema("symbol").dataType == StringType)
    assert(BarStore.readSymbol(spark, dir, "yfinance", "0700")
      .select("symbol").as[String].collect().toSeq == Seq("0700", "0700", "0700"))
    assert(BarStore.readSymbol(spark, dir, "alpaca", "BRK/B")
      .select("symbol").distinct().as[String].collect().toSeq == Seq("BRK/B"))

    // a missing slice, and the null and empty keys the filter never
    // matches, read as the empty frame with the store's schema
    for (sym <- Seq("NOPE", null, "")) {
      val missing = BarStore.readSymbol(spark, dir, "alpaca", sym)
      assert(missing.schema == store.schema)
      assert(missing.isEmpty, s"symbol '$sym'")
    }
  }

  test("Sidecar: add is idempotent, sorted, and exclude anti-joins without shuffle of the big side") {
    import spark.implicits._
    val dir = tmpDir("sidecar") + "/invalid"
    assert(Sidecar.read(spark, dir).isEmpty)

    Sidecar.add(spark, dir, Seq("ZZZT", "BADCO").toDS())
    Sidecar.add(spark, dir, Seq("BADCO", "NOPE").toDS()) // re-add + new
    assert(Sidecar.read(spark, dir).collect().toSeq == Seq("BADCO", "NOPE", "ZZZT"))

    val universe = Seq("AAPL", "BADCO", "MSFT", "NOPE").toDF("symbol")
    val kept = Sidecar.exclude(spark, dir, universe, "symbol")
    assert(kept.select("symbol").as[String].collect().sorted.toSeq == Seq("AAPL", "MSFT"))
    kept.collect()
    assert(kept.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("Sidecar.read checks existence on the path's own filesystem, not the default one") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = s"fs.${SourcesSpec.OtherScheme.scheme}.impl"
    conf.set(key, classOf[SourcesSpec.OtherScheme].getName)
    try {
      val dir = s"${SourcesSpec.OtherScheme.scheme}://${tmpDir("sidecar-fs")}/absent"
      assert(Sidecar.read(spark, dir).isEmpty)
    } finally conf.unset(key)
  }
}

object SourcesSpec {

  /** The local filesystem under a scheme that is not fs.defaultFS. */
  class OtherScheme extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"${OtherScheme.scheme}:///")
    override def getScheme: String = OtherScheme.scheme
  }
  object OtherScheme { val scheme = "graftother" }
}
