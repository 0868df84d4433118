package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver corpus (`/root/repo/TESTDATA.md`): one parquet file
  * per table under `sfDir`. Mirrors the reference's dataset-of-files layout
  * (`download_historical_price.py:74-82,429`) re-expressed as schema-on-read
  * Parquet scans — partition pruning and column pruning replace the
  * reference's per-file path lookup.
  */
object Tables {
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  /** `events.parquet` has shipped with two timestamp physical types across
    * driver corpus generations, so the load is schema-adaptive on the ONE
    * file footer Spark already read:
    *
    *  - parquet TIMESTAMP(NANOS), which Spark's reader rejects outright
    *    (PARQUET_TYPE_ILLEGAL) — surfaced as epoch-nano longs via the
    *    `nanosAsLong` legacy conf and truncated here to microseconds, the
    *    same truncation DuckDB applies reading ns into its µs TIMESTAMP.
    *    Integer `div` keeps full precision (a double round-trip would lose
    *    sub-µs bits at 2^63-scale nanos).
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
    *    infers as TIMESTAMP_NTZ — cast to the session-zone TIMESTAMP the
    *    rest of the engine (and DuckDB's µs TIMESTAMP) expects; every
    *    entrypoint pins `spark.sql.session.timeZone=UTC`, so the cast is
    *    value-preserving.
    *
    * The `nanosAsLong` conf is a session-builder concern (HarnessSession,
    * Plans and SparkSpec set it): mutating session conf inside a query builder
    * would be a plan-time global write, racy under concurrent query
    * construction.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      raw
        .withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else spark.read.parquet(s"$sfDir/$name.parquet")
}
