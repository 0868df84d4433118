package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver corpus (`/root/repo/TESTDATA.md`): one parquet file
  * per table under `sfDir`. Mirrors the reference's dataset-of-files layout
  * (`download_historical_price.py:74-82,429`) re-expressed as schema-on-read
  * Parquet scans — partition pruning and column pruning replace the
  * reference's per-file path lookup.
  *
  * Schema-on-read runs once per session per file version: inferring a
  * schema reads the footer in one Spark job, so the inferred schema is a
  * [[Memo]] cell keyed by the file's path, length and modification time,
  * and every later load of that file version reads with it
  * (`spark.read.schema(s)`), launching no job. [[Memo.reset]] drops the
  * cells, a rewritten file is a new version and is inferred again, and
  * each session (a `newSession()` with other confs too) infers its own.
  */
object Tables {
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  /** `events.parquet` has shipped with two timestamp physical types across
    * driver corpus generations, so the load is schema-adaptive on the
    * file's one memoized schema:
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
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val raw = spark.read.schema(schema(spark, path)).parquet(path)
    if (name == "events") {
      val ts = raw.schema("ts").dataType match {
        case LongType => timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      raw
        .withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else raw
  }

  /** `path`'s inferred schema, once per session and file version: one
    * `getFileStatus`, and one inference job on a new version.
    */
  private def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    Memo(spark, s"schema:$path:${st.getLen}:${st.getModificationTime}") {
      spark.read.parquet(path).schema
    }
  }
}
