package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's newline-delimited negative-cache sidecars
  * (`invalid_symbols.txt` / `symbols_without_data.txt`,
  * `download_historical_price.py:114-144`, `update_live_price.py:71-90`)
  * as a Spark text source/sink pair (SURVEY §2.1 S8/S9).
  *
  * The reference appends one line per discovery and re-reads the whole
  * file into a set; here the registry IS a distinct sorted Dataset and
  * every publish is an idempotent overwrite of the dedup'd union — the
  * append-vs-rewrite distinction disappears (both are `add`), and reads
  * at scale become a broadcast build side for anti-joins instead of a
  * driver-side `set()`.
  */
object Sidecar {

  /** Read the registry (empty dataset if the directory doesn't exist yet). */
  def read(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    // the path's own filesystem, not fs.defaultFS (see Compact.partitionStats)
    val path = new org.apache.hadoop.fs.Path(dir)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.read.textFile(dir).filter(length(trim(col("value"))) > 0).map(_.trim)
    else spark.emptyDataset[String]
  }

  /** Insert-if-absent (`download_historical_price.py:130-135`): union the
    * incoming symbols, dedup, sort, publish. Idempotent — re-adding an
    * existing symbol is a no-op, matching the reference's `if symbol not
    * in set` guard without any read-modify-write race on the driver.
    */
  def add(spark: SparkSession, dir: String, symbols: Dataset[String]): Unit = {
    import spark.implicits._
    graft.Pin.scoped { pin =>
      val merged = pin(read(spark, dir)
        .union(symbols.map(_.trim).filter(_.nonEmpty))
        .distinct()
        .orderBy("value")
        .coalesce(1)
        .toDF())
      merged.count() // materialize BEFORE overwriting the directory we read
      merged.write.mode("overwrite").text(dir)
    }
  }

  /** Anti-membership filter (`download_historical_price.py:385-401`):
    * keep the rows of `df` whose `keyCol` is NOT in the registry. The
    * registry is tiny → broadcast left_anti, no shuffle of `df`.
    */
  def exclude(spark: SparkSession, dir: String, df: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame =
    df.join(
      broadcast(read(spark, dir).toDF(keyCol)),
      Seq(keyCol), "left_anti")
}
