package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's dataset-of-files layout (`data/<source>/<SYMBOL>.parquet`,
  * `download_historical_price.py:74-82,429`; diagram `README.md:45-57`)
  * re-expressed as ONE Hive-partitioned Parquet dataset:
  *
  *   store/source=alpaca/symbol=AAPL/part-*.parquet
  *
  * Reading "one symbol's file" addresses that symbol's leaf directory the
  * way the reference turns a symbol into a path: O(1) in the number of
  * other symbols (see [[readSymbol]]). Whole-store reads stay ordinary
  * partition-discovering scans that compose with every pushed filter.
  */
object BarStore {

  private val partitionCols = Seq("source", "symbol")

  /** Publish a bar table partitioned by (source, symbol). Dynamic partition
    * overwrite rewrites ONLY the partitions present in `bars` — the batch
    * analogue of the reference's per-symbol file replace
    * (`update_live_price.py:289-292`), without touching sibling symbols.
    */
  def write(bars: DataFrame, dir: String): Unit =
    bars.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Whole-store scan; partition columns come back as regular columns. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** One (source, symbol) slice — the reference's `pd.read_parquet(
    * data/alpaca/AAPL.parquet)` (`update_live_price.py:227`).
    *
    * Reads ONLY the slice's leaf directory, built with Spark's own
    * partition-path escaping, so `BRK/B` and `A:B` address the directories
    * the writer made. A filtered [[read]] would first list every `symbol=`
    * directory of the store (a Spark job per source past
    * `parallelPartitionDiscovery.threshold` siblings) and infer its schema
    * before pruning; here the cost is one footer read of the leaf plus the
    * scan, independent of the universe size.
    *
    * The schema is explicit — the leaf's data schema plus `source`/`symbol`
    * as nullable strings — so the slice is typed exactly like the filtered
    * whole-store scan: partition inference over one leaf would type an
    * all-digit symbol such as `0700` as int, and `lit()` columns would come
    * back non-nullable. A slice that does not exist falls back to the
    * filtered scan, which yields the empty frame with the store's schema;
    * so does a null or empty key, which the writer stores as Spark's
    * default (null) partition and the filter never matches.
    */
  def readSymbol(spark: SparkSession, dir: String, source: String, symbol: String): DataFrame = {
    val base = new Path(dir)
    val leaf = ExternalCatalogUtils.generatePartitionPath(
      Map("source" -> source, "symbol" -> symbol), partitionCols, base)
    val addressable = Seq(source, symbol).forall(v => v != null && v.nonEmpty) &&
      leaf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(leaf)
    if (addressable) {
      val schema = StructType(spark.read.parquet(leaf.toString).schema.fields ++
        partitionCols.map(StructField(_, StringType)))
      spark.read.schema(schema).option("basePath", base.toString).parquet(leaf.toString)
    } else read(spark, dir).filter(col("source") === source && col("symbol") === symbol)
  }
}
