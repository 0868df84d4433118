package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The `private[sql]` doorways the engine needs. Spark exposes hooks for
  * injecting strategies and rules (`SparkSessionExtensions`,
  * `experimental.extraStrategies`) but no public constructor FROM a
  * logical plan, and no cached relation outside the session's cache
  * manager, so — like every OSS Spark extension that adds an operator —
  * this lives in a subpackage of `org.apache.spark.sql` to reach
  * `Dataset.ofRows` and the cache manager's session. Nothing else from
  * the private surface is used.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows cached at `level` exactly as `Dataset.persist` caches
    * them — the same columnar relation, planned on the session the cache
    * manager would use (bucketed scans kept, so the cached output keeps
    * its partitioning) — but held only by the returned frame, whose plan
    * is that one relation leaf. No cache-manager entry is made, so an
    * equal plan elsewhere does not match it, and once nothing references
    * the frame the context cleaner unpersists its blocks.
    */
  def cached(df: DataFrame, level: StorageLevel): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    val s = d.sparkSession
    val off = classic.SparkSession.getOrCloneSessionWithConfigsOff(s,
      SQLConf.AUTO_BUCKETED_SCAN_ENABLED +: (
        if (s.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
        else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)))
    val rel = off.withActive(
      InMemoryRelation(level, off.sessionState.executePlan(d.queryExecution.analyzed), None))
    ofRows(s, rel)
  }
}
