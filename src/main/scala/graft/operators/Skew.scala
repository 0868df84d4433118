package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation for joins whose key distribution is heavy-tailed (hot
  * symbols, hot shingles, hot users — every corpus in this engine has one).
  *
  * Two tools, in preference order:
  *
  *   1. AQE's runtime skew-join split (`spark.sql.adaptive.skewJoin.*`,
  *      default-on) — free, but only kicks in for sort-merge joins above
  *      size thresholds.
  *   2. [[saltedJoin]] — explicit key salting for the cases AQE can't see
  *      (broadcast-ineligible dimension under a hot fact key, or
  *      aggregations feeding the join): the big side scatters each key
  *      across `buckets` sub-keys via a deterministic hash of a
  *      high-cardinality column; the small side replicates `buckets`×.
  *      Result is EXACTLY the plain inner join — salting only changes the
  *      physical row placement, never the match set.
  */
object Skew {

  /** Inner-join `big ⋈ small` on `keys`, with the big side's rows for any
    * one key spread over `buckets` shuffle partitions.
    *
    * @param spreadBy high-cardinality big-side column whose hash picks the
    *                 bucket (deterministic → reproducible plans and tests;
    *                 use a unique id, NOT the join key)
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      spreadBy: Column,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val bigSalted = big.withColumn("_salt", pmod(xxhash64(spreadBy), lit(buckets)))
    val smallSalted = small.withColumn(
      "_salt", explode(sequence(lit(0L), lit(buckets - 1L))))
    bigSalted.join(smallSalted, keys :+ "_salt").drop("_salt")
  }

  /** [[saltedJoin]] with a key-census-driven trigger (r11 verdict #4):
    * salt ONLY the keys whose big-side row share exceeds `hotShare`,
    * leaving every cold key on the plain single-copy path. The r11
    * planted-skew probe measured WHY this must exist: AQE's runtime
    * skew split fires on the pure sort-merge join but DECLINES the
    * join-feeding-same-key-agg shape (the g4 label-prop / connected-
    * components round — 101‰ hot-task share un-mitigated vs 33‰ salted,
    * PROBES_r11 `skew_*`), and a blanket [[saltedJoin]] replicates the
    * small side ×buckets for EVERY key, taxing the 99 % of keys that
    * were never hot.
    *
    * Mechanics: one map-side-combinable census over the big side's keys
    * (O(distinct keys) after partial aggregation), then the hot set —
    * PROVABLY at most ⌊1/hotShare⌋ keys, since each holds more than a
    * `hotShare` fraction of the rows — is collected to the driver (the
    * engine's documented C-bounded collect pattern) and re-broadcast as
    * the salting predicate. Hot big rows scatter over `buckets` salts;
    * hot small rows replicate ×buckets; cold rows of BOTH sides keep
    * salt 0 and one copy. With no hot key the function returns the
    * UNMODIFIED plain join — zero overhead on balanced data. The result
    * equals the plain inner join exactly (salting moves rows, never
    * match sets).
    *
    * The census costs one extra scan of the big side's key column —
    * worth it exactly when the join is large enough for a hot task to
    * dominate the stage; at 100 TB the census is the cheap insurance
    * against the 787‰ hot-task share the probe planted.
    */
  def autoSaltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      spreadBy: Column,
      buckets: Int,
      hotShare: Double = 0.05): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(hotShare > 0 && hotShare <= 1, "hotShare must be in (0, 1]")
    val kcols = keys.map(col)
    val hotRows = graft.Pin.scoped { pin =>
      val census = pin(big.groupBy(kcols: _*).agg(count(lit(1)).as("_cnt")))
      val total = census.agg(coalesce(sum(col("_cnt")), lit(0L))).head().getLong(0)
      // Bounded driver collect: > hotShare of total each → at most
      // ⌊1/hotShare⌋ rows can qualify, whatever the key cardinality.
      census.filter(col("_cnt") > total * hotShare).select(kcols: _*).collect()
    }
    if (hotRows.isEmpty) return big.join(small, keys)
    val hot = big.sparkSession
      .createDataFrame(java.util.Arrays.asList(hotRows: _*),
        big.select(kcols: _*).schema)
      .withColumn("_hot", lit(true))
    val bigSalted = big.join(broadcast(hot), keys, "left")
      .withColumn("_salt",
        when(col("_hot"), pmod(xxhash64(spreadBy), lit(buckets)))
          .otherwise(lit(0L)))
      .drop("_hot")
    val smallSalted = small.join(broadcast(hot), keys, "left")
      .withColumn("_salt",
        explode(when(col("_hot"), sequence(lit(0L), lit(buckets - 1L)))
          .otherwise(sequence(lit(0L), lit(0L)))))
      .drop("_hot")
    bigSalted.join(smallSalted, keys :+ "_salt").drop("_salt")
  }
}
