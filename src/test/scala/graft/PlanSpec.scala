package graft

import graft.queries.{AnalyticsExtras, Joins, Relational, SimilarityQueries}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression}
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, GlobalLimitExec,
  InputAdapter, LocalLimitExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Physical-plan audits — the properties that decide whether a query
  * survives a 100 TB scale-up, asserted against the ACTUAL executed plan
  * (SURVEY §4): filters reach the Parquet scan, projections prune the read
  * schema, dimension joins broadcast instead of shuffling the fact side,
  * and hot expressions stay inside WholeStageCodegen.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan text only — AdaptiveSparkPlan.toString
    * appends the pre-AQE "Initial Plan", which would double-count operators.
    * WholeStageCodegen renders as "*(n)" in this form.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize the real plan
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def executedPlan(name: String): String =
    finalPlan(SparkEntry.queries(name)(spark, sf))

  /** The executed plan's signature: a cached relation is one leaf, so a
    * `FileScan` here is a live scan outside every pin.
    */
  private def signature(name: String): String =
    Plans.signature(Plans.executed(SparkEntry.queries(name)(spark, sf)))

  /** Every as-of plans through the native exec: an `AsOfJoin` node (the
    * rendered name drops "Exec"), no Window, and no cross product.
    */
  private def assertNativeAsOf(plan: String): Unit = {
    assert(plan.contains("AsOfJoin "), plan.take(3000))
    assert(!plan.contains("Window"), "the as-of must plan no Window:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the as-of must not plan a cross product:\n" + plan.take(3000))
  }

  test("p4: filter predicate is pushed down to the parquet scan") {
    val plan = executedPlan("p4_filter_predicate")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), plan.take(2000))
  }

  test("q01: scan reads only the referenced columns (column pruning)") {
    val plan = finalPlan(Relational.q01PricingSummary.fn(spark, sf))
    // lineitem has 11 columns; q1 needs 7. The untouched ones must not
    // appear in the parquet ReadSchema.
    assert(!plan.contains("l_partkey"), "unreferenced column in scan")
    assert(!plan.contains("l_suppkey"), "unreferenced column in scan")
    assert(!plan.contains("l_orderkey"), "unreferenced column in scan")
  }

  test("q05: all four dimension joins broadcast (fact side never shuffles for them)") {
    val plan = executedPlan("q05_revenue_by_nation")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected nation+region broadcast, got $broadcasts:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("j1: semi join against the small dim side is a broadcast, not a shuffle") {
    val plan = executedPlan("j1_semi_join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
  }

  test("q06: both range predicates reach the scan, no separate filter stage re-reads") {
    val plan = executedPlan("q06_forecast_revenue")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), plan.take(2000))
    assert(plan.contains("*("), "agg not codegen'd") // "*(n)" = WholeStageCodegen
  }

  test("e1: vector math stays inside WholeStageCodegen (no UDF boundary)") {
    val plan = finalPlan(SimilarityQueries.e1CosineTopK.fn(spark, sf))
    assert(plan.contains("*("), plan.take(3000)) // "*(n)" = WholeStageCodegen
    assert(!plan.toLowerCase.contains("batchevalpython"))
    assert(!plan.contains("ScalaUDF"), "vector math fell back to a UDF")
  }

  test("w7: range frame runs as a single window over one shuffle") {
    val plan = executedPlan("w7_range_frame")
    val exchanges = "Exchange".r.findAllIn(plan).length
    // one shuffle for the window partitioning + one for the final sort
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n${plan.take(3000)}")
  }

  test("a3: last-per-key aggregates partially before the shuffle (map-side combine)") {
    val plan = executedPlan("a3_last_per_key")
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // partial + final pair: HashAggregate appears at least twice
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan.take(3000))
  }

  test("minhash signatures aggregate on the codegen hash-agg fast path") {
    // Regression guard: min() over md5 STRING signatures demotes the whole
    // aggregate to sort-based execution (variable-length agg buffers can't
    // live in the UnsafeRow hash buffer) — the round-2 dedup collapse. The
    // numeric seededHash64 signatures must keep every aggregate a
    // HashAggregate.
    import graft.operators.MinHashLSH
    val sh = MinHashLSH.shingleTable(
      Tables.table(spark, sf, "documents"), "doc_id", "text", 3)
    val plan = finalPlan(MinHashLSH.signatures(sh, "doc_id", 8))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("SortAggregate"),
      "signatures fell off the hash-agg fast path:\n" + plan.take(3000))
    assert(!plan.contains("ObjectHashAggregate"),
      "signatures need an object hash aggregate:\n" + plan.take(3000))
  }

  test("bucketed fact-to-fact join plans with NO exchange on either side") {
    // The pay-the-shuffle-once layout: both sides bucketed+sorted on the
    // join key, so the repeated join is SortMergeJoin over bucket-local
    // reads — at 100 TB this is the difference between re-shuffling two
    // fact tables per query and never shuffling them again.
    import graft.sources.Bucketed
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    Bucketed.write(
      Tables.table(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
      "orders_bkt", "o_orderkey", 4, path = Some(s"$wh/orders_bkt"))
    Bucketed.write(
      Tables.table(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "lineitem_bkt", "o_orderkey", 4, path = Some(s"$wh/lineitem_bkt"))
    // sf0.001 tables are broadcast-small; the hint pins the join shape the
    // layout exists for (at real scale both sides exceed the threshold)
    val joined = Bucketed.read(spark, "orders_bkt").hint("merge")
      .join(Bucketed.read(spark, "lineitem_bkt"), "o_orderkey")
    val plan = finalPlan(joined)
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      "bucketed join still shuffles:\n" + plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    // row parity with the unbucketed join
    val expected = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey")), "o_orderkey")
      .count()
    assert(joined.count() == expected)
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
  }

  test("c1: contamination is an equi-join on shingle — no cartesian anywhere") {
    val plan = executedPlan("c1_contamination")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000)) // overlap count combines map-side
  }

  test("e6: centroid assignment broadcasts the codebook, never shuffles the vectors for it") {
    val plan = executedPlan("e6_semantic_dedup")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(!plan.contains("ScalaUDF"), "vector math fell back to a UDF")
  }

  test("p12: scan reads only the referenced document columns") {
    val plan = executedPlan("p12_stratified_sample")
    assert(!plan.contains("\"text\"") && !plan.contains("text#"),
      "p12 reads the full text column it never uses:\n" + plan.take(3000))
    assert(!plan.contains("n_chars"), "unreferenced column in scan")
  }

  test("x9: packing shuffles exactly once (the shard exchange)") {
    val plan = executedPlan("x9_seq_packing")
    val exchanges = "Exchange".r.findAllIn(plan).length
    // one shuffle to co-locate shards + the final presentation sort
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n${plan.take(3000)}")
  }

  test("runtime Bloom-filter pruning engages on selective shuffle joins " +
    "(the big-big join path when no side can broadcast)") {
    // At 100 TB a selective dim filter can't broadcast past the threshold;
    // Spark's runtime Bloom filter injects might_contain on the fact scan
    // so non-matching rows die before the exchange. Assert the engine's
    // session leaves that path available by forcing the shuffle-join shape.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions._
      val li = Tables.table(spark, sf, "lineitem")
      val part = Tables.table(spark, sf, "part").filter(col("p_size") === 1)
      val j = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_size").count()
      val plan = finalPlan(j)
      assert(plan.contains("might_contain"),
        "runtime Bloom filter did not engage:\n" + plan.take(3000))
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE splits skewed join partitions at runtime (the automatic " +
    "complement of Skew.saltedJoin's static salting)") {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val restore = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      import org.apache.spark.sql.functions._
      // heavy-tailed: 90% of the fact rows share one key
      val big = spark.range(200000).select(
        when(col("id") % 10 === 0, col("id") % 100).otherwise(lit(0)).as("k"),
        col("id").as("v"))
      val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = big.join(dim, Seq("k")).groupBy("w").count()
      val plan = finalPlan(j)
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        "AQE skew-join split did not engage:\n" + plan.take(3000))
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("e3: the sqrt(n) seed pick is a distributed TakeOrdered, not a global sort") {
    val plan = finalPlan(SimilarityQueries.e3BucketNearDup.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "seed pick lost the distributed top-K shape:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"),
      "codebook cross join lost its broadcast:\n" + plan.take(3000))
  }

  test("d4: sorted-neighborhood candidates are equi-joins, no cartesian, " +
    "and rank windows are partitioned (no single-partition global sort)") {
    val plan = executedPlan("d4_simhash")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Every Window in the generator is partitioned by (rotation[, block]);
    // an unpartitioned Window would render as "Window [...]" with an empty
    // partition spec and log the single-partition warning. Assert the
    // rank windows carry a partition spec on the rotation column.
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, plan.take(3000))
    assert(windowLines.forall(l => l.contains("sn_r") || !l.contains("row_number")),
      "unpartitioned rank window in d4:\n" + windowLines.mkString("\n"))
  }

  test("d21/d22: wide-signature candidates come only from band equi-joins " +
    "(no cartesian anywhere), the pair-distinct partial-aggregates " +
    "map-side before its exchange, and the signature table is the shared " +
    "bucketed view read with no Exchange on its verify sides") {
    Seq("d21_simhash_wide", "d22_simhash_dual").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n" + plan.take(3000))
      // The pair-distinct runs two-phase (partial + final HashAggregate
      // around its exchange) — map-side combine on the candidate pairs.
      // (The signature sums' "partial_" markers left the plan with the
      // r11 move to the materialized view; the keyed aggregate pair is
      // the remaining map-side-combine evidence.)
      assert("HashAggregate\\(keys=\\[a".r.findAllIn(plan).size >= 2,
        s"$q lost the two-phase pair-distinct:\n" + plan.take(3000))
      // r10 verdict #4: both queries read the ONE materialized dual-
      // signature table instead of re-running the token explode +
      // signature aggregate per query...
      assert(plan.contains("graft_dualsims"),
        s"$q must read the shared dual-signature view:\n${plan.take(3000)}")
      // ...so the token-hash expression (used only by the signature
      // build) must be absent from the served plan.
      assert(!plan.contains("graft_md5_"),
        s"$q still rebuilds its signatures inline:\n${plan.take(3000)}")
    }
  }

  test("m10: the 60-bit frame-signature table is the shared bucketed view " +
    "(no per-query frame explode), candidates stay band equi-joins") {
    val plan = executedPlan("m10_media_dedup_wide")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("graft_framesims60"),
      s"m10 must read the shared frame-signature view:\n${plan.take(3000)}")
    assert(!plan.contains("graft_md5_"),
      s"m10 still hashes frames inline:\n${plan.take(3000)}")
  }

  test("shingle table is a narrow fused projection: zero exchanges, no window, " +
    "no re-splitting HOF lambda") {
    // r5 shape: scan -> graft_shingles -> explode. The r2 HOF-lambda trap
    // (interpreted O(tokens x n) re-splits) and the r2-r4 window shape
    // (Exchange + sort + Window + distinct Exchange per construction) must
    // both stay gone.
    import graft.operators.MinHashLSH
    val df = MinHashLSH.shingleTable(
      Tables.table(spark, sf, "documents"), "doc_id", "text", 3)
    val plan = finalPlan(df)
    assert(plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      "shingle construction should not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("lambdafunction"),
      "higher-order lambda crept back into the shingle path:\n" + plan.take(3000))
  }

  test("d10: window census and coverage are keyed joins/aggregates — " +
    "no cartesian, reads the bucketed window-fp view, and the " +
    "interval-union window never collapses to one partition") {
    val plan = executedPlan("d10_dup_spans")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000)) // fp census map-side combines
    // r9: the window-fp table is the shared bucketed MatView — the
    // coverage window's doc_id distribution is satisfied by the bucket
    // layout (hashpartitioning only appears when the source is unbucketed)
    assert(plan.contains("graft_winfp15"),
      s"d10 must read the shared window-fp view:\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Exchange SinglePartition"),
      "coverage window collapsed to one partition:\n" + plan.take(3000))
  }

  test("d20: the partner match is the posting-table self-join on fp; " +
    "span scoring is keyed — no positional all-pairs") {
    val plan = executedPlan("d20_span_partners")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("graft_winfp15"),
      s"d20 must read the shared window-fp view:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("e26: the stale-codebook assign broadcasts the codebook; the " +
    "census map-side combines; the top-20 cut is TakeOrdered") {
    val plan = executedPlan("e26_ivf_census_drift")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"cell census must map-side combine:\n${plan.take(3000)}")
  }

  test("v20: the sketch pass broadcasts the 16 planes into a map-side-" +
    "combined aggregate; the PSI census is bounded by the band domain") {
    val plan = executedPlan("v20_embedding_drift")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_sum"),
      s"sketch aggregate must map-side combine:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastExchange"),
      s"planes must broadcast:\n${plan.take(3000)}")
  }

  test("c6: decontamination is an equi-join on shingle — no cartesian") {
    val plan = executedPlan("c6_fuzzy_decontam")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("c7: the epoch-shuffle window partitions on (epoch, shard) — " +
    "never a global single-partition order") {
    val plan = executedPlan("c7_epoch_shuffle")
    assert(plan.contains("hashpartitioning(epoch"),
      "per-(epoch, shard) window lost its keyed partitioning:\n" + plan.take(3000))
    assert(!plan.contains("Exchange SinglePartition"),
      "global single-partition stage in the epoch shuffle:\n" + plan.take(3000))
  }

  test("c8: the score join-back is an equi-join on tok and the Gumbel " +
    "top-40 is TakeOrdered, never a global sort") {
    val plan = executedPlan("c8_dsir_admission")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-40 must be TakeOrderedAndProject:\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("x15: pair counting runs on the vocab-bounded census with map-side " +
    "combine, and top-30 is TakeOrdered") {
    val plan = executedPlan("x15_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-30 must be TakeOrderedAndProject:\n" + plan.take(3000))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "pair aggregate must partially combine before its exchange:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("d12: OPH signatures are ONE hash aggregate (no seed explode) and " +
    "candidates come from an equi-join — no cartesian") {
    val plan = executedPlan("d12_oph_minhash")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the 8 binned mins live in a single HashAggregate over the shingle
    // scan — a Generate (explode) ABOVE the signature aggregate would mean
    // a per-seed fan-out crept back in
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("d13: densification is a narrow projection over the one signature " +
    "aggregate — no extra exchange, no cartesian") {
    val plan = executedPlan("d13_oph_dense")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    // densified and sentinel variants must cost the same number of
    // shuffles: the coalesce borrow-chain is projection-only
    val d12Exchanges = "Exchange".r.findAllIn(executedPlan("d12_oph_minhash")).size
    val d13Exchanges = "Exchange".r.findAllIn(plan).size
    assert(d13Exchanges == d12Exchanges,
      s"densification added exchanges: d12=$d12Exchanges d13=$d13Exchanges")
  }

  test("x17: the type census is ONE map-side-combined min aggregate on " +
    "tok — no cartesian, no per-prefix re-scan") {
    val plan = executedPlan("x17_vocab_growth")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "type census must combine map-side:\n" + plan.take(3000))
    // exactly two corpus-scanning aggregates (type census + decile token
    // counts) — a per-prefix formulation would scan once per decile
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans <= 3, s"x17 scans the corpus $scans times:\n" + plan.take(3000))
  }

  test("q09: both correlated scalar subqueries are decorrelated into " +
    "aggregate joins — no per-row subquery execution remains") {
    val plan = executedPlan("q09_sql_correlated")
    assert(!plan.contains("ScalarSubquery"),
      "correlated subquery survived decorrelation:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("HashAggregate"),
      "per-part aggregate missing:\n" + plan.take(3000))
  }

  test("c9: one map-side-combined census feeds the weight table — the " +
    "single-partition windows touch only the tiny census") {
    val plan = executedPlan("c9_temperature_mixture")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "language census must combine map-side:\n" + plan.take(3000))
    // the SinglePartition exchange is allowed ONLY above the census
    // aggregate (languages ≈ dozens of rows), so it must appear after the
    // keyed census exchange in the bottom-up plan — both exist, and the
    // big-table scan feeds the keyed one
    assert(plan.contains("hashpartitioning(lang"),
      "census must shuffle on lang before any global window:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("x16: the scrub is a pure narrow map — regexes run inside codegen " +
    "and nothing shuffles except the oracle's final sort") {
    val plan = executedPlan("x16_pii_scrub")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("HashAggregate"),
      "a scrub pass must not aggregate:\n" + plan.take(3000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, // the rangepartitioning for ORDER BY doc_id only
      s"narrow scrub has $exchanges exchanges:\n" + plan.take(3000))
    assert(plan.contains("*(1) Project"), // *(n) = whole-stage codegen stage
      "regex projection fell out of codegen:\n" + plan.take(3000))
  }

  test("c10: phase assignment joins docs to the bucket census by qq and " +
    "the curriculum window partitions on (phase, shard)") {
    val plan = executedPlan("c10_curriculum")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the curriculum window keys on (phase, shard) — AQE may elide the
    // exchange at tiny scale (input already one partition), but the window
    // spec itself must stay keyed, never a global ORDER-only window
    assert(plan.contains("windowspecdefinition(phase"),
      "per-(phase, shard) window lost its keys:\n" + plan.take(3000))
    assert(plan.contains("partial_count"),
      "bucket census must combine map-side:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the qq phase map should broadcast-join back to docs:\n" + plan.take(3000))
  }

  test("e10: the returned rerank result is a bounded local relation (the " +
    "distributed candidate scan happened inside, in e1's TakeOrdered shape)") {
    val plan = executedPlan("e10_mmr_rerank")
    assert(plan.contains("LocalTableScan") || plan.contains("LocalRelation"),
      "rerank output should be the bounded driver-side result:\n" + plan.take(3000))
    // the distributed stage it feeds on is e1's shape, asserted above;
    // here we pin that the rerank itself never becomes a distributed job
    assert(!plan.contains("FileScan"),
      "rerank output must not rescan the corpus:\n" + plan.take(3000))
  }

  test("q10: both quantified subqueries decorrelate — EXISTS becomes a " +
    "left-semi and NOT EXISTS a left-anti join on l_orderkey") {
    val plan = executedPlan("q10_sql_exists_chain")
    assert(plan.contains("LeftSemi"), "EXISTS must plan as semi join:\n" + plan.take(3000))
    assert(plan.contains("LeftAnti"), "NOT EXISTS must plan as anti join:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("h1: the SCD2 build is windows over ONE key shuffle — no join, " +
    "and both windows carry the user_id partition spec") {
    val plan = executedPlan("h1_scd2_history")
    assert(!plan.contains("Join"), "SCD2 must not self-join:\n" + plan.take(3000))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected one key shuffle, got $exchanges:\n" + plan.take(3000))
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("user_id")),
      "unpartitioned window in h1:\n" + windowLines.mkString("\n"))
  }

  test("r1: linkage candidates come from an equi-join on (block, band) — " +
    "no cartesian, no broadcast nested loop") {
    val plan = executedPlan("r1_entity_match")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("blk"), "join should key on the token block:\n" + plan.take(3000))
  }

  test("d14: chunk assembly is per-doc array work — the corpus is scanned " +
    "ONCE (cached), census and join-back are keyed, no cartesian") {
    val plan = executedPlan("d14_cdc_chunks")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Census AND join-back must both read the persisted chunk table; the
    // FileScan text inside an InMemoryRelation is its stored recompute
    // plan, not a live scan, so count cache-stage reads instead.
    val cacheReads = plan.linesIterator.count(_.contains("TableCacheQueryStage"))
    assert(cacheReads >= 2,
      s"expected census + join-back to hit the chunk cache, got $cacheReads:\n" +
        plan.take(3000))
  }

  test("g2: wedge and closing joins are equi-joins over the CACHED oriented " +
    "edge table — no cartesian, three reads of one cache") {
    val plan = executedPlan("g2_triangle_count")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The three readers of the cached oriented-edge table surface as query
    // stages; AQE renders broadcast-side cache reads as BroadcastQueryStage
    // without their InMemoryTableScan subtree, so count stage boundaries.
    val cacheReads = plan.linesIterator.count(l =>
      l.contains("TableCacheQueryStage") || l.contains("BroadcastQueryStage"))
    assert(cacheReads >= 3,
      s"wedge + closing joins must reuse the oriented-edge cache, got $cacheReads:\n" +
        plan.take(3000))
    assert(plan.contains("InMemoryTableScan"), "oriented edges must be cached:\n" +
      plan.take(3000))
  }

  test("r2: survivorship windows and censuses all read the cached member " +
    "table; cluster-to-documents linkage is a key equi-join") {
    val plan = executedPlan("r2_golden_record")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Three subtrees consume the member cache, but AQE stage-reuse prints
    // canonically-identical readers once — two rendered stage boundaries is
    // the floor (cache + one distinct reader), with zero live corpus scans.
    val cacheReads = plan.linesIterator.count(l =>
      l.contains("TableCacheQueryStage") || l.contains("BroadcastQueryStage"))
    assert(cacheReads >= 2,
      s"canon + lang-mode + stats must hit the member cache, got $cacheReads:\n" +
        plan.take(3000))
    assert(plan.contains("InMemoryTableScan"), "member table must be cached:\n" +
      plan.take(3000))
  }

  test("v9: referential checks plan as anti joins and each audited table " +
    "is scanned once per role, not once per constraint") {
    val plan = executedPlan("v9_expectations")
    val antis = "LeftAnti".r.findAllIn(plan).length
    assert(antis >= 2, s"expected two anti-join RI checks, got $antis:\n" + plan.take(3000))
    // orders plays three roles (own audit, RI fact, RI dim); nine
    // constraints must not add scans beyond those roles.
    val orderScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders.parquet"))
    assert(orderScans <= 3,
      s"orders scanned $orderScans times — constraints are re-scanning:\n" + plan.take(3000))
  }

  test("q11: IN decorrelates to a semi join and the correlated scalar sum " +
    "becomes a grouped aggregate — no per-row rescan, no cartesian") {
    val plan = executedPlan("q11_sql_nested_in")
    assert(plan.contains("LeftSemi"), "IN must plan as semi join:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The correlated subquery must surface as a partial/final aggregate
    // pair over l_partkey, not a scalar-subquery node per outer row.
    assert(!plan.contains("ScalarSubquery"),
      "correlated sum was not decorrelated:\n" + plan.take(3000))
  }

  test("w8: the streak build is a dedup shuffle plus ONE shared user_id " +
    "shuffle — windows and run aggregate reuse the same partitioning") {
    val plan = executedPlan("w8_streak")
    assert(!plan.contains("Join"), plan.take(3000))
    val hashShuffles = plan.linesIterator.filter(
      _.contains("Exchange hashpartitioning")).toSeq
    assert(hashShuffles.size == 2 && hashShuffles.forall(_.contains("user_id")),
      s"expected dedup + one shared user_id shuffle, got:\n" +
        hashShuffles.mkString("\n") + "\n" + plan.take(3000))
  }

  test("g3: the final census reads the last peel round's LINEAGE-TRUNCATED " +
    "edge set — an O(1)-deep ExistingRDD scan, never a parquet re-derivation") {
    val plan = executedPlan("g3_kcore")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Each round is a frame-owned pin (Pin.owned): a plan that is one
    // cached relation, so the final aggregate's ONLY leaf is an
    // `InMemoryTableScan` of the last round — the whole edge derivation
    // and every peel round live behind that relation, and Catalyst
    // analyzes a constant-size plan no matter how many rounds ran.
    val sig = signature("g3_kcore")
    assert(sig.contains("InMemoryTableScan="),
      "final round's edges must be the last round's pin: " + sig)
    // A live parquet scan in the final plan would mean the peel rounds
    // were re-derived from the fact table instead of read from the round.
    assert(!sig.contains("FileScan"),
      "final aggregate must not rescan the fact table:\n" + plan.take(3000))
  }

  test("a20: the fact table collapses to days BEFORE the bounded global " +
    "window, and the scan reads only the three referenced columns") {
    val plan = executedPlan("a20_anomaly")
    // groupBy-to-days must aggregate below the window: a partial/final
    // hash-aggregate pair, then ONE single-partition exchange feeding the
    // windows (Spark may split the three frame aggregates across two
    // Window nodes; what matters is they share the one bounded exchange).
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan.take(3000))
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      "day series must cross to the driver-side window exactly once:\n" +
        plan.take(3000))
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey") &&
      !plan.contains("l_quantity"),
      "unreferenced lineitem columns in scan:\n" + plan.take(3000))
  }

  test("e13: residual subvectors are cached once; PQ encode and the ADC " +
    "probe are broadcast equi-joins — the corpus never sort-merge-joins") {
    val plan = executedPlan("e13_ivf_pq")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("InMemoryTableScan"),
      "residual subv table must be cached:\n" + plan.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      "encode + ADC probe must broadcast the codebook/table:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-side shuffle join expected:\n" + plan.take(3000))
  }

  test("q12: the revenue aggregate runs twice, once for the join input and " +
    "once for the scalar max (three parquet scans, no reuse); shipdate range " +
    "reaches the scan") {
    val plan = executedPlan("q12_sql_top_supplier")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      "shipdate range must push to parquet:\n" + plan.take(3000))
    // lineitem twice (join input, scalar max) + supplier, counted over the
    // executed plan and its subqueries: a further recompute of the
    // revenue aggregate adds a scan and fails here.
    val sig = signature("q12_sql_top_supplier")
    assert(sig.contains(" FileScan=3 ") && !sig.contains("CartesianProduct"),
      "expected three parquet scans: " + sig)
  }

  test("x18: readability is a pure narrow map — no join, no aggregate, " +
    "only the sort exchange") {
    val plan = executedPlan("x18_readability")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"expected at most the rangepartitioning sort exchange, got $exchanges:\n" +
        plan.take(3000))
  }

  test("w10: the running-peak window and the final aggregate share ONE " +
    "event_type shuffle — no join, no second keyed exchange") {
    val plan = executedPlan("w10_drawdown")
    assert(!plan.contains("Join"), plan.take(3000))
    val keyed = plan.linesIterator.filter(
      _.contains("Exchange hashpartitioning")).toSeq
    assert(keyed.size == 1 && keyed.head.contains("event_type"),
      s"expected one shared event_type shuffle, got:\n" +
        keyed.mkString("\n") + "\n" + plan.take(3000))
  }

  test("a21: the orders scan reads only o_totalprice (column pruning) and " +
    "the 1-row extremes broadcast — no shuffle join anywhere") {
    val plan = executedPlan("a21_histogram")
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("o_orderkey") && !plan.contains("o_custkey") &&
      !plan.contains("o_orderdate"),
      "unreferenced orders columns in scan:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "global min/max must broadcast into the binning:\n" + plan.take(3000))
  }

  test("v11: the recent-liveness probe joins the tiny per-stream watermark " +
    "table by broadcast; no sort-merge join of the fact table") {
    val plan = executedPlan("v11_freshness")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("g4: the final community census reads the last round's labels as a " +
    "lineage-truncated ExistingRDD — rounds are never re-derived from the raw scan") {
    val plan = executedPlan("g4_label_prop")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Same discipline as g3: the census's only leaf is the pinned label
    // table of the last executed round (early exit included).
    val sig = signature("g4_label_prop")
    assert(sig.contains("InMemoryTableScan="),
      "labels must be the last round's pin: " + sig)
    assert(!sig.contains("FileScan"),
      "census must not re-derive the propagation from parquet:\n" + plan.take(3000))
  }

  test("g4 round shape: the neighbor join consumes the a-bucketed adjacency " +
    "with NO shuffle exchange above the edge scan (the r9 symmetric flip — " +
    "the join-on-b form shuffled |E| rows per round against the bucketing)") {
    import org.apache.spark.sql.functions._
    val (adj, _) = graft.queries.GraphQueries.coAdjDeg(spark, sf)
    val labels = adj.select(col("a").as("id")).distinct()
      .withColumn("lab", col("id"))
    // one round's join+census exactly as labelAssign builds it
    val round = adj
      .join(labels.select(col("id").as("a"), col("lab")), Seq("a"))
      .groupBy(col("b"), col("lab")).agg(count(lit(1)).as("c"))
    round.collect()
    // tree-level: no shuffle may sit BETWEEN the co_adj scan and its join
    // — i.e. no ShuffleExchange whose subtree contains the edge scan but
    // no join node yet (the census groupBy above the join shuffles |E|
    // rows by design; the labels side is free to shuffle or broadcast).
    def containsEdgeScan(p: SparkPlan): Boolean =
      p.toString.contains("graft_co_adj")
    def containsJoin(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] ||
        kids(p).exists(containsJoin)
    def offending(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec
          if containsEdgeScan(e.child) && !containsJoin(e.child) => true
      case other => kids(other).exists(offending)
    }
    assert(!offending(round.queryExecution.executedPlan),
      "edge side of the round join re-shuffled despite the a-bucketing:\n" +
        finalPlan(round).take(3000))
  }

  test("q13: the correlated min subquery decorrelates into an aggregate + " +
    "join (no per-row re-execution) and the part filter pushes to parquet") {
    val plan = executedPlan("q13_sql_min_cost")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      "p_size range must push to parquet:\n" + plan.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      "dimension joins must broadcast:\n" + plan.take(3000))
  }

  test("x20: the vocabulary census cuts to top-100 via TakeOrdered (no " +
    "full global sort) and the regression sums run over bounded rows") {
    val plan = executedPlan("x20_zipf_slope")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must be TakeOrdered, not a global Sort+Limit:\n" + plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("x21: the shingle table is cached once and both census and " +
    "join-back consume the cache; candidates join on the shingle key only") {
    val plan = executedPlan("x21_ngram_novelty")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "shingle table must be cached:\n" + plan.take(3000))
    // "Scan parquet" may appear inside the InMemoryRelation's recorded
    // lineage; a LIVE rescan would show one before the first cache read.
    assert(plan.indexOf("Scan parquet") < 0 ||
      plan.indexOf("Scan parquet") > plan.indexOf("InMemoryTableScan"),
      "census/join-back must not rescan documents:\n" + plan.take(3000))
  }

  test("e14: the label range predicate reaches the embeddings parquet scan " +
    "(pre-filter strategy) and the query vector broadcasts") {
    val plan = executedPlan("e14_filtered_ann")
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      "label range must push to parquet:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "query vector must broadcast:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("w11: the fact table collapses to days before the bounded fold — " +
    "one single-partition exchange, pruned scan") {
    val plan = executedPlan("w11_cusum")
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan.take(3000))
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) <= 2,
      "day series must stay bounded crossing to the fold:\n" + plan.take(3000))
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey"),
      "unreferenced lineitem columns in scan:\n" + plan.take(3000))
  }

  test("e16: both retrieval arms cut to top-20 via distributed TakeOrdered " +
    "before the bounded rank windows — no cartesian, no global sort of a scan") {
    val plan = executedPlan("e16_hybrid_rrf")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // lexical top-20 and dense top-20 each: TakeOrderedAndProject over the
    // full scan, so only 20 rows ever reach a rank window / the fusion join
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      "both arms must cut via TakeOrdered:\n" + plan.take(3000))
  }

  test("g5: the hop census reads the last frontier round's lineage-truncated " +
    "ExistingRDD — BFS state is never re-derived from the raw scan") {
    val plan = executedPlan("g5_bfs_hops")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val sig = signature("g5_bfs_hops")
    assert(sig.contains("InMemoryTableScan="),
      "visited set must be the last round's pin: " + sig)
    assert(!sig.contains("FileScan"),
      "census must not re-derive the BFS from parquet:\n" + plan.take(3000))
  }

  test("a23: events scan prunes to the three referenced columns and the " +
    "per-user lead window keys one hash exchange — no global window on the scan") {
    val plan = executedPlan("a23_transitions")
    assert(!plan.contains("value#") && !plan.contains("props#"),
      "unreferenced events columns in scan:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(user_id"),
      "lead window must partition by user_id:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("p15: the z-value is codegen bit arithmetic in the scan projection, " +
    "the scan prunes to the two dims, and the manifest is a two-level agg") {
    val plan = executedPlan("p15_zorder_layout")
    assert(plan.contains("shiftleft"),
      "z interleave must be inline bit arithmetic:\n" + plan.take(3000))
    assert(!plan.contains("l_orderkey") && !plan.contains("l_extendedprice"),
      "unreferenced lineitem columns in scan:\n" + plan.take(3000))
    assert(plan.contains("partial_count") || plan.contains("partial_min") ||
      "HashAggregate".r.findAllIn(plan).length >= 2,
      "manifest agg must have a map-side partial level:\n" + plan.take(3000))
    assert(!plan.contains("Window"), "no window needed for the manifest:\n" + plan.take(3000))
  }

  test("j11: the bloom bitmap test is a codegen'd probe-side filter ahead of " +
    "the exact join, and the build filter pushes to the part scan") {
    val plan = executedPlan("j11_bloom_semi_join")
    assert(plan.contains("shiftright") && plan.contains("element_at"),
      "bitmap membership must be inline probe-side filtering:\n" + plan.take(3000))
    assert(plan.contains("EqualTo(p_size,1)"),
      "build predicate must push to the part scan:\n" + plan.take(3000))
    // the bitmap filter lives in the probe scan's stage: it must appear
    // BEFORE the first join in tree order, so filtered rows never shuffle
    val joinIdx = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(plan.indexOf).filter(_ >= 0)
    assert(joinIdx.nonEmpty && plan.indexOf("shiftright") > joinIdx.min,
      "probe filter must sit under (after, in tree text) the exact join:\n" + plan.take(3000))
  }

  test("h3: the SCD2 dimension join plans the native AsOfJoin — no last() " +
    "window") {
    val plan = executedPlan("h3_scd2_dim_join")
    assert(plan.contains("AsOfJoin "), plan.take(3000))
    // h1's lag/row_number/lead Windows build the version history; the
    // per-fact lookup itself runs no running-last() window
    assert(!plan.contains("last("), "the lookup must plan no last() window:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "interval predicate must not plan a cross product:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(user_id"),
      "the as-of must partition by the key:\n" + plan.take(3000))
  }

  test("g6: wedges come from an equi-join on the center node, existing edges " +
    "leave via an anti-join, and the top-25 is TakeOrdered — no global sort") {
    val plan = executedPlan("g6_link_predict")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-25 must be TakeOrdered:\n" + plan.take(3000))
    assert(plan.contains("LeftAnti"),
      "existing edges must leave via an anti join:\n" + plan.take(3000))
  }

  test("co-purchase adjacency is a BUCKETED materialized view: groupBy and " +
    "self-join on the bucket key plan with NO Exchange on the edge side") {
    val (adj, deg) = graft.queries.GraphQueries.coAdjDeg(spark, sf)
    // degree-style aggregation on the bucket key: the table's
    // hash-partitioning satisfies the agg's required distribution
    val aggPlan = finalPlan(
      adj.groupBy("a").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))))
    assert(!aggPlan.contains("Exchange"),
      "bucketed adjacency groupBy(a) must not shuffle:\n" + aggPlan.take(3000))
    // g6's wedge shape: adjacency self-joined on the center node — the
    // bucketed layout means NO SHUFFLE of the edge side ever: at scale
    // both sides read bucketed and sort-merge with zero exchanges; at
    // sf0.001 AQE rightly swaps in a broadcast build (the table is tiny),
    // which still shuffles nothing. Either way "Exchange hashpartitioning"
    // must be absent — that is the property that survives 100 TB.
    import org.apache.spark.sql.functions.col
    val wedge = adj.select(col("a"), col("b").as("u"))
      .join(adj.select(col("a"), col("b").as("v")), Seq("a"))
    val joinPlan = finalPlan(wedge)
    assert(!joinPlan.contains("Exchange hashpartitioning"),
      "bucketed self-join must not shuffle either side:\n" +
        joinPlan.take(3000))
    assert(joinPlan.contains("SortMergeJoin") ||
      joinPlan.contains("BroadcastHashJoin"),
      joinPlan.take(3000))
    // the degree table is bucketed on id the same way
    val degPlan = finalPlan(
      deg.groupBy("id").agg(org.apache.spark.sql.functions.max(col("d"))))
    assert(!degPlan.contains("Exchange"),
      "bucketed degree groupBy(id) must not shuffle:\n" + degPlan.take(3000))
  }

  test("m8: cells, integer DCT and sign signature are ALL narrow per-row " +
    "expression work — the first exchange in the plan is the candidate " +
    "band join, and payload text never crosses it") {
    val plan = executedPlan("m8_phash_dct")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The fused engine form has no row-pass/column-pass joins at all —
    // the relational spelling lives in the DuckDB oracle, which proves
    // the fused fold computes the same separable transform.
    // The plan prints top-down: everything ABOVE the first Exchange (the
    // post-shuffle operators) must not reference the payload column —
    // after the shuffle only (doc_id, band, sig) longs travel (m7 rule).
    val firstEx = plan.indexOf("Exchange")
    assert(firstEx >= 0, s"expected the band-join exchange:\n${plan.take(3000)}")
    assert(!plan.substring(0, firstEx).contains("text#"),
      s"payload column crossed the shuffle:\n${plan.take(3000)}")
    assert(plan.contains("text#"),
      s"expected the scan-side cell projection:\n${plan.take(3000)}")
    // the signature table is cached and both verify sides read the cache
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "signatures must be computed once:\n" + plan.take(3000))
  }

  test("x25: the bigram occurrence and TYPE tables are each cached once — " +
    "continuation censuses aggregate types, never the occurrence stream twice") {
    val plan = executedPlan("x25_kneser_ney")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "bigram tables must be cached:\n" + plan.take(3000))
    assert(plan.indexOf("Scan parquet") < 0 ||
      plan.indexOf("Scan parquet") > plan.indexOf("InMemoryTableScan"),
      "join-back must not rescan documents:\n" + plan.take(3000))
  }

  test("x24: the shingle table is cached once; DF census and join-back " +
    "consume the cache and the corpus count broadcasts") {
    val plan = executedPlan("x24_boilerplate")
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "shingle table must be cached:\n" + plan.take(3000))
    assert(plan.indexOf("Scan parquet") < 0 ||
      plan.indexOf("Scan parquet") > plan.indexOf("InMemoryTableScan"),
      "census/join-back must not rescan documents:\n" + plan.take(3000))
  }

  test("w3: the rank filter infers a WindowGroupLimit — per-key top-n is " +
    "pruned MAP-SIDE (Partial) before the shuffle, not post-window") {
    val plan = executedPlan("w3_topn_per_group")
    assert(plan.contains("WindowGroupLimit"),
      "rank<=n must push into a group limit:\n" + plan.take(3000))
    assert(plan.contains("Partial"),
      "the group limit must run map-side before the exchange:\n" + plan.take(3000))
  }

  test("o5: the keyset cursor predicate reaches the parquet scan and the " +
    "page is a TakeOrdered — O(page) at any feed depth") {
    val plan = executedPlan("o5_keyset_page")
    assert(plan.contains("PushedFilters: [Or(GreaterThan(ts") ||
      plan.contains("PushedFilters: [IsNotNull(ts), Or(GreaterThan(ts"),
      "cursor must push to the scan:\n" + plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q14: the SQL front door's rank filter infers the same " +
    "WindowGroupLimit as the DataFrame form (w3)") {
    val plan = executedPlan("q14_sql_window")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("j12: the no-equi-key interval join plans as a chunk EQUI-join — " +
    "never a cartesian/nested-loop product") {
    val plan = executedPlan("j12_interval_join")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "containment must ride the chunk equi-join:\n" + plan.take(3000))
  }

  test("h4: daily rollup, span aggregate and fill window all hash-partition " +
    "by user_id — no global-sort stage before the presentation ORDER BY") {
    val plan = executedPlan("h4_gap_fill")
    assert(plan.contains("hashpartitioning(user_id"),
      "per-key stages must partition by user_id:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("a24: the sweep-line is a two-level prefix sum — per-bucket windows " +
    "hash-partition by bkt and the O(hours) offset census broadcasts back") {
    val plan = executedPlan("a24_concurrency")
    assert(plan.contains("hashpartitioning(bkt"),
      "within-bucket running sums must partition by bkt:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "the bucket-offset census must broadcast:\n" + plan.take(3000))
    // exactly one single-partition window is allowed: the bounded
    // bucket-census offset (≤ hours rows), never the delta stream itself
    val singleParts = "SinglePartition".r.findAllIn(plan).length
    assert(singleParts <= 2, // exchange + window stage render
      s"delta stream must never serialize through one partition:\n${plan.take(3000)}")
  }

  test("c13: tercile thresholds come from a lang-partitioned window over the " +
    "bounded score census — no per-language document sort, census cached once") {
    val plan = executedPlan("c13_ccnet_buckets")
    assert(plan.contains("hashpartitioning(lang"),
      "census window must partition by lang:\n" + plan.take(3000))
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "vocab census must be cached:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000)) // the 1-row total rides a broadcast nested loop by design
  }

  test("x27: the gate battery is a pure narrow codegen map — zero joins, " +
    "no hash exchange before the presentation sort") {
    val plan = executedPlan("x27_gopher_gates")
    assert(!plan.contains("Join"), "gates must not join:\n" + plan.take(3000))
    assert(!plan.contains("hashpartitioning"),
      "no shuffle may precede the presentation sort:\n" + plan.take(3000))
  }

  test("j13: forward as-of plans the native AsOfJoin — no Window, never a " +
    "range join") {
    val plan = executedPlan("j13_asof_forward")
    assertNativeAsOf(plan)
    assert(plan.contains("hashpartitioning(user_id"),
      "the as-of must partition by the key:\n" + plan.take(3000))
  }

  test("g7: each PPR round is a keyed shuffle with map-side partial sums — " +
    "no cartesian, rounds chain into one job") {
    val plan = executedPlan("g7_personalized_pagerank")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_sum"),
      "contribution sums must partial-aggregate map-side:\n" + plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must be TakeOrdered, not a global sort:\n" + plan.take(3000))
  }

  test("x26: classifier inference is one map-side-combinable hash aggregate " +
    "on doc_id — zero joins, hashing stays in codegen") {
    val plan = executedPlan("x26_hash_classifier")
    assert(!plan.contains("Join"), "inference must not join:\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(plan.contains("graft_md5_60"),
      "hashing must run on the fused expression:\n" + plan.take(3000))
  }

  test("h6: VWAP is one map-side-combinable hash aggregate with the " +
    "event-type filter pushed to the scan — no join, no window") {
    val plan = executedPlan("h6_vwap")
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      plan.take(2000))
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(3000))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"agg + presentation sort only, got $exchanges")
  }

  test("h7: both OHLC rank windows and the bar aggregate share ONE " +
    "(user, wk) exchange — only the presentation sort adds a second") {
    val plan = executedPlan("h7_weekly_bars")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n${plan.take(3000)}")
    assert("Window \\[row_number".r.findAllIn(plan).length == 2, plan.take(3000))
    assert(plan.contains("partial_max"), "bar agg must partial-aggregate map-side")
  }

  test("h8: the O(days) market census broadcasts back (fact side never " +
    "shuffles for it); the daily-close rank infers a WindowGroupLimit") {
    val plan = executedPlan("h8_beta")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("WindowGroupLimit"),
      "rn=1 daily close must infer a group limit:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q15: the recursive CTE plans as UnionLoop (Spark's recursion " +
    "operator) with the per-level frontier join — no cartesian") {
    val plan = executedPlan("q15_sql_recursive")
    assert(plan.contains("UnionLoop"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("e17: anchors broadcast (candidates never shuffle for scoring) and " +
    "the per-anchor top-5 is a map-side WindowGroupLimit; vector math " +
    "stays in codegen") {
    val plan = executedPlan("e17_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan.take(3000))
    assert("WindowGroupLimit".r.findAllIn(plan).length == 2,
      "expected Partial+Final group limits:\n" + plan.take(3000))
    assert(plan.contains("graft_dot"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("x29: censuses partial-aggregate map-side; the per-source totals " +
    "broadcast; no cartesian beyond the 1-row grand-total broadcast") {
    val plan = executedPlan("x29_kl_divergence")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "per-source totals must broadcast-join:\n" + plan.take(3000))
  }

  test("r1/r3: the threshold-levenshtein predicate is REWRITTEN to the " +
    "banded graft_lev_le by the injected optimizer rule (queries keep " +
    "the oracle's builtin spelling)") {
    for (name <- Seq("r1_entity_match", "r3_blocking_recall")) {
      val plan = executedPlan(name)
      assert(plan.contains("graft_lev_le"),
        s"$name: rewrite did not fire:\n${plan.take(3000)}")
    }
    // r1 additionally projects the FULL distance for survivors — that one
    // stays the builtin (it is not a threshold predicate)
    assert(executedPlan("r1_entity_match").contains("levenshtein"))
  }

  test("a26/v12: census queries stay one map-side-combinable aggregate " +
    "with the window riding the census exchange") {
    for (name <- Seq("a26_mode", "v12_benford")) {
      val plan = executedPlan(name)
      assert(plan.contains("partial_count"), s"$name:\n${plan.take(3000)}")
      assert(!plan.contains("Join"), s"$name must not join:\n${plan.take(3000)}")
    }
  }

  test("w16/h9/v13: per-key sequential metrics ride user-keyed windows " +
    "into map-side rollups — no global window, no cartesian") {
    for (name <- Seq("w16_underwater", "h9_overnight_gap", "v13_seq_gaps")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name:\n${plan.take(3000)}")
      assert(plan.contains("partial_"), s"$name rollup must map-side combine")
      assert(!"Window \\[[^\\n]*windowspecdefinition\\(\\)".r.findFirstIn(plan).isDefined,
        s"$name must not use an unpartitioned window:\n${plan.take(3000)}")
    }
  }

  test("a28/a29: segmentation censuses broadcast back (cohort sizes, " +
    "quantile thresholds) — the corpus never shuffles for the encode") {
    for (name <- Seq("a28_cohort_ltv", "a29_rfm")) {
      val plan = executedPlan(name)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$name:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$name:\n${plan.take(3000)}")
    }
  }

  test("a30/a31: the bottom-k TypedImperativeAggregate plans as " +
    "ObjectHashAggregate with map-side partials and post-shuffle merges") {
    for (name <- Seq("a30_kmv_distinct", "a31_kmv_rollup")) {
      val plan = executedPlan(name)
      assert(plan.contains("ObjectHashAggregate"), s"$name:\n${plan.take(3000)}")
      assert(plan.contains("partial_graft_bottomk"),
        s"$name sketch must partial-aggregate map-side:\n${plan.take(3000)}")
      assert(plan.contains("merge_graft_bottomk"),
        s"$name partials must merge after the exchange:\n${plan.take(3000)}")
    }
  }

  test("j15: nearest as-of plans the native AsOfJoin — bounded exchanges, " +
    "no Window") {
    val plan = executedPlan("j15_asof_nearest")
    assertNativeAsOf(plan)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 6, s"nearest must stay a bounded pipeline, got $exchanges")
  }

  test("q16: the OR'd multi-clause predicate keeps p_partkey = l_partkey as " +
    "a hash-join key — no nested-loop fallback from the disjunction") {
    val plan = executedPlan("q16_sql_disjunctive")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q17: the HAVING aggregate partial-aggregates map-side before its " +
    "exchange — the only full fact pass combines before shuffling") {
    val plan = executedPlan("q17_sql_large_orders")
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("g9: knn-graph candidates come from the band equi-join — no " +
    "all-pairs operator anywhere, and the per-src top-5 rank window " +
    "group-limits") {
    val plan = executedPlan("g9_knn_graph")
    // The only nested-loop allowed is the bounded 16-row hyperplane
    // broadcast (a BroadcastNestedLoopJoin over the plane table); the
    // corpus-sized pair generation must be hash/sort-merge equi-joins.
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("WindowGroupLimit"),
      s"rk <= 5 must prune the rank window:\n${plan.take(3000)}")
  }

  test("h10: one user-keyed exchange serves close-ranking, return lags and " +
    "all five rolling sums; the market census joins back as a broadcast") {
    val plan = executedPlan("h10_rolling_corr")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // (user, day) close-rank, day-keyed market census, user-keyed
    // lag+rolling stage — the lag window and all five rolling sums must
    // SHARE the third, so exactly 3 materialized hash exchanges (the
    // market census re-reads the close-rank stage via ReusedExchange,
    // which mentions the exchange in its text — count only real ones).
    val hashEx = """\+- Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(hashEx <= 3,
      s"lag + rolling windows must share one user-keyed exchange, got $hashEx:\n${plan.take(3000)}")
    assert(plan.contains("ReusedExchange"),
      s"market census must reuse the daily-close exchange:\n${plan.take(3000)}")
  }

  test("h11: event-day argmax and return lag share the user-keyed " +
    "partitioning; the market census broadcasts — no global window") {
    val plan = executedPlan("h11_event_study")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // Every Window in the plan must be user-keyed (no empty partition spec).
    assert(!plan.contains("windowspecdefinition(specified"),
      s"unpartitioned window in event study:\n${plan.take(3000)}")
  }

  test("x31: the perplexity gate adds only doc-level narrow stages on top " +
    "of x25 — document text is scanned by the scorer alone") {
    val plan = executedPlan("x31_perplexity_filter")
    val textScans = "text#".r.findAllIn(
      plan.linesIterator.filter(_.contains("Scan parquet")).mkString("\n")).length
    assert(textScans <= 2,
      s"gate must not re-scan text beyond x25's tokenizer passes:\n${plan.take(3000)}")
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
      plan.take(3000))
  }

  test("x30: the per-source rollup rides the (source, tok) census " +
    "partitioning — two aggregates, no second corpus scan") {
    val plan = executedPlan("x30_lexical_diversity")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n${plan.take(3000)}")
  }

  test("q18: the urgent-order anti join stays a hash ANTI join with the " +
    "priority predicate pushed into the orders scan — never a NOT IN " +
    "nested loop") {
    val plan = executedPlan("q18_sql_global_avg")
    assert(plan.contains("LeftAnti"), s"anti join missing:\n${plan.take(3000)}")
    // The o_orderpriority = '1-URGENT' conjunct must prune the orders
    // parquet scan, not run as a post-scan filter over all orders.
    val ordersScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("o_custkey"))
      .mkString("\n")
    assert(ordersScan.contains("1-URGENT"),
      s"priority predicate not pushed to orders scan:\n$ordersScan")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("h12/w17: bar aggregate, close lag and rolling/running frames all " +
    "ride ONE user-keyed exchange each (Catalyst reuses the partitioning)") {
    for (q <- Seq("h12_atr", "w17_obv")) {
      val plan = executedPlan(q)
      // (user, day) bar exchange + user-keyed window exchange + final
      // presentation range-sort — no fourth shuffle.
      val hashEx = """\+- Exchange hashpartitioning""".r.findAllIn(plan).length
      assert(hashEx <= 2,
        s"$q: lag and rolling frames must share the user exchange, got $hashEx:\n${plan.take(3000)}")
      assert(!plan.contains("windowspecdefinition(specified"),
        s"$q: unpartitioned window:\n${plan.take(3000)}")
    }
  }

  test("h13: both legs aggregate in ONE day-keyed pass (conditional sums, " +
    "one events scan); the calendar-bounded z window is the only " +
    "unpartitioned operator") {
    val plan = executedPlan("h13_pairs_spread")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"), s"no map-side combine:\n${plan.take(3000)}")
  }

  test("c14: cluster assignment broadcasts the codebook; doc enrichment " +
    "is a keyed equi-join; the per-cluster pick group-limits") {
    val plan = executedPlan("c14_cluster_balanced")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("WindowGroupLimit"),
      s"rk <= 3 must prune the pick window:\n${plan.take(3000)}")
  }

  test("e20: the returned plan is the driver-landed d-row vector " +
    "(LocalTableScan, bounded by embedding dimension) — the matrix is " +
    "consumed via broadcast joins inside the loop's own actions, and " +
    "nothing corpus-sized survives into the result path") {
    // r9: each round's d-row iterate lands on the driver and re-enters as
    // a LocalRelation (the lazy chain re-evaluated every predecessor
    // round from two subtrees per round — 2^K recompute). The per-round
    // aggregate shape (map-side combine, broadcast vector) is asserted on
    // e21, whose RETURNED plan contains the projection aggregate over the
    // quantized-matrix view.
    val df = SparkEntry.queries("e20_pca_power")(spark, sf)
    val plan = finalPlan(df)
    assert(plan.contains("LocalTableScan"),
      s"e20's result must be the driver-held iterate:\n${plan.take(3000)}")
    assert(!plan.contains("Scan parquet"),
      s"corpus-sized scan leaked into e20's result path:\n${plan.take(3000)}")
    // Non-degenerate result: the adaptive renormalization must keep the
    // vector alive (a fixed worst-case shift underflowed it to zero).
    val w = df.collect().map(_.getLong(1))
    assert(w.exists(_ != 0L), "power iteration collapsed to the zero vector")
    assert(w.map(math.abs).max <= (1L << 20) + 1,
      "renormalization scale invariant violated")
  }

  test("e21: the projection aggregate over the quantized-matrix view " +
    "map-side combines with the d-row vector broadcast — the matrix " +
    "never shuffles") {
    val plan = executedPlan("e21_anisotropy")
    assert(plan.contains("partial_sum"), s"no map-side combine:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("graft_pca_x"),
      s"e21 must read the quantized-matrix view:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("e25: the sub-draw and sub-assign touch only oversized cells via " +
    "semi-joins; pairing is an equi-join on the final (cid, scid) key — " +
    "no cartesian beyond the broadcast codebook") {
    val plan = executedPlan("e25_ivf_balanced")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the final pair join must be a keyed equi-join (SMJ or broadcast),
    // never a nested loop over vectors
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"pair join must be an equi-join on (cid, scid):\n${plan.take(3000)}")
    // top-20 is TakeOrdered, never a global sort of the pair set
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered:\n${plan.take(3000)}")
  }

  test("m9: landmark pairing is an equi-join on (doc, t); matching is an " +
    "equi-join on the df-capped landmark hash — no cartesian, cached " +
    "frame/landmark tables reused, only longs shuffle") {
    val plan = executedPlan("m9_audio_fingerprint")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // frames + landmarks are persisted; census, anchor/target and both
    // match sides read the caches, never the payload scan again
    val cacheReads = plan.linesIterator.count(l =>
      l.contains("TableCacheQueryStage") || l.contains("BroadcastQueryStage"))
    assert(cacheReads >= 2,
      s"match sides must reuse the landmark cache, got $cacheReads:\n${plan.take(3000)}")
  }

  test("p18: the three layout manifests all read the cached (px, sy, z) " +
    "projection with map-side-combined min/max; the 8-row probe workload " +
    "broadcasts — no cartesian over data") {
    val plan = executedPlan("p18_layout_cost")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"zone-map stats must combine map-side:\n${plan.take(3000)}")
    // three manifests scan the one cached base projection
    val cacheReads = plan.linesIterator.count(l =>
      l.contains("TableCacheQueryStage") || l.contains("BroadcastQueryStage"))
    assert(cacheReads >= 3,
      s"three manifests must reuse the base cache, got $cacheReads:\n${plan.take(3000)}")
    // the probe join is a broadcast of the 8-row workload (non-equi box
    // overlap => nested loop is correct and bounded at 8 x <=768 cells)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe workload must broadcast:\n${plan.take(3000)}")
  }

  test("x32: the calibration rollup adds no corpus shuffle beyond x26's " +
    "doc aggregate — gates are a narrow map joined on doc_id") {
    val plan = executedPlan("x32_calibration")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("d5: clusters read the BUCKETED label materialized view — no LSH " +
    "rebuild, no corpus rescan, no hash exchange; the d3 pair view groups " +
    "on its bucket key shuffle-free") {
    val plan = executedPlan("d5_dup_clusters")
    // The whole query is the label-table scan + the final global sort
    // (range exchange). Any hashpartitioning exchange would mean the LSH
    // pipeline or the clustering re-ran inside the query.
    assert(!plan.contains("Exchange hashpartitioning"),
      s"d5 must not re-derive pairs/labels:\n${plan.take(3000)}")
    assert(!plan.contains("documents.parquet"),
      s"d5 must read the label view, not the corpus:\n${plan.take(3000)}")
    // d3's verified-pair view is bucketed on `a`: a groupBy on the bucket
    // key is satisfied by the table layout — no Exchange (the property
    // that makes isolated d5/d11/d18/x12 a scan instead of a rebuild).
    val pairs = graft.queries.DedupQueries.d3Pairs(spark, sf)
    val aggPlan = finalPlan(pairs.groupBy("a").agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))))
    assert(!aggPlan.contains("Exchange"),
      s"bucketed pair groupBy(a) must not shuffle:\n${aggPlan.take(3000)}")
    // The DERIVATION the view is built from keeps its own properties
    // (the d3 annotation now points here): candidates come from the
    // (band, bkey) equi-join — no cartesian anywhere in the LSH pipeline.
    val derivation = finalPlan(graft.operators.MinHashLSH.nearDupPairs(
      Tables.table(spark, sf, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 8, bands = 4, threshold = 0.3))
    assert(!derivation.contains("CartesianProduct"),
      s"LSH derivation must stay equi-join-only:\n${derivation.take(3000)}")
  }

  test("d18: pairs come from the memoized d3 table; cluster ids attach " +
    "via keyed equi-joins with the 8-row centroid table broadcast") {
    val plan = executedPlan("d18_dedup_agreement")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("v14: the FK audit reads ONLY key columns — no payload column " +
    "appears in any ReadSchema, and every relation is an anti join") {
    val plan = executedPlan("v14_ref_integrity")
    val antis = "LeftAnti".r.findAllIn(plan).length
    assert(antis >= 5, s"expected 5 anti joins, got $antis:\n${plan.take(3000)}")
    // Keys-only scans: lineitem's widest payload columns must not be read.
    for (c <- Seq("l_extendedprice", "l_comment", "o_totalprice", "c_name"))
      assert(!plan.contains(c), s"payload column $c read in a keys-only audit")
  }

  test("e21: the anisotropy audit reuses the memoized PCA model — its own " +
    "work is keyed aggregates over the persisted matrix with broadcast " +
    "sides, and the permille lands in (0, 1000] by Cauchy-Schwarz") {
    val df = SparkEntry.queries("e21_anisotropy")(spark, sf)
    val plan = finalPlan(df)
    assert(plan.contains("partial_sum"), s"no map-side combine:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val row = df.collect().head
    val pm = row.getLong(row.fieldIndex("energy_pm"))
    assert(pm > 0 && pm <= 1000, s"energy_pm=$pm outside (0, 1000]")
  }

  test("v15: the PK audit reads ONLY key columns and runs each table as " +
    "one two-phase distinct aggregate") {
    val plan = executedPlan("v15_pk_unique")
    for (c <- Seq("l_extendedprice", "o_totalprice", "c_name", "p_name", "text",
        "props"))
      assert(!plan.contains(c), s"payload column $c read in a keys-only audit")
    // The wide-payload tables must scan their key column ALONE ("embedding"
    // can't go in the substring ban above — the file path contains it).
    assert(plan.contains("ReadSchema: struct<vec_id:bigint>"),
      s"embeddings scan not key-only:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("v16: KS and Mann-Whitney both derive from ONE documents scan into " +
    "a value census; the ordered cumulative window runs over the census, " +
    "not over rows") {
    val plan = executedPlan("v16_two_sample_drift")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"), s"no map-side combine:\n${plan.take(3000)}")
    // Result sanity: AUC is a probability permille and d_num <= n1*n2.
    val row = SparkEntry.queries("v16_two_sample_drift")(spark, sf).collect().head
    val auc = row.getLong(row.fieldIndex("auc_pm"))
    assert(auc >= 0 && auc <= 1000, s"auc_pm=$auc outside [0, 1000]")
    val ks = row.getLong(row.fieldIndex("ks_pm"))
    assert(ks >= 0 && ks <= 1000, s"ks_pm=$ks outside [0, 1000]")
  }

  test("w18: row_number, max and min frames all ride ONE user-keyed " +
    "exchange and the census reuses that partitioning (the h12/w17 rule)") {
    val plan = executedPlan("w18_stochastic")
    val hashEx = """\+- Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(hashEx <= 2,
      s"frames must share the user exchange, got $hashEx:\n${plan.take(3000)}")
    assert(!plan.contains("windowspecdefinition(specified"),
      s"unpartitioned window:\n${plan.take(3000)}")
  }

  test("q19: both date cuts push into their parquet scans, the segment " +
    "filter broadcasts against orders, and the top-10 is TakeOrdered") {
    val plan = executedPlan("q19_sql_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      plan.contains("LessThan(o_orderdate"),
      s"o_orderdate cut not pushed:\n${plan.take(3000)}")
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"l_shipdate cut not pushed:\n${plan.take(3000)}")
    // customer-after-segment-filter is dimension-sized → broadcast side.
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered, not a global sort:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q20: NOT IN over a non-null key compiles to ONE anti join (no " +
    "per-row nested-loop re-scan) and the distinct agg is two-phase") {
    val df = SparkEntry.queries("q20_sql_supplier_census")(spark, sf)
    // The anti join lives in the OPTIMIZED LOGICAL plan: the physical tree
    // may legitimately drop it when AQE proves the exclusion set empty at
    // tiny SF (PropagateEmptyRelation folds LeftAnti-with-empty-build to
    // its left child) — the planner property under test is that NOT IN
    // compiled to ONE join, never a per-row subquery re-scan.
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("Join LeftAnti"),
      s"NOT IN must compile to an anti join:\n${logical.take(3000)}")
    val plan = finalPlan(df)
    assert(plan.contains("partial_count"),
      s"distinct agg must map-side combine:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q21: the disjunctive nation-pair predicate keeps every dimension " +
    "hop a broadcast join — the OR never degrades to a cartesian pairing") {
    val plan = executedPlan("q21_sql_volume_shipping")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"supplier/customer/nation hops must broadcast, got $broadcasts:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_sum"),
      s"year rollup must map-side combine:\n${plan.take(3000)}")
  }

  test("q25: the date-range EXISTS decorrelates to ONE semi join (the " +
    "correlated non-equi predicate rides the join, never a per-row " +
    "subquery) and the outer date range pushes to the orders scan") {
    val df = SparkEntry.queries("q25_sql_exists_range")(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("Join LeftSemi"),
      s"EXISTS must compile to one semi join:\n${logical.take(3000)}")
    val plan = finalPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"outer date range must reach the orders scan:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("partial_count"),
      s"priority census must map-side combine:\n${plan.take(3000)}")
  }

  test("q26: all six dimension hops of the market-share chain broadcast; " +
    "numerator and denominator fold in ONE aggregate over one fact pass") {
    val plan = executedPlan("q26_sql_market_share")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4,
      s"part/supplier/customer/nation/region hops must broadcast, got " +
        s"$broadcasts:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_sum"),
      s"year rollup must map-side combine:\n${plan.take(3000)}")
    // both CASE sums live in the same aggregate — lineitem is scanned once
    // (8 = one per table + nation twice: the n1/n2 dimension aliases)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 8, s"one scan per table, got $scans:\n${plan.take(3000)}")
  }

  test("q27: the shipping window pushes to the lineitem scan and both " +
    "priority CASE sums fold in one map-side-combined aggregate") {
    val plan = executedPlan("q27_sql_priority_split")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"date window must reach the lineitem scan:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"),
      s"CASE sums must map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q28: the LIKE filter prunes part BEFORE the fact join; every " +
    "dimension hop broadcasts; the expression-keyed rollup map-side " +
    "combines") {
    val plan = executedPlan("q28_sql_profit")
    // part (LIKE-pruned), supplier and nation are broadcast builds — the
    // lineitem fact side is never shuffled FOR A DIMENSION (the
    // lineitem⋈orders key join is the single legitimate shuffle).
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"part/supplier/nation hops must broadcast, got $broadcasts:\n${plan.take(3000)}")
    assert(plan.contains("StartsWith") || plan.contains("Contains") ||
      plan.contains("EndsWith") || plan.contains("LIKE"),
      s"the p_name LIKE filter must prune the part scan:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"),
      s"(nation, year) rollup must map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q29: the priority filter stays in the OUTER join's ON side (the " +
    "null group survives) and both counts map-side combine") {
    val plan = executedPlan("q29_sql_cust_dist")
    // The join must remain LEFT OUTER — a planner that migrated the ON
    // filter to a WHERE would have collapsed it to inner and dropped the
    // zero-order customers (the c_count = 0 row).
    assert(plan.contains("LeftOuter"),
      s"customer⟕orders must stay outer:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"per-customer count must map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // and the null group is really in the output — proven on a synthetic
    // corpus where customer 2 has ONLY a 5-LOW order (sf0.001 happens to
    // have no such customer, which is exactly why the shape needs a
    // planted witness): the same registry SQL must emit a c_count = 0 row.
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
      .createOrReplaceTempView("customer")
    Seq((10L, 1L, "1-URGENT"), (11L, 2L, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .createOrReplaceTempView("orders")
    val dist = spark.sql(graft.queries.Relational.sqlQ29).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.get(0L).contains(2L),
      s"customers 2 (only a 5-LOW order) and 3 (no orders) must land in " +
        s"the zero group, got $dist")
  }

  test("p17: the compaction plan reads ONLY the three stat columns (never " +
    "text) and its cumulative window partitions by source") {
    val plan = executedPlan("p17_compaction_plan")
    assert(!plan.contains("text"),
      s"planner must not read document payloads:\n${plan.take(3000)}")
    assert(!plan.contains("windowspecdefinition(specified"),
      s"cumulative window must partition by source:\n${plan.take(3000)}")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one metadata scan, got $scans:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"file-stats agg must map-side combine:\n${plan.take(3000)}")
  }

  test("e22: the projection table is computed once (cached reads for both " +
    "consumers), sums combine map-side, and nothing pairs all-against-all") {
    val plan = executedPlan("e22_jl_projection")
    assert(plan.contains("InMemoryTableScan"),
      s"proj must be read from cache, not recomputed:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"),
      s"projection sums must map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The exact arm re-scans only the narrow columns; with the cached
    // projection that's at most 3 parquet scans (exact dims + query dims
    // + the one-time cache build inlined into this first action).
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 3, s"expected <=3 parquet scans, got $scans:\n${plan.take(3000)}")
  }

  test("c15: the vocab census is persisted (cached read feeds the token " +
    "join), sums combine map-side, and the reweight windows run over the " +
    "domain aggregate, not rows") {
    val plan = executedPlan("c15_doremi_step")
    assert(plan.contains("InMemoryTableScan"),
      s"census must be read from cache:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"),
      s"domain sums must map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The MW update's unpartitioned window is bounded by construction:
    // its input is the ≤|domains|-row aggregate. It must sit ABOVE the
    // domain HashAggregate in the plan (window over 20 rows, not corpus).
    val winAt = plan.indexOf("Window")
    val aggAt = plan.indexOf("HashAggregate(keys=[source")
    assert(winAt >= 0 && aggAt > winAt,
      s"window must run over the domain aggregate:\n${plan.take(3000)}")
  }

  test("v17: the rule bitmask is ONE scan with codegen'd conditionals — " +
    "no join, no per-rule re-scan — and the mask census combines map-side") {
    val plan = executedPlan("v17_rule_quarantine")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"mask needs no join:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"mask census must map-side combine:\n${plan.take(3000)}")
  }

  test("d17: the bloom gate is equi-joins on a distributed position table " +
    "— no driver bitmap, no cartesian — and the doc projection is cached") {
    val plan = executedPlan("d17_bloom_admission")
    assert(plan.contains("InMemoryTableScan"),
      s"docs projection must be read from cache:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"membership must be an equi-join, never a nested loop:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"probe-hit count must map-side combine:\n${plan.take(3000)}")
  }

  test("m7: frame payloads never shuffle — signatures are computed in the " +
    "scan-side projection and all windows/census ride the doc key") {
    val plan = executedPlan("m7_shot_boundary")
    assert(!plan.contains("windowspecdefinition(specified"),
      s"windows must partition by doc_id:\n${plan.take(3000)}")
    // The 64-byte frame substring + md5 must happen BELOW the exchange:
    // after the shuffle only (doc_id, frame_id, sig) longs travel. The
    // plan prints top-down, so everything ABOVE the first Exchange (the
    // post-shuffle operators) must not reference the payload column.
    val firstEx = plan.indexOf("Exchange")
    assert(firstEx >= 0, s"expected a doc-keyed exchange:\n${plan.take(3000)}")
    assert(!plan.substring(0, firstEx).contains("text#"),
      s"payload column crossed the shuffle:\n${plan.take(3000)}")
    assert(plan.contains("text#"),
      s"expected the scan-side frame projection:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"shot census must map-side combine:\n${plan.take(3000)}")
  }

  test("q22: the correlated LATERAL top-N decorrelates to a windowed " +
    "group-limit with a PARTIAL map-side bound — never a per-outer-row " +
    "re-execution, never a cartesian") {
    val plan = executedPlan("q22_sql_lateral_topn")
    assert(plan.contains("WindowGroupLimit"),
      s"lateral LIMIT must compile to a group-limit:\n${plan.take(3000)}")
    assert(plan.contains("Partial"),
      s"group-limit must bound rows BELOW the shuffle:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("a32: both attribution ranks share ONE purchase-keyed exchange, " +
    "and the candidate join is user-keyed (no time-range cross join)") {
    val plan = executedPlan("a32_attribution")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the user equi-join:\n${plan.take(3000)}")
    assert(!plan.contains("windowspecdefinition(specified"),
      s"attribution windows must partition by purchase:\n${plan.take(3000)}")
    // rn_first and rn_last are opposite orderings of the same partition
    // key: one hashpartitioning(purchase_id) exchange feeds both windows
    // (the second window re-sorts in place, no re-shuffle). The union arm
    // re-reads ranked, so allow the pair — but no more.
    val ex = """Exchange hashpartitioning\(purchase_id""".r.findAllIn(plan).length
    assert(ex <= 2,
      s"attribution windows must share the purchase exchange, got $ex:\n${plan.take(3000)}")
  }

  test("q23: the SQL PIVOT compiles to ONE two-phase aggregate — no " +
    "per-pivot-value scan, no join") {
    val plan = executedPlan("q23_sql_pivot")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one customer scan, got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"pivot needs no join:\n${plan.take(3000)}")
    assert(plan.contains("partial_"),
      s"pivot aggregates must map-side combine:\n${plan.take(3000)}")
  }

  test("u8: column pruning survives the by-name union — each epoch scans " +
    "only its own columns, and `text` is read by neither") {
    val plan = executedPlan("u8_union_by_name")
    assert(!plan.contains("text"),
      s"payload column read by a schema census:\n${plan.take(3000)}")
    // epoch A must not read source/n_chars; epoch B must not read lang.
    // Each column name appears exactly once across the two ReadSchemas.
    for (c <- Seq("lang", "n_chars"))
      assert(s"ReadSchema: [^\n]*$c".r.findAllIn(plan).length == 1,
        s"column $c read by the wrong epoch:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"census must map-side combine:\n${plan.take(3000)}")
  }

  test("h15: every window partitions on its key, the bar/lag stages share " +
    "the user exchange, and only the bar table reaches the weekly ranking") {
    val plan = executedPlan("h15_momentum_portfolio")
    assert(!plan.contains("windowspecdefinition(specified"),
      s"unpartitioned window:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // bars (user_id, wk) → lags (user_id): the lag stage must REUSE the
    // bar exchange's co-partitioning or add at most one user re-shuffle;
    // the wk-ranking adds one more. Anything beyond that means a stage
    // re-shuffled the raw tick table.
    val hashEx = """\+- Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(hashEx <= 3,
      s"expected <=3 keyed exchanges (bars, lags, weekly rank), got $hashEx:\n${plan.take(3000)}")
  }

  test("a33: both periods and both dimensions come from ONE events scan " +
    "of three columns — never a scan per period or per dimension") {
    val plan = executedPlan("a33_root_cause")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected ONE grouping-sets scan, got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("props"), s"unreferenced payload column read:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"),
      s"period sums must map-side combine:\n${plan.take(3000)}")
  }

  test("e23: the system arm cuts via TakeOrdered and the truth arm reads " +
    "the 10-row e1 view — nothing after the scans grows with the corpus") {
    val plan = executedPlan("e23_ann_ndcg")
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 1,
      s"system arm must cut via TakeOrdered:\n${plan.take(3000)}")
    // r9: truth comes from the materialized e1 top-10 (bounded by
    // construction), not a second brute-force pass
    assert(plan.contains("graft_e1_truth"),
      s"truth arm must read the shared e1 view:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("v18: the k-anonymity census is ONE scan of the two QI columns " +
    "into a map-side-combined aggregate — no join, no payload read") {
    val plan = executedPlan("v18_k_anonymity")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one customer scan, got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("c_name") && !plan.contains("c_acctbal"),
      s"non-QI column read by the audit:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"census must map-side combine:\n${plan.take(3000)}")
  }

  test("q24: the SQL UNPIVOT compiles to ONE Expand over one scan — " +
    "no join, no pre-sort shuffle beyond the presentation sort") {
    val plan = executedPlan("q24_sql_unpivot")
    assert(plan.contains("Expand"),
      s"UNPIVOT must plan as Expand:\n${plan.take(3000)}")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one supplier scan, got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
    val hashEx = """Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(hashEx == 0,
      s"melt must be map-only before the sort:\n${plan.take(3000)}")
  }

  test("g10: the returned plan reads the lineage-truncated score cache " +
    "(O(1)-deep, no fact rescan) and cuts via TakeOrdered; scores carry " +
    "the integer rescale invariant") {
    val df = SparkEntry.queries("g10_hits")(spark, sf)
    val plan = finalPlan(df)
    // All 2K half-rounds ran behind pins during construction; the plan
    // handed back must read the pinned supplier-sized score table, not
    // re-derive the purchase graph (the g3/g4 discipline).
    val sig = Plans.signature(Plans.executed(df))
    assert(sig.contains("InMemoryTableScan="),
      "final scores must be the score table's pin: " + sig)
    assert(!sig.contains("FileScan"),
      "final read must not rescan the fact tables:\n" + plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    // Rescale invariant: each half-round floor-divides by max//mass
    // (clamped), so the top authority lands in [mass/2, 2*mass) and no
    // score is negative.
    val scores = df.collect().map(_.getLong(1))
    assert(scores.head >= 500000L && scores.head < 2000000L,
      s"top authority ${scores.head} outside the rescale envelope")
    assert(scores.forall(_ >= 0L))
  }

  test("p19: the Hilbert index is one codegen expression in the scan-side " +
    "projection, the probe join broadcasts its 8 rows, and the layouts " +
    "read IDENTICAL bytes (the n_runs column is the only difference)") {
    val df = SparkEntry.queries("p19_hilbert_layout")(spark, sf)
    val plan = finalPlan(df)
    // The curve key must be computed in the projection (a static-call
    // codegen expression), never a UDF or a 24-deep CASE tree.
    assert(plan.contains("graft_hilbert"),
      "hilbert index must be the codegen expression:\n" + plan.take(3000))
    // The 8-row probe table must broadcast against the manifest — the
    // range-overlap condition makes it a BroadcastNestedLoopJoin.
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
    // Both curves tile the plane into the SAME aligned 16x16 tiles
    // (FastCurveSpec's prefix property), so zone-map pruning must read
    // equal buckets and rows; Hilbert's adjacency must strictly cut runs.
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val h = rows.find(_._1 == "hilbert").get
    val z = rows.find(_._1 == "zorder").get
    assert(h._2 == z._2 && h._3 == z._3,
      s"layouts must read identical bytes: $h vs $z")
    // At sf0.001 the 6k-row corpus populates ~3 of 65536 cells, so both
    // curves degenerate to the same couple of runs — assert Hilbert never
    // does WORSE here; the strict cut shows up as soon as tiles fill
    // (sf0.01 oracle-checked artifact: 11 vs 21 runs; sf0.1: same 2x gap).
    assert(h._4 <= z._4, s"hilbert must never fragment more: $h vs $z")
  }

  test("p20: the CDC sequence rank and the op census share ONE user-keyed " +
    "exchange — no join, no second scan of the change stream") {
    val plan = finalPlan(SparkEntry.queries("p20_cdc_apply")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1,
      s"rank window and census must share one keyed exchange, got $hashEx:\n${plan.take(3000)}")
    assert(plan.contains("hashpartitioning(user_id"), plan.take(3000))
    assert(!plan.contains("Join"), "the fold must not join:\n" + plan.take(3000))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"one events scan expected, got $scans")
  }

  test("e27: range-search candidates reach the verify only through the " +
    "broadcast probe-cell join — the corpus is never self-joined") {
    val plan = finalPlan(SparkEntry.queries("e27_range_search")(spark, sf))
    // qcells (<=16 rows) and qv (4 rows) both broadcast; the only
    // nested-loop is the C-row codebook distance cross (e3's shape).
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2,
      s"probe cells + probe vectors must broadcast, got $broadcasts:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"),
      "nothing in the pruned pipeline should shuffle-sort:\n" + plan.take(3000))
  }

  /** The executed (post-AQE) operator tree of registry query `name`. */
  private def executedTree(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Children through the adaptive wrappers: an adaptive plan's final
    * plan, a query stage's exchange, a reused exchange's original.
    */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case o => o.children
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(allNodes)

  /** Single-child operators that never add rows: what may sit between a
    * bounded window and the node that bounds its input.
    */
  private def passThrough(p: SparkPlan): Boolean = p match {
    case _: SortExec | _: ProjectExec | _: FilterExec | _: ShuffleExchangeExec |
        _: QueryStageExec | _: AQEShuffleReadExec | _: InputAdapter |
        _: WholeStageCodegenExec | _: WindowGroupLimitExec => true
    case _ => false
  }

  private def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] =
    allNodes(p).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  test("draw-index windows (e5, g9, v20, e28): the unpartitioned md5-order " +
    "row_number sits directly above the draw's limit — no corpus-sized " +
    "operator between") {
    Seq("e5_ann_hyperplane" -> 16, "g9_knn_graph" -> 16,
        "v20_embedding_drift" -> 16, "e28_multiprobe_lsh" -> 8).foreach {
      case (name, k) =>
        val tree = executedTree(name)
        // The planner moves the md5 key into a projected `_w0` column:
        // resolve each window's leading order key through its alias.
        val aliased = allNodes(tree).flatMap(_.expressions.flatMap(_.collect {
          case a: Alias => a.exprId -> a.child
        })).toMap
        def defn(e: Expression) = e match {
          case a: AttributeReference => aliased.getOrElse(a.exprId, a)
          case other => other
        }
        val draws = unpartitionedWindows(tree)
          .filter(_.orderSpec.headOption.exists(o => defn(o.child).toString.contains("md5(")))
        assert(draws.nonEmpty, s"$name: no draw-index window\n$tree")
        draws.foreach { w =>
          var n = w.child
          while (passThrough(n) && kids(n).size == 1) n = kids(n).head
          val limit = n match {
            case t: TakeOrderedAndProjectExec => t.limit
            case g: GlobalLimitExec => g.limit
            case c: CollectLimitExec => c.limit
            case other => fail(s"$name: the draw window reads ${other.nodeName}, " +
              s"not the draw's limit:\n$tree")
          }
          assert(limit == k, s"$name: draw window above a limit of $limit, expected $k")
        }
    }
  }

  test("probe-cell windows (e4, e13, e15): each unpartitioned (d2, id) " +
    "window receives at most the codebook's C rows") {
    Seq(("e4_ann_kmeans", 32, 1), ("e13_ivf_pq", 8, 1),
        ("e15_nprobe_sweep", 32, 4)).foreach { case (name, c, nWindows) =>
      val tree = executedTree(name)
      val probes = unpartitionedWindows(tree)
        .filter(_.orderSpec.headOption.exists(_.child.references.exists(_.name == "d2")))
      assert(probes.size == nWindows,
        s"$name: expected $nWindows probe-cell windows, found ${probes.size}\n$tree")
      probes.foreach { w =>
        // The rn <= nprobe filter may plan as a limit under the window; the
        // rows below it are what the codebook bounds.
        def limit(p: SparkPlan) = p match {
          case _: TakeOrderedAndProjectExec | _: GlobalLimitExec | _: LocalLimitExec => true
          case _ => false
        }
        var n = w.child
        while (!n.metrics.contains("numOutputRows") && (passThrough(n) || limit(n)) &&
            kids(n).size == 1)
          n = kids(n).head
        val rows = n.metrics.get("numOutputRows").map(_.value)
          .getOrElse(fail(s"$name: no row count below the window (stopped at ${n.nodeName})"))
        assert(rows > 0 && rows <= c,
          s"$name: the probe-cell window received $rows rows from ${n.nodeName}, " +
            s"more than the codebook's $c\n$tree")
      }
    }
  }

  test("rank and total windows (e16, v20): e16's two unpartitioned rank " +
    "windows sit directly above a limit of 20, and v20's census-total " +
    "window receives at most the 16 buckets of `sketch & 15`") {
    val e16 = executedTree("e16_hybrid_rrf")
    val ranks = unpartitionedWindows(e16).filter(_.orderSpec.headOption.exists(
      _.child.references.exists(a => a.name == "bm25" || a.name == "sim")))
    assert(ranks.size == 2, s"e16: expected 2 rank windows, found ${ranks.size}\n$e16")
    ranks.foreach { w =>
      var n = w.child
      while (passThrough(n) && kids(n).size == 1) n = kids(n).head
      val limit = n match {
        case t: TakeOrderedAndProjectExec => t.limit
        case g: GlobalLimitExec => g.limit
        case other => fail(s"e16: a rank window reads ${other.nodeName}, not a limit:\n$e16")
      }
      assert(limit == 20, s"e16: rank window above a limit of $limit, expected 20")
    }

    val v20 = executedTree("v20_embedding_drift")
    val totals = unpartitionedWindows(v20).filter(_.orderSpec.isEmpty)
    assert(totals.nonEmpty, s"v20: no census-total window\n$v20")
    totals.foreach { w =>
      var n = w.child
      while (!n.metrics.contains("numOutputRows") && passThrough(n) && kids(n).size == 1)
        n = kids(n).head
      n match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.map(_.name) == Seq("bucket") =>
        case other => fail(s"v20: the total window reads ${other.nodeName}, " +
          s"not the bucket census:\n$v20")
      }
      val rows = n.metrics("numOutputRows").value
      assert(rows > 0 && rows <= 16,
        s"v20: the census-total window received $rows rows, more than 16 buckets\n$v20")
    }
  }
}
