package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/** Distributed connected components by frontier-based min-label propagation
  * with pointer jumping — the Pregel shape for clustering duplicate graphs
  * (north star: grouping near-dup documents at 100 TB).
  *
  * Each round runs exactly ONE Spark action and three co-partitioned joins:
  *
  *   1. relax edges from the FRONTIER only (nodes whose label changed last
  *      round) — after most of the graph converges, rounds touch only the
  *      still-moving boundary, not all labels (delta iteration);
  *   2. pointer jump `lbl := labels(lbl)` for every node — path compression
  *      that makes long chains converge in O(log diameter) rounds instead of
  *      O(diameter);
  *   3. the convergence test is FUSED into the label update: the new label
  *      table carries a `chg` flag and the round's single `count` both
  *      fills the round's pin and returns the changed-row count — no
  *      separate `isEmpty` job re-running the join.
  *
  * Each round is a frame-owned pin ([[graft.Pin.owned]]: O(1) plan, same
  * recompute path), and the RDD lineage is cut with a RELIABLE disk
  * checkpoint every `checkpointEvery` rounds (fault-tolerant on a real
  * cluster, unlike `localCheckpoint` whose blocks die with an executor).
  * The returned frame owns the pins since its last checkpoint; the edge
  * list is a scoped pin, released when this call returns.
  *
  * Exactness: labels only decrease and only take node-id values reachable in
  * the component; on termination every (symmetric) edge is relaxed in both
  * directions, so labels are constant per component and equal the component's
  * minimum id — the same min-reachable-id the recursive-CTE oracle computes.
  *
  * Input skew: the per-round relax is the join-feeding-same-key-agg shape
  * the r11/r12 planted-skew probes measured — AQE's skew splitter DECLINES
  * it (splitting would break the groupBy's reuse of the join's
  * partitioning; PROBES `skew_label_aqe` ~100‰ hot-task share), while
  * salting bounds it (~35-45‰). On a graph with a planted super-node, wrap
  * the relax join in [[graft.operators.Skew.autoSaltedJoin]] — its key
  * census finds the hot node without a hand-set salt (PROBES r12
  * `skew_label_autosalt`: 43‰, result-identical).
  */
object ConnectedComponents {

  /** @param pairs undirected edges as columns `a`, `b` (integral ids)
    * @param smallGraphMaxEdges size-adaptive cutoff, same decision shape as
    *        Spark's `autoBroadcastJoinThreshold`: at or below it the deduped
    *        edge list is pulled to the driver and solved with a linear-time
    *        union-find — any number of distributed rounds loses to that by
    *        orders of magnitude in per-job overhead. The real driver cost
    *        is the collected Row array (~100 bytes/edge with boxing), so
    *        the default of 1M symmetrized edges budgets ~100 MB transient
    *        plus a primitive-specialized LongMap — comfortably inside a
    *        default 1g driver. Above the cutoff, the frontier Pregel loop
    *        runs. The near-dup graphs LSH emits are a tiny fraction of
    *        corpus size, but at 100 TB they can still exceed any driver, so
    *        the distributed path is the default shape, not a fallback.
    *        Pass 0 to force the distributed path (specs do).
    * @return one row per node appearing in `pairs`: (`id`, `lbl` = minimum
    *         node id of its component)
    */
  def minLabels(
      pairs: DataFrame,
      maxRounds: Int = 50,
      checkpointEvery: Int = 5,
      smallGraphMaxEdges: Long = 1L << 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        System.getProperty("java.io.tmpdir") + "/graft-cc-checkpoint")

    Pin.scoped { pin =>
      val edges = pin(pairs.select(col("a"), col("b"))
        .union(pairs.select(col("b").as("a"), col("a").as("b")))
        .distinct())
      // Materialize eagerly: the first round scans `edges` from several plan
      // subtrees at once, and concurrent scans of a not-yet-cached relation
      // each recompute the (expensive) upstream pair generation instead of
      // sharing one pass. The count doubles as the strategy pick below.
      val nEdges = timed("edges materialize")(edges.count())
      if (nEdges <= smallGraphMaxEdges) driverLabels(edges)
      else rounds(edges, maxRounds, checkpointEvery)
    }
  }

  private val trace = sys.env.contains("SPARK_GRAFT_CC_TRACE")

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (trace) System.err.println(
      f"[cc] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    r
  }

  /** Union-find on the driver over the collected (materialized) edges. */
  private def driverLabels(edges: DataFrame): DataFrame = {
    val out = timed("driver union-find") {
      val es = edges.select(col("a").cast("long"), col("b").cast("long"))
        .collect()
      // parent doubles as the node registry (every endpoint is entered
      // with parent(x)=x on first sight) — no boxed node Set alongside
      // the Row array; LongMap is primitive-key specialized.
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent(x)
        while (p != x) { // path halving
          val gp = parent(p)
          parent.update(x, gp)
          x = gp
          p = parent(x)
        }
        x
      }
      es.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.contains(a)) parent.update(a, a)
        if (!parent.contains(b)) parent.update(b, b)
        val (ra, rb) = (find(a), find(b))
        // union-by-min: the larger root links under the smaller, so every
        // root IS its component's minimum id and no relabel pass is needed
        // (path halving keeps chains near-flat despite the skewed linking)
        if (ra < rb) parent.update(rb, ra)
        else if (rb < ra) parent.update(ra, rb)
      }
      parent.keysIterator.map(id => (id, find(id))).toSeq
    }
    val sess = edges.sparkSession
    import sess.implicits._
    out.toDF("id", "lbl")
  }

  /** The frontier Pregel loop over the materialized symmetric `edges`. */
  private def rounds(edges: DataFrame, maxRounds: Int, checkpointEvery: Int): DataFrame = {
    // No eager count here: init derives from the ALREADY-materialized edges
    // pin, so the concurrent-first-scan recompute risk that forces
    // edges.count() above costs only a distinct over cached rows — not worth
    // a whole extra job (each action is ~seconds of fixed overhead on an
    // oversubscribed host, and round 1 materializes init anyway).
    val init = Pin.owned(edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")))

    var labels = init
    var frontier = init // round 1 considers every node changed
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // Cooperative cancellation: a watchdog (e.g. Bench's per-query
      // timeout) interrupts the driver thread; without this check the loop
      // would keep submitting fresh jobs after its job group was cancelled.
      if (Thread.currentThread().isInterrupted)
        throw new InterruptedException("ConnectedComponents cancelled")
      round += 1
      // Best label reachable over one edge from a node that moved last round.
      val cand = edges
        .join(frontier.select(col("id").as("b"), col("lbl").as("blbl")), Seq("b"))
        .groupBy("a")
        .agg(min(col("blbl")).as("cmin"))
        .withColumnRenamed("a", "id")
      // One-hop relax, then jump through the label table (lbl is itself a
      // node id, and labels(x) <= x always, so least() is the compression).
      val relaxed = labels
        .join(cand, Seq("id"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("cmin"), col("lbl"))).as("l1"))
      val next0 = relaxed
        .join(labels.select(col("id").as("l1"), col("lbl").as("l2")), Seq("l1"), "left")
        .select(col("id"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("lbl"),
          (least(col("l1"), coalesce(col("l2"), col("l1"))) =!= col("lbl")).as("chg"))
      val next =
        if (round % checkpointEvery == 0) next0.checkpoint() // eager, on disk
        else Pin.owned(next0)
      changed = timed(s"round $round") {
        next.filter(col("chg")).count() // the round's ONE action
      }
      if (trace) System.err.println(s"[cc] round $round changed=$changed")
      labels = next.select("id", "lbl")
      frontier = next.filter(col("chg")).select("id", "lbl")
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ConnectedComponents: round cap $maxRounds hit with $changed labels still moving")
    if (trace) timed("final labels re-count")(labels.count())
    labels
  }
}
