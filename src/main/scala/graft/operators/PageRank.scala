package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/** Distributed PageRank by synchronous power iteration over an edge list —
  * the graph-importance primitive a corpus pipeline uses for link-graph
  * quality signals (Common-Crawl-style domain ranking) and entity
  * centrality over derived relation graphs.
  *
  * All arithmetic is INTEGER (ranks are longs in units of
  * `totalMass / n`-ish micro-mass): per-edge contributions are
  * `rank div outdeg`, the damping update is
  * `(15·base) div 100 + (85·Σcontrib) div 100`. Sums of longs are
  * order-independent and truncating division on non-negative operands is
  * identical in Spark (`div`) and DuckDB (`//`), so the fixed-point result
  * is bit-identical across engines and across cluster sizes — no
  * float-summation nondeterminism anywhere (the x10/x11 quantization
  * lesson applied to an iterative computation).
  *
  * Scale shape (the 100 TB story):
  *   - the edge list and out-degree table are computed once, pinned, and
  *     reused by every iteration — each round is ONE keyed shuffle
  *     (`groupBy(dst)` with map-side partial sums) plus co-keyed joins on
  *     the source id;
  *   - every THIRD round (and the last) is materialized as a frame-owned
  *     pin ([[graft.Pin.owned]], a one-leaf plan); rounds in between
  *     chain lazily, so plan depth stays ≤ 3 rounds, Catalyst analysis is
  *     O(1) per round, and the fixed-round loop pays a job-submission
  *     barrier only at the materialize points (rounds are fixed — nothing
  *     reads a per-round count, so per-round barriers bought nothing);
  *   - the returned frame owns every pin: they are freed together once
  *     the caller drops it, and failure recompute is bounded at
  *     `materializeEvery` rounds.
  *
  * Contract: `edges` is a directed edge list with integral columns `a`
  * (source) and `b` (target), already symmetrized by the caller if the
  * graph is undirected; every node must appear as a source at least once
  * (true for symmetrized graphs), so there is no dangling-mass term.
  */
object PageRank {

  /** @param edges directed edges (`a`, `b`), every node present as a source
    * @param iterations fixed number of power-iteration rounds (the oracle
    *        unrolls the same count, so this is part of the result contract)
    * @param totalMass initial mass to spread, in integer units
    * @return one row per node: (`id`, `r` = integer rank after K rounds)
    */
  def ranks(
      edges: DataFrame,
      iterations: Int,
      totalMass: Long = 1000000000000L): DataFrame = {
    // Frame-owned pins, each filled by its count: round 1 scans `e` from
    // two subtrees at once (the outdeg join and the edge join), and
    // concurrent first scans of a not-yet-filled pin each recompute the
    // upstream derivation (the d2/d10 concurrent-first-scan trap).
    val e = Pin.owned(edges.select(col("a"), col("b")))
    e.count()

    // Out-degree is JOINED ONTO the edge list once, up front: each round's
    // contribution then needs a single (ranks ⋈ edged) join instead of
    // (ranks ⋈ outdeg ⋈ edges) — one hash join per round saved, and the
    // per-edge degree is read straight off the cached row.
    val outdeg = e.groupBy("a").agg(count(lit(1)).as("d"))
    val edged = Pin.owned(e.join(outdeg, Seq("a")))
    edged.count()
    val nodes = Pin.owned(e.select(col("a").as("id")).distinct())
    val n = nodes.count() // one job: fills the pin AND sizes the mass
    core(edged, nodes, n, iterations, totalMass)
  }

  /** The power-iteration core over PRE-MATERIALIZED inputs: `edged` is the
    * degree-joined edge list (`a`, `b`, `d`) and `nodes` the node set
    * (`id`), both assumed cheap to rescan (a bucketed table or a persisted
    * frame — the r7 graph materialized views). Skips [[ranks]]' three
    * pin+count barriers, which dominate an ISOLATED query's wall when
    * the derivation already lives in the warehouse; when `edged` is
    * bucketed on `a`, each round's contribution join plans with no
    * Exchange on the edge side.
    */
  def ranksPrepared(
      edgedT: DataFrame,
      nodes: DataFrame,
      iterations: Int,
      totalMass: Long = 1000000000000L): DataFrame =
    core(edgedT, nodes, nodes.count(), iterations, totalMass)

  private def core(
      edgedT: DataFrame,
      nodes: DataFrame,
      n: Long,
      iterations: Int,
      totalMass: Long): DataFrame = {
    require(n > 0, "PageRank over an empty edge list")
    val base = totalMass / n
    // Positive longs: Scala `/`, Spark `div` and DuckDB `//` all truncate
    // identically, so the driver-side teleport constant matches the
    // oracle's `(15 * (S // n)) // 100`.
    val teleport = (15L * base) / 100L

    var ranks = nodes.withColumn("r", lit(base))
    // Rounds are FIXED (no convergence test reads a per-round count), so a
    // synchronous materialize per round buys nothing semantically — it
    // only bounds the failure-recompute window and pays one job-submission
    // barrier per round. Materialize every third round (and the last):
    // intermediate rounds chain lazily from the last frame-owned pin
    // (each round's plan still reads that pin, so Catalyst analysis stays
    // O(1) per round), then execute as ONE job whose stages pipeline
    // without driver round-trips. Each round's output has exactly one
    // consumer (the next round's contribution join), so the unmaterialized
    // rounds are never double-computed. On a cluster the materialize
    // points are where you'd also checkpoint.
    val materializeEvery = 3
    for (i <- 1 to iterations) {
      // Cooperative cancellation under Bench's per-query watchdog (the
      // ConnectedComponents pattern).
      if (Thread.currentThread().isInterrupted)
        throw new InterruptedException("PageRank cancelled")
      val contrib = ranks.withColumnRenamed("id", "a")
        .join(edgedT, Seq("a"))
        .select(col("b").as("id"), expr("r div d").as("q"))
        .groupBy("id")
        .agg(sum(col("q")).as("s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
      if (i % materializeEvery == 0 || i == iterations) {
        ranks = Pin.owned(next)
        ranks.count()
      } else {
        // No pin between materialize points: plan depth is bounded
        // (≤ materializeEvery rounds past the last pin).
        ranks = next
      }
    }
    ranks
  }
}
