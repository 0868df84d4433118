package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

/** Structural properties of the integer power iteration: hub dominance,
  * symmetry of structurally-identical nodes, near-conservation of mass
  * (integer floor division can only LOSE micro-units, never invent them),
  * and run-to-run determinism (the whole point of the long arithmetic).
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Symmetrize an undirected edge list into the directed contract. */
  private def sym(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(_.swap)).toDF("a", "b")

  test("star graph: the hub outranks every leaf; leaves tie exactly") {
    val star = sym((2L to 9L).map(1L -> _))
    val r = PageRank.ranks(star, iterations = 6)
      .as[(Long, Long)].collect().toMap
    val leaves = (2L to 9L).map(r)
    assert(leaves.distinct.size == 1,
      s"structurally identical leaves must tie exactly: $leaves")
    assert(r(1L) > leaves.head * 3,
      s"hub ${r(1L)} should dominate leaf ${leaves.head}")
  }

  test("mass is conserved up to floor-division loss") {
    val mass = 1000000000000L
    val g = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    val total = PageRank.ranks(g, iterations = 6, totalMass = mass)
      .agg(sum("r")).as[Long].head()
    // Each round floors once per edge-contribution and once per damping
    // term; with ~10 directed edges and 6 rounds the loss is bounded by
    // a few thousand micro-units out of 1e12.
    assert(total <= mass && total > mass - 100000L,
      s"total mass $total drifted from $mass")
  }

  test("deterministic across runs and partition counts") {
    val g = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (5L, 1L),
      (6L, 5L), (7L, 5L), (8L, 2L)))
    val a = PageRank.ranks(g, iterations = 5)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = PageRank.ranks(g.repartition(7), iterations = 5)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("g1's final plan is lineage-truncated: no base-table scan survives") {
    // The returned frame must be the final round's frame-owned pin, one
    // cached-relation leaf — K rounds of joins must NOT accumulate in the
    // analyzed plan (the ConnectedComponents O(1)-plan discipline).
    val g = sym(Seq((1L, 2L), (2L, 3L)))
    val analyzed = PageRank.ranks(g, iterations = 4).queryExecution.analyzed
    assert(analyzed.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation],
      s"the ranks must be one pinned relation:\n$analyzed")
  }
}
