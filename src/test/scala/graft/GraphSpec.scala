package graft

import graft.operators.ConnectedComponents
import graft.queries.GraphQueries
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The iterative-graph discipline shared by g1–g4: every round is a
  * frame-owned pin whose plan is O(1), fixed-point early exit is
  * semantics-preserving (extra synchronous rounds are identity, so the
  * unrolled fixed-R oracles stay valid), and no call leaves a pin behind.
  */
class GraphSpec extends SparkSpec {

  test("Pin.owned preserves rows+schema, rebases the plan onto a single " +
    "cached relation (O(1) analysis per round) and is no cache-manager entry") {
    import spark.implicits._
    val df = (1 to 100).toDF("x")
      .join((1 to 100).toDF("x"), Seq("x"))
      .groupBy(($"x" % 7).as("k")).count()
    val t = Pin.owned(df)
    assert(t.schema == df.schema)
    assert(t.collect().map(_.toString).sorted
      .sameElements(df.collect().map(_.toString).sorted))
    // the whole upstream join+agg collapses to one leaf
    assert(t.queryExecution.analyzed.isInstanceOf[InMemoryRelation])
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  /** Runs `q` to its collected rows; the frame is dropped on return. */
  private def collected(q: Q, sf: String): Int = q.fn(spark, sf).collect().length

  test("g1, g3, g5 and g10 called twice in one session leave no pin " +
    "behind once their frames are dropped") {
    val sf = "/root/testdata/sf0.001"
    val qs = Seq(GraphQueries.g1PageRank, GraphQueries.g3KCore,
      GraphQueries.g5BfsHops, GraphQueries.g10Hits)
    Memo.reset(spark)
    qs.foreach(collected(_, sf)) // builds the shared views and cells
    val before = unownedPersists()
    assert(before.isEmpty, s"persisted RDDs no Memo cell owns: $before")
    val listed = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 2; q <- qs) collected(q, sf)
    assert(unownedPersists().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size <= listed,
      "repeated calls must not grow the persisted RDDs")
    Memo.reset(spark)
  }

  /** The distributed labels of a 12-node path (11 rounds to converge). */
  private def pathLabels(): Set[(Long, Long)] = {
    import spark.implicits._
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    ConnectedComponents.minLabels(pairs, checkpointEvery = 3, smallGraphMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
  }

  test("ConnectedComponents past a reliable checkpoint leaves no cache " +
    "entry and no persisted RDD once its labels are dropped") {
    Memo.reset(spark)
    assert(pathLabels() == (1L to 12L).map(_ -> 1L).toSet)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a round must not stay in the cache manager")
    assert(unownedPersists().isEmpty)
  }

  test("the bucketed materialized views are SEMANTICALLY the derivations " +
    "they replace: adjacency = symmetrized partCoEdges, degrees = endpoint " +
    "census, pr-edges = degree-joined parity graph (staleness guard)") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val (adj, deg) = GraphQueries.coAdjDeg(spark, sf)
    val e = GraphQueries.partCoEdges(spark, sf)
    val expectAdj = e.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val gotAdj = adj.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotAdj == expectAdj, "bucketed adjacency drifted from partCoEdges")
    val expectDeg = expectAdj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val gotDeg = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDeg == expectDeg, "bucketed degree table drifted")
    val (edged, nodes) = GraphQueries.coPrGraph(spark, sf)
    val gotE = edged.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every row's degree matches the recomputed out-degree of its source
    val outdeg = gotE.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(gotE.forall { case (a, _, d) => outdeg(a) == d },
      "pre-joined degree drifted from the edge census")
    // parity encode: sources/targets alternate customer(even)/supplier(odd)
    assert(gotE.forall { case (a, b, _) => (a % 2) != (b % 2) },
      "parity encoding violated — customer/supplier key spaces collide")
    val gotNodes = nodes.collect().map(_.getLong(0)).sorted.toSeq
    assert(gotNodes == gotE.map(_._1).distinct.sorted.toSeq,
      "node table drifted from the edge sources")
  }

  test("labelPropagate converges on two disjoint triangles and the early " +
    "exit returns the same result as the full fixed-R unroll") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 20L), (20L, 30L), (10L, 30L))
      .toDF("u", "v")
    // LPA on a triangle: round 1 maps 1→2, 2→1, 3→1; round 2 collapses all
    // onto 1; round 3 changes nothing → the loop exits before round 4.
    // rounds=4 (early-exited) must equal rounds=3 (exact) — identity tail.
    def run(r: Int) = GraphQueries.labelPropagate(edges, rounds = r)
      .as[(Long, Long)].collect().toSeq.sorted
    val r4 = run(4)
    assert(r4 == Seq((1L, 3L), (10L, 3L)))
    assert(r4 == run(3))
  }

  test("labelPropagate on a path graph: the total packed argmax breaks " +
    "count ties toward the smaller label deterministically") {
    import spark.implicits._
    // path 1-2-3: node 2 sees labels {1,3} with equal counts → picks 1.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val out = GraphQueries.labelPropagate(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // round 1: 1→2, 2→1, 3→2; round 2: 1→1, 2→2, 3→1; rounds oscillate on
    // bipartite paths but the fixed R=4 snapshot is deterministic.
    assert(out.values.sum == 3L) // every node labelled exactly once
  }

  test("g7 PPR is consistent with g5's BFS: positive rank only within 4 hops " +
    "of the shared hub seed, and the seed outranks every other node") {
    val sf = "/root/testdata/sf0.001"
    val ppr = SparkEntry.queries("g7_personalized_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hops = SparkEntry.queries("g5_bfs_hops")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr.nonEmpty)
    val seed = hops.collectFirst { case (id, 0L) => id }.get
    assert(ppr.contains(seed) && ppr(seed) == ppr.values.max,
      "restart mass must keep the seed on top")
    // mass spreads one hop per round: rank reaches at most hop 4
    ppr.keys.foreach { id =>
      assert(hops.get(id).exists(_ <= 4L),
        s"part $id ranked but ${hops.get(id)} hops from the seed")
    }
  }

  test("g8 modularity replays from the engine's own labels and edges, and " +
    "the Newman identities hold (Σdeg = 2m, Σe_c ≤ m, ΣQ_c ∈ (−1, 1])") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("g8_modularity")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val edges = GraphQueries.partCoEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = GraphQueries.labelAssign(
      GraphQueries.coAdjDeg(spark, sf)._1, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = edges.length.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val slow = labels.groupBy(_._2).map { case (c, members) =>
      val ids = members.keySet
      val e = edges.count(ed => labels(ed._1) == c && labels(ed._2) == c).toLong
      val d = ids.toSeq.map(deg).sum
      c -> (ids.size.toLong, d, e,
        (4 * m * e - d * d).toDouble / (4 * m * m))
    }
    assert(out.keySet == slow.keySet)
    slow.foreach { case (c, exp) => assert(out(c) == exp, s"community $c") }
    assert(out.values.map(_._2).sum == 2 * m, "Σ deg_sum = 2m")
    assert(out.values.map(_._3).sum <= m, "Σ intra ≤ m")
    val q = out.values.map(_._4).sum
    assert(q > -1.0 && q <= 1.0, s"total modularity $q out of range")
  }
}
