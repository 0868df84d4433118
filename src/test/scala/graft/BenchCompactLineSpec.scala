package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact stdout line of [[Bench]]: slowest 15 plus the pinned
  * comparator set, with failures visible rather than dropped.
  */
class BenchCompactLineSpec extends AnyFunSuite {

  private val others = (1 to 20).map(i => f"q$i%02d" -> i.toDouble)

  test("a failed pinned query stays on the compact line with the -1 sentinel") {
    val results = others ++ Seq("g3_kcore" -> -1.0, "e13_ivf_pq" -> 0.5)
    val line = Bench.compactEntries(results)
    assert(line.toMap.get("g3_kcore") == Some(-1.0))
    assert(line.toMap.get("e13_ivf_pq") == Some(0.5))
  }

  test("the slowest 15 successful queries lead, then the attempted pinned ones, each once") {
    val results = others ++ Seq("g3_kcore" -> 30.0, "q_failed" -> -1.0)
    val line = Bench.compactEntries(results)
    val slow = ("g3_kcore" +: (20 to 7 by -1).map(i => f"q$i%02d"))
    assert(line.map(_._1) == slow)
    assert(!line.exists(_._1 == "q_failed"), "failed unpinned queries are counted, not listed")
    assert(Bench.pinned.filterNot(_ == "g3_kcore").forall(p => !line.exists(_._1 == p)),
      "pinned queries the run never attempted are not invented")
  }

  test("every excluded and pinned name is a registry query, and the pinned set is timed") {
    val stray = (Bench.excluded.toSeq ++ Bench.pinned).filterNot(SparkEntry.queries.contains)
    assert(stray.isEmpty, s"names not in the registry: $stray")
    assert(Bench.pinned.forall(Bench.headline.contains))
  }
}
