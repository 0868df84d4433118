package graft

/** Smoke run of every ScaleProbe leg on the sf0.001 corpus: each leg must
  * complete and print one PROBEJSON line per factor (or mode) with the
  * five common fields and no NaN. A leg added to [[ScaleProbe.legs]] runs
  * here without further wiring; the ANN and ingest legs run in
  * ScaleProbeAnnSpec and ScaleProbeIngestSpec.
  */
class ScaleProbeSpec extends SparkSpec {
  import ScaleProbeAnnSpec.{probeLines, sf}

  private val ownSpec = Set("ann", "annbal", "anncl", "mplsh", "ingest")

  /** The probes a leg prints, each with its `factor` values in order. */
  private val expected: Map[String, Map[String, Seq[Int]]] = {
    val f = ScaleProbe.factors
    def one(probes: String*) = probes.map(_ -> Seq(1)).toMap
    Map(
      "lsh" -> Map("lsh" -> f),
      "asof" -> Map("asof_native" -> f),
      "censusbound" -> Seq(8, 0).map(p => s"censusbound_p$p" -> (10 to 50 by 10)).toMap,
      "batchsig" -> Seq(32, 60, 120).map(b => s"batchsig_$b" -> f).toMap,
      "mvrefresh" -> Map("mvrefresh" -> f, "mvcompact" -> (1 to 10)),
      "skew" -> one(Seq("join_naive", "join_salted", "join_aqe", "label_naive",
        "label_salted", "label_autosalt", "label_aqe", "band_naive", "band_aqe")
        .map("skew_" + _): _*),
      "cc" -> one("cc_unionfind", "cc_pregel"),
      "sn" -> Map("sn" -> f),
      "span" -> Map("span" -> f),
      "cur" -> Map("cur" -> f),
      "graph" -> Map("graph" -> f),
      "interval" -> Map("interval" -> f),
      "lev" -> Map("lev" -> Seq(60, 250, 1000, 4000)),
      "dispatch" -> Seq("base", "init256", "shuf256", "aqe_off")
        .map(p => s"dispatch_$p" -> Seq(1, 2)).toMap)
  }

  private val common =
    """^PROBEJSON \{"probe":"[a-z0-9_]+","factor":(\d+),"n":\d+,"aux":-?\d+,"sec":\d+\.\d\d[,}]""".r

  test("the legs left to other specs are real legs") {
    assert(ownSpec.subsetOf(ScaleProbe.legs.map(_._1).toSet))
  }

  ScaleProbe.legs.filterNot { case (name, _) => ownSpec(name) }.foreach { case (name, leg) =>
    test(s"$name leg completes and reports every factor at sf0.001") {
      val got = probeLines(leg(spark, sf))
      assert(got.nonEmpty, s"$name printed no PROBEJSON line")
      got.values.flatten.foreach { l =>
        assert(!l.contains("NaN"), l)
        assert(common.findFirstIn(l).isDefined, s"malformed: $l")
      }
      expected.get(name).foreach { want =>
        assert(got.keySet == want.keySet, s"unexpected probe set: ${got.keySet}")
        want.foreach { case (p, factors) =>
          val seen = got(p).map(l => common.findFirstMatchIn(l).get.group(1).toInt)
          assert(seen == factors, got(p).mkString("\n"))
        }
      }
    }
  }
}
