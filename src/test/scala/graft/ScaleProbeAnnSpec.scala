package graft

/** Smoke run of ScaleProbe's four ANN legs on the sf0.001 corpus (500
  * embeddings): each leg must complete and print one PROBEJSON line per
  * inflation factor and scheme — the annbal leg once broke unnoticed.
  */
class ScaleProbeAnnSpec extends SparkSpec {
  import ScaleProbeAnnSpec.{probeLines, sf}

  private def assertLegs(got: Map[String, Seq[String]], probes: String*): Unit = {
    assert(got.keySet == probes.toSet, s"unexpected probe set: ${got.keySet}")
    probes.foreach { p =>
      assert(got(p).size == ScaleProbe.factors.size,
        s"$p: one line per factor expected, got ${got(p).mkString("\n")}")
      got(p).foreach(l => assert(!l.contains("NaN"), l))
    }
  }

  test("annProbe completes and reports candidates for every factor") {
    val got = probeLines(ScaleProbe.annProbe(spark, sf))
    assertLegs(got, "ann")
    assert(got("ann").forall(l => !l.contains("\"candidates\":0,")), got("ann").mkString("\n"))
  }

  test("annBalancedProbe completes for every factor") {
    assertLegs(probeLines(ScaleProbe.annBalancedProbe(spark, sf)), "annbal", "annbal_nosplit")
  }

  test("annClusteredProbe completes in both cap modes for every factor") {
    assertLegs(probeLines(ScaleProbe.annClusteredProbe(spark, sf)),
      "anncl_split", "anncl_nosplit")
  }

  test("multiprobeProbe completes for all three schemes and every factor") {
    val got = probeLines(ScaleProbe.multiprobeProbe(spark, sf))
    assertLegs(got, "mplsh_banded", "mplsh_multi", "mplsh_multi2")
    assert(got.values.flatten.forall(_.contains("\"recall_pm\":")))
  }
}

object ScaleProbeAnnSpec {

  val sf = "/root/testdata/sf0.001"

  /** The PROBEJSON payloads `leg` prints, keyed by their "probe" field. */
  def probeLines(leg: => Unit): Map[String, Seq[String]] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(leg)
    val probe = """"probe":"([a-z0-9_]+)"""".r
    out.toString("UTF-8").linesIterator
      .filter(_.startsWith("PROBEJSON "))
      .map(l => probe.findFirstMatchIn(l).map(_.group(1)).getOrElse("?") -> l)
      .toSeq.groupMap(_._1)(_._2)
  }
}
