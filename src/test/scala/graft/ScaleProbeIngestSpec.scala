package graft

/** Smoke run of ScaleProbe's ingest leg on the sf0.001 corpus: every
  * CorpusIngest gate over a census inflated 1×, 4× and 16×, then one fresh
  * epoch of never-seen content, which each gate must admit.
  */
class ScaleProbeIngestSpec extends SparkSpec {
  import ScaleProbeAnnSpec.{probeLines, sf}

  test("ingestProbe reports one line per mode and state, and every fresh epoch admits rows") {
    val got = probeLines(ScaleProbe.ingestProbe(spark, sf))
    val modes = Set("fp", "span", "frame", "frame60", "vec").map("ingest_" + _)
    assert(got.keySet == modes, s"unexpected probe set: ${got.keySet}")
    val line = """"factor":(\d+),"n":(\d+),"aux":(\d+),""".r
    modes.foreach { m =>
      val fields = got(m).map(l => line.findFirstMatchIn(l).getOrElse(fail(l)))
      assert(fields.map(_.group(1).toInt) == Seq(1, 4, 16), got(m).mkString("\n"))
      fields.zip(got(m)).foreach { case (f, l) =>
        assert(f.group(2).toLong > 0, s"empty census: $l")
        assert(f.group(3).toLong >= 1, s"fresh epoch admitted nothing: $l")
      }
    }
  }
}
