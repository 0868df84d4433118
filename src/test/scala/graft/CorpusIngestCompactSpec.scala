package graft

import graft.streaming.CorpusIngest
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Paths}

/** In-path census compaction (r11 verdict #2): the ingest census accrued
  * one `batch_id=` partition per epoch forever; `compactCensus` folds
  * committed partitions once the count breaches `maxCensusParts`. These
  * specs prove the three contracts the fold must keep:
  *   1. admission PARITY — a compacted run admits exactly what an
  *      uncompacted run admits, epoch by epoch;
  *   2. replay IDEMPOTENCE — re-running a drained stream across an
  *      already-compacted census admits nothing new;
  *   3. BOUNDED partitions — the census partition count stays within
  *      maxParts + 1 across many epochs (the namenode-health claim), with
  *      pinned marker files surviving the fold.
  */
class CorpusIngestCompactSpec extends SparkSpec {
  import spark.implicits._

  private def censusParts(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists()) 0
    else d.listFiles().count(f => f.isDirectory && f.getName.startsWith("batch_id="))
  }

  private def writeDoc(in: String, epoch: Int, lines: Seq[(Long, String)]): Unit =
    Files.writeString(Paths.get(s"$in/m$epoch.json"),
      lines.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t","source":"s"}""" }.mkString("", "\n", "\n"))

  test("exact-gate census compaction: admission parity with an uncompacted " +
    "twin, bounded partitions, and replay idempotence across the fold") {
    val root = Files.createTempDirectory("censuscompact").toString
    val inC = s"$root/inC"; val inU = s"$root/inU"
    Files.createDirectories(Paths.get(inC))
    Files.createDirectories(Paths.get(inU))
    // 8 epochs; epoch k re-sends every doc 0..k (all but the newest are
    // cross-epoch dups the census must keep rejecting AFTER being folded).
    val texts = (0 until 8).map(k =>
      (k.toLong, s"epoch $k words alpha$k bravo$k charlie$k delta$k echo$k " +
        s"foxtrot$k golf$k hotel$k"))
    for (k <- 0 until 8) {
      writeDoc(inC, k, texts.take(k + 1))
      writeDoc(inU, k, texts.take(k + 1))
      // compacted run: fold whenever more than 3 partitions accumulated
      CorpusIngest.startIngest(spark, inC, s"$root/corpusC", s"$root/censusC",
        s"$root/ckptC", maxCensusParts = 3).awaitTermination(120000)
      // uncompacted twin: policy disabled
      CorpusIngest.startIngest(spark, inU, s"$root/corpusU", s"$root/censusU",
        s"$root/ckptU", maxCensusParts = 0).awaitTermination(120000)
      assert(censusParts(s"$root/censusC") <= 4,
        s"epoch $k: compacted census grew to ${censusParts(s"$root/censusC")} partitions")
    }
    // the uncompacted twin really did accrue per-epoch partitions (the
    // disease exists; the policy is what cured it)
    assert(censusParts(s"$root/censusU") == 8)
    // parity: identical admitted corpora and identical census fp sets
    val cC = CorpusIngest.corpus(spark, s"$root/corpusC")
      .select("doc_id").as[Long].collect().toSet
    val cU = CorpusIngest.corpus(spark, s"$root/corpusU")
      .select("doc_id").as[Long].collect().toSet
    assert(cC == cU && cC == (0L until 8L).toSet, s"parity broke: $cC vs $cU")
    val fC = spark.read.parquet(s"$root/censusC").select("fp").as[String].collect().toSet
    val fU = spark.read.parquet(s"$root/censusU").select("fp").as[String].collect().toSet
    assert(fC == fU, "compaction changed the census fp set")
    // replay idempotence across the fold: drained re-run admits nothing
    CorpusIngest.startIngest(spark, inC, s"$root/corpusC", s"$root/censusC",
      s"$root/ckptC", maxCensusParts = 3).awaitTermination(120000)
    val cC2 = CorpusIngest.corpus(spark, s"$root/corpusC")
      .select("doc_id").as[Long].collect().toSet
    assert(cC2 == cC, s"re-run over a compacted census changed the corpus: $cC2")
  }

  /** A gate run as a compacted (maxCensusParts = 1) and an uncompacted
    * twin: `write(in, k)` drops epoch k's input, whose novel row has `id`
    * k + 1, and `start(root, maxParts)` runs the gate over `root`.
    */
  private case class Twin(name: String, id: String, write: (String, Int) => Unit,
      start: (String, Int) => StreamingQuery)

  private def words(k: Int): Seq[String] = (1 to 30).map(i => s"w${k}x$i")

  // epoch k: a novel doc k+1, an exact re-send of doc 1 and a near copy of
  // doc k (first token replaced) — the copies must stay rejected after the
  // census rows they hit are folded
  private def textEpoch(in: String, k: Int): Unit =
    writeDoc(in, k, Seq(k + 1L -> words(k).mkString(" ")) ++
      (if (k == 0) Nil
       else Seq(100L + k -> words(0).mkString(" "),
         200L + k -> ("zulu" +: words(k - 1).tail).mkString(" "))))

  /** A seeded random 16-dimensional embedding. */
  private def randomVec(id: Long, seed: Int): String = {
    val r = new scala.util.Random(seed)
    s"""{"vec_id":$id,"embedding":[${Seq.fill(16)(r.nextGaussian()).mkString(",")}],"label":1}"""
  }

  // epoch k: a novel vector k+1 and an exact copy of vector 1
  private def vecEpoch(in: String, k: Int): Unit =
    Files.writeString(Paths.get(s"$in/v$k.json"),
      (randomVec(k + 1, k + 1) +: (if (k == 0) Nil else Seq(randomVec(100 + k, 1))))
        .mkString("", "\n", "\n"))

  Seq(
    Twin("near-dup", "doc_id", textEpoch, (r, parts) => CorpusIngest.startIngestNearDup(spark,
      s"$r/in", s"$r/corpus", s"$r/census", s"$r/ckpt", maxCensusParts = parts)),
    Twin("spans", "doc_id", textEpoch, (r, parts) => CorpusIngest.startIngestSpans(spark,
      s"$r/in", s"$r/corpus", s"$r/census", s"$r/stats", s"$r/ckpt", maxCensusParts = parts)),
    Twin("vectors", "vec_id", vecEpoch, (r, parts) => CorpusIngest.startIngestVectors(spark,
      s"$r/in", s"$r/corpus", s"$r/census", s"$r/planes", s"$r/ckpt",
      maxCensusParts = parts))
  ).foreach { g =>
    test(s"${g.name}-gate compaction: maxCensusParts = 1 admits the same set as an " +
      "uncompacted twin and keeps the census within two partitions") {
      val root = Files.createTempDirectory(s"compact-${g.name}").toString
      val (c, u) = (s"$root/compacted", s"$root/uncompacted")
      val epochs = 4
      for (k <- 0 until epochs; (r, parts) <- Seq(c -> 1, u -> 0)) {
        Files.createDirectories(Paths.get(s"$r/in"))
        g.write(s"$r/in", k)
        g.start(r, parts).awaitTermination(180000)
        if (parts == 1)
          assert(censusParts(s"$r/census") <= 2,
            s"epoch $k: compacted census grew to ${censusParts(s"$r/census")} partitions")
      }
      assert(censusParts(s"$u/census") == epochs)
      def admitted(r: String) =
        spark.read.parquet(s"$r/corpus").select(g.id).as[Long].collect().toSet
      assert(admitted(c) == admitted(u), s"parity broke: ${admitted(c)} vs ${admitted(u)}")
      // only the novel rows are admitted: every copy was rejected
      assert(admitted(u) == (1L to epochs).toSet, s"uncompacted twin admitted ${admitted(u)}")
      assert(spark.read.parquet(s"$c/census").drop("batch_id").collect().map(_.toString).sorted
        .sameElements(spark.read.parquet(s"$u/census").drop("batch_id").collect()
          .map(_.toString).sorted), "compaction changed the census rows")
    }
  }

  test("frame-gate compaction preserves the _SIG_BITS pin and the banded " +
    "rejection verdicts") {
    val root = Files.createTempDirectory("framecompact").toString
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val base = "the quick brown fox jumps over the lazy dog again and again " * 12
    for (k <- 0 until 6) {
      // each epoch: one novel payload (token-disjoint per epoch, so no
      // accidental frame-simhash collision between epochs) + a re-send of
      // epoch 0's payload (must stay rejected even after its census rows
      // are folded)
      writeDoc(in, k,
        Seq((100L + k, s"alpha$k bravo$k charlie$k delta$k echo$k foxtrot$k " * 20),
          (200L + k, base)))
      CorpusIngest.startIngestFrames(spark, in, s"$root/corpus", s"$root/census",
        s"$root/ckpt", maxCensusParts = 2).awaitTermination(120000)
    }
    assert(censusParts(s"$root/census") <= 3)
    assert(new java.io.File(s"$root/census/_SIG_BITS").exists(),
      "compaction dropped the width pin")
    val ids = CorpusIngest.corpus(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    // 200+0 admitted in epoch 0 (first sight); every later 200+k rejected
    // as an exact dup of it; each 100+k is novel enough only in its first
    // epoch (it is re-sent never) — all six admitted
    assert(ids == ((0 until 6).map(100L + _).toSet + 200L),
      s"frame-gate admissions drifted across compaction: $ids")
    // the pin still fails fast on a width flip over the compacted census
    val e = intercept[Exception] {
      writeDoc(in, 99, Seq((999L, "anything at all")))
      CorpusIngest.startIngestFrames(spark, in, s"$root/corpus", s"$root/census",
        s"$root/ckpt", sigBits = 32, maxCensusParts = 2).awaitTermination(120000)
    }
    assert(e.getMessage != null)
  }

  test("vector-gate radius pin: a restart at a different maxHamming over a " +
    "non-empty census fails fast; the same radius resumes; an empty census " +
    "re-pins") {
    val root = Files.createTempDirectory("vecpin").toString
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    def vec(id: Long, bump: Int) =
      s"""{"vec_id":$id,"embedding":[${(0 until 8).map(i =>
        if (i == 0) 1.0 + bump else 0.1 * i).mkString(",")}],"label":1}"""
    Files.writeString(Paths.get(s"$in/v0.json"), vec(1, 0) + "\n" + vec(2, 5) + "\n")
    CorpusIngest.startIngestVectors(spark, in, s"$root/corpus", s"$root/census",
      s"$root/planes", s"$root/ckpt", maxHamming = 2).awaitTermination(120000)
    assert(new java.io.File(s"$root/census/_MAX_HAMMING").exists())
    // same radius: resumes cleanly
    Files.writeString(Paths.get(s"$in/v1.json"), vec(3, 9) + "\n")
    CorpusIngest.startIngestVectors(spark, in, s"$root/corpus", s"$root/census",
      s"$root/planes", s"$root/ckpt", maxHamming = 2).awaitTermination(120000)
    // different radius over a committed census: the pin throws before any
    // admission verdict can drift
    Files.writeString(Paths.get(s"$in/v2.json"), vec(4, 13) + "\n")
    val e = intercept[Exception] {
      CorpusIngest.startIngestVectors(spark, in, s"$root/corpus", s"$root/census",
        s"$root/planes", s"$root/ckpt", maxHamming = 1).awaitTermination(120000)
    }
    assert(e.getMessage != null)
    // empty census (marker written, no partitions): re-pin is allowed
    val root2 = Files.createTempDirectory("vecpin2").toString
    Files.createDirectories(Paths.get(s"$root2/census"))
    Files.writeString(Paths.get(s"$root2/census/_MAX_HAMMING"), "3\n")
    Files.createDirectories(Paths.get(s"$root2/in"))
    Files.writeString(Paths.get(s"$root2/in/v0.json"), vec(7, 0) + "\n")
    CorpusIngest.startIngestVectors(spark, s"$root2/in", s"$root2/corpus",
      s"$root2/census", s"$root2/planes", s"$root2/ckpt", maxHamming = 2)
      .awaitTermination(120000)
    assert(Files.readString(Paths.get(s"$root2/census/_MAX_HAMMING")).trim == "2")
  }
}
