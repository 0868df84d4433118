package graft.streaming

import graft.functions.Text
import graft.queries.DedupQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming corpus refresh — the continuous form of d7's incremental
  * dedup admission: a micro-batch stream of candidate documents is
  * fingerprinted, deduplicated within the batch (lowest doc_id per
  * fingerprint wins), anti-joined against the stored fingerprint census,
  * and only never-seen documents are admitted. This is the ingest loop a
  * 100 TB training corpus actually runs: the corpus is append-only, the
  * census is the only thing ever probed, and stored payloads are never
  * rescanned.
  *
  * Every gate below keeps only its admission logic: the stream, its
  * census compaction and every sink write and census probe go through
  * [[Epoch]], whose `batch_id=` protocol makes at-least-once replays
  * rewrite rather than duplicate. Each gate persists what it admits before
  * writing it to the corpus and the census, so an epoch probes the stored
  * census once, not once per write.
  */
object CorpusIngest {

  /** Incoming candidate-document shape (mirrors the `documents` table's
    * ingest-relevant columns).
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  /** File-based micro-batch source: each dropped file is one crawl/delivery
    * manifest of candidate documents.
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    Epoch.readJson(spark, docSchema, dir)

  /** The first row per `key` in `order` — the within-batch dedup every gate
    * runs before probing its census.
    */
  private def firstPer(df: DataFrame, key: String, order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** The exact gate's fingerprint: md5 of a document's first 8 tokens. */
  private def prefixFp: Column = Text.prefixFingerprint(Text.tokens(col("text")), 8)

  /** Pin the frame census's signature width: band rows written at one
    * width are MEANINGLESS at another (k ranges differ, and
    * `bit_count(simhash ^ stored_sim)` across widths silently corrupts
    * admission instead of failing), so the width is recorded in a
    * `_SIG_BITS` marker ([[Epoch.pin]]) — a restart over an existing
    * census with a different `sigBits` fails fast instead of admitting
    * garbage.
    */
  private def pinSigBits(spark: SparkSession, censusDir: String, sigBits: Int): Unit =
    Epoch.pin(spark, censusDir, "_SIG_BITS", sigBits) { (stored, wanted) =>
      s"frame census at $censusDir was built with sig_bits=$stored; " +
        s"resuming with sigBits=$wanted would join incompatible band " +
        "rows — keep the width or rebuild the census"
    }

  /** Pin the vector gate's admission radius (r11 verdict #6): `maxHamming`
    * was a per-start parameter with no cross-epoch memory, so a restart at
    * a different radius silently changed what "duplicate" MEANS mid-corpus
    * — vectors admitted under radius 2 would have been rejected under 3
    * and vice versa, drift no later probe can detect (the stored sketches
    * are radius-agnostic; only the verdicts differ). Same discipline as
    * the frame gate's `_SIG_BITS`.
    */
  private def pinMaxHamming(spark: SparkSession, censusDir: String, maxHamming: Int): Unit =
    Epoch.pin(spark, censusDir, "_MAX_HAMMING", maxHamming) { (stored, wanted) =>
      s"vector census at $censusDir admits at maxHamming=$stored; " +
        s"resuming with maxHamming=$wanted would silently change the " +
        "admission semantics mid-corpus — keep the radius or rebuild " +
        "the census"
    }

  /** Start the admission stream. `corpusDir` accumulates admitted
    * documents, `censusDir` the fingerprint census; both are [[Epoch]]
    * sinks. I/O per epoch is O(batch + census probe) — the admitted corpus
    * is never read back.
    */
  def startIngest(
      spark: SparkSession,
      inputDir: String,
      corpusDir: String,
      censusDir: String,
      checkpointDir: String,
      maxCensusParts: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epoch.run(readDocs(spark, inputDir), checkpointDir, trigger, censusDir,
        maxCensusParts) { (raw, batchId) =>
      val batch = firstPer(raw.withColumn("fp", prefixFp), "fp", col("doc_id"))
      val admitted = Epoch.committed(spark, censusDir, batchId).fold(batch)(census =>
        batch.join(census.select("fp"), Seq("fp"), "left_anti")).persist()
      Epoch.write(admitted, corpusDir, batchId)
      Epoch.write(admitted.select("fp"), censusDir, batchId)
      admitted.unpersist()
    }

  /** The admitted corpus as one DataFrame (all epochs). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.parquet(corpusDir)

  /** Start the FUZZY admission stream — the streaming form of d8: after the
    * exact-fingerprint gate, surviving documents are MinHash-banded and
    * probed against the stored BAND census; any band collision with an
    * already-admitted document rejects the candidate (the
    * collision-is-enough gate production ingest runs when verification
    * would require rescanning stored payloads — recall is the LSH band
    * recall, precision is traded for never touching admitted media again).
    * The census stores only (fp, band, bkey) signature rows — O(docs),
    * payload-free — and both sinks are [[Epoch]] sinks, so replays rewrite
    * rather than duplicate.
    *
    * Two deliberate batch-granularity trade-offs: (1) near-dups arriving
    * in the SAME epoch are admitted together (the gate is batch × census;
    * the periodic corpus-wide d3/d5 sweep catches them — running
    * clustering inside every epoch would serialize ingest on an iterative
    * job); (2) the census accrues one `batch_id=` partition per epoch —
    * bounded by the [[Epoch]] census compaction (r11 verdict #2), which
    * folds committed partitions once the count breaches `maxCensusParts`;
    * admission only reads `fp/band/bkey`, which the fold preserves.
    */
  def startIngestNearDup(
      spark: SparkSession,
      inputDir: String,
      corpusDir: String,
      censusDir: String,
      checkpointDir: String,
      maxCensusParts: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epoch.run(readDocs(spark, inputDir), checkpointDir, trigger, censusDir,
        maxCensusParts) { (raw, batchId) =>
      val batch = firstPer(raw.withColumn("fp", prefixFp), "fp", col("doc_id"))
        .persist()
      val sh = graft.operators.MinHashLSH
        .shingleTable(batch, "doc_id", "text", 3)
      val bands = graft.operators.MinHashLSH.bandKeys(
        graft.operators.MinHashLSH.signatures(sh, "doc_id", 8), "doc_id", 8, 4)
        .join(batch.select("doc_id", "fp"), Seq("doc_id"))
      val admitted = Epoch.committed(spark, censusDir, batchId).fold(batch) { census =>
        // exact gate: stored fingerprint match
        val exactHit = census.select("fp").distinct()
        // fuzzy gate: any LSH band collision with a stored signature
        val fuzzyHit = bands
          .join(census.select(col("band"), col("bkey")).distinct(),
            Seq("band", "bkey"))
          .select(col("doc_id")).distinct()
        batch
          .join(exactHit, Seq("fp"), "left_anti")
          .join(fuzzyHit, Seq("doc_id"), "left_anti")
      }.persist()
      Epoch.write(admitted, corpusDir, batchId)
      Epoch.write(bands.join(admitted.select("doc_id"), Seq("doc_id"))
        .select(col("fp"), col("band"), col("bkey")), censusDir, batchId)
      admitted.unpersist()
      batch.unpersist()
    }

  /** Start the SPAN-LEVEL admission stream — the streaming twin of d10's
    * duplicate-span census (the MassiveText-style signal doc-level gates
    * miss: a document that is 60 % boilerplate shares no whole-document
    * fingerprint and may dodge every MinHash band, yet its w-token windows
    * collide one by one). Each epoch fingerprints every w-token window of
    * its candidate documents, unions the duplicated windows per document
    * into exact covered-token intervals (the d10 gaps-and-islands pass),
    * and rejects documents whose CROSS-EPOCH covered fraction exceeds
    * `maxDupFrac`. Admitted documents contribute their window fingerprints
    * to the span census; rejected payloads contribute nothing and are
    * never rescanned.
    *
    * Two duplication signals are computed in the same window pass:
    *   - `dup_*` counts a window duplicated if its fingerprint is in the
    *     stored census OR occurs more than once within the batch — exactly
    *     d10's corpus-wide `c > 1` rule when the whole corpus arrives as
    *     one epoch (the parity the spec asserts against [[
    *     graft.queries.DedupQueries.d10DupSpans]]);
    *   - `cross_*` counts census hits only, and is what admission gates
    *     on: same-epoch copies are admitted together, the deliberate
    *     batch-granularity trade [[startIngestNearDup]] documents (gating
    *     on within-batch counts would reject BOTH copies of a novel
    *     document and lose the content outright).
    *
    * Per-doc span stats (both signals, plus the admission verdict) land in
    * `statsDir` so the ingest loop's discard rate is observable per epoch.
    * Census rows are (fp) only — 16 bytes per distinct admitted window, no
    * positions, no payload — and all three sinks are [[Epoch]] sinks, so
    * an at-least-once replay rewrites its own epoch instead of
    * double-counting spans.
    *
    * Scale: the window table is n_tokens rows/doc of (doc_id, pos, 16-byte
    * fp); the census probe is a left-semi equi-join on fp (shuffle on the
    * fingerprint, never on payload); the within-batch census has map-side
    * combine; the coverage union windows only the DUPLICATED rows. No
    * stage is quadratic, and epoch cost is O(batch windows + census
    * probe) — admitted text is never re-tokenized.
    */
  def startIngestSpans(
      spark: SparkSession,
      inputDir: String,
      corpusDir: String,
      censusDir: String,
      statsDir: String,
      checkpointDir: String,
      w: Int = 15,
      maxDupFrac: Double = 0.5,
      maxCensusParts: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epoch.run(readDocs(spark, inputDir), checkpointDir, trigger, censusDir,
        maxCensusParts) { (raw, batchId) =>
      val batch = raw.persist()
      val docsT = batch.select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      // One tokenize+window pass, scanned by the within-batch census,
      // the census probe and the per-doc stats (d10's persist pattern).
      val wins = DedupQueries.windowFps(batch, w)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      wins.count()
      val batchCensus = wins.groupBy("fp").agg(count(lit(1)).as("c"))
      val counted = wins.join(batchCensus, Seq("fp"))
      // Persisted: covAny and covCross both scan it — without the
      // persist the stored-census probe (which grows with the corpus)
      // and the within-batch census would each run twice per epoch.
      val flagged = Epoch.committed(spark, censusDir, batchId)
        .fold(counted.withColumn("in_census", lit(false))) { census =>
          val hits = wins.join(census.select("fp"), Seq("fp"), "left_semi")
            .select(col("doc_id"), col("p"), lit(true).as("in_census"))
          counted.join(hits, Seq("doc_id", "p"), "left")
        }
        .select(col("doc_id"), col("p"),
          (col("c") > 1 || col("in_census")).as("dup_any"),
          coalesce(col("in_census"), lit(false)).as("dup_cross"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      flagged.count()

      val covAny = DedupQueries.spanCoverage(
        flagged.filter(col("dup_any")).select("doc_id", "p"), w,
        "n_dup_windows", "covered")
      val covCross = DedupQueries.spanCoverage(
        flagged.filter(col("dup_cross")).select("doc_id", "p"), w,
        "n_cross_windows", "cross_covered")
      val wstats = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      val stats = docsT
        .join(wstats, Seq("doc_id"), "left")
        .join(covAny, Seq("doc_id"), "left")
        .join(covCross, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"),
          coalesce(col("n_cross_windows"), lit(0L)).as("n_cross_windows"),
          coalesce(col("cross_covered"), lit(0L)).as("cross_covered_tokens"),
          (coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens"))
            .as("dup_token_frac"),
          (coalesce(col("cross_covered"), lit(0L)).cast("double") /
            col("n_tokens")).as("cross_token_frac"))
        // Null-safe: a null/absent text yields null n_tokens and a null
        // fraction — such a document has no duplicated content to gate
        // on, so it is ADMITTED (verdict true, never null), mirroring
        // batch d10 which emits the row rather than dropping it.
        .withColumn("admitted",
          coalesce(col("cross_token_frac") <= maxDupFrac, lit(true)))
        .persist()
      stats.count()

      Epoch.write(batch
        .join(stats.filter(col("admitted")).select("doc_id"), Seq("doc_id")),
        corpusDir, batchId)
      Epoch.write(stats, statsDir, batchId)
      // Last: a write re-caches every cached plan that reads its path, so
      // any write after this one would rebuild `flagged` and re-probe.
      Epoch.write(wins
        .join(stats.filter(col("admitted")).select("doc_id"), Seq("doc_id"),
          "left_semi")
        .select("fp").distinct(), censusDir, batchId)
      stats.unpersist(); flagged.unpersist(); wins.unpersist()
      batch.unpersist()
    }

  /** Incoming candidate-vector shape (mirrors the `embeddings` table's
    * ingest-relevant columns).
    */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Start the EMBEDDING-SPACE admission stream — the semantic-dedup
    * (SemDeDup-style) twin of [[startIngestNearDup]]: candidates arriving
    * as vectors are sign-sketched against a FIXED set of 16 ±1
    * hyperplanes (Rademacher planes generated by md5-bit parity from the
    * plane/component indices alone — a deterministic function of the
    * embedding DIMENSION, so the basis never depends on which vectors
    * happen to arrive first and a 2-vector first epoch cannot fix a
    * degenerate basis), band-probed against the stored sketch census, and
    * rejected when any stored sketch lies within `maxHamming` bits — the
    * sketch-level cosine gate production ingest runs when exact similarity
    * would require rescanning admitted payloads.
    *
    * The census stores 4 band rows of (k, val, sketch) per admitted
    * vector — 16 bits of payload-free state each; candidate generation is
    * the (k, val) band equi-join (the e5 bound: only band-colliding pairs
    * are ever compared) and verification is an exact popcount on the two
    * 16-bit sketches, so no stage is quadratic and admitted embeddings are
    * never re-read. Within a batch, duplicate vec_ids are collapsed to one
    * deterministic row BEFORE sketching (summing plane bits over duplicate
    * rows would carry into higher bits and corrupt the sketch); across
    * batches, same-epoch near-dups are admitted together (the
    * [[startIngestNearDup]] batch-granularity trade). All sinks — planes
    * included — are [[Epoch]] sinks: a replayed first epoch re-derives the
    * SAME planes (they depend only on the dimension) and rewrites its
    * partition.
    *
    * `maxHamming` must be ≤ 3: with 4 bands of 4 bits, the pigeonhole
    * guarantee that two sketches within Hamming distance h share at least
    * one exact band holds only for h ≤ 3 — at h ≥ 4 the band prefilter
    * could miss a pair the popcount verdict would reject.
    */
  def startIngestVectors(
      spark: SparkSession,
      inputDir: String,
      corpusDir: String,
      censusDir: String,
      planesDir: String,
      checkpointDir: String,
      maxHamming: Int = 2,
      maxCensusParts: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (4x4 banding guarantees a shared " +
        s"band only up to Hamming 3), got $maxHamming")
    val pin = () => pinMaxHamming(spark, censusDir, maxHamming)
    Epoch.run(Epoch.readJson(spark, vecSchema, inputDir), checkpointDir, trigger,
        censusDir, maxCensusParts, pin) { (raw, batchId) =>
      // Deterministic within-batch dedup on vec_id: duplicate rows
      // would SUM their plane bits (bit 0 twice = bit 1), corrupting
      // the stored sketch for every future probe.
      val batch = firstPer(raw, "vec_id", col("embedding"), col("label"))
        .withColumn("v", graft.functions.Vectors.toDoubleVec(col("embedding")))
        .persist()
      // An empty epoch (replayed/no files) must not reach the plane
      // derivation: it has no dimension to draw the planes from.
      if (batch.count() > 0) {
        val planes = Epoch.committed(spark, planesDir, batchId)
          .map(_.select("j", "h")).filter(!_.isEmpty)
          .getOrElse {
            // First non-empty epoch: 16 Rademacher (±1) planes from md5
            // bit parity of (plane j, component i) — a pure function of
            // the embedding dimension, so a tiny first epoch cannot fix a
            // degenerate basis and an at-least-once replay re-derives and
            // rewrites the identical rows.
            val dim = batch.agg(max(size(col("v")))).head().getInt(0)
            val drawn = spark.range(16)
              .select(col("id").cast("int").as("j"))
              .select(col("j"), expr(
                s"""transform(sequence(1, $dim), i ->
                   CASE WHEN conv(substr(md5(concat(j, '|', i)), 1, 1), 16, 10) % 2 = 0
                        THEN 1.0D ELSE -1.0D END)""").as("h"))
            Epoch.write(drawn, planesDir, batchId)
            drawn
          }
        val sketches = batch
          .crossJoin(broadcast(planes))
          // functions-based dot (zip_with), not the registered codegen
          // expression: foreachBatch plans run on a cloned session where
          // a just-registered function may not resolve, and the hot side
          // of this product is only 16 broadcast plane rows.
          .select(col("vec_id"),
            when(graft.functions.Vectors.dot(col("v"), col("h")) >= 0,
              expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L))
              .as("bit"))
          .groupBy("vec_id")
          .agg(sum(col("bit")).as("sketch"))
          .persist()
        sketches.count()
        val bands = sketches
          .select(col("vec_id"), col("sketch"),
            explode(sequence(lit(0), lit(3))).as("k"))
          .select(col("vec_id"), col("k"),
            expr("shiftright(sketch, k * 4) & 15").as("val"), col("sketch"))
        val admitted = Epoch.committed(spark, censusDir, batchId).fold(batch) { census =>
          val rejected = bands
            .join(census.select(col("k"), col("val"), col("sketch").as("stored_sketch")),
              Seq("k", "val"))
            .filter(expr(s"bit_count(sketch ^ stored_sketch) <= $maxHamming"))
            .select("vec_id").distinct()
          batch.join(rejected, Seq("vec_id"), "left_anti")
        }.persist()
        Epoch.write(admitted.select(col("vec_id"), col("embedding"), col("label")),
          corpusDir, batchId)
        Epoch.write(bands
          .join(admitted.select("vec_id"), Seq("vec_id"), "left_semi")
          .select(col("k"), col("val"), col("sketch")), censusDir, batchId)
        admitted.unpersist()
        sketches.unpersist()
      }
      batch.unpersist()
    }
  }

  /** Start the MEDIA admission stream — the frame-signature twin of
    * [[startIngestNearDup]], completing census-gated ingest for the last
    * modality (text fp / spans / vectors / now media): each candidate's
    * payload is cut into m4's 64-byte frames, each frame hashed
    * (`Text.tokenHash60` at the default 60-bit production width since
    * r11; `Text.tokenHash32` at the m4-parity 32-bit opt-in), and the
    * per-frame hashes folded into ONE doc SimHash (`Text.simhashAgg`);
    * admission probes the stored signature census at the shared band
    * granularity (`Multimodal.simhashBands`) and rejects any candidate
    * whose simhash lies within `maxHamming` bits of a stored one.
    * Payloads here are the repo-wide text-as-media stand-in (m1/m4's
    * convention — the container ships no codecs); a real deployment
    * swaps the frame extraction for the decoder's frame iterator and
    * NOTHING downstream changes: the census stores 8-byte signatures,
    * never frames.
    *
    * Gates, cheapest first:
    *  1. exact: whole-payload md5 (m1's content hash) against the census
    *     fp set, plus within-batch lowest-id-wins dedup;
    *  2. fuzzy: the banded probe over the signature census (8 near-equal
    *     bands at 60 bits — Hamming ≤ 7 pigeonhole; m4's 4×8-bit bands at
    *     32 — Hamming ≤ 3), then an exact popcount verify
    *     `hamming ≤ maxHamming`.
    *
    * The census stores (fp, k, byte, simhash) band rows (≤ 4 per admitted
    * doc, payload-free) plus one k = −1 fp row per admitted doc so that
    * frameless payloads (empty text) still feed the exact gate. Both sinks
    * are [[Epoch]] sinks; same-epoch near-dups are admitted together (the
    * [[startIngestNearDup]] batch-granularity trade).
    *
    * Scale per epoch: O(batch frames) hashing (map-only), one band
    * equi-join against the census (only colliding buckets verify), and
    * the popcount verify on 8-byte pairs — no stage quadratic, admitted
    * payloads never re-read.
    */
  def startIngestFrames(
      spark: SparkSession,
      inputDir: String,
      corpusDir: String,
      censusDir: String,
      checkpointDir: String,
      maxHamming: Int = 6,
      // 60-bit is the production default (r10 verdict #2): the batchsig
      // probe measured 32-bit admission birthday-saturating past ~10⁴
      // stored docs (PROBES_r09/r10) while 60-bit stays discriminative to
      // ~10¹⁰. Pass 32 explicitly for byte-parity with batch m4 on small
      // corpora; existing censuses are width-pinned (`pinSigBits`), so the
      // flip fails fast on a 32-bit census instead of corrupting it.
      sigBits: Int = 60,
      maxCensusParts: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Epoch.run(readDocs(spark, inputDir), checkpointDir, trigger, censusDir,
        maxCensusParts, () => pinSigBits(spark, censusDir, sigBits)) { (raw, batchId) =>
      val batch = firstPer(raw.withColumn("fp", md5(col("text"))), "fp", col("doc_id"))
        .persist()
      // m4's frame-signature pipeline via the ONE shared derivation
      // (operators/Multimodal.frameSimhash + simhashBands) — the batch
      // dedup and this gate cannot drift on frame size, hash, or band
      // layout.
      // `sigBits` defaults to the 60-bit production width (m10's batch
      // twin); 32 keeps byte-for-byte parity with batch m4 — see
      // Text.tokenHash60 for the saturation arithmetic.
      val sims = graft.operators.Multimodal.frameSimhash(batch, sigBits)
        .persist()
      sims.count() // eager: banded probe + census delta both rescan
      val bands = graft.operators.Multimodal.simhashBands(sims, sigBits)
      val admitted = Epoch.committed(spark, censusDir, batchId).fold(batch) { census =>
        val exactHit = census.select("fp").distinct()
        val fuzzyHit = bands
          .join(census.filter(col("k") >= 0)
              .select(col("k"), col("byte"),
                col("simhash").as("stored_sim")).distinct(),
            Seq("k", "byte"))
          .filter(expr(s"bit_count(simhash ^ stored_sim) <= $maxHamming"))
          .select("doc_id").distinct()
        batch
          .join(exactHit, Seq("fp"), "left_anti")
          .join(fuzzyHit, Seq("doc_id"), "left_anti")
      }.persist()
      Epoch.write(admitted, corpusDir, batchId)
      // census delta: band rows for framed payloads + one k = -1 row per
      // admitted doc so empty payloads still hit the exact gate
      Epoch.write(bands
        .join(admitted.select("doc_id", "fp"), Seq("doc_id"))
        .select(col("fp"), col("k"), col("byte"), col("simhash"))
        .unionByName(admitted.select(col("fp"), lit(-1).as("k"),
          lit(-1L).as("byte"), lit(0L).as("simhash"))), censusDir, batchId)
      admitted.unpersist()
      sims.unpersist()
      batch.unpersist()
    }
}
