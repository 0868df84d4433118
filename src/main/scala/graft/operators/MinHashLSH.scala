package graft.operators

import graft.Pin
import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection (north star: dedup at
  * 100 TB). The classic shingle → minhash → band → bucket-join pipeline,
  * expressed as three hash aggregates and one self-equi-join so every stage
  * is shuffle-partitioned on its natural key and scales linearly:
  *
  *   1. explode distinct word shingles per document                (narrow)
  *   2. × numHashes seeds → min(md5(seed|shingle)) per (doc, seed) (one
  *      shuffle on doc_id; map-side combine collapses the seed fan-out)
  *   3. fold signatures into `bands` band keys, explode, self-join on
  *      (band, key) — only documents agreeing on a whole band ever meet,
  *      which is what makes this subquadratic: the O(n²) pair space is never
  *      materialized, only hash-bucket collisions are
  *   4. verify candidates with exact Jaccard over the shingle table
  *
  * The reference has no dedup at all (its per-symbol upsert is keyed exact
  * replace, `update_live_price.py:250-258`); this is the engine-completeness
  * extension mandated by BASELINE.json's north star.
  */
object MinHashLSH {

  /** (id, shingle) exploded table, distinct shingles per document.
    *
    * Shape history: the array formulation
    * `explode(transform(sequence(...), i => get(toks, i+k)))` is a scale
    * trap — Catalyst inlines the `split` into every `get` inside the
    * lambda (CollapseProject doesn't guard expressions referenced inside
    * higher-order functions), so each document re-splits its text
    * O(tokens × n) times, interpreted (round 2's ~30× collapse). Rounds
    * 2-4 used posexplode + per-doc lead windows — codegen'd, but costing
    * an Exchange(doc) + sort for the window and a second Exchange for the
    * distinct, in every dedup-family query. Since r5 the whole thing is
    * ONE fused expression ([[graft.functions.ShingleArray]]): scan →
    * graft_shingles → explode, a narrow projection with ZERO exchanges —
    * the consumer's own keyed shuffle is the first exchange in the plan.
    * A spec pins set-equality against the window formulation.
    */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.functions.FastVec.register(docs.sparkSession)
    docs.select(col(idCol),
      explode(graft.functions.FastText.shingles(col(textCol), n)).as("shingle"))
  }

  /** One MinHash signature column per seed: `s0 … s{numHashes-1}`.
    * All `numHashes` mins are computed in ONE map-side-combinable hash
    * aggregate over the shingle table — no seed explode, so the shuffled
    * data is the shingle table × 1, not × numHashes. (Per-seed hashes are
    * independent columns of the same row; minimizing each column per doc
    * is exactly the per-seed MinHash.) Signatures are NUMERIC
    * ([[Text.seededHash64]]) so all `numHashes` mins run in one codegen'd
    * fixed-width HashAggregate — string mins would demote the whole
    * aggregate to sort-based execution.
    */
  def signatures(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val sigCols = (0 until numHashes).map(s =>
      min(Text.seededHash64(lit(s), col("shingle"))).as(s"s$s"))
    shingles.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Exact Jaccard for EVERY pair sharing ≥1 shingle, straight off the
    * inverted index: one self-equi-join on `shingle` flowing directly into
    * a partial-aggregating count — |A∩B| is the number of shared shingles,
    * so no `distinct` of the pair blowup and no re-join against the shingle
    * table is ever needed. This is the scale path for threshold-Jaccard
    * dedup: the only quadratic term is Σ df(s)² of genuinely shared
    * shingles, and it flows through a map-side combine, never a
    * materialized pair set.
    */
  def jaccardAllPairs(shingles: DataFrame, idCol: String): DataFrame = {
    val counts = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = shingles.select(col(idCol).as("a"), col("shingle"))
      .join(shingles.select(col(idCol).as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col(idCol).as("a"), col("n").as("na")), Seq("a"))
      .join(counts.select(col(idCol).as("b"), col("n").as("nb")), Seq("b"))
      .select(
        col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** One-permutation-hashing signatures (Li, Owen, Zhang 2012): ONE hash
    * per shingle, binned by `h mod bins`; signature column j is the min
    * hash landing in bin j. Versus [[signatures]] this cuts sketch compute
    * `numHashes`× (one md5 per shingle row instead of eight) while the
    * shuffled bytes stay identical — the decisive difference at 100 TB,
    * where hashing dominates the sketch stage. The variance cost: a short
    * document can leave bins EMPTY. Empty bins get a per-bin negative
    * sentinel (real hashes are 60-bit nonnegative, so sentinels never
    * collide with them) — two docs empty in the same band's bins DO
    * band-collide, which only adds candidates that exact verification
    * removes; proper densification (Shrivastava 2017) would instead
    * recover recall for short docs and is the upgrade path.
    */
  def ophSignatures(shingles: DataFrame, idCol: String, bins: Int): DataFrame = {
    val sigCols = (0 until bins).map { j =>
      coalesce(
        min(when(pmod(col("h"), lit(bins)) === j, col("h"))),
        lit(-(j + 1).toLong)).as(s"s$j")
    }
    shingles
      .select(col(idCol), Text.seededHash64(lit(0), col("shingle")).as("h"))
      .groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Densified OPH signatures (Shrivastava & Li 2014, "rotation"
    * densification): [[ophSignatures]]' empty-bin problem solved the
    * published way — an empty bin j borrows the min of the NEAREST
    * non-empty bin to its right (circularly), offset by `k·2^60` where k
    * is the borrow distance. Hashes are 60-bit ([[Text.seededHash64]]),
    * so the worst case `7·2^60 + (2^60−1)` is exactly Long.MaxValue — no
    * overflow, and borrowed values can never equal a real min. Why this
    * beats sentinels: under sentinels two SHORT documents with disjoint
    * shingles still band-collide wherever both leave the same bins empty
    * (false candidates ∝ short-doc count²); under rotation the borrowed
    * value is a real min-hash, so P(collision) stays ∝ Jaccard — the LSH
    * guarantee extends to documents with fewer shingles than bins. The
    * distance offset is load-bearing: without it, two docs agreeing on one
    * bin would spuriously agree on every bin that borrows from it at
    * different distances. Cost: the same ONE hash per shingle and one
    * fixed-width HashAggregate; the coalesce chain is a narrow projection.
    */
  def ophDensifiedSignatures(shingles: DataFrame, idCol: String, bins: Int): DataFrame = {
    val offsetC = 1L << 60
    val rawMins = (0 until bins).map { j =>
      min(when(pmod(col("h"), lit(bins)) === j, col("h"))).as(s"m$j")
    }
    val binned = shingles
      .select(col(idCol), Text.seededHash64(lit(0), col("shingle")).as("h"))
      .groupBy(col(idCol)).agg(rawMins.head, rawMins.tail: _*)
    val denseCols = (0 until bins).map { j =>
      coalesce((0 until bins).map { k =>
        val src = (j + k) % bins
        if (k == 0) col(s"m$src") else col(s"m$src") + lit(k.toLong * offsetC)
      }: _*).as(s"s$j")
    }
    binned.select(col(idCol) +: denseCols: _*)
  }

  /** Banded LSH keys: one (id, band, bkey) row per signature band. Band
    * key = plain "s_i|s_j" concat of the numeric signatures — an md5
    * wrapper would cost a hash per (doc, band) and buy nothing: the
    * equi-join only needs equality, and long→string casts agree across
    * engines.
    */
  def bandKeys(
      sigs: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands); " +
        "otherwise trailing signature columns are silently ignored")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("|", (0 until rows).map(r => col(s"s${b * rows + r}")): _*)
          .as("bkey"))
    }
    sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band. */
  def candidatePairs(
      sigs: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    val banded = bandKeys(sigs, idCol, numHashes, bands)
    val left = banded.select(col(idCol).as("a"), col("band"), col("bkey"))
    val right = banded.select(col(idCol).as("b"), col("band"), col("bkey"))
    left
      .join(right, Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** EXACT threshold-Jaccard pairs via prefix filtering (the SSJoin/PPJoin
    * candidate-pruning lemma): order each document's distinct shingles by a
    * global total order; if J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and
    * two sets with overlap ≥ α must share an element within their first
    * (n − α + 1) ordered elements. So only each doc's
    * length-(n − ⌈t·n⌉ + 1) prefix needs indexing — at t = 0.5 that halves
    * the inverted index and shrinks the quadratic candidate term Σ df(s)²
    * roughly 4×, with NO recall loss (the lemma is exact, not
    * probabilistic). Survivors are verified with full exact Jaccard.
    *
    * The total order is RAREST-FIRST — (document frequency, shingle), the
    * canonical PPJoin ordering: the lemma holds for ANY total order, and
    * putting globally rare shingles in the prefixes makes prefix
    * collisions rare where it matters — a boilerplate shingle shared by
    * 10 % of a 100 TB corpus would otherwise contribute df² candidate
    * pairs from a single inverted-index bucket (measured at sf0.1:
    * candidate pairs drop 845 → 256 vs lexicographic; on template-heavy
    * real corpora the gap is far larger). The df census joins on the same
    * shingle key the index already shuffles on.
    *
    * ⌈t·n⌉ is computed in integer arithmetic — `(n + 1) div 2` for the
    * t = 0.5 default — so Spark and the SQL oracle agree exactly.
    */
  /** Shared prefix index: each document's rarest-first shingle prefix of
    * length n − ⌈(tNum/tDen)·n⌉ + 1, carrying the set size `n`. The one
    * prefix machine both threshold families run on — Jaccard
    * ([[prefixFilteredPairs]], t = 1/2 + length filter) and containment
    * ([[containmentPairs]], asymmetric, no length filter).
    */
  private def prefixIndex(
      shingles: DataFrame,
      idCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    val dfc = shingles.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
    val counts = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    shingles
      .join(dfc, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .join(counts, Seq(idCol))
      .filter(col("rn") <= expr(s"n - (($tNum * n + $tDen - 1) div $tDen) + 1"))
      .select(col(idCol), col("shingle"), col("n"))
  }

  def prefixFilteredPairs(shingles: DataFrame, idCol: String): DataFrame =
    prefixFilteredPairsAt(shingles, idCol, 1, 2)

  /** [[prefixFilteredPairs]] at an arbitrary rational threshold
    * t = tNum/tDen. Prefix entries carry the set size so the PPJoin LENGTH
    * filter can run inside the candidate join itself: J(A,B) ≥ t forces
    * t·max(|A|,|B|) ≤ min(|A|,|B|) (since inter ≤ min and uni ≥ max) —
    * checked in exact integer arithmetic (`max·tNum ≤ min·tDen`) — so
    * size-incompatible collisions are dropped BEFORE the pair-distinct and
    * the verify join ever see them. Exact bound, no recall loss.
    */
  def prefixFilteredPairsAt(
      shingles: DataFrame,
      idCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    val pref = prefixIndex(shingles, idCol, tNum, tDen)
    pref.select(col(idCol).as("a"), col("shingle"), col("n").as("na"))
      .join(pref.select(col(idCol).as("b"), col("shingle"), col("n").as("nb")),
        Seq("shingle"))
      .filter(col("a") < col("b") &&
        greatest(col("na"), col("nb")) * tNum <= least(col("na"), col("nb")) * tDen)
      .select("a", "b")
      .distinct()
  }

  /** EXACT threshold-CONTAINMENT candidates via the ASYMMETRIC prefix
    * filter: C(A→B) = |A∩B| / |A| ≥ t (the quote/boilerplate relation —
    * a short document fully inside a long one, which symmetric Jaccard
    * misses because the union is dominated by the long side). If
    * |A∩B| ≥ ⌈t·|A|⌉ = α then A shares an element with B within its first
    * |A| − α + 1 ordered shingles, so only A's prefix needs indexing;
    * B has NO prefix bound (any element of B can witness the overlap) and
    * NO length filter applies — both are the point of containment. The
    * candidate join is still a keyed equi-join on shingle: prefix(A) ×
    * full inverted index, Σ df(s)·prefix-df(s) work, never all-pairs.
    * Prefixes are ordered RAREST-FIRST (see [[prefixFilteredPairs]]) so a
    * hot boilerplate shingle almost never sits in a prefix — the
    * df(s)·prefix-df(s) term collapses exactly where df(s) explodes.
    * t = tNum/tDen in integer arithmetic so engines agree exactly.
    */
  def containmentPairs(
      shingles: DataFrame,
      idCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    val pref = prefixIndex(shingles, idCol, tNum, tDen)
      .select(col(idCol).as("a"), col("shingle"))
    pref
      .join(shingles.select(col(idCol).as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") =!= col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Exact containment verification: C(a→b) = |A∩B| / |A| for candidate
    * pairs. Returns (a, b, inter, na, containment).
    */
  def verifyContainment(pairs: DataFrame, shingles: DataFrame, idCol: String): DataFrame = {
    val counts = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    pairs
      .join(shingles.select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(shingles.select(col(idCol).as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
      .join(counts.select(col(idCol).as("a"), col("n").as("na")), Seq("a"))
      .select(col("a"), col("b"), col("inter"), col("na"),
        (col("inter") / col("na")).as("containment"))
  }

  /** Exact Jaccard verification of candidate pairs against the shingle
    * table: |A∩B| via a two-sided shingle join, |A∪B| = |A|+|B|−|A∩B|.
    * Returns (a, b, inter, uni, jaccard).
    */
  def verifyJaccard(pairs: DataFrame, shingles: DataFrame, idCol: String): DataFrame = {
    val counts = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val shA = shingles.select(col(idCol).as("a"), col("shingle"))
    val shB = shingles.select(col(idCol).as("b"), col("shingle"))
    val inter = pairs
      .join(shA, Seq("a"))
      .join(shB, Seq("b", "shingle"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col(idCol).as("a"), col("n").as("na")), Seq("a"))
      .join(counts.select(col(idCol).as("b"), col("n").as("nb")), Seq("b"))
      .select(
        col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Full pipeline: near-dup pairs with exact Jaccard ≥ `threshold`. */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    // The shingle table is scanned ~6× by the one downstream plan
    // (signatures ×2 via the band self-join, both verify sides, both count
    // sides) — persist it so the scan runs once, not six times. ~tens of MB
    // per 10k docs; evicted LRU, never pinned past memory pressure.
    val sh = Pin.owned(shingleTable(docs, idCol, textCol, shingleN))
    // Materialize eagerly: the returned plan's FIRST action scans `sh` from
    // several subtrees at once, and concurrent scans of a not-yet-cached
    // relation can each recompute the shingle window pipeline instead of
    // sharing one pass (same trap as ConnectedComponents.minLabels' edges).
    sh.count()
    val cand = candidatePairs(signatures(sh, idCol, numHashes), idCol, numHashes, bands)
    verifyJaccard(cand, sh, idCol).filter(col("jaccard") >= threshold)
  }
}
