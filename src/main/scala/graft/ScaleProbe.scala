package graft

import graft.functions.FastVec
import graft.operators.Quantizer
import graft.queries.{DedupQueries, SimilarityQueries, TrainPipeline}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Scale probes: each leg inflates a corpus table (or builds a synthetic
  * one) and times a shipped pipeline at growing sizes, so a claim that it
  * scales ~linearly — or stays bounded — carries a measured curve. An
  * all-pairs formulation would scale quadratically and show at factor 8.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"
  *
  * The legs, in run order ([[legs]]): lsh (d3 MinHash-LSH), asof (native
  * as-of join), ann / annbal / anncl / mplsh (embedding buckets, e25
  * balanced cells on real and clustered vectors, e28 multi-probe),
  * ingest (CorpusIngest epoch cost against a grown census), censusbound
  * (census partition bound over 50 epochs), batchsig (signature width
  * saturation), mvrefresh (MatView append refresh and compaction), skew
  * (planted hot key), cc (d5's two CC strategies), sn (d4 sorted
  * neighborhood), span (d10 window census), cur (c10 quality census),
  * graph (g4 label propagation), interval (j12 chunked range join), lev
  * (banded levenshtein) and dispatch (the dispatch floor under four
  * partitioning/AQE postures).
  *
  * Every measurement prints one machine-readable line ([[report]]; the
  * committed PROBES artifacts collect them, SURVEY.md §6 discusses them).
  * Inflated tables are derived on the fly for timing only, never used as
  * oracle input. Environment:
  *  - SPARK_GRAFT_SF_DIR: corpus directory (default sf0.1);
  *  - SPARK_GRAFT_CPUS: local cores (default 32);
  *  - SPARK_GRAFT_PROBE_FACTORS: inflation factors (default 1,2,4,8);
  *  - SPARK_GRAFT_PROBE_ONLY: comma-separated leg names to run.
  */
object ScaleProbe {

  /** Inflation factors of every factor-driven leg — override with
    * SPARK_GRAFT_PROBE_FACTORS (e.g. "1,4,16,32,64" for the deep run).
    */
  private[graft] def factors: Seq[Int] =
    sys.env.get("SPARK_GRAFT_PROBE_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8))

  /** Every leg by name, in the order `main` runs them. */
  val legs: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    ("lsh", lshProbe), ("asof", asofProbe), ("ann", annProbe),
    ("annbal", annBalancedProbe), ("anncl", annClusteredProbe),
    ("mplsh", multiprobeProbe), ("ingest", ingestProbe),
    ("censusbound", censusBoundProbe), ("batchsig", batchSigProbe),
    ("mvrefresh", mvRefreshProbe), ("skew", (s, _) => skewProbe(s)),
    ("cc", ccProbe), ("sn", snProbe), ("span", spanProbe),
    ("cur", curriculumProbe), ("graph", graphProbe),
    ("interval", intervalProbe), ("lev", (s, _) => levProbe(s)),
    ("dispatch", dispatchProbe))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000).selectExpr("sum(id * 2)").collect() // JIT warmup
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").map(_.trim).toSet)
    legs.foreach { case (name, leg) => if (only.forall(_(name))) leg(spark, sfDir) }
    spark.stop()
  }

  /** `f` copies of `df` as ONE explode node, the copy index in `k`, fanned
    * out to min(256, max(32, 4f)) partitions. An f-branch union instead
    * makes every downstream action's ANALYSIS superlinear in f (the r8 g4
    * "curve bend" was the probe's own plan depth: 64×: 102.7 s with the
    * union, 8.4 s with the explode, identical communities; measured r9).
    * The explode inherits the source's partitioning, so a single-file
    * corpus would run the whole narrow pipeline after it on ONE task (LSH
    * 64×: 55 s single-partition vs 21 s fanned out, r9).
    */
  private def copies(df: DataFrame, f: Int): DataFrame =
    df.select(explode(sequence(lit(0), lit(f - 1))).as("k") +: df.columns.toSeq.map(col): _*)
      .repartition(math.min(256, math.max(32, 4 * f)))

  /** `docs` with doc id `id` and every token suffixed `_<tag>` ("a b" →
    * "a_t b_t"): copies salted with different tags share no token, so
    * their shingle and fingerprint spaces are disjoint while each keeps
    * its own duplicate structure (not a pathological all-dup corpus).
    */
  private def salt(docs: DataFrame, id: Column, tag: Column): DataFrame =
    docs.select(id.as("doc_id"),
      regexp_replace(concat(col("text"), lit(" ")), lit(" "),
        concat(lit("_"), tag, lit(" "))).as("text"))

  /** `docs` (doc_id, text) inflated `f`-fold: copy k has ids doc_id·f + k
    * and tag k.
    */
  def inflate(docs: DataFrame, f: Int): DataFrame =
    salt(copies(docs, f), col("doc_id") * f + col("k"), col("k"))

  /** `emb` (vec_id, v) inflated `f`-fold with deterministically perturbed
    * copies: copy k has ids vec_id·f + k and component j shifted by
    * ((k·(j+1)) mod 97)·1e-4.
    */
  def inflateEmb(emb: DataFrame, f: Int): DataFrame =
    copies(emb, f).select(
      (col("vec_id") * f + col("k")).as("vec_id"),
      transform(col("v"), (x, j) =>
        x + ((col("k") * (j + 1)) % 97).cast("double") * lit(1e-4)).as("v"))

  private def documents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents").select("doc_id", "text")

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    FastVec.register(spark)
    Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
  }

  /** `df`, cached and materialized. */
  private def pin(df: DataFrame): DataFrame = { df.persist(); df.count(); df }

  /** A clean slate: every cached relation dropped, `pinned` re-cached. */
  private def fresh(spark: SparkSession, pinned: DataFrame*): Unit = {
    spark.catalog.clearCache()
    pinned.foreach(pin)
  }

  /** Seconds `body` takes, and its result. */
  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** The faster of two runs of `run` (its seconds first), each after
    * `reset`: host parallelism varies run to run, and the first run on a
    * cold code path also pays JIT and codegen.
    */
  private def best[T](reset: => Unit)(run: => (Double, T)): (Double, T) =
    (1 to 2).map { _ => reset; run }.minBy(_._1)

  /** Prints one measurement: the five common fields, then `extra` in
    * order. A Double prints with 2 decimals; pass any other precision
    * pre-formatted.
    */
  private def report(probe: String, factor: Int, n: Long, aux: Long, sec: Double,
      extra: (String, Any)*): Unit = {
    val more = extra.map { case (k, v) =>
      val s = v match { case d: Double => f"$d%.2f"; case o => o.toString }
      s""","$k":$s"""
    }.mkString
    println(f"""PROBEJSON {"probe":"$probe","factor":$factor,"n":$n,"aux":$aux,"sec":$sec%.2f$more}""")
  }

  /** d3's MinHash-LSH near-dup pipeline over token-salted copies of the
    * corpus; aux = verified pairs.
    */
  def lshProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = pin(documents(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflate(docs, f)
      val (sec, pairs) = best(fresh(spark, docs))(timed(
        graft.operators.MinHashLSH.nearDupPairs(inflated, "doc_id", "text",
          shingleN = 3, numHashes = 8, bands = 4, threshold = 0.3).count()))
      report("lsh", f, docs.count() * f, pairs, sec)
    }
    docs.unpersist()
  }

  /** Native as-of join under inflation: USER-SALTED copies of the event
    * stream (user ids offset per copy, so per-key row counts stay constant
    * while the key space scales — the partition-friendly growth direction)
    * run the j9 purchase⋈click backward alignment. The exec shuffles each
    * side's own columns only and merges with O(1) held state, so the curve
    * must stay ~linear in the factor; n = matched purchases.
    */
  def asofProbe(spark: SparkSession, sfDir: String): Unit = {
    val ev = pin(Tables.table(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "event_type", "value"))
    factors.foreach { f =>
      val inflated = copies(ev, f)
        .select((col("event_id") * f + col("k")).as("event_id"),
          (col("user_id") * f + col("k")).as("user_id"),
          col("ts"), col("event_type"), col("value"))
      val purchases = inflated.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = inflated.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      val (sec, matched) = best(fresh(spark, ev))(timed(graft.plans.NativeAsOf
        .joinAsOf(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
        .filter(col("asof_ts").isNotNull).count()))
      report("asof_native", f, matched, 0, sec)
    }
    ev.unpersist()
  }

  /** The banded-levenshtein rewrite's asymptotic claim, measured: filter
    * N mostly-non-matching string pairs with `levenshtein(a, b) <= 10` at
    * growing string length L (the `factor` field). Under
    * [[graft.plans.RewriteThresholdLevenshtein]] the predicate plans as
    * `graft_lev_le` — a non-match dies after ~k band rows, so wall time is
    * ~flat in L — where the builtin computes the full L×L DP matrix and
    * grows quadratically. The builtin leg must read its bound from a
    * cached ATTRIBUTE (`k` behind the persisted relation): a cast-wrapped
    * literal is stripped by Catalyst's UnwrapCastInBinaryComparison before
    * the rule runs, and arithmetic disguises (`10 + length(a)·0`)
    * constant-fold — both then rewrite, which is exactly the robustness a
    * user wants and exactly what a probe must escape. At the corpus's
    * 60-char prefixes the two are within noise (BENCH_NOTES); this probe
    * shows where the rule pays. sec = banded; aux = matching pairs.
    */
  def levProbe(spark: SparkSession): Unit = {
    graft.plans.LevRules.register(spark)
    for (len <- Seq(60, 250, 1000, 4000)) {
      val n = math.max(500, 120000 / len)
      val reps = (len + 31) / 32
      val pairs = pin(spark.range(n).selectExpr(
        s"repeat(md5(cast(id as string)), $reps) AS a",
        s"repeat(md5(cast(id + $n as string)), $reps) AS b",
        "10 AS k"))
      def time(pred: String) = best(())(timed(pairs.filter(expr(pred)).count()))
      val (banded, matches) = time("levenshtein(a, b) <= 10")
      val (builtin, _) = time("levenshtein(a, b) <= k")
      pairs.unpersist()
      report("lev", len, n, matches, banded,
        "builtin_sec" -> builtin, "speedup" -> f"${builtin / banded}%.1f")
    }
  }

  /** The dispatch floor (at sf0.1 the 8-core bench leg beat the 32-core
    * leg on most sub-second rows): a fixed non-view-backed subset
    * (driver-looped, join-heavy and window paths) under four runtime-conf
    * postures, each on its own `newSession()` of `spark`:
    *  - base: the session's own conf (Bench's, under `main`);
    *  - init256: AQE coalescing from 256 initial partitions, the cluster
    *    posture (flat walls and equal signatures show the shipped conf is
    *    not a local tuning artifact);
    *  - shuf256: the same posture through `spark.sql.shuffle.partitions`;
    *  - aqe_off: AQE's per-stage replanning priced on small queries.
    *
    * Two interleaved passes, because the first pass's first posture pays
    * residual JIT and codegen warmup for every query class. Each query
    * takes the best of two clean-slate runs to its executed plan. One line
    * per pass and posture: probe `dispatch_<posture>`, factor = pass,
    * n = queries, aux = queries whose [[Plans.signature]] differs from the
    * pass's base, sec = summed walls, then each query's wall (`queries`)
    * and signature (`plan_shape`).
    */
  def dispatchProbe(spark: SparkSession, sfDir: String): Unit = {
    val subset = Seq("q01_pricing_summary", "h16_parkinson_vol", "e27_range_search",
      "m4_media_dedup", "x23_bpe_train", "x11_bigram_surprisal", "x33_bpe_vocab",
      "q15_sql_recursive", "e25_ivf_balanced", "x34_bpe_encode")
    val postures = Seq(
      "base" -> Map.empty[String, String],
      "init256" -> Map("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256"),
      "shuf256" -> Map("spark.sql.shuffle.partitions" -> "256"),
      "aqe_off" -> Map("spark.sql.adaptive.enabled" -> "false"))
    for (pass <- 1 to 2) {
      var base = Map.empty[String, String]
      postures.foreach { case (posture, conf) =>
        val s = spark.newSession()
        conf.foreach { case (k, v) => s.conf.set(k, v) }
        val c0 = Bench.canary(s)
        val runs = subset.map { name =>
          name -> best(Memo.reset(s))(timed(
            Plans.signature(Plans.executed(SparkEntry.queries(name)(s, sfDir)))))
        }
        val c1 = Bench.canary(s)
        Memo.reset(s)
        val sigs = runs.map { case (name, (_, sig)) => name -> sig }.toMap
        if (posture == "base") base = sigs
        def obj(field: ((Double, String)) => String) =
          runs.map { case (name, run) => s""""$name":${field(run)}""" }.mkString("{", ",", "}")
        report(s"dispatch_$posture", pass, subset.size, sigs.count { case (k, v) => base(k) != v },
          runs.map(_._2._1).sum, "canary_first_sec" -> f"$c0%.3f", "canary_last_sec" -> f"$c1%.3f",
          "queries" -> obj(r => f"${r._1}%.3f"), "plan_shape" -> obj(r => s""""${r._2}""""))
      }
    }
  }

  /** j12's chunked range join under inflation: copies are shifted by
    * disjoint 31-day offsets, so the TRUE overlap output grows exactly
    * linearly with the factor — and so must the chunk equi-join's wall
    * time, because each interval lands in ≤ 2 chunks and each point in
    * exactly 1 regardless of corpus size. The naive formulation compares
    * every point against every interval: |P|·|I| grows QUADRATICALLY in
    * the factor even though the copies never overlap in time. Times
    * [[graft.queries.Joins.pointInIntervalCounts]] itself; aux = hits.
    */
  def intervalProbe(spark: SparkSession, sfDir: String): Unit = {
    val cUs = 1200000000L
    val dayShift = 31L * 86400000000L
    val ev = pin(Tables.table(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("t"), col("event_id")))
    factors.foreach { f =>
      val inflated = copies(ev, f)
        .select(col("event_type"),
          (col("t") + col("k") * lit(dayShift)).as("t"),
          (col("event_id") * f + col("k")).as("event_id"))
      val iv = inflated.filter(col("event_type") === "view")
        .select(col("t").as("s0"))
        .withColumn("e0", col("s0") + lit(cUs))
      val pts = inflated.filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"), col("t").as("pt"))
      val (sec, hits) = best(())(timed(graft.queries.Joins
        .pointInIntervalCounts(pts, iv, cUs)
        .agg(coalesce(sum("n_active"), lit(0L))).head().getLong(0)))
      report("interval", f, ev.count() * f, hits, sec)
    }
    ev.unpersist()
  }

  /** Iterative-graph linearity: node-disjoint copies of the part
    * co-purchase graph (node ids offset per copy, so each copy keeps its
    * own community structure) through the g4 label-propagation core.
    * Every round is one keyed join + a two-level combinable aggregation,
    * so wall time must track the factor ~linearly — a round materializing
    * neighbor LISTS (or any per-node gather into driver memory) would bend
    * superlinear by factor 8. aux = communities.
    */
  def graphProbe(spark: SparkSession, sfDir: String): Unit = {
    val edges = pin(graft.queries.GraphQueries.partCoEdges(spark, sfDir))
    val nEdges = edges.count()
    factors.foreach { f =>
      val inflated = copies(edges, f)
        .select((col("u") * f + col("k")).as("u"), (col("v") * f + col("k")).as("v"))
      val (sec, n) = best(())(timed(
        graft.queries.GraphQueries.labelPropagate(inflated, rounds = 4).count()))
      report("graph", f, nEdges * f, n, sec)
    }
    edges.unpersist()
  }

  /** c10's exact-quartile machinery under inflation: the quantized-score
    * census (the ONLY structure the quartile boundaries are computed from)
    * must stay bounded as the corpus grows — inflated copies reuse the
    * same score buckets — while wall time tracks the factor ~linearly.
    * A global sort-based quartile would bend superlinear AND its sort
    * width would grow with the corpus; the census window never does.
    * aux = census rows.
    */
  def curriculumProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = pin(documents(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflate(docs, f)
      val (sec, n) = best(fresh(spark, docs))(timed(
        TrainPipeline.curriculumPlan(inflated).count()))
      val censusRows = TrainPipeline.qualityBuckets(inflated).select("qq").distinct().count()
      report("cur", f, n, censusRows, sec)
    }
    docs.unpersist()
  }

  /** d10's duplicate-span core under inflation: the window table is
    * n_tokens rows/doc and every stage keys on fp or doc_id, so wall time
    * must track the factor ~linearly (the salted copies keep window
    * fingerprints disjoint, so duplicate counts scale with the factor
    * too); any pair-forming formulation would bend quadratic by factor 8.
    * aux = duplicated windows.
    */
  def spanProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = pin(documents(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflate(docs, f)
      val (sec, nDup) = best(fresh(spark, docs))(timed {
        val wins = DedupQueries.windowFps(inflated, 15)
        val census = wins.groupBy("fp").agg(count(lit(1)).as("c"))
        wins.join(census, Seq("fp")).filter(col("c") > 1).count()
      })
      report("span", f, docs.count() * f, nDup, sec)
    }
    docs.unpersist()
  }

  /** d4's sorted-neighborhood generator under inflation, over d4's own
    * 32-bit signature derivation: candidate count must track the 4·n·W
    * construction bound (~linear in the factor) and wall time with it —
    * the empirical twin of the bound that replaced the 31.8 %-in-one-bucket
    * byte-block generator in r5. aux = candidates.
    */
  def snProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = pin(documents(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflate(docs, f)
      val (sec, cand) = best(fresh(spark, docs))(timed {
        val sims = DedupQueries.dualSims(inflated)
          .select(col("doc_id"), col("sim32").as("simhash"))
        graft.operators.SortedNeighborhood
          .candidates(sims, "doc_id", "simhash", rotations = 4, window = 4).count()
      })
      report("sn", f, docs.count() * f, cand, sec)
    }
    docs.unpersist()
  }

  /** d5's two connected-components strategies head-to-head on the REAL
    * d3 near-dup graph: the driver union-find (what the bench exercises —
    * the sf0.1 edge count is far below the 1M cutoff) vs the frontier
    * Pregel loop the 100 TB story rests on (`smallGraphMaxEdges = 0`
    * forces it, exactly as the specs do). Edge generation is shared
    * setup, materialized once; only the clustering is timed. n = edges,
    * aux = labels.
    */
  def ccProbe(spark: SparkSession, sfDir: String): Unit = {
    val pairs = DedupQueries.d3Pairs(spark, sfDir).select(col("a"), col("b"))
    val nEdges = pairs.count()
    Seq("unionfind" -> (1L << 20), "pregel" -> 0L).foreach { case (path, cutoff) =>
      val (sec, n) = best(())(timed(graft.operators.ConnectedComponents
        .minLabels(pairs, smallGraphMaxEdges = cutoff).count()))
      report(s"cc_$path", 1, nEdges, n, sec)
    }
  }

  /** e25's cap modes for `n` vectors in `nCent` cells: the shipped cap
    * 2⌈n/C⌉, and no cap — the ablation that isolates the split's effect
    * from the md5-draw codebook's.
    */
  private def capModes(n: Long, nCent: Int): Seq[(String, Long)] =
    Seq("split" -> 2L * math.ceil(n.toDouble / nCent).toLong, "nosplit" -> Long.MaxValue / 4)

  /** Embedding-side linearity: perturbed copies of `embeddings` through
    * the bucketed near-dup core (e3's shape) with the codebook scaled
    * ∝ √factor — the production rule that keeps the within-bucket pair
    * term ~linear in corpus size (fixed buckets would grow it
    * quadratically). Each factor records the three stages separately —
    * centroid assignment (materialized behind a persist barrier), the
    * candidate equi-join count, and the cosine verify — so PROBES rows
    * carry `verify_sec / candidates` directly: if that ratio bends upward
    * with the factor, the √n codebook needs the two-level coarse quantizer
    * (SURVEY §6.1); flat means the growth is pure output volume. sec =
    * assign + verify (the candidate COUNT is probe instrumentation — the
    * verify join re-derives candidates inline).
    */
  def annProbe(spark: SparkSession, sfDir: String): Unit = {
    val emb = pin(embeddings(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflateEmb(emb, f)
      val nCent = (8 * math.sqrt(f)).round.toInt
      val (sec, (tAssign, tCand, tVerify, cand, pairs)) = best(fresh(spark, emb)) {
        // The SHIPPED e3/e25 codebook draw: a first-n draw is degenerate
        // under inflation (the first nCent inflated ids are copies of base
        // vector 0, so one cell swallowed the corpus: 1.05 B candidates at
        // 64× vs the 135 M the shipped draw yields, r8).
        val (tAssign, assign) = timed {
          val cent = Quantizer.draw(inflated, nCent)
            .select(col("vec_id").as("cid"), col("v").as("cv"))
          pin(Quantizer.argmin(inflated
            .crossJoin(broadcast(cent))
            .select(col("vec_id"), col("v"), col("cid"),
              FastVec.l2sq(col("v"), col("cv")).as("d2")))
            .select(col("vec_id"), col("v"), col("cid"),
              FastVec.norm(col("v")).as("nv")))
        }
        val joined = assign
          .select(col("vec_id").as("a"), col("v").as("va"), col("nv").as("na"), col("cid"))
          .join(assign.select(col("vec_id").as("b"), col("v").as("vb"),
            col("nv").as("nb"), col("cid")), Seq("cid"))
          .filter(col("a") < col("b"))
        val (tCand, cand) = timed(joined.count())
        val (tVerify, pairs) = timed(joined.filter(FastVec
          .cosinePre(col("va"), col("vb"), col("na"), col("nb")) >= 0.999).count())
        assign.unpersist()
        (tAssign + tVerify, (tAssign, tCand, tVerify, cand, pairs))
      }
      val perCandUs = if (cand > 0) tVerify * 1e6 / cand else 0.0
      report("ann", f, emb.count() * f, pairs, sec, "candidates" -> cand, "verified" -> pairs,
        "assign_sec" -> tAssign, "cand_count_sec" -> tCand, "verify_sec" -> tVerify,
        "verify_us_per_cand" -> f"$perCandUs%.3f")
    }
    emb.unpersist()
  }

  /** e25's two-level balanced cells against the plain √n codebook, same
    * inflated corpora as [[annProbe]]: the probe that motivated e25 showed
    * candidate VOLUME growing past n^1.5 (1.05 B at 64× vs the 128 M
    * balanced ideal) because perturbed-copy clusters make cells uneven.
    * This leg measures the same candidate count under the (cid, scid)
    * final cells, with the cap ("annbal") and without it
    * ("annbal_nosplit"). Stage windows mirror annProbe's: assignment
    * behind its own persist barrier, the candidate count in its own
    * window, sec = assign + verify.
    */
  def annBalancedProbe(spark: SparkSession, sfDir: String): Unit = {
    val emb = pin(embeddings(spark, sfDir))
    factors.foreach { f =>
      val inflated = inflateEmb(emb, f)
      val n = emb.count() * f
      val nCent = (8 * math.sqrt(f)).round.toInt
      capModes(n, nCent).foreach { case (mode, cap) =>
        val (sec, (tAssign, tCand, tVerify, cand, pairs)) = best(fresh(spark, emb)) {
          // balancedCells returns the slim (vec_id, cid, scid, arank)
          // assignment; re-attach the vectors as balancedPairs does
          val (tAssign, fin) = timed(pin(SimilarityQueries
            .balancedCells(inflated, nCent, cap)
            .join(inflated, Seq("vec_id"))
            .select(col("vec_id"), col("v"), col("cid"), col("scid"),
              FastVec.norm(col("v")).as("nv"))))
          val joined = fin
            .select(col("vec_id").as("a"), col("v").as("va"), col("nv").as("na"),
              col("cid"), col("scid"))
            .join(fin.select(col("vec_id").as("b"), col("v").as("vb"), col("nv").as("nb"),
              col("cid"), col("scid")), Seq("cid", "scid"))
            .filter(col("a") < col("b"))
          val (tCand, cand) = timed(joined.count())
          val (tVerify, pairs) = timed(joined.filter(FastVec
            .cosinePre(col("va"), col("vb"), col("na"), col("nb")) >= 0.999).count())
          fin.unpersist()
          (tAssign + tVerify, (tAssign, tCand, tVerify, cand, pairs))
        }
        report(if (mode == "split") "annbal" else s"annbal_$mode", f, n, pairs, sec,
          "candidates" -> cand, "verified" -> pairs, "cap" -> cap, "assign_sec" -> tAssign,
          "cand_count_sec" -> tCand, "verify_sec" -> tVerify)
      }
    }
    emb.unpersist()
  }

  /** e25's split path exercised on data where it actually FIRES (the
    * registry corpus is balanced, so the no-split ablation shows zero
    * cost but never the cap WORKING): every vector is a tiny deterministic
    * perturbation of one of FOUR md5-drawn seed vectors — four tight
    * clusters, so a centroid inside a cluster swallows ~n/4 rows ≫
    * cap = 2⌈n/C⌉ once C > 8. Each factor measures the candidate count
    * with the cap and without it — the hot-cell pair term the one-level
    * split removes. sec = assign + candidate count.
    */
  def annClusteredProbe(spark: SparkSession, sfDir: String): Unit = {
    val emb = pin(embeddings(spark, sfDir))
    val baseN = emb.count()
    val seeds = Quantizer.draw(emb, 4).collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }.toSeq
    val seedDf = spark.createDataFrame(seeds).toDF("sid", "sv")
    factors.foreach { f =>
      val n = baseN * f
      val nCent = (8 * math.sqrt(f)).round.toInt
      val inflated = spark.range(n)
        .select(col("id").as("vec_id"), (col("id") % 4).as("sid"))
        .join(broadcast(seedDf), Seq("sid"))
        .select(col("vec_id"),
          transform(col("sv"), (x, j) =>
            x + ((col("vec_id") * (j + 1)) % 97).cast("double") * lit(1e-4)).as("v"))
      capModes(n, nCent).foreach { case (mode, cap) =>
        val (sec, (tAssign, tCand, cand)) = best(fresh(spark, emb)) {
          val (tAssign, fin) = timed(pin(SimilarityQueries
            .balancedCells(inflated, nCent, cap)
            .select(col("vec_id"), col("cid"), col("scid"))))
          val (tCand, cand) = timed(fin.select(col("vec_id").as("a"), col("cid"), col("scid"))
            .join(fin.select(col("vec_id").as("b"), col("cid"), col("scid")), Seq("cid", "scid"))
            .filter(col("a") < col("b"))
            .count())
          fin.unpersist()
          (tAssign + tCand, (tAssign, tCand, cand))
        }
        report(s"anncl_$mode", f, n, cand, sec, "candidates" -> cand, "cap" -> cap,
          "assign_sec" -> tAssign, "cand_count_sec" -> tCand)
      }
    }
    emb.unpersist()
  }

  /** e28's storage/recall trade under inflation: banded hyperplane LSH
    * (e5's 2 bands × 4 bits, so both schemes read the SAME 8-bit sketch)
    * against multi-probe (ONE table, query bucket + 8 Hamming-1 flips —
    * Lv 2007) and the ≤2-flip ring (37 of 256 buckets, Lv 2007's recall
    * buy-back), both through e28's own [[Quantizer.probeRing]]. Per
    * factor and scheme: candidates examined for 8 probe vectors (aux),
    * wall of the candidate join, and recall@10 against the exact cosine
    * top-10 (permille over 80 truth rows). The claims: multi-probe
    * touches ~9/256 of the corpus per probe vs banded's 1−(15/16)² ≈ 12 %
    * at 1/4 the index storage, multi2's recall ≥ banded's at the same
    * one-table storage, and every candidate count scales linearly in n.
    */
  def multiprobeProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val emb = pin(embeddings(spark, sfDir))
    factors.foreach { f =>
      val inflated = pin(inflateEmb(emb, f))
      val n = inflated.count()
      // sketch build shared by all schemes, off the clock
      val sketches = pin(Quantizer.signSketch(inflated, 8))
      val qsk = sketches.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("sketch"))
      // Exact truth: top-10 by cosine per probe (brute force, off the clock).
      val qv = inflated.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val byQ = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val truth = pin(inflated
        .crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          FastVec.cosine(col("v"), col("qv")).as("sim"))
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 10)
        .select("qid", "vec_id"))
      val truthN = truth.count()
      def measure(scheme: String, cand: DataFrame): Unit = {
        val (sec, nc) = timed(cand.count())
        val hit = truth.join(cand, Seq("qid", "vec_id"), "left_semi").count()
        report(s"mplsh_$scheme", f, n, nc, sec,
          "recall_pm" -> (if (truthN > 0) 1000L * hit / truthN else -1L))
      }
      val bands = sketches.select(col("vec_id"),
        explode(sequence(lit(0), lit(1))).as("k"), col("sketch"))
        .select(col("vec_id"), col("k"), expr("shiftright(sketch, k * 4) & 15").as("bval"))
      val qBands = bands.join(broadcast(qsk.select(col("qid"))), col("vec_id") === col("qid"))
        .select(col("qid"), col("k"), col("bval"))
      measure("banded", bands
        .join(broadcast(qBands), Seq("k", "bval"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct())
      Seq("multi" -> 1, "multi2" -> 2).foreach { case (scheme, radius) =>
        measure(scheme, sketches
          .join(broadcast(Quantizer.probeRing(qsk, radius, 8, "qid")), Seq("sketch"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct())
      }
      truth.unpersist(); sketches.unpersist(); inflated.unpersist()
    }
    emb.unpersist()
  }

  /** Streaming-admission throughput (§6.1's "per-epoch cost is
    * O(batch + census probe), never O(corpus)" claim, as a curve): for
    * every CorpusIngest gate, admit a stored census of 1×/4×/16× the base
    * corpus (salted copies — fingerprint spaces disjoint, so census
    * volume genuinely scales), then time ONE fresh epoch of base size
    * against each state, on the SAME checkpoint so its census probe sees
    * every prior partition. The wall must grow far slower than the census
    * (n); a formulation rescanning admitted payloads would track it
    * ~linearly. aux = rows the fresh epoch admitted.
    */
  def ingestProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.streaming.CorpusIngest
    val runTag = System.nanoTime()
    // Untimed setup epochs (≤ 16 files → few epochs under
    // maxFilesPerTrigger = 16), then the timed epoch.
    def measure(mode: String, state: Int, nBatch: Long, setup: DataFrame,
        epoch: DataFrame)(start: String => StreamingQuery): Unit = {
      val root = s"/tmp/graft-ingestprobe-$mode-$state-$runTag"
      setup.coalesce(8).write.json(s"$root/in")
      start(root).awaitTermination()
      val censusRows = spark.read.parquet(s"$root/census").count()
      val corpusBefore = spark.read.parquet(s"$root/corpus").count()
      epoch.coalesce(8).write.mode("append").json(s"$root/in")
      val (sec, _) = timed(start(root).awaitTermination())
      val admitted = spark.read.parquet(s"$root/corpus").count() - corpusBefore
      report(s"ingest_$mode", state, censusRows, admitted, sec,
        "docs_per_sec" -> f"${nBatch / sec}%.1f")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    val docs = pin(Tables.table(spark, sfDir, "documents").select("doc_id", "text", "source"))
    val nBatch = docs.count()
    Seq("fp", "span", "frame", "frame60").foreach { mode =>
      Seq(1, 4, 16).foreach { state =>
        // The fresh epoch's suffix "_f" is disjoint from every setup copy's "_<k>".
        measure(mode, state, nBatch, inflate(docs, state).withColumn("source", lit("probe")),
          salt(docs, col("doc_id") + lit(nBatch * (state + 1) * 100), lit("f"))
            .withColumn("source", lit("probe"))) { r =>
          val (in, corpus, census, ckpt) = (s"$r/in", s"$r/corpus", s"$r/census", s"$r/ckpt")
          mode match {
            case "fp" => CorpusIngest.startIngest(spark, in, corpus, census, ckpt)
            // The legacy 32-bit width, an explicit opt-in (the gate's
            // default is 60 since r11), kept as the saturation
            // demonstration: its admission collapse at 16× census is the
            // SIGNATURE saturating, not the gate design.
            case "frame" => CorpusIngest.startIngestFrames(spark, in, corpus, census, ckpt,
              sigBits = 32)
            case "frame60" => CorpusIngest.startIngestFrames(spark, in, corpus, census, ckpt)
            case _ => CorpusIngest.startIngestSpans(spark, in, corpus, census, s"$r/stats", ckpt)
          }
        }
      }
    }
    docs.unpersist()
    // The EMBEDDING-SPACE gate probes a sign-sketch census, so it gets its
    // own salting: per-copy deterministic component shifts of ±1.6
    // (components live in ±0.5, so copies decorrelate and every setup copy
    // lands its own census rows), and the fresh epoch uses a shift pattern
    // no setup copy can coincide with (its per-dimension multiplier
    // differs). The shift modulus (17) exceeds the max copy count (16), so
    // the pattern is not periodic in k; `dimMult` must be nonzero mod 17,
    // or every copy's perturbation would be constant across dimensions.
    val emb = pin(Tables.table(spark, sfDir, "embeddings").select("vec_id", "embedding", "label"))
    val nVec = emb.count()
    def saltedVec(f: Int, idOff: Long, dimMult: Int) = copies(emb, f)
      .select((col("vec_id") * f + col("k") + idOff).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x + (((col("k") * 31 + (j + 1) * dimMult) % 17) - 8).cast("float")
            * lit(0.2f)).cast("float")).as("embedding"),
        col("label"))
    Seq(1, 4, 16).foreach { state =>
      measure("vec", state, nVec, saltedVec(state, 0, 19),
        saltedVec(1, nVec * (state + 1) * 100, 29)) { r =>
        CorpusIngest.startIngestVectors(spark, s"$r/in", s"$r/corpus", s"$r/census",
          s"$r/planes", s"$r/ckpt")
      }
    }
    emb.unpersist()
  }

  /** The census partition/file bound over a LONG stream: 50 epochs of
    * fresh admissions through the exact-fingerprint gate, once with the
    * in-path compaction policy (maxCensusParts = 8) and once with it
    * disabled, where the census accrues one `batch_id=` partition per
    * epoch forever. Every 10 epochs: census files (n), partition
    * directories (aux), the 10-epoch wall, the max partition count so far
    * and the census rows. The bounded run must sawtooth within
    * [1, policy + 1] partitions while the disabled twin grows linearly;
    * both must end with the SAME census rows (the fold is a re-layout,
    * never a re-admission).
    */
  def censusBoundProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = pin(documents(spark, sfDir).limit(200))
    val runTag = System.nanoTime()
    val epochs = 50
    def censusShape(census: String): (Int, Int) = {
      val d = new java.io.File(census)
      if (!d.exists()) return (0, 0)
      val parts = d.listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("batch_id="))
      val files = parts.map(_.listFiles().count(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))).sum
      (parts.length, files)
    }
    Seq(8, 0).foreach { policy =>
      val root = s"/tmp/graft-censusbound-$policy-$runTag"
      val (in, corpus, census, ckpt) =
        (s"$root/in", s"$root/corpus", s"$root/census", s"$root/ckpt")
      new java.io.File(in).mkdirs()
      var maxParts = 0
      var t0 = System.nanoTime()
      for (e <- 1 to epochs) {
        salt(docs, col("doc_id") + lit(e * 1000000L), lit(s"e$e"))
          .withColumn("source", lit("probe"))
          .coalesce(1).write.mode("append").json(in)
        graft.streaming.CorpusIngest.startIngest(spark, in, corpus, census,
          ckpt, maxCensusParts = policy).awaitTermination()
        val (parts, files) = censusShape(census)
        maxParts = math.max(maxParts, parts)
        if (e % 10 == 0 || e == epochs) {
          val sec = (System.nanoTime() - t0) / 1e9
          report(s"censusbound_p$policy", e, files, parts, sec, "max_parts" -> maxParts,
            "census_rows" -> spark.read.parquet(census).count())
          t0 = System.nanoTime()
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    docs.unpersist()
  }

  /** m10/d21's WIDTH claim measured batch-side (the §10 saturation
    * experiment): per inflation factor and signature width, the
    * band-collision candidate count and the pair count SURVIVING the exact
    * Hamming verify (aux). Inflated copies are textually disjoint, so
    * every verified pair is birthday noise: at 32 bits the Hamming≤6 ball
    * covers ~2.7·10⁻⁴ of the space and verified "dups" grow ~n² — the
    * batch twin of the stream gate's admission collapse — while at 60 bits
    * the ≤7 ball covers ~3.7·10⁻¹⁰ and the count stays pinned at zero. Raw
    * candidate volume scales with the band-collision floor at BOTH widths
    * (8 near-equal bands sum to ~3× the 4-byte rate — the width buys
    * verify precision, not fewer random band hits): the collapse is in
    * what survives verify, which is what corrupts a dedup's clusters.
    */
  def batchSigProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Multimodal
    val docs = pin(documents(spark, sfDir))
    factors.foreach { f =>
      val inflated = pin(inflate(docs, f))
      val n = inflated.count()
      def leg(bits: Int, radius: Int, sims: DataFrame, bands: DataFrame,
          bandCols: Seq[String], verify: String): Unit = {
        val (sec, (nCand, nVerified)) = timed {
          pin(sims)
          val simCols = sims.columns.filter(_ != "doc_id").toSeq
          def side(tag: String) = sims.select(
            (col("doc_id").as(tag) +: simCols.map(c => col(c).as(s"${c}_$tag"))): _*)
          def keys(id: String) = bands.select((col("doc_id").as(id) +: bandCols.map(col)): _*)
          val cand = pin(keys("a").join(keys("b"), bandCols)
            .filter(col("a") < col("b"))
            .select("a", "b").distinct()
            .join(side("a"), Seq("a"))
            .join(side("b"), Seq("b")))
          val out = (cand.count(), cand.filter(expr(s"($verify) <= $radius")).count())
          cand.unpersist()
          out
        }
        sims.unpersist()
        report(s"batchsig_$bits", f, n, nVerified, sec, "candidates" -> nCand,
          "verified" -> nVerified)
      }
      Seq(32 -> 6, 60 -> 7).foreach { case (bits, radius) =>
        val sims = Multimodal.frameSimhash(inflated, bits)
        leg(bits, radius, sims, Multimodal.simhashBands(sims, bits),
          Seq("k", "byte"), "bit_count(simhash_a ^ simhash_b)")
      }
      // The dual-long 120-bit leg (d22's width on the frame path): the
      // 8 x 15-bit bands drop the random candidate floor ~200x below the
      // 60-bit near-equal bands at the SAME absolute Hamming budget
      // (a stricter dup definition — see d22's scaladoc).
      val dual = Multimodal.frameSimhashDual(inflated)
      leg(120, 7, dual, Multimodal.dualBands(dual), Seq("g", "bval"),
        "bit_count(sim1_a ^ sim1_b) + bit_count(sim2_a ^ sim2_b)")
      inflated.unpersist()
    }
    docs.unpersist()
  }

  /** MatView append-refresh cost versus corpus size: per inflation factor,
    * build the 5-gram posting view over the inflated corpus (the O(corpus)
    * from-scratch cost, `build_sec`) and then append-refresh it with a
    * FIXED-size delta (the base corpus re-salted as "new docs",
    * `refresh_sec` = sec). The claim: refresh wall stays flat in the
    * stored-corpus factor — O(delta) work — while the rebuild wall grows
    * with it. Parity with a from-scratch build is asserted in
    * MatViewRefreshSpec; here we measure cost only.
    *
    * Then bucket-file boundedness across 10 refreshes (`mvcompact`, factor
    * = refresh): every append adds one file per touched bucket, so without
    * the compaction policy the per-bucket count would read 2, 3, …, 11;
    * with maxFilesPerBucket = 4 it must sawtooth within [1, 5] and the
    * compaction count advance.
    */
  def mvRefreshProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.sources.MatView
    def shingles(d: DataFrame) = graft.operators.MinHashLSH.shingleTable(d, "doc_id", "text", 5)
    val docs = pin(documents(spark, sfDir))
    val nDocs = docs.count()
    factors.foreach { f =>
      val name = s"probe_mv_f$f"
      val (buildSec, _) = timed(MatView.of(spark, sfDir, name, "doc_id", 16) {
        shingles(inflate(docs, f))
      })
      // Fresh ids and a tag disjoint from every inflated copy: the "newly
      // admitted batch" of the d7 contract, identical across factors.
      val delta = salt(docs, col("doc_id") + lit(nDocs * (f + 1) * 100), lit("new"))
      val (refreshSec, _) = timed(MatView.append(spark, sfDir, name, "doc_id", 16) {
        shingles(delta)
      })
      report("mvrefresh", f, nDocs * f, nDocs, refreshSec,
        "build_sec" -> buildSec, "refresh_sec" -> refreshSec)
    }
    val name = "probe_mv_compact"
    val tbl = MatView.table(sfDir, name)
    MatView.of(spark, sfDir, name, "doc_id", 16)(shingles(docs))
    (1 to 10).foreach { k =>
      val delta = salt(docs, col("doc_id") + lit(k * 10000000L), lit(s"r$k"))
      val (sec, _) = timed(MatView.append(spark, sfDir, name, "doc_id", 16,
        maxFilesPerBucket = 4)(shingles(delta)))
      val mf = MatView.maxBucketFiles(spark, tbl)
      val nComp = MatView.compactCosts.getOrElse(tbl, (0L, 0.0))._1
      report("mvcompact", k, mf, nComp, sec, "max_bucket_files" -> mf, "compactions" -> nComp)
    }
    docs.unpersist()
  }

  /** Planted-skew mitigation, measured: one key receives ~10 % of all
    * rows; each leg runs a join shape the engine ships, naive vs
    * mitigated, and records the MAX-TASK SHARE (aux, permille: the
    * hottest task's executor-run-time over its stage's total — the
    * straggler number that decides wall time on a 1000-executor cluster,
    * where an even share is 1/parallelism), task count, and whether AQE's
    * OptimizeSkewedJoin actually split the join (`skew_split`, read from
    * the executed plan, so a share is never read against a split that
    * silently didn't fire):
    *
    *  - `join` (j10's fact⋈dim shape, broadcast disabled): naive vs
    *    [[graft.operators.Skew.saltedJoin]] vs AQE skew-split;
    *  - `label` (g4's adjacency⋈labels shape, fact⋈fact SMJ + group-by):
    *    naive vs salted vs auto-salted vs AQE — AQE declines here, since
    *    the group-by reuses the join's partitioning;
    *  - `band` (d3's pair-generating band SELF-join): the hot task's work
    *    is OUTPUT-quadratic while its INPUT bytes barely register — the
    *    class AQE's input-byte heuristic cannot see (the disclosed
    *    negative: the dedup family's mitigation is band-key design).
    *
    * The AQE legs lower the skew thresholds and the advisory size so the
    * splitter sees toy-scale partitions (MBs here stand in for the 256 MB+
    * partitions of a production shuffle); the mechanism under test is
    * identical, only the trigger point moves. Sides are fixed-size (4M
    * rows), not inflated. All session confs are restored after the probe.
    */
  def skewProbe(spark: SparkSession): Unit = {
    // Per-STAGE task accounting: the share is max-task / stage-total
    // WITHIN THE DOMINANT STAGE (largest task-time sum) — a whole-window
    // share dilutes the hot reduce task with the (even) map stages, and a
    // naive per-stage max would crown every single-task final-agg stage.
    val stageSum = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val stageMax = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val taskN = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val t = m.executorRunTime
          stageSum.updateWith(e.stageId) { case Some(s) => Some(s + t); case None => Some(t) }
          stageMax.updateWith(e.stageId) { case Some(s) => Some(math.max(s, t)); case None => Some(t) }
          taskN.incrementAndGet()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def quiesce(): Unit = { // listener bus drains async (Bench's poll)
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 2 && waited < 40) {
        Thread.sleep(50); waited += 1
        val cur = stageSum.values.sum
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    }
    // collect(), NOT head(): head() executes a DERIVED limit plan, so the
    // frame's own queryExecution never finalizes and the skew marker would
    // be read from the un-adapted initial plan.
    def runAgg(df: DataFrame): (Long, Boolean) =
      (df.collect()(0).getLong(0), df.queryExecution.executedPlan.toString.contains("skew=true"))
    def measure(tag: String, n: Long)(action: => (Long, Boolean)): Unit = {
      val (wall, (out, sharePm, nTasks, split)) = best {
        spark.catalog.clearCache()
        quiesce() // drain straggler events into the PREVIOUS window
        stageSum.clear(); stageMax.clear(); taskN.set(0)
      } {
        val (wall, (out, split)) = timed(action)
        quiesce()
        val (domStage, domSum) = if (stageSum.isEmpty) (-1, 0L) else stageSum.maxBy(_._2)
        val sharePm = if (domSum > 0) (stageMax(domStage) * 1000.0 / domSum).round else 0L
        (wall, (out, sharePm, taskN.get, split))
      }
      report(s"skew_$tag", 1, n, sharePm, wall, "max_task_share_pm" -> sharePm,
        "tasks" -> nTasks, "skew_split" -> split, "out_rows" -> out)
    }
    val confKeys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k)).toMap
    def set(kv: (String, String)*): Unit = kv.foreach { case (k, v) => spark.conf.set(k, v) }
    // The naive/salted legs FREEZE the reduce-partition layout (no AQE
    // coalescing): at toy scale AQE otherwise merges the tiny shuffle into
    // a few partitions and the share measures the coalesced layout, not
    // the planted key. At production scale partitions exceed the advisory
    // size and the frozen layout is what the naive plan runs anyway.
    def aqeSplitter(on: Boolean): Unit =
      if (on) set(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k")
      else set(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    try {
      set("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      // Reduce-side per-row work (a string render + SHA-256 over both
      // sides' columns, ~an order heavier than the map side's shuffle
      // write) so the JOIN stage is STRUCTURALLY the dominant one the
      // share reads: with cheap folds the map-side shuffle write and the
      // join stage trade the "dominant" slot run to run.
      def perRowWork(a: Column, b: Column) =
        conv(substring(sha2(concat_ws("_", a, b), 256), 1, 6), 16, 10).cast("long")

      // j10's fact⋈dim shape: key 0 holds 10 % of the fact. The payload is
      // deliberately un-hashed: the map side must stay near-free or its
      // (even) 4M-row hashing dominates the stage accounting.
      val nFact = 4000000L
      val nKeys = 1000L
      def fact = spark.range(nFact).select(
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(nKeys - 1)) + 1).as("key"),
        col("id").as("spread"),
        col("id").as("payload"))
      def dim = spark.range(nKeys).select(col("id").as("key"), xxhash64(col("id")).as("attr"))
      def joinWork(j: DataFrame) = runAgg(j.agg(sum(perRowWork(col("payload"), col("attr")))))
      aqeSplitter(false)
      measure("join_naive", nFact) { joinWork(fact.join(dim, "key")) }
      measure("join_salted", nFact) {
        joinWork(graft.operators.Skew.saltedJoin(fact, dim, Seq("key"), col("spread"), 32))
      }
      aqeSplitter(true)
      measure("join_aqe", nFact) { joinWork(fact.join(dim, "key")) }

      // g4's adjacency⋈labels shape: one node receives 10 % of all edges.
      // The partial aggregation on dst runs INSIDE the hot join task (g4's
      // real shape), so per-row work there keeps the join stage dominant.
      val nEdges = 4000000L
      val nNodes = 100000L
      def edges = spark.range(nEdges).select(
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(nNodes - 1)) + 1).as("dst"),
        col("id").as("src"))
      def labels = spark.range(nNodes).select(
        col("id").as("dst"), pmod(xxhash64(col("id")), lit(100)).as("lbl"))
      def labelWork(j: DataFrame) = runAgg(j.groupBy("dst")
        .agg(min(perRowWork(col("src"), col("lbl"))).as("m"))
        .agg(sum("m")))
      aqeSplitter(false)
      measure("label_naive", nEdges) { labelWork(edges.join(labels, "dst")) }
      // The salted form — the shipped cure for the class AQE declines:
      // the hot node's edges spread over 32 sub-keys, the per-(dst, salt)
      // partial min re-aggregated per dst (g8's two-level fold).
      measure("label_salted", nEdges) {
        labelWork(graft.operators.Skew.saltedJoin(edges, labels, Seq("dst"), col("src"), 32))
      }
      // Auto-salted: the key census inside Skew.autoSaltedJoin finds the
      // planted key on its own (the only key above the 5 % default) and
      // salts ONLY it. The wall INCLUDES the census scan — the price of
      // not knowing the hot key up front.
      measure("label_autosalt", nEdges) {
        labelWork(graft.operators.Skew.autoSaltedJoin(edges, labels, Seq("dst"), col("src"), 32))
      }
      // Expected (and recorded) skew_split=false: the groupBy(dst) reuses
      // the join's hashpartitioning(dst), so OptimizeSkewedJoin declines
      // to split it — the class j10's scaladoc names as salting's.
      aqeSplitter(true)
      measure("label_aqe", nEdges) { labelWork(edges.join(labels, "dst")) }

      // d3's band self-join: one band bucket holds 10 % of 120k docs, so
      // the hot task's ~72M output pairs make it a real straggler.
      val nDocs = 120000L
      def bands = spark.range(nDocs).select(
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(11)), lit(nDocs / 20)) + 1).as("band"),
        col("id").as("doc"))
      def bandWork() = runAgg(bands.select(col("band"), col("doc").as("a"))
        .join(bands.select(col("band"), col("doc").as("b")), "band")
        .filter(col("a") < col("b"))
        .agg(count(lit(1))))
      aqeSplitter(false)
      measure("band_naive", nDocs) { bandWork() }
      aqeSplitter(true)
      measure("band_aqe", nDocs) { bandWork() }
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
