package graft.queries

import graft.{Pin, Q, Tables}
import graft.functions.Text
import graft.operators.MinHashLSH
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-mixing and admission operators (north star): domain-weighted
  * mixture construction to a token budget, weighted sampling without
  * replacement, bigram language-model scoring, and incremental NEAR-dup
  * admission of a fresh batch against the stored corpus (the fuzzy twin of
  * d7's exact admission). Everything is deterministic — md5-derived keys,
  * integer-quantized transcendentals — so the DuckDB oracle reproduces
  * every row, and every plan shuffles on a natural key (domain, lang,
  * bigram, band bucket): no all-pairs, no driver loops, no RNG state.
  *
  * The reference has no corpus surface (it is a market-data ETL); these are
  * the engine-completeness extensions mandated by BASELINE.json's north
  * star.
  */
object MixtureQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  private val q20 = 1L << 20

  /** C3: domain-weighted mixture build — the data-mixing step every
    * pretraining run executes: given target token budgets per domain
    * (web 10k / books 6k / code 4k here), admit a deterministic
    * hash-sampled fraction of each domain's documents so expected admitted
    * tokens ≈ budget. The admission threshold is computed in INTEGER
    * arithmetic (`min(2^20, budget·2^20 div corpusTokens)`) and compared
    * against a 20-bit slice of the doc hash, so Spark and DuckDB agree
    * exactly and the same mixture is reproducible months later on any
    * cluster size. Plan shape: one tiny domain census (3 rows, broadcast
    * back) + one narrow admission filter — the corpus is scanned twice and
    * shuffled only for the two 3-row aggregates.
    */
  val c3MixtureBuild: Q = Q(
    "c3_mixture_build",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(Text.tokens(col("text"))).as("n_tokens"),
          Text.seededHash64(lit(7), col("doc_id").cast("string")).as("hv"),
          when(substring(col("source"), 4, 10).cast("int") <= 9, "web")
            .when(substring(col("source"), 4, 10).cast("int") <= 14, "books")
            .otherwise("code").as("domain"))
      val census = docs.groupBy("domain")
        .agg(count(lit(1)).as("corpus_docs"), sum(col("n_tokens")).as("corpus_tokens"))
        .withColumn("budget_tokens",
          when(col("domain") === "web", 10000L)
            .when(col("domain") === "books", 6000L)
            .otherwise(4000L))
        .withColumn("frac_q20",
          least(lit(q20), expr("budget_tokens * 1048576 div corpus_tokens")))
      val admitted = docs
        .join(broadcast(census.select("domain", "frac_q20")), Seq("domain"))
        .filter(pmod(col("hv"), lit(q20)) < col("frac_q20"))
        .groupBy("domain")
        .agg(count(lit(1)).as("admitted_docs"), sum(col("n_tokens")).as("admitted_tokens"))
      census
        .join(admitted, Seq("domain"), "left")
        .select(
          col("domain"), col("corpus_docs"), col("corpus_tokens"),
          col("budget_tokens"), col("frac_q20"),
          coalesce(col("admitted_docs"), lit(0L)).as("admitted_docs"),
          coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"))
        .orderBy("domain")
    },
    Some("""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        CAST('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv,
        CASE WHEN CAST(substr(source, 4) AS INT) <= 9 THEN 'web'
             WHEN CAST(substr(source, 4) AS INT) <= 14 THEN 'books'
             ELSE 'code' END AS domain
      FROM documents),
      census AS (SELECT domain, count(*) AS corpus_docs,
          CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
          CAST(CASE domain WHEN 'web' THEN 10000 WHEN 'books' THEN 6000 ELSE 4000 END AS BIGINT) AS budget_tokens
        FROM d GROUP BY domain),
      c2 AS (SELECT *, CAST(least(1048576, budget_tokens * 1048576 // corpus_tokens) AS BIGINT) AS frac_q20
        FROM census),
      adm AS (SELECT domain, count(*) AS admitted_docs,
          CAST(sum(n_tokens) AS BIGINT) AS admitted_tokens
        FROM d JOIN c2 USING (domain) WHERE hv % 1048576 < frac_q20 GROUP BY domain)
      SELECT c2.domain, corpus_docs, corpus_tokens, budget_tokens, frac_q20,
        CAST(coalesce(admitted_docs, 0) AS BIGINT) AS admitted_docs,
        CAST(coalesce(admitted_tokens, 0) AS BIGINT) AS admitted_tokens
      FROM c2 LEFT JOIN adm ON c2.domain = adm.domain ORDER BY c2.domain""")
  )

  /** P13: weighted sampling without replacement (Efraimidis–Spirakis): rank
    * documents by exponential key −ln(u)/w with deterministic md5-uniform
    * u and weight w = token count, keep the per-language top-30. Longer
    * documents are proportionally likelier, yet the sample is exactly
    * reproducible — no RNG state, no rejection loop, one window per
    * stratum. Keys are quantized to 2^-20 (x10's trick) with doc_id
    * tie-break so a last-ulp `ln` divergence between engines cannot flip a
    * rank.
    */
  val p13WeightedSample: Q = Q(
    "p13_weighted_sample",
    (s, dir) => {
      val q40 = 1L << 40
      val w = Window.partitionBy("lang").orderBy(col("qkey"), col("doc_id"))
      t(s, dir, "documents")
        .select(
          col("doc_id"), col("lang"),
          size(Text.tokens(col("text"))).as("n_tokens"),
          Text.seededHash64(lit(9), col("doc_id").cast("string")).as("hv"))
        .withColumn("u",
          (pmod(col("hv"), lit(q40)) + 1).cast("double") / lit(q40.toDouble))
        .withColumn("qkey",
          round((-log(col("u")) / col("n_tokens")) * lit(q20.toDouble)).cast("long"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 30)
        .select("lang", "doc_id", "n_tokens", "qkey", "rank")
        .orderBy("lang", "rank")
    },
    Some("""WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        CAST('0x' || substr(md5('9|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
      FROM documents),
      k AS (SELECT doc_id, lang, n_tokens,
          CAST(round((-ln((hv % 1099511627776 + 1) / 1099511627776.0) / n_tokens) * 1048576.0) AS BIGINT) AS qkey
        FROM d)
      SELECT lang, doc_id, n_tokens, qkey,
        row_number() OVER (PARTITION BY lang ORDER BY qkey, doc_id) AS rank
      FROM k QUALIFY rank <= 30 ORDER BY lang, rank""")
  )

  /** X11: interpolated bigram surprisal — the next LM-proxy quality rung
    * above x10's unigram score: per document, the mean
    * −log2(0.75·P(w₂|w₁) + 0.25·P(w₂)) over its bigram positions, with
    * both probabilities maximum-likelihood from the corpus's own censuses.
    * The bigram census joins back on its natural (w₁, w₂) key — a keyed
    * shuffle that scales with corpus size; the unigram census stays
    * vocab-bounded and broadcasts. Bits are integer-quantized (x10) so
    * partial-sum order cannot perturb the per-doc mean.
    */
  val x11BigramSurprisal: Q = Q(
    "x11_bigram_surprisal",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      // Narrow codegen bigram stream (r12) — same rewrite as x25: the
      // lead-window spelling cost a corpus-wide Exchange(doc_id) + sort.
      val bigrams = Pin.owned(t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.FastText.ngrams(col("text"), 2)).as("bg"))
        .select(col("doc_id"),
          split(col("bg"), " ", 2).getItem(0).as("w1"),
          split(col("bg"), " ", 2).getItem(1).as("w2")))
      bigrams.count() // eager: census + join-back both scan it
      val uni = Pin.owned(toks.groupBy("tok").agg(count(lit(1)).as("c1")))
      uni.count()
      val total = uni.agg(sum(col("c1")).as("n_total"))
      val bi = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      bigrams
        .join(bi, Seq("w1", "w2"))
        // Vocab-sized censuses carry no forced broadcast hint (see x10):
        // auto-broadcast under the threshold, shuffled join beyond it.
        .join(uni.select(col("tok").as("w1"), col("c1").as("c1p")), Seq("w1"))
        .join(uni.select(col("tok").as("w2"), col("c1").as("c1c")), Seq("w2"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          round(-log2(
            lit(0.75) * col("c2") / col("c1p") + lit(0.25) * col("c1c") / col("n_total"))
            * lit(q20.toDouble)).cast("long").as("qbits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("qbits")).cast("double") / (lit(q20.toDouble) * count(lit(1))))
            .as("mean_bits"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> {'w1': t[i+1], 'w2': t[i+2]})) AS b
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      bigrams AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
      uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
      total AS (SELECT sum(c1) AS n_total FROM uni),
      bi AS (SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2),
      q AS (SELECT g.doc_id,
          CAST(round(-log2(
            0.75 * CAST(c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE)
            + 0.25 * CAST(uc.c1 AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1048576.0) AS BIGINT) AS qbits
        FROM bigrams g
        JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
        JOIN uni up ON g.w1 = up.tok
        JOIN uni uc ON g.w2 = uc.tok
        CROSS JOIN total)
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(sum(qbits) AS DOUBLE) / (1048576.0 * count(*)) AS mean_bits
      FROM q GROUP BY doc_id ORDER BY doc_id""")
  )

  /** D8: incremental NEAR-dup admission — the corpus-refresh gate d7 runs
    * for exact duplicates, upgraded to fuzzy matching: a fresh batch
    * (source = 'src19') is MinHash-banded and joined against the STORED
    * corpus's band keys (batch × census, never batch × batch or
    * census × census), band collisions are verified with exact Jaccard
    * ≥ 0.3 against the stored side, and each new document is admitted iff
    * it near-matches nothing already stored. At 100 TB the stored band
    * keys are a precomputed index keyed by bucket; the incoming batch
    * probes it with one equi-join — stored payloads are never rescanned.
    */
  val d8IncrementalNearDup: Q = Q(
    "d8_incremental_neardup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val shNew = Pin.owned(MinHashLSH
        .shingleTable(docs.filter(col("source") === "src19"), "doc_id", "text", 3))
      val shOld = Pin.owned(MinHashLSH
        .shingleTable(docs.filter(col("source") =!= "src19"), "doc_id", "text", 3))
      shNew.count(); shOld.count() // eager: bands + verify + counts all rescan
      def bands(sh: org.apache.spark.sql.DataFrame) =
        MinHashLSH.bandKeys(MinHashLSH.signatures(sh, "doc_id", 8), "doc_id", 8, 4)
      val cand = bands(shNew).select(col("doc_id").as("a"), col("band"), col("bkey"))
        .join(bands(shOld).select(col("doc_id").as("b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("a", "b")
        .distinct()
      val cntN = shNew.groupBy("doc_id").agg(count(lit(1)).as("na"))
      val cntO = shOld.groupBy("doc_id").agg(count(lit(1)).as("nb"))
      val inter = cand
        .join(shNew.select(col("doc_id").as("a"), col("shingle")), Seq("a"))
        .join(shOld.select(col("doc_id").as("b"), col("shingle")), Seq("b", "shingle"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("inter"))
      val matches = inter
        .join(cntN.select(col("doc_id").as("a"), col("na")), Seq("a"))
        .join(cntO.select(col("doc_id").as("b"), col("nb")), Seq("b"))
        .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.3)
      val nm = matches.groupBy("a").agg(count(lit(1)).as("n_matches"))
      docs.filter(col("source") === "src19")
        .select(col("doc_id"))
        .join(nm.select(col("a").as("doc_id"), col("n_matches")), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
        .orderBy("doc_id")
    },
    Some({
      def sigw(src: String) = {
        val sigCols = (0 until 8)
          .map(i => s"min(sig) FILTER (seed = $i) AS s$i").mkString(", ")
        s"""sigs$src AS (SELECT doc_id, seed,
             min(CAST('0x' || substr(md5(seed || '|' || shingle), 1, 15) AS BIGINT)) AS sig
           FROM sh$src CROSS JOIN range(8) r(seed) GROUP BY doc_id, seed),
         sigw$src AS (SELECT doc_id, $sigCols FROM sigs$src GROUP BY doc_id),
         bands$src AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, s${2 * b} || '|' || s${2 * b + 1} AS bkey FROM sigw$src")
          .mkString(" UNION ALL ")})"""
      }
      s"""WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
          range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        FROM base WHERE len(t) >= 3),
      shn AS (SELECT doc_id, shingle FROM sh WHERE source = 'src19'),
      sho AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src19'),
      ${sigw("n")},
      ${sigw("o")},
      cand AS (SELECT DISTINCT n.doc_id AS a, o.doc_id AS b
        FROM bandsn n JOIN bandso o ON n.band = o.band AND n.bkey = o.bkey),
      cntn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY doc_id),
      cnto AS (SELECT doc_id, count(*) AS n FROM sho GROUP BY doc_id),
      inter AS (SELECT c.a, c.b, count(*) AS inter
        FROM cand c
        JOIN shn sa ON sa.doc_id = c.a
        JOIN sho sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b),
      m AS (SELECT i.a FROM inter i
        JOIN cntn ca ON ca.doc_id = i.a
        JOIN cnto cb ON cb.doc_id = i.b
        WHERE i.inter / (ca.n + cb.n - i.inter) >= 0.3),
      nm AS (SELECT a, count(*) AS n_matches FROM m GROUP BY a)
      SELECT d.doc_id, coalesce(nm.n_matches, 0) AS n_matches,
        coalesce(nm.n_matches, 0) = 0 AS admitted
      FROM documents d LEFT JOIN nm ON d.doc_id = nm.a
      WHERE d.source = 'src19' ORDER BY doc_id"""
    })
  )

  /** X12: quality-aware retention policy — what production dedup actually
    * does with a duplicate cluster: keep the BEST document, not the lowest
    * id. Composes d5's connected-component clusters (shared via the d3
    * pair memo — the LSH pipeline never re-runs) with x3's composite
    * quality score, and marks per cluster the max-quality member
    * (doc_id tie-break) as the canonical survivor. One window over the
    * cluster key; at 100 TB clusters are small and the window never sees
    * more than a cluster per partition group.
    */
  val x12RetentionPolicy: Q = Q(
    "x12_retention_policy",
    (s, dir) => {
      val clusters = PipelineExtras.d5DupClusters.fn(s, dir)
      val toks = Text.tokens(col("text"))
      val quality = t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"),
          length(col("text")).cast("long").as("chars"),
          size(filter(toks, tk => tk.isin("the", "a"))).cast("long").as("n_stop"))
        .select(col("doc_id"),
          (lit(0.4) * (col("n_types") / col("n_tokens")) +
            lit(0.3) * least(
              ((col("chars") - col("n_tokens") + 1) / col("n_tokens")) / lit(10.0),
              lit(1.0)) +
            lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens"))).as("quality"))
      val w = Window.partitionBy("cluster").orderBy(col("quality").desc, col("doc_id"))
      clusters
        .join(quality, Seq("doc_id"))
        .withColumn("keep", row_number().over(w) === 1)
        .select("cluster", "doc_id", "quality", "keep")
        .orderBy("cluster", "doc_id")
    },
    Some(s"""WITH RECURSIVE pairs AS (${DedupQueries.sqlD3Body}),
      edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      walk(id, lbl) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id),
      clusters AS (SELECT id AS doc_id, min(lbl) AS cluster FROM walk GROUP BY id),
      base AS (SELECT doc_id,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_types,
          length(text) AS chars,
          len(list_filter(string_split(text, ' '), tk -> tk IN ('the', 'a'))) AS n_stop
        FROM documents),
      quality AS (SELECT doc_id,
          0.4 * (n_types / n_tokens)
            + 0.3 * least(((chars - n_tokens + 1) / n_tokens) / 10.0, 1.0)
            + 0.3 * (1.0 - n_stop / n_tokens) AS quality
        FROM base)
      SELECT cluster, doc_id, quality,
        row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) = 1 AS keep
      FROM clusters JOIN quality USING (doc_id)
      ORDER BY cluster, doc_id""")
  )

  /** C8: DSIR-style importance resampling — data selection by importance
    * weights (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by the
    * log-likelihood ratio between a TARGET-domain unigram LM and the
    * raw-corpus LM, then resample via deterministic Gumbel-top-k — sampling
    * with probability ∝ exp(score), not a hard threshold, so near-boundary
    * documents keep proportional mass (the paper's point vs top-k
    * filtering). Target here = the 'books' domain (c3's mapping); both LMs
    * are add-one smoothed over the raw vocabulary so unseen-in-target
    * tokens score finitely.
    *
    * Determinism: per-token bits are integer-quantized to 2^-20 (x10's
    * trick) and summed as longs; the Gumbel key g = −ln(−ln(u)) uses
    * md5-uniform u (p13's machinery) and the final key is re-quantized
    * with doc_id as tie-break, so a last-ulp `ln` divergence between
    * engines cannot flip a rank. Plan shape: one token explode, two
    * vocab-bounded censuses (auto-broadcast under the threshold, keyed
    * join beyond — the right plan at web scale), one keyed join-back on
    * tok, one doc aggregate, TakeOrdered top-40 — no all-pairs, no RNG
    * state, reproducible months later at any cluster size.
    */
  val c8DsirAdmission: Q = Q(
    "c8_dsir_admission",
    (s, dir) => {
      val q40 = 1L << 40
      val toks = Pin.owned(t(s, dir, "documents")
        .select(col("doc_id"),
          when(substring(col("source"), 4, 10).cast("int") <= 9, "web")
            .when(substring(col("source"), 4, 10).cast("int") <= 14, "books")
            .otherwise("code").as("domain"),
          explode(Text.tokens(col("text"))).as("tok")))
      toks.count() // raw census, target census and join-back all scan it
      val raw = Pin.owned(toks.groupBy("tok").agg(count(lit(1)).as("cr")))
      raw.count()
      val tgt = toks.filter(col("domain") === "books")
        .groupBy("tok").agg(count(lit(1)).as("ct"))
      // 1-row totals: raw tokens, target tokens, vocab size (raw types).
      val tot = raw.agg(sum(col("cr")).as("nr"), count(lit(1)).as("v"))
        .crossJoin(toks.filter(col("domain") === "books")
          .agg(count(lit(1)).as("nt")))
      val scored = toks
        .join(raw, Seq("tok"))
        .join(tgt, Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("domain"),
          round(log2(
            ((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("nt") + col("v")))
              / ((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
            * lit(q20.toDouble)).cast("long").as("qbits"))
        .groupBy("doc_id", "domain")
        .agg(count(lit(1)).as("n_tokens"), sum(col("qbits")).as("sbits"))
        .select(col("doc_id"), col("domain"), col("n_tokens"),
          (col("sbits").cast("double") / (lit(q20.toDouble) * col("n_tokens")))
            .as("score_bits"))
      scored
        .withColumn("u",
          (pmod(Text.seededHash64(lit(11), col("doc_id").cast("string")), lit(q40)) + 1)
            .cast("double") / lit(q40.toDouble))
        .withColumn("qkey",
          round((col("score_bits") - log(-log(col("u")))) * lit(q20.toDouble))
            .cast("long"))
        .select("doc_id", "domain", "n_tokens", "score_bits", "qkey")
        .orderBy(col("qkey").desc, col("doc_id"))
        .limit(40)
    },
    Some("""WITH d AS (SELECT doc_id,
        CASE WHEN CAST(substr(source, 4) AS INT) <= 9 THEN 'web'
             WHEN CAST(substr(source, 4) AS INT) <= 14 THEN 'books'
             ELSE 'code' END AS domain,
        string_split(text, ' ') AS t
      FROM documents),
      toks AS (SELECT doc_id, domain, unnest(t) AS tok FROM d),
      raw AS (SELECT tok, count(*) AS cr FROM toks GROUP BY tok),
      tgt AS (SELECT tok, count(*) AS ct FROM toks WHERE domain = 'books' GROUP BY tok),
      tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
                     (SELECT count(*) FROM raw) AS v,
                     (SELECT count(*) FROM toks WHERE domain = 'books') AS nt),
      q AS (SELECT tk.doc_id, tk.domain,
          CAST(round(log2(
            ((coalesce(ct, 0) + 1.0) / (nt + v)) / ((cr + 1.0) / (nr + v)))
            * 1048576) AS BIGINT) AS qbits
        FROM toks tk JOIN raw USING (tok) LEFT JOIN tgt USING (tok) CROSS JOIN tot),
      sc AS (SELECT doc_id, domain, count(*) AS n_tokens,
          CAST(sum(qbits) AS DOUBLE) / (1048576.0 * count(*)) AS score_bits
        FROM q GROUP BY doc_id, domain),
      k AS (SELECT doc_id, domain, n_tokens, score_bits,
          CAST(round((score_bits - ln(-ln(
            (CAST('0x' || substr(md5('11|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              % 1099511627776 + 1) / 1099511627776.0))) * 1048576) AS BIGINT) AS qkey
        FROM sc)
      SELECT doc_id, domain, n_tokens, score_bits, qkey
      FROM k ORDER BY qkey DESC, doc_id LIMIT 40""")
  )

  /** C9: temperature-scaled mixture weights — the multilingual sampling
    * rule (Lample & Conneau 2019 §3.1; Conneau et al. 2020 use α = 0.3):
    * raw per-language token shares p_i are flattened to
    * q_i = p_i^α / Σ_j p_j^α, which upsamples low-resource languages
    * without letting any one language dominate. Output is the sampling
    * table a pretraining run pins in its config: raw share, scaled share,
    * boost factor q/p, and expected tokens drawn per language at a 1M
    * token budget.
    *
    * Determinism: the only transcendental is one pow(p, 0.3) per LANGUAGE
    * (a handful of rows, not per document) — its result is quantized to
    * 2^-20 (`round(x·2^20)` as long, x10's trick) and every downstream
    * share/boost/budget number is integer arithmetic on those quantized
    * weights (`a·2^20 div b`), so Spark and DuckDB agree bit-for-bit.
    * Plan shape at 100 TB: ONE map-side-combinable census over the corpus
    * (languages ≈ dozens of rows), then window sums over that census —
    * the single-partition windows touch only the tiny census, never data.
    */
  val c9TemperatureMixture: Q = Q(
    "c9_temperature_mixture",
    (s, dir) => {
      val census = t(s, dir, "documents")
        .select(col("lang"), size(Text.tokens(col("text"))).as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      val w = Window.partitionBy(lit(1))
      census
        .withColumn("total_tokens", sum(col("lang_tokens")).over(w))
        .withColumn("p_q20", // DECIMAL(38) intermediate: lang_tokens·2^20
          // would overflow int64 past ~8.8e12 tokens/lang (~35 TB of text)
          expr("cast(lang_tokens as decimal(38,0)) * 1048576 div total_tokens"))
        .withColumn("w_q20",
          round(pow(col("lang_tokens").cast("double") / col("total_tokens").cast("double"),
            lit(0.3)) * lit(q20.toDouble)).cast("long"))
        .withColumn("q_q20", expr("w_q20 * 1048576 div sum(w_q20) over ()"))
        .withColumn("boost_q20", expr("q_q20 * 1048576 div p_q20"))
        .withColumn("sampled_tokens", expr("q_q20 * 1000000 div 1048576"))
        .select("lang", "n_docs", "lang_tokens", "p_q20", "w_q20", "q_q20",
          "boost_q20", "sampled_tokens")
        .orderBy("lang")
    },
    Some("""WITH census AS (SELECT lang, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang),
      shares AS (SELECT lang, n_docs, lang_tokens,
          CAST(sum(lang_tokens) OVER () AS BIGINT) AS total_tokens
        FROM census),
      wq AS (SELECT *, CAST(CAST(lang_tokens AS HUGEINT) * 1048576 // total_tokens AS BIGINT) AS p_q20,
          CAST(round(pow(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 0.3)
            * 1048576) AS BIGINT) AS w_q20
        FROM shares),
      qq AS (SELECT *, w_q20 * 1048576 // CAST(sum(w_q20) OVER () AS BIGINT) AS q_q20
        FROM wq)
      SELECT lang, n_docs, lang_tokens, p_q20, w_q20, q_q20,
        q_q20 * 1048576 // p_q20 AS boost_q20,
        q_q20 * 1000000 // 1048576 AS sampled_tokens
      FROM qq ORDER BY lang""")
  )

  /** C11: sampling-epochs allocation — the "epochs" column of a data-mix
    * table (LLaMA's Table 1 shape: each source lists its sampling
    * proportion AND how many passes over it that implies): c9's
    * temperature-scaled share q_i of a 1M-token budget is divided by the
    * language's own token count into (a) whole passes over the language
    * (`n_full_epochs` — upsampled languages repeat; admission alone cannot
    * oversample) and (b) a fractional final pass expressed as c3's integer
    * hash-admission threshold (`frac_q20`), so the partial epoch is itself
    * a deterministic, reproducible document subset. Identity
    * target = full·tokens + partial-remainder is exact by construction and
    * spec-checked. Pure integer arithmetic on c9's O(languages) output —
    * the plan adds nothing to c9 but a projection.
    */
  val c11EpochAllocation: Q = Q(
    "c11_epoch_allocation",
    (s, dir) => {
      c9TemperatureMixture.fn(s, dir)
        .select(col("lang"), col("lang_tokens"), col("q_q20"),
          col("sampled_tokens").as("target_tokens"))
        .withColumn("n_full_epochs", expr("target_tokens div lang_tokens"))
        .withColumn("rem_tokens", expr("target_tokens % lang_tokens"))
        .withColumn("frac_q20", expr("rem_tokens * 1048576 div lang_tokens"))
        .select("lang", "lang_tokens", "q_q20", "target_tokens",
          "n_full_epochs", "rem_tokens", "frac_q20")
        .orderBy("lang")
    },
    Some("""WITH census AS (SELECT lang, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang),
      shares AS (SELECT lang, n_docs, lang_tokens,
          CAST(sum(lang_tokens) OVER () AS BIGINT) AS total_tokens
        FROM census),
      wq AS (SELECT *, CAST(round(pow(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 0.3)
            * 1048576) AS BIGINT) AS w_q20
        FROM shares),
      qq AS (SELECT *, w_q20 * 1048576 // CAST(sum(w_q20) OVER () AS BIGINT) AS q_q20
        FROM wq),
      alloc AS (SELECT lang, lang_tokens, q_q20,
          q_q20 * 1000000 // 1048576 AS target_tokens
        FROM qq)
      SELECT lang, lang_tokens, q_q20, target_tokens,
        target_tokens // lang_tokens AS n_full_epochs,
        target_tokens % lang_tokens AS rem_tokens,
        (target_tokens % lang_tokens) * 1048576 // lang_tokens AS frac_q20
      FROM alloc ORDER BY lang""")
  )

  /** P14: deterministic train/val/test split assignment — the hash-split
    * every corpus release ships: each document lands in a split by a
    * 60-bit seeded hash of its id mod 100 (96/2/2 here), so membership is
    * a pure function of the id — reproducible on any cluster size, stable
    * under re-runs, and immune to the ordering/sampling nondeterminism
    * that makes `randomSplit` unsuitable for published datasets. The
    * output is the release-note census: docs and tokens per source×split.
    *
    * Scale: one corpus scan (hash + token count are narrow per-row
    * expressions), one keyed aggregate with map-side combine. The split
    * decision never needs a shuffle at all — it's the census that groups.
    */
  /** THE shipped split assignment — seed-14 60-bit hash of the doc id mod
    * 100, 96/2/2 — as one shared expression pair so p14's census and
    * v19's balance audit measure the SAME split by construction (the
    * audit's contract is "the shipped split, not a twin").
    */
  private[graft] def splitSlot(docId: org.apache.spark.sql.Column) =
    pmod(Text.seededHash64(lit(14), docId.cast("string")), lit(100L))
  private[graft] def splitOf(slot: org.apache.spark.sql.Column) =
    when(slot < 96, "train").when(slot < 98, "val").otherwise("test")

  val p14SplitAssign: Q = Q(
    "p14_split_assign",
    (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("source"),
          size(Text.tokens(col("text"))).as("n_tokens"),
          splitSlot(col("doc_id")).as("slot"))
        .withColumn("split", splitOf(col("slot")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source", "split")
    },
    Some("""WITH d AS (SELECT source, len(string_split(text, ' ')) AS n_tokens,
          CAST('0x' || substr(md5('14|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS slot
        FROM documents)
      SELECT source,
        CASE WHEN slot < 96 THEN 'train' WHEN slot < 98 THEN 'val' ELSE 'test' END AS split,
        count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1, 2 ORDER BY source, split""")
  )

  /** C12: dedup-discounted source weights — the mixture correction that
    * keeps a heavily-duplicated source from dominating training epochs by
    * raw row count: each source's sampling weight is its UNIQUE-content
    * share (d1's opening-phrase fingerprint census), so a source whose
    * documents are 40% copies contributes 40% fewer effective tokens to
    * the mix. The weight is emitted in integer ppm (floor division, both
    * engines truncate non-negative operands identically).
    *
    * Scale: one (source, fp) distinct-count — Spark plans countDistinct
    * as the standard two-phase expand/aggregate with map-side partials;
    * only (source, 16-byte fp) pairs shuffle, never document payloads.
    */
  val c12DedupDiscount: Q = Q(
    "c12_dedup_discount",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          Text.prefixFingerprint(Text.tokens(col("text")), 8).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          expr("(n_unique * 1000000) div n_docs").as("weight_ppm"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
        count(DISTINCT md5(array_to_string(string_split(text, ' ')[1:8], ' '))) AS n_unique,
        (count(DISTINCT md5(array_to_string(string_split(text, ' ')[1:8], ' '))) * 1000000)
          // count(*) AS weight_ppm
      FROM documents GROUP BY source ORDER BY source""")
  )

  /** X25: Kneser–Ney bigram scoring — the LM-proxy rung above x11's MLE
    * interpolation, and the smoothing real corpus filters (CCNet-style
    * KenLM gates) actually use: absolute discounting with CONTINUATION
    * counts, P(w₂|w₁) = max(c₁₂−d,0)/c₁ + d·N₁₊(w₁·)/c₁ · N₁₊(·w₂)/N₁₊(··)
    * at d = 3/4. The continuation statistic N₁₊(·w₂) ("how many distinct
    * contexts precede w₂") is what separates KN from x11: a word frequent
    * only inside one collocation ("Francisco") stops inheriting its raw
    * unigram mass.
    *
    * Exactness: d = 3/4 makes every term a ratio of exact BIGINT censuses
    * — max(4·c₁₂−3, 0) over 4·c₁ — and the double arithmetic is written
    * with IDENTICAL operation order in both engines before the one
    * quantized log2 (the x10 2⁻²⁰ trick), so partial-sum order cannot
    * perturb the per-doc mean.
    *
    * Scale: x11's plan plus two more vocab-bounded censuses (distinct
    * successors / predecessors — map-side-combinable distinct aggs on the
    * bigram-type table, NOT the occurrence stream); the only corpus-sized
    * shuffle remains the (w₁, w₂) join-back. No forced broadcast on any
    * vocab-sized table.
    */
  val x25KneserNey: Q = Q(
    "x25_kneser_ney",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      // Bigram stream as a narrow codegen projection (r12): the previous
      // posexplode → per-doc lead-window spelling paid a corpus-wide
      // Exchange(doc_id) + sort before the first aggregate; graft_ngrams
      // emits the same position-ordered multiset with zero exchanges
      // (see NgramArray; the one-space split is exact because tokens
      // cannot contain the separator).
      val bigrams = Pin.owned(t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.FastText.ngrams(col("text"), 2)).as("bg"))
        .select(col("doc_id"),
          split(col("bg"), " ", 2).getItem(0).as("w1"),
          split(col("bg"), " ", 2).getItem(1).as("w2")))
      bigrams.count() // eager: type census + join-back both scan it
      val bi = Pin.owned(bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
      bi.count() // eager: successor/predecessor censuses + totals + join-back
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
      val fwd = bi.groupBy("w1").agg(count(lit(1)).as("f1"))   // N₁₊(w₁·)
      val back = bi.groupBy("w2").agg(count(lit(1)).as("b2"))  // N₁₊(·w₂)
      val nbt = bi.agg(count(lit(1)).as("n_types"))            // N₁₊(··)
      bigrams
        .join(bi, Seq("w1", "w2"))
        .join(uni.select(col("tok").as("w1"), col("c1")), Seq("w1"))
        .join(fwd, Seq("w1"))
        .join(back, Seq("w2"))
        .crossJoin(broadcast(nbt))
        .select(col("doc_id"),
          round(-log2(
            greatest(lit(4) * col("c2") - 3, lit(0)).cast("double")
              / (lit(4) * col("c1")).cast("double")
              + (lit(3.0) * col("f1").cast("double"))
                / (lit(4) * col("c1")).cast("double")
                * (col("b2").cast("double") / col("n_types").cast("double")))
            * lit(q20.toDouble)).cast("long").as("qbits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("qbits")).cast("double") / (lit(q20.toDouble) * count(lit(1))))
            .as("mean_bits"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> {'w1': t[i+1], 'w2': t[i+2]})) AS b
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      bigrams AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
      uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
      bi AS (SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2),
      fwd AS (SELECT w1, count(*) AS f1 FROM bi GROUP BY w1),
      back AS (SELECT w2, count(*) AS b2 FROM bi GROUP BY w2),
      nbt AS (SELECT count(*) AS n_types FROM bi),
      q AS (SELECT g.doc_id,
          CAST(round(-log2(
            CAST(greatest(4 * c2 - 3, 0) AS DOUBLE) / CAST(4 * up.c1 AS DOUBLE)
            + (3.0 * CAST(f1 AS DOUBLE)) / CAST(4 * up.c1 AS DOUBLE)
              * (CAST(b2 AS DOUBLE) / CAST(n_types AS DOUBLE))) * 1048576.0) AS BIGINT) AS qbits
        FROM bigrams g
        JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
        JOIN uni up ON g.w1 = up.tok
        JOIN fwd ON g.w1 = fwd.w1
        JOIN back ON g.w2 = back.w2
        CROSS JOIN nbt)
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(sum(qbits) AS DOUBLE) / (1048576.0 * count(*)) AS mean_bits
      FROM q GROUP BY doc_id ORDER BY doc_id""")
  )

  /** X31: perplexity-gated filtering — the CCNet/KenLM admission gate built
    * from x25's Kneser–Ney scorer: every scored document is ranked within
    * its source by model surprise (mean bits/bigram, descending) and the
    * worst decile is flagged for exclusion. Ranking is PER SOURCE because
    * that is how production gates run — a uniform global threshold would
    * simply drop whole high-entropy sources instead of trimming each
    * source's tail. Composed from the SAME registry definition as x25
    * (the e9 pattern), so the gate audits the shipped scorer, not a copy;
    * docs with fewer than two tokens carry no bigrams and fall outside
    * the scored population by construction.
    *
    * Determinism: mean_bits doubles are bit-identical on both engines
    * (x25's quantized-log construction), so the (mean_bits DESC, doc_id)
    * rank is total and stable; the decile cut is exact integer arithmetic
    * (rank·10 ≤ n+9 ⇔ rank ≤ ⌈n/10⌉).
    *
    * Scale: x25's plan plus one doc-keyed broadcast-joinable projection
    * and one source-keyed rank window over doc-level rows (corpus-sized
    * but narrow — three numbers per doc, never text).
    */
  val x31PerplexityFilter: Q = Q(
    "x31_perplexity_filter",
    (s, dir) => {
      val scored = x25KneserNey.fn(s, dir)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val bySrc = Window.partitionBy("source")
      val rankW = Window.partitionBy("source")
        .orderBy(col("mean_bits").desc, col("doc_id"))
      scored.join(src, Seq("doc_id"))
        .withColumn("n_docs", count(lit(1)).over(bySrc))
        .withColumn("ppl_rank", row_number().over(rankW).cast("long"))
        .select(col("doc_id"), col("source"), col("n_bigrams"), col("mean_bits"),
          col("ppl_rank"),
          when(col("ppl_rank") * 10 <= col("n_docs") + 9, 1L).otherwise(0L)
            .as("flagged"))
        .orderBy("doc_id")
    },
    Some(s"""WITH kn AS (${x25KneserNey.oracle.get.replace("ORDER BY doc_id", "")}),
      j AS (SELECT kn.doc_id, d.source, kn.n_bigrams, kn.mean_bits
            FROM kn JOIN documents d USING (doc_id)),
      r AS (SELECT *,
              count(*) OVER (PARTITION BY source) AS n_docs,
              row_number() OVER (PARTITION BY source
                                 ORDER BY mean_bits DESC, doc_id) AS ppl_rank
            FROM j)
      SELECT doc_id, source, n_bigrams, mean_bits,
        CAST(ppl_rank AS BIGINT) AS ppl_rank,
        CAST(CASE WHEN ppl_rank * 10 <= n_docs + 9 THEN 1 ELSE 0 END AS BIGINT)
          AS flagged
      FROM r ORDER BY doc_id""")
  )

  /** C15: DoReMi-style domain reweighting step (Xie et al. 2023,
    * arXiv:2305.10429) — one round of the proxy-loss-driven mixture
    * update: per-domain EXCESS loss (domain mean token surprisal above
    * the corpus mean, clipped at 0 — the "reducible" part a reweighted
    * run could still learn) multiplies the domain's weight up, then
    * weights renormalize. DoReMi's exponentiated-gradient step
    * `w·exp(η·excess)` is approximated by its first-order multiplicative
    * form `w·(1 + η·excess)` with η = 1/bit, which keeps every operand
    * an exact integer (x10's 2^20-quantized surprisal) — bit-identical
    * across engines and partitionings, where an exp() would not be.
    * The uniform prior cancels in the normalization, so the update is
    * pure arithmetic on the domain census.
    *
    * Scale: one tokenize→census pass (vocab-bounded, persisted — x10's
    * discipline), one broadcast-degradable token join feeding a 20-row
    * domain aggregate; the reweighting windows run over DOMAINS, not
    * rows. Overflow headroom (the w11 discipline): per-token qbits ≤
    * ~30·2^20 ≈ 3·10⁷, so a domain's long sum overflows past ~3·10¹¹
    * tokens (~1 TB of text per domain); beyond that drop quantization
    * to 2^10 (headroom ×1024) or widen the sum to DECIMAL(38,0) as c9
    * does.
    */
  val c15DoremiStep: Q = Q(
    "c15_doremi_step",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val census = Pin.owned(toks.groupBy("tok").agg(count(lit(1)).as("c")))
      census.count()
      val total = census.agg(sum(col("c")).as("n_total"))
      val dom = toks
        .join(census, Seq("tok"))
        .crossJoin(broadcast(total))
        .select(col("source"),
          round((log2(col("n_total")) - log2(col("c"))) * q20.toDouble)
            .cast("long").as("qbits"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), sum(col("qbits")).as("sum_qbits"))
      dom
        .withColumn("loss_q20", expr("sum_qbits div n_tokens"))
        .withColumn("ref_q20",
          expr("sum(sum_qbits) over () div sum(n_tokens) over ()"))
        .withColumn("excess_q20", expr("greatest(loss_q20 - ref_q20, 0L)"))
        .withColumn("w_pm", expr(
          "(1048576 + excess_q20) * 1000 div sum(1048576 + excess_q20) over ()"))
        .select("source", "n_tokens", "loss_q20", "ref_q20", "excess_q20", "w_pm")
        .orderBy("source")
    },
    Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
      census AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      total AS (SELECT sum(c) AS n_total FROM census),
      dom AS (SELECT source, count(*) AS n_tokens,
          CAST(sum(CAST(round((log2(n_total) - log2(c)) * 1048576) AS BIGINT))
               AS BIGINT) AS sum_qbits
        FROM toks JOIN census USING (tok) CROSS JOIN total GROUP BY source),
      x AS (SELECT *, sum_qbits // n_tokens AS loss_q20,
          CAST(sum(sum_qbits) OVER () AS BIGINT)
            // CAST(sum(n_tokens) OVER () AS BIGINT) AS ref_q20
        FROM dom)
      SELECT source, n_tokens, loss_q20, ref_q20,
        greatest(loss_q20 - ref_q20, 0) AS excess_q20,
        (1048576 + greatest(loss_q20 - ref_q20, 0)) * 1000
          // CAST(sum(1048576 + greatest(loss_q20 - ref_q20, 0)) OVER ()
               AS BIGINT) AS w_pm
      FROM x ORDER BY source""")
  )

  val all: Seq[Q] = Seq(
    c3MixtureBuild, p13WeightedSample, x11BigramSurprisal, d8IncrementalNearDup,
    x12RetentionPolicy, c8DsirAdmission, c9TemperatureMixture, c11EpochAllocation,
    p14SplitAssign, c12DedupDiscount, x25KneserNey, x31PerplexityFilter,
    c15DoremiStep)
}
