package graft.queries

import graft.{Pin, Q, Tables}
import graft.functions.Text
import graft.operators.MinHashLSH
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity families
  * (north star): eval-set contamination detection, repetition-based quality
  * signals, deterministic stratified sampling / split assignment, greedy
  * sequence packing, and segment-level duplication profiling. Every query
  * is an oracle-checked registry entry, and every plan shuffles only on a
  * natural key (shingle, fingerprint, stratum, shard) — no all-pairs, no
  * driver loops — so the shapes survive a 100 TB corpus.
  *
  * The reference has no training-data surface (it is a market-data ETL);
  * these are the engine-completeness extensions mandated by BASELINE.json's
  * north star.
  */
object TrainPipeline {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  private val sqlShingles5 =
    """SELECT doc_id, unnest(list_distinct(list_transform(
         range(len(t) - 4), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))) AS shingle
       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       WHERE len(t) >= 5"""

  /** C1: eval-set contamination — which training documents share enough
    * 5-gram shingles with a held-out eval slice (source = 'src0') to leak
    * it. The inverted-index equi-join on shingle is the same subquadratic
    * shape as d2: candidate pairs exist only where a shingle genuinely
    * collides, and the overlap count is a map-side-combinable aggregate.
    * At 100 TB the eval side is tiny and broadcastable; the train side
    * never materializes a pair space.
    */
  val c1Contamination: Q = Q(
    "c1_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      val sh = Pin.owned(MinHashLSH.shingleTable(docs, "doc_id", "text", 5)
        .join(src, Seq("doc_id")))
      sh.count() // eager: both join sides scan this one table
      val ev = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_doc"), col("shingle"))
      val tr = sh.filter(col("source") =!= "src0")
        .select(col("doc_id").as("train_doc"), col("shingle"))
      ev.join(tr, Seq("shingle"))
        .groupBy("eval_doc", "train_doc")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy("eval_doc", "train_doc")
    },
    Some(s"""WITH sh AS ($sqlShingles5),
      j AS (SELECT doc_id, shingle, source FROM sh JOIN (SELECT doc_id AS d2, source FROM documents) ON doc_id = d2)
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc, count(*) AS n_shared
      FROM (SELECT doc_id, shingle FROM j WHERE source = 'src0') e
      JOIN (SELECT doc_id, shingle FROM j WHERE source <> 'src0') t
        ON e.shingle = t.shingle
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY eval_doc, train_doc""")
  )

  /** X8: repetition quality signals (the Gopher-rule family): per document,
    * the duplicate-word fraction (1 − distinct/total tokens) and the
    * top-bigram fraction (most frequent 2-gram / all 2-grams, with
    * multiplicity). Two hash aggregates joined on doc_id; the bigram table
    * comes from the fused [[graft.functions.NgramArray]] generator (never
    * a HOF lambda — see [[MinHashLSH.shingleTable]]'s scale note — and,
    * since r12, never a per-doc `lead` window either, which cost a
    * corpus-wide Exchange + sort).
    */
  val x8Repetition: Q = Q(
    "x8_repetition",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val tstats = toks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_distinct"))
      // Narrow codegen bigram stream (r12, the x11/x25 rewrite): the
      // lead-window spelling cost a corpus-wide Exchange(doc_id) + sort
      // before the bigram census; graft_ngrams emits the same "w1 w2"
      // multiset (docs with <2 tokens yield no rows, as the _full filter
      // did) with zero exchanges.
      val bg = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.FastText.ngrams(col("text"), 2)).as("bg"))
      val bgstats = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("max_c"), sum(col("c")).as("tot"))
      tstats.join(bgstats, Seq("doc_id"))
        .select(
          col("doc_id"), col("n_tokens"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_word_frac"),
          (col("max_c").cast("double") / col("tot")).as("top_bigram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tstats AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
                 FROM toks GROUP BY doc_id),
      bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS bg
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
      bgstats AS (SELECT doc_id, max(c) AS max_c, sum(c) AS tot FROM bgc GROUP BY doc_id)
      SELECT t.doc_id, t.n_tokens,
        1.0 - CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS dup_word_frac,
        CAST(b.max_c AS DOUBLE) / b.tot AS top_bigram_frac
      FROM tstats t JOIN bgstats b ON t.doc_id = b.doc_id
      ORDER BY t.doc_id""")
  )

  /** P12: deterministic stratified sampling + split assignment — the
    * train/val/test partition every corpus build runs. The md5-derived
    * 60-bit key ([[Text.seededHash64]], fused codegen) drives BOTH an
    * 8/1/1 split (hash mod 10) and a per-stratum (source) fixed-size
    * sample (top-20 by hash rank): reproducible on any cluster size, no
    * RNG state, no driver coordination — the property that matters when
    * the same split must be recomputed months later at 100 TB.
    */
  val p12StratifiedSample: Q = Q(
    "p12_stratified_sample",
    (s, dir) => {
      val h = Text.seededHash64(lit(0), col("doc_id").cast("string"))
      val w = Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), h.as("hv"))
        .withColumn("split",
          when(col("hv") % 10 <= 7, "train")
            .when(col("hv") % 10 === 8, "val")
            .otherwise("test"))
        .withColumn("in_sample", row_number().over(w) <= 20)
        .select("doc_id", "source", "split", "in_sample")
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id, source,
        CAST('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
      FROM documents)
      SELECT doc_id, source,
        CASE WHEN hv % 10 <= 7 THEN 'train' WHEN hv % 10 = 8 THEN 'val' ELSE 'test' END AS split,
        row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) <= 20 AS in_sample
      FROM h ORDER BY doc_id""")
  )

  // Public (not private): Catalyst's generated encoder projections live in
  // another package and cannot touch private classes.
  case class PackIn(doc_id: Long, shard: Int, n_tokens: Int)
  case class PackOut(doc_id: Long, shard: Int, bin: Int, n_tokens: Int)

  /** DuckDB mirror of x9's greedy packing fold (recursive CTE), shared by
    * the x9 oracle and c5's manifest oracle.
    */
  private val sqlX9Body: String =
    """ord AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        FROM documents),
      pack(shard, rn, doc_id, n_tokens, bin, bin_tokens) AS (
        SELECT shard, rn, doc_id, n_tokens, 0, n_tokens FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
          CASE WHEN p.bin_tokens + o.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
          CASE WHEN p.bin_tokens + o.n_tokens > 256 THEN o.n_tokens ELSE p.bin_tokens + o.n_tokens END
        FROM ord o JOIN pack p ON o.shard = p.shard AND o.rn = p.rn + 1)"""

  /** X9: greedy sequence packing — fill fixed token-budget bins (B = 256)
    * with whole documents, in doc_id order, a new bin whenever the next
    * document would overflow. Packing is inherently sequential, so it runs
    * per SHARD (doc_id mod 8): `groupByKey(shard).flatMapSortedGroups` is
    * the idiomatic Spark shape for per-key ordered state — each shard
    * streams once through one task, shards pack in parallel, and at 100 TB
    * shard count scales with the cluster while the per-shard scan stays
    * linear. The oracle replays the same fold as a recursive CTE.
    */
  val x9SeqPacking: Q = Q(
    "x9_seq_packing",
    (s, dir) => {
      import s.implicits._
      val budget = 256
      val docs = t(s, dir, "documents")
        .select(
          col("doc_id"),
          pmod(col("doc_id"), lit(8)).cast("int").as("shard"),
          size(Text.tokens(col("text"))).as("n_tokens"))
        .as[PackIn]
      docs.groupByKey(_.shard)
        .flatMapSortedGroups(col("doc_id")) { (_: Int, it: Iterator[PackIn]) =>
          var bin = -1
          var binTokens = budget + 1 // forces bin 0 on the first doc
          it.map { d =>
            if (binTokens + d.n_tokens > budget) { bin += 1; binTokens = d.n_tokens }
            else binTokens += d.n_tokens
            PackOut(d.doc_id, d.shard, bin, d.n_tokens)
          }
        }
        .toDF()
        .orderBy("doc_id")
    },
    Some("WITH RECURSIVE " + sqlX9Body +
      """
      SELECT doc_id, shard, CAST(bin AS INT) AS bin, n_tokens
      FROM pack ORDER BY doc_id""")
  )

  /** D6: segment-level duplication profile — split every document into
    * 10-token segments (narrow slice arithmetic, no shuffle), fingerprint
    * each segment, and count per document how many of its segments occur
    * anywhere else in the corpus (boilerplate/template detector; the
    * within-doc complement of d1's whole-doc dedup). One fingerprint
    * aggregate + one join back: both shuffle on the fingerprint/doc keys
    * with map-side combine.
    */
  val d6SegmentDedup: Q = Q(
    "d6_segment_dedup",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
        .withColumn("nseg", ceil(size(col("t")) / lit(10.0)).cast("int"))
      val segs = Pin.owned(base
        .select(col("doc_id"), explode(sequence(lit(0), col("nseg") - 1)).as("seg"), col("t"))
        .select(col("doc_id"), col("seg"),
          md5(concat_ws(" ", slice(col("t"), col("seg") * 10 + 1, lit(10)))).as("fp")))
      segs.count() // eager: the fp census and the join-back both scan it
      val fpc = segs.groupBy("fp").agg(count(lit(1)).as("c"))
      segs.join(fpc, Seq("fp"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segments"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
        .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
          (col("n_dup_segments").cast("double") / col("n_segments")).as("dup_seg_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      segs AS (SELECT doc_id, unnest(range(CAST(ceil(len(t) / 10.0) AS INT))) AS seg, t FROM base),
      fps AS (SELECT doc_id, seg,
                md5(array_to_string(t[(seg*10+1):(seg*10+10)], ' ')) AS fp
              FROM segs),
      fpc AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp)
      SELECT f.doc_id, count(*) AS n_segments,
        CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
        CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_seg_frac
      FROM fps f JOIN fpc c ON f.fp = c.fp
      GROUP BY f.doc_id ORDER BY doc_id""")
  )

  /** C2: the corpus-build flagship — the whole pipeline a training-data
    * run executes, composed as ONE declarative plan so Catalyst sees it
    * end-to-end: length-window quality filter (pushable predicate) →
    * exact dedup keeping the lowest doc_id per content fingerprint (one
    * window over the fp shuffle) → deterministic split assignment (p12's
    * hash rule, zero extra shuffle: it's a narrow projection) → per
    * (split, lang) census with exact token totals. Three shuffles total
    * for filter+dedup+census; at 100 TB each keys on a natural column
    * (fp, then split/lang) with map-side combine on the census.
    */
  val c2CorpusBuild: Q = Q(
    "c2_corpus_build",
    (s, dir) => {
      val w = Window.partitionBy("fp").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          size(Text.tokens(col("text"))).as("n_tokens"))
        .filter(col("n_tokens").between(20, 100))
        .withColumn("fp", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("hv", Text.seededHash64(lit(0), col("doc_id").cast("string")))
        .withColumn("split",
          when(col("hv") % 10 <= 7, "train")
            .when(col("hv") % 10 === 8, "val")
            .otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("split", "lang")
    },
    Some("""WITH base AS (
        SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) BETWEEN 20 AND 100),
      keep AS (SELECT doc_id, lang, n_tokens FROM (
                 SELECT *, md5(text) AS fp FROM base)
               QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
      split AS (SELECT lang, n_tokens,
          CASE WHEN hv % 10 <= 7 THEN 'train' WHEN hv % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT *,
                CAST('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
              FROM keep))
      SELECT split, lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM split GROUP BY split, lang ORDER BY split, lang""")
  )

  /** X10: unigram surprisal — the language-model-proxy quality score every
    * corpus filter runs before a real LM is affordable: per document, the
    * mean per-token negative log2-probability under the corpus's own
    * unigram distribution (high = rare-token-heavy gibberish, low =
    * boilerplate). Token probabilities come from one hash-agg census
    * joined back by token (broadcast at this vocab size; at 100 TB the
    * vocab census is still tiny next to the corpus — the join stays
    * broadcast). Per-token bits are INTEGER-QUANTIZED (`round(x·2^20)`
    * summed as longs — e4's k-means trick) so the per-doc mean is exact
    * and order-independent: Spark's parallel partial sums and DuckDB's
    * sequential scan agree bit-for-bit.
    */
  val x10UnigramSurprisal: Q = Q(
    "x10_unigram_surprisal",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      // Vocab-sized, scanned from TWO subtrees (broadcast join + the total
      // aggregate): persist + eager count so the tokenize→census pass runs
      // once, not once per subtree. The census is the RIGHT thing to cache
      // at 100 TB too — it is bounded by vocabulary, not corpus.
      val census = Pin.owned(toks.groupBy("tok").agg(count(lit(1)).as("c")))
      census.count()
      val total = census.agg(sum(col("c")).as("n_total"))
      val q20 = (1L << 20).toDouble
      toks
        // No FORCED broadcast on the vocab-sized census: an explicit hint
        // would build it on the driver regardless of size. Under the
        // auto-broadcast threshold Catalyst broadcasts it anyway; at web
        // scale (~10M types > threshold) the plan degrades to a shuffled
        // join on the token key — the right plan at that size.
        .join(census, Seq("tok"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          round((log2(col("n_total")) - log2(col("c"))) * q20).cast("long").as("qbits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(col("qbits")).cast("double") / (lit(q20) * count(lit(1))))
            .as("mean_bits"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      census AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      total AS (SELECT sum(c) AS n_total FROM census),
      q AS (SELECT t.doc_id,
              CAST(round((log2(n_total) - log2(c)) * 1048576) AS BIGINT) AS qbits
            FROM toks t JOIN census USING (tok) CROSS JOIN total)
      SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(qbits) AS DOUBLE) / (1048576.0 * count(*)) AS mean_bits
      FROM q GROUP BY doc_id ORDER BY doc_id""")
  )

  /** C4: split-leakage audit — the integrity check every pipeline runs
    * AFTER split assignment: content fingerprints whose duplicate copies
    * landed in more than one of train/val/test (c2 dedups before
    * splitting; this audits the raw corpus, where a train/test duplicate
    * is silent eval contamination). Identity = d1's canonical 8-token
    * prefix fingerprint — the audit must use the SAME fingerprint as the
    * dedup pass it guards, or it reports a different duplicate relation.
    * One hash aggregate on fp with map-side combine; the split set is
    * rendered as a sorted comma-joined string (`array_sort` before join —
    * collect_set order is partition-dependent) so both engines emit
    * identical rows.
    */
  val c4SplitLeakage: Q = Q(
    "c4_split_leakage",
    (s, dir) => {
      val hv = Text.seededHash64(lit(0), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.prefixFingerprint(Text.tokens(col("text")), 8).as("fp"),
          when(hv % 10 <= 7, "train")
            .when(hv % 10 === 8, "val")
            .otherwise("test").as("split"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split")).as("n_splits"),
          concat_ws(",", array_sort(collect_set(col("split")))).as("splits"))
        .filter(col("n_splits") > 1)
        .orderBy("fp")
    },
    Some("""WITH d AS (SELECT doc_id,
          md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
          CASE WHEN hv % 10 <= 7 THEN 'train' WHEN hv % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id, text,
                CAST('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
              FROM documents))
      SELECT fp, count(*) AS n_docs, count(DISTINCT split) AS n_splits,
        array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
      FROM d GROUP BY fp HAVING count(DISTINCT split) > 1 ORDER BY fp""")
  )

  /** C5: shard/bin export manifest — the audit artifact every corpus
    * export writes next to its shards: per (shard, bin) of x9's packing,
    * the doc count, exact token total, id range, and an ORDER-INDEPENDENT
    * content checksum (bit_xor of each member's 60-bit content hash —
    * xor commutes, so Spark's parallel partial aggregation and the
    * oracle's sequential fold agree exactly; a sum would need overflow
    * wrapping DuckDB's HUGEINT doesn't do). This is what makes a 100 TB
    * export reproducible and diffable: re-running the pipeline and
    * comparing manifests detects any divergence without reading payloads.
    */
  val c5ShardManifest: Q = Q(
    "c5_shard_manifest",
    (s, dir) => {
      val packed = x9SeqPacking.fn(s, dir) // doc_id, shard, bin, n_tokens
      val fps = t(s, dir, "documents").select(col("doc_id"),
        Text.seededHash64(lit(0), col("text")).as("cfp"))
      packed.join(fps, Seq("doc_id"))
        .groupBy("shard", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          expr("bit_xor(cfp)").as("content_xor"))
        .orderBy("shard", "bin")
    },
    Some("WITH RECURSIVE " + sqlX9Body +
      """,
      fps AS (SELECT doc_id,
                CAST('0x' || substr(md5('0|' || text), 1, 15) AS BIGINT) AS cfp
              FROM documents)
      SELECT shard, CAST(bin AS INT) AS bin, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        bit_xor(cfp) AS content_xor
      FROM pack JOIN fps USING (doc_id)
      GROUP BY shard, bin ORDER BY shard, bin""")
  )

  private val sqlShingles8 =
    """SELECT doc_id, unnest(list_distinct(list_transform(
         range(len(t) - 7), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]))) AS shingle
       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       WHERE len(t) >= 8"""

  /** C6: fuzzy decontamination — the graded complement of c1's pair-level
    * leak report: per EVAL document (source = 'src0'), the fraction of its
    * distinct 8-gram shingles that appear anywhere in the training split,
    * and the resulting flag at the 20 % overlap threshold (the GPT-3/PaLM
    * decontamination rule: a benchmark document is dropped when enough of
    * its n-grams leak, not only on exact match). One distinct-shingle
    * census over the train side, one left join keyed on shingle, one
    * map-side-combinable aggregate — the train side never materializes
    * pairs, and at 100 TB the eval side stays tiny while the census
    * shuffle is the same bounded inverted-index shape as c1/d2.
    */
  val c6FuzzyDecontam: Q = Q(
    "c6_fuzzy_decontam",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      // Both the eval and train sides scan this one shingle table:
      // persist + eager count (the concurrent-first-scan trap, see c1).
      val sh = Pin.owned(MinHashLSH.shingleTable(docs, "doc_id", "text", 8)
        .join(src, Seq("doc_id")))
      sh.count()
      val ev = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_doc"), col("shingle"))
      val tr = sh.filter(col("source") =!= "src0")
        .select("shingle").distinct()
        .withColumn("hit", lit(1L))
      val stats = ev.join(tr, Seq("shingle"), "left")
        .groupBy("eval_doc")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_leaked"))
      // Anchor on the eval DOCUMENT set, not the shingle table: an eval doc
      // shorter than the n-gram (no shingles) must still get a verdict row
      // (0 n-grams, not contaminated), or downstream joins read it as
      // un-audited. Same left-join-and-coalesce shape as d10's short docs.
      docs.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_doc"))
        .join(stats, Seq("eval_doc"), "left")
        .select(col("eval_doc"),
          coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .withColumn("leak_frac",
          when(col("n_ngrams") > 0,
            col("n_leaked").cast("double") / col("n_ngrams")).otherwise(lit(0.0)))
        .withColumn("contaminated", col("leak_frac") >= 0.2)
        .orderBy("eval_doc")
    },
    Some(s"""WITH sh AS ($sqlShingles8),
      j AS (SELECT sh.doc_id, sh.shingle, d.source
            FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
      tr AS (SELECT DISTINCT shingle FROM j WHERE source <> 'src0'),
      ev AS (SELECT doc_id AS eval_doc, shingle FROM j WHERE source = 'src0'),
      stats AS (SELECT eval_doc, count(*) AS n_ngrams,
          CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        FROM ev LEFT JOIN tr t ON ev.shingle = t.shingle
        GROUP BY eval_doc)
      SELECT d.doc_id AS eval_doc,
        CAST(coalesce(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        CAST(coalesce(s.n_leaked, 0) AS BIGINT) AS n_leaked,
        CASE WHEN coalesce(s.n_ngrams, 0) > 0
             THEN CAST(s.n_leaked AS DOUBLE) / s.n_ngrams ELSE 0.0 END AS leak_frac,
        CASE WHEN coalesce(s.n_ngrams, 0) > 0
             THEN CAST(s.n_leaked AS DOUBLE) / s.n_ngrams ELSE 0.0 END >= 0.2 AS contaminated
      FROM documents d LEFT JOIN stats s ON d.doc_id = s.eval_doc
      WHERE d.source = 'src0'
      ORDER BY eval_doc""")
  )

  /** C7: deterministic epoch shuffle — the training-order assignment for a
    * multi-epoch run: per epoch, every document gets a fresh pseudo-random
    * order from the seeded 60-bit hash (seed = epoch, so epochs are
    * independent permutations yet each is exactly reproducible), sharded
    * into 8 consumer streams with a per-(epoch, shard) position. The
    * window partitions on (epoch, shard) — deliberately NOT a global
    * row_number, which would serialize 100 TB through one partition; the
    * production reader consumes shards round-robin, so per-shard order IS
    * the contract. One keyed shuffle per epoch-shard group, reproducible
    * on any cluster size with no RNG state (p12's property, extended to
    * ordering).
    */
  val c7EpochShuffle: Q = Q(
    "c7_epoch_shuffle",
    (s, dir) => {
      val epochs = s.range(0, 3).select(col("id").as("epoch"))
      val w = Window.partitionBy("epoch", "shard").orderBy("hv", "doc_id")
      t(s, dir, "documents").select(col("doc_id"))
        .crossJoin(broadcast(epochs))
        .withColumn("hv", Text.seededHash64(col("epoch"), col("doc_id").cast("string")))
        .withColumn("shard", pmod(col("hv"), lit(8)))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("epoch", "shard", "pos", "doc_id")
        .orderBy("epoch", "shard", "pos")
    },
    Some("""WITH h AS (SELECT e.epoch, d.doc_id,
          CAST('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        FROM documents d CROSS JOIN (SELECT unnest(range(3)) AS epoch) e)
      SELECT epoch, hv % 8 AS shard,
        row_number() OVER (PARTITION BY epoch, hv % 8 ORDER BY hv, doc_id) AS pos,
        doc_id
      FROM h ORDER BY epoch, shard, pos""")
  )

  /** C10: quality-annealed curriculum schedule — the data-ORDERING step of
    * a modern pretraining run (curriculum learning, Bengio et al. 2009;
    * quality-ascending "annealing" in recent open recipes): documents are
    * split into four quality quartiles (phase 0 = worst seen first,
    * phase 3 = best reserved for the end of training) and, within each
    * phase, given the same sharded deterministic order as c7's epoch
    * shuffle.
    *
    * The scale trick is HOW the quartiles are computed: no global sort of
    * documents and no approx-percentile drift. Quality scores (x3's
    * formula, reused verbatim) are integer-quantized to 2^-20, and the
    * quartile boundaries come from a running sum over the QUANTIZED-VALUE
    * census — a window over at most 2^20 distinct score buckets, bounded
    * regardless of corpus size, never over documents. Every document in
    * one bucket lands in one phase (the phase of the bucket's first rank),
    * so assignment is exact integer arithmetic both engines reproduce.
    * The per-phase order then partitions on (phase, shard) — 32 window
    * groups, never a global row_number.
    */
  /** c10's core over any (doc_id, text) frame — also driven by
    * [[graft.ScaleProbe]] to show the quantized-score census stays bounded
    * under corpus inflation.
    */
  def curriculumPlan(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = qualityBuckets(docs)
    // the census is ≤ 2^20 rows: persist it so the cum window, the total,
    // and nothing else re-runs the tokenizing quality scan (scored itself
    // is scanned once here and once in the join-back below)
    val census = Pin.owned(scored.groupBy("qq").agg(count(lit(1)).as("c")))
    census.count() // eager: window + total both read it
    val wc = Window.orderBy("qq") // census window: ≤ 2^20 rows by construction
    val phased = census
      .withColumn("cum", sum(col("c")).over(wc))
      .crossJoin(broadcast(census.agg(sum(col("c")).as("n"))))
      .withColumn("phase", least(lit(3L), expr("(cum - c) * 4 div n")))
      .select("qq", "phase")
    val w = Window.partitionBy("phase", "shard").orderBy("hv", "doc_id")
    scored
      .join(phased, Seq("qq"))
      .withColumn("hv", Text.seededHash64(lit(21), col("doc_id").cast("string")))
      .withColumn("shard", pmod(col("hv"), lit(8)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("phase", "shard", "pos", "doc_id", "qq")
  }

  /** c10's quality score bucket per document (doc_id, qq): x3's quality
    * quantized to 2^-20. Its distinct `qq` values are the census the
    * quartile window runs over.
    */
  private[graft] def qualityBuckets(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextAnalysis.quality(docs)
      .select(col("doc_id"), round(col("quality") * (1L << 20).toDouble).cast("long").as("qq"))

  val c10Curriculum: Q = Q(
    "c10_curriculum",
    (s, dir) => curriculumPlan(t(s, dir, "documents"))
      .orderBy("phase", "shard", "pos"),
    Some("""WITH base AS (
        SELECT doc_id,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_types,
          length(text) AS chars,
          len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS n_stop
        FROM documents),
      q AS (SELECT doc_id,
          CAST(round((0.4 * (n_types / n_tokens)
            + 0.3 * least(((chars - n_tokens + 1) / n_tokens) / 10.0, 1.0)
            + 0.3 * (1.0 - (n_stop / n_tokens))) * 1048576) AS BIGINT) AS qq
        FROM base),
      census AS (SELECT qq, count(*) AS c FROM q GROUP BY qq),
      cum AS (SELECT qq, c, CAST(sum(c) OVER (ORDER BY qq) AS BIGINT) AS cum FROM census),
      phased AS (SELECT qq,
          least(3, (cum - c) * 4 // (SELECT count(*) FROM q)) AS phase
        FROM cum),
      h AS (SELECT q.doc_id, q.qq, p.phase,
          CAST('0x' || substr(md5('21|' || CAST(q.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        FROM q JOIN phased p USING (qq))
      SELECT phase, hv % 8 AS shard,
        row_number() OVER (PARTITION BY phase, hv % 8 ORDER BY hv, doc_id) AS pos,
        doc_id, qq
      FROM h ORDER BY phase, shard, pos""")
  )

  /** C13: CCNet perplexity buckets — the head/middle/tail split of CCNet
    * (Wenzek et al. 2020) that every web-corpus recipe since has reused:
    * per LANGUAGE, documents are terciled by their LM quality score (x10's
    * unigram-surprisal proxy, reused verbatim) and the tail third is
    * dropped. The tercile thresholds are per-language — an absolute
    * global cut would mostly encode language identity, not quality.
    *
    * Scale: c10's census-quantile trick, per language — the per-doc mean
    * surprisal is floored to 2^-10-bit units, so the (lang, score) census
    * is bounded by languages × ~20·2^10 buckets regardless of corpus
    * size; the tercile window runs over that census (partitioned by
    * lang), never over documents, and no global or per-language document
    * sort exists anywhere. Output is the per-(lang, bucket) release
    * datasheet: doc/token mass and the score range, with the CCNet
    * keep = head+middle flag.
    *
    * Exactness: per-token bits are x10's 2^-20 quantized longs; the
    * per-doc mean and the 2^-10 refloor are positive-integer floor
    * divisions; tercile assignment is the same exact census arithmetic
    * both engines reproduce.
    */
  val c13CcnetBuckets: Q = Q(
    "c13_ccnet_buckets",
    (s, dir) => {
      val q20d = (1L << 20).toDouble
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      val census = Pin.owned(toks.groupBy("tok").agg(count(lit(1)).as("c")))
      census.count() // vocab-bounded; the probability join and total share it
      val total = census.agg(sum(col("c")).as("n_total"))
      val per = toks
        .join(census, Seq("tok"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("lang"),
          round((log2(col("n_total")) - log2(col("c"))) * q20d).cast("long").as("qbits"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"), sum(col("qbits")).as("sb"))
        .select(col("lang"), col("n_tokens"), expr("(sb div n_tokens) div 1024").as("sq"))
      val cen2 = per.groupBy("lang", "sq")
        .agg(count(lit(1)).as("c2"), sum(col("n_tokens")).as("toksum"))
      val wCum = Window.partitionBy("lang").orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("lang")
      cen2
        .withColumn("cum", sum(col("c2")).over(wCum))
        .withColumn("ltot", sum(col("c2")).over(wTot))
        .withColumn("bucket", least(lit(2L), expr("((cum - c2) * 3) div ltot")))
        .groupBy("lang", "bucket")
        .agg(sum(col("c2")).as("n_docs"), sum(col("toksum")).as("n_toks"),
          min(col("sq")).as("sq_min"), max(col("sq")).as("sq_max"))
        .withColumn("keep", when(col("bucket") <= 1, lit(1)).otherwise(lit(0)))
        .orderBy("lang", "bucket")
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      census AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      total AS (SELECT sum(c) AS n_total FROM census),
      per AS (SELECT doc_id, lang, count(*) AS n_tokens,
              CAST(sum(CAST(round((log2(n_total) - log2(c)) * 1048576) AS BIGINT))
                AS BIGINT) AS sb
              FROM toks JOIN census USING (tok) CROSS JOIN total
              GROUP BY doc_id, lang),
      sqd AS (SELECT lang, n_tokens, (sb // n_tokens) // 1024 AS sq FROM per),
      cen2 AS (SELECT lang, sq, count(*) AS c2, CAST(sum(n_tokens) AS BIGINT) AS toksum
               FROM sqd GROUP BY lang, sq),
      b AS (SELECT lang, sq, c2, toksum,
              CAST(sum(c2) OVER (PARTITION BY lang ORDER BY sq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(sum(c2) OVER (PARTITION BY lang) AS BIGINT) AS ltot
            FROM cen2),
      bb AS (SELECT lang, least(2, ((cum - c2) * 3) // ltot) AS bucket, c2, toksum, sq
             FROM b)
      SELECT lang, bucket, CAST(sum(c2) AS BIGINT) AS n_docs,
             CAST(sum(toksum) AS BIGINT) AS n_toks,
             CAST(min(sq) AS BIGINT) AS sq_min, CAST(max(sq) AS BIGINT) AS sq_max,
             CASE WHEN bucket <= 1 THEN 1 ELSE 0 END AS keep
      FROM bb GROUP BY lang, bucket ORDER BY lang, bucket""")
  )

  val all: Seq[Q] = Seq(
    c1Contamination, c2CorpusBuild, x8Repetition, p12StratifiedSample,
    x9SeqPacking, x10UnigramSurprisal, d6SegmentDedup, c4SplitLeakage,
    c5ShardManifest, c6FuzzyDecontam, c7EpochShuffle, c10Curriculum,
    c13CcnetBuckets)
}
