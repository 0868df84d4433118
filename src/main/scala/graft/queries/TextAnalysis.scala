package graft.queries

import graft.{Pin, Q, Tables}
import graft.functions.Text
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface over `documents` (north star: LLM training-data
  * pipeline ops — token counting, language ID, quality scoring, document
  * fingerprinting). All expressions are codegen'd builtins; the per-doc ops
  * are narrow (no shuffle), so at 100 TB they stream through the scan.
  */
object TextAnalysis {
  import Q._

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** Fixed per-language stopword profiles over the synthetic vocabulary.
    * Deterministic by construction (the corpus is a seeded bag-of-words);
    * the POINT is the operator shape — count-tokens-in-set scoring — not
    * linguistic accuracy.
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("data", "row", "column", "table"),
    "es" -> Seq("join", "merge", "group", "agg"),
    "fr" -> Seq("sort", "order", "key", "hash"),
    "zh" -> Seq("scan", "filter", "batch", "stream"))

  private def profileScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, tk => tk.isin(words: _*))).cast("long")

  private def sqlProfileScore(words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), tk -> tk IN ($set)))"
  }

  /** X1: token counting — whitespace tokens, distinct types, char lengths. */
  val x1TokenStats: Q = Q(
    "x1_token_stats",
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"),
          length(col("text")).cast("long").as("n_chars_measured"),
          col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_distinct(string_split(text, ' '))) AS n_types,
      length(text) AS n_chars_measured,
      n_chars
      FROM documents ORDER BY doc_id""")
  )

  /** X2: language ID via stopword-profile scoring — count tokens hitting
    * each language's profile set, argmax with a fixed tie-break order.
    */
  val x2LangId: Q = Q(
    "x2_lang_id", {
      (s, dir) => {
        val toks = Text.tokens(col("text"))
        val scored = t(s, dir, "documents")
          .select(
            Seq(col("doc_id"), col("lang")) ++
              profiles.map { case (l, ws) => profileScore(toks, ws).as(s"${l}_score") }: _*)
        val mx = greatest(profiles.map { case (l, _) => col(s"${l}_score") }: _*)
        val predicted = profiles
          .foldLeft(when(lit(false), lit(""))) { case (acc, (l, _)) =>
            acc.when(col(s"${l}_score") === mx, lit(l))
          }
        scored.withColumn("predicted", predicted).orderBy("doc_id")
      }
    },
    Some {
      val scores = profiles
        .map { case (l, ws) => s"${sqlProfileScore(ws)} AS ${l}_score" }
        .mkString(",\n      ")
      val mx = s"greatest(${profiles.map { case (l, _) => s"${l}_score" }.mkString(", ")})"
      val cases = profiles
        .map { case (l, _) => s"WHEN ${l}_score = $mx THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (
        SELECT doc_id, lang,
      $scores
        FROM documents)
      SELECT doc_id, lang, en_score, de_score, es_score, fr_score, zh_score,
        CASE $cases END AS predicted
      FROM scored ORDER BY doc_id"""
    }
  )

  /** The composite quality score over any (doc_id, text) frame —
    * type/token ratio, mean token length, stopword ratio folded into one
    * deterministic composite; shared by the x3 registry query, c10's
    * curriculum phases, and the curriculum scale probe.
    */
  def quality(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = Text.tokens(col("text"))
    docs
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        length(col("text")).cast("long").as("chars"),
        profileScore(toks, Seq("the", "a")).as("n_stop"))
      .select(
        col("doc_id"),
        (col("n_types") / col("n_tokens")).as("ttr"),
        ((col("chars") - col("n_tokens") + 1) / col("n_tokens")).as("mean_token_len"),
        (col("n_stop") / col("n_tokens")).as("stop_ratio"))
      .withColumn(
        "quality",
        lit(0.4) * col("ttr") +
          lit(0.3) * least(col("mean_token_len") / lit(10.0), lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")))
  }

  /** X3: per-document quality scoring — [[quality]] as a registry query. */
  val x3Quality: Q = Q(
    "x3_quality_score",
    (s, dir) => quality(t(s, dir, "documents")).orderBy("doc_id"),
    Some(s"""WITH base AS (
        SELECT doc_id,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_types,
          length(text) AS chars,
          ${sqlProfileScore(Seq("the", "a"))} AS n_stop
        FROM documents)
      SELECT doc_id,
        n_types / n_tokens AS ttr,
        (chars - n_tokens + 1) / n_tokens AS mean_token_len,
        n_stop / n_tokens AS stop_ratio,
        0.4 * (n_types / n_tokens)
          + 0.3 * least(((chars - n_tokens + 1) / n_tokens) / 10.0, 1.0)
          + 0.3 * (1.0 - (n_stop / n_tokens)) AS quality
      FROM base ORDER BY doc_id""")
  )

  /** X4: document fingerprinting — whole-text md5 plus an opening-phrase
    * prefix hash, with per-fingerprint group stats via window functions.
    */
  val x4Fingerprint: Q = Q(
    "x4_fingerprint",
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      val w = Window.partitionBy(col("fp_prefix8"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.fingerprint(col("text")).as("fp_full"),
          Text.prefixFingerprint(toks, 8).as("fp_prefix8"))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("canonical", col("doc_id") === min(col("doc_id")).over(w))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      md5(text) AS fp_full,
      md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp_prefix8,
      count(*) OVER (PARTITION BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))) AS group_size,
      doc_id = min(doc_id) OVER (PARTITION BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))) AS canonical
      FROM documents ORDER BY doc_id""")
  )

  /** X5: corpus token frequencies — explode + count, the classic wide
    * text aggregation (map-side combine keeps the shuffle at vocab size).
    */
  val x5TokenFreq: Q = Q(
    "x5_token_freq",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(20),
    Some("""SELECT tok AS token, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok ORDER BY freq DESC, token LIMIT 20""")
  )

  /** X13: BM25 relevance scoring — the lexical-retrieval counterpart of the
    * e-family's ANN: score every document against a fixed query using the
    * corpus's own df/length statistics (k₁ = 1.2, b = 0.75). The df and
    * avgdl censuses are vocab-/1-row-bounded and broadcast; term
    * frequencies shuffle once on (doc, term). Per-term contributions are
    * integer-quantized (x10's trick) before the per-doc sum so Spark's
    * partial-sum order and DuckDB's sequential scan agree exactly; `ln`
    * runs on bit-identical doubles in both engines (every mixed-type
    * subexpression is explicitly double-cast — BIGINT + DECIMAL would
    * silently go decimal in the oracle and diverge).
    */
  val x13Bm25: Q = Q(
    "x13_bm25",
    (s, dir) => {
      val query = Seq("the", "data", "market")
      val q20d = (1L << 20).toDouble
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val dl = Pin.owned(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
      dl.count() // eager: stats + the contribution join both scan it
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("tok").isin(query: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val idf = log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      val contrib = tf
        .join(broadcast(df), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(idf *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl") / col("avgdl"))) * lit(q20d))
            .cast("long").as("q"))
      contrib.groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          (sum(col("q")).cast("double") / lit(q20d)).as("bm25"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             WHERE tok IN ('the', 'data', 'market') GROUP BY doc_id, tok),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      contrib AS (SELECT t.doc_id,
          CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
            * (CAST(tf AS DOUBLE) * 2.2)
            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))
            * 1048576.0) AS BIGINT) AS q
        FROM tf t JOIN df USING (tok) JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN stats)
      SELECT doc_id, count(*) AS n_terms,
        CAST(sum(q) AS DOUBLE) / 1048576.0 AS bm25
      FROM contrib GROUP BY doc_id ORDER BY doc_id""")
  )

  /** X15: BPE merge-pair counting — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count adjacent symbol
    * pairs across the corpus, weighted by word frequency; the top pair is
    * the next merge. The scale move is that all pair work runs on the
    * VOCAB-BOUNDED word census, not per occurrence: a word appearing 10M
    * times contributes its character pairs ONCE with weight 10M, so the
    * explode is O(vocab × word-length) regardless of corpus size — at
    * 100 TB the census is the only corpus-sized aggregate and the rest is
    * bounded. Top-30 via TakeOrderedAndProject with (c1, c2) tie-break.
    * Full BPE training iterates this with vocab-bounded merge state — a
    * driver loop over this exact query shape, one merge per round.
    */
  val x15BpePairs: Q = Q(
    "x15_bpe_pairs",
    (s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      // sequence(1, len-1) needs len >= 2: Spark's sequence steps BACKWARD
      // when start > stop, so a 1-char word would yield [1, 0], not [].
      wc.filter(length(col("word")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, length(word) - 1), " +
            "i -> struct(substr(word, i, 1) AS c1, substr(word, i + 1, 1) AS c2))"))
          .as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(sum(col("c")).as("freq"))
        .orderBy(col("freq").desc, col("c1"), col("c2"))
        .limit(30)
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
      pairs AS (SELECT substr(word, i, 1) AS c1, substr(word, i + 1, 1) AS c2, c
                FROM (SELECT word, c, unnest(range(1, length(word))) AS i
                      FROM wc WHERE length(word) >= 2)),
      agg AS (SELECT c1, c2, CAST(sum(c) AS BIGINT) AS freq FROM pairs GROUP BY c1, c2)
      SELECT c1, c2, freq FROM agg ORDER BY freq DESC, c1, c2 LIMIT 30""")
  )

  /** X16: multi-class PII detection + redaction — the scrubbing pass every
    * public training corpus runs before release (Dolma and FineWeb
    * regex-scrub emails/IPs/phone numbers in place). Where `x6_pii_scrub`
    * redacts ONE known token class, this is the production shape: three
    * detector families over each document — email addresses, IPv4
    * addresses, long digit runs (phone/account-number shaped) — applied in
    * precedence order (emails, then IPs, then bare digit runs), each class
    * COUNTED on the text the previous classes already redacted, so a digit
    * sequence inside an email or IP is attributed to exactly one class —
    * never double-counted (a 7-digit local-part like `u1000000@…` is one
    * email, zero digit runs).
    *
    * The synthetic corpus contains no PII (digit-free prose), so a
    * deterministic doc_id-derived contact footer is appended before
    * scrubbing — a loudly-marked stand-in (the Multimodal.FakeCodec
    * pattern) that gives every detector real matches while keeping the
    * DuckDB oracle bit-exact. Patterns stay inside the Java-regex ∩ RE2
    * portable subset: explicit classes, greedy bounded quantifiers, no
    * lookaround, no backrefs.
    *
    * Scale shape: a pure narrow map — codegen `regexp_count`/
    * `regexp_replace` per row, zero shuffles before the oracle's ORDER BY.
    * At 100 TB this is the cheapest kind of pass there is; it pipelines
    * inside whole-stage codegen with whatever scan feeds it.
    */
  val x16PiiScrub: Q = Q(
    "x16_pii_scrub",
    (s, dir) => {
      val emailRe = "[a-z0-9._]+@[a-z][a-z.]+"
      val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val digitsRe = "[0-9]{7,}"
      val withPii = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            col("text"),
            lit(" contact u"), col("doc_id"), lit("@mail.example from ip 10."),
            pmod(col("doc_id"), lit(200L)), lit("."),
            pmod(col("doc_id") * 7, lit(200L)), lit("."),
            pmod(col("doc_id") * 13, lit(250L)),
            lit(" account "), lpad(col("doc_id").cast("string"), 9, "0"),
            expr("repeat(' ping 192.168.1.' || cast(doc_id % 9 as string), " +
              "cast(doc_id % 3 as int))")
          ).as("raw"))
      withPii
        .withColumn("r1", regexp_replace(col("raw"), emailRe, "<EMAIL>"))
        .withColumn("r2", regexp_replace(col("r1"), ipRe, "<IP>"))
        .select(
          col("doc_id"),
          regexp_count(col("raw"), lit(emailRe)).as("n_emails"),
          regexp_count(col("r1"), lit(ipRe)).as("n_ips"),
          regexp_count(col("r2"), lit(digitsRe)).as("n_digit_runs"),
          regexp_replace(col("r2"), digitsRe, "<NUM>").as("redacted"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
        text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example from ip 10.'
          || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id * 7 % 200 AS VARCHAR)
          || '.' || CAST(doc_id * 13 % 250 AS VARCHAR)
          || ' account ' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
          || repeat(' ping 192.168.1.' || CAST(doc_id % 9 AS VARCHAR),
               CAST(doc_id % 3 AS INT)) AS raw
      FROM documents),
      r AS (SELECT doc_id, raw,
          regexp_replace(raw, '[a-z0-9._]+@[a-z][a-z.]+', '<EMAIL>', 'g') AS r1
        FROM p),
      r2 AS (SELECT doc_id, raw, r1,
          regexp_replace(r1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS r2
        FROM r)
      SELECT doc_id,
        CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z][a-z.]+')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(r1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
        CAST(len(regexp_extract_all(r2, '[0-9]{7,}')) AS INT) AS n_digit_runs,
        regexp_replace(r2, '[0-9]{7,}', '<NUM>', 'g') AS redacted
      FROM r2 ORDER BY doc_id""")
  )

  /** X17: vocabulary growth curve (Heaps' law, V(n) ≈ K·n^β) — the corpus
    * diversity diagnostic: how fast the type inventory grows as the corpus
    * is consumed in doc_id order, reported per corpus decile with the
    * running Heaps exponent estimate β = ln V / ln n. A flattening curve
    * says more data adds few new types (near-duplicate or templated text);
    * a β near 1 says the corpus never repeats itself (OCR noise, ids).
    *
    * The scale trick: NO prefix re-scans and no global sort. Each type
    * contributes exactly its FIRST-occurrence document (min(doc_id) per
    * type — one map-side-combinable census on tok), each doc its decile
    * (integer `doc_id·10 div N`), and the curve is two running sums over
    * TEN rows. The Heaps exponent is the only transcendental and runs on
    * those 10 rows, quantized to 2^-20 (x10's trick) so both engines agree
    * bit-for-bit.
    */
  val x17VocabGrowth: Q = Q(
    "x17_vocab_growth",
    (s, dir) => {
      val toks = Pin.owned(t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok")))
      toks.count() // the type census and the per-doc counts both scan it
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val firstDocs = toks.groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(nDocs))
        .groupBy(expr("least(9, first_doc * 10 div n)").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val tokCounts = toks
        .crossJoin(broadcast(nDocs))
        .groupBy(expr("least(9, doc_id * 10 div n)").as("bucket"))
        .agg(count(lit(1)).as("bucket_tokens"))
      val w = Window.orderBy("bucket") // 10 rows by construction
        .rowsBetween(Window.unboundedPreceding, 0)
      tokCounts
        .join(firstDocs, Seq("bucket"), "left")
        .select(col("bucket"), col("bucket_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
        .withColumn("vocab", sum(col("new_types")).over(w))
        .withColumn("qbeta",
          round(log(col("vocab").cast("double"))
            / log(col("cum_tokens").cast("double")) * lit((1L << 20).toDouble))
            .cast("long"))
        .select("bucket", "bucket_tokens", "new_types", "cum_tokens", "vocab", "qbeta")
        .orderBy("bucket")
    },
    Some("""WITH n AS (SELECT count(*) AS n FROM documents),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      fd AS (SELECT least(9, doc_id * 10 // n) AS bucket, count(*) AS new_types
        FROM (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok) CROSS JOIN n
        GROUP BY 1),
      tc AS (SELECT least(9, doc_id * 10 // n) AS bucket, count(*) AS bucket_tokens
        FROM toks CROSS JOIN n GROUP BY 1),
      cur AS (SELECT tc.bucket, tc.bucket_tokens,
          CAST(coalesce(fd.new_types, 0) AS BIGINT) AS new_types,
          CAST(sum(tc.bucket_tokens) OVER (ORDER BY tc.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
          CAST(sum(coalesce(fd.new_types, 0)) OVER (ORDER BY tc.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
        FROM tc LEFT JOIN fd ON tc.bucket = fd.bucket)
      SELECT bucket, bucket_tokens, new_types, cum_tokens, vocab,
        CAST(round(ln(CAST(vocab AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE))
          * 1048576) AS BIGINT) AS qbeta
      FROM cur ORDER BY bucket""")
  )

  /** X18: readability scoring (Flesch-reading-ease shape) — the
    * document-level fluency signal quality filters stack next to x3's
    * ratio features: long sentences and polysyllabic words drive the
    * score down; corpus curation drops or down-weights the extremes.
    * Syllables use the standard vowel-group heuristic (runs of
    * `[aeiouy]+` in the lowercased text), sentences the terminal-punct
    * census — crude linguistics, but the OPERATOR (two regex censuses +
    * fixed-point arithmetic per row) is exactly what a real scorer runs.
    *
    * Exactness: the score is computed in MILLI-points with integer floor
    * division (`206.835 → 206835`, `1.015·w/s → (1015·w) div s`,
    * `84.6·y/w → (84600·y) div w`) — DuckDB's `//` truncates toward
    * zero like Spark's `div` (and all operands are non-negative here
    * anyway), so the result is bit-identical with no float rounding to
    * drift.
    *
    * Scale: narrow per-row expressions only (regexp_count + arithmetic,
    * all codegen'd builtins) — no shuffle, no UDF; streams through the
    * scan at any corpus size.
    */
  val x18Readability: Q = Q(
    "x18_readability",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_words"),
          greatest(lit(1L), regexp_count(col("text"), lit("[.!?]"))).as("n_sentences"),
          greatest(lit(1L), regexp_count(lower(col("text")), lit("[aeiouy]+"))).as("n_syllables"))
        .filter(col("n_words") > 0)
        .withColumn("score_milli",
          lit(206835L) - expr("(1015 * n_words) div n_sentences")
            - expr("(84600 * n_syllables) div n_words"))
        .withColumn("band",
          when(col("score_milli") >= 90000, "easy")
            .when(col("score_milli") >= 60000, "standard")
            .when(col("score_milli") >= 30000, "difficult")
            .otherwise("very_hard"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          greatest(1, CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS n_sentences,
          greatest(1, CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)) AS n_syllables
        FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        206835 - (1015 * n_words) // n_sentences
               - (84600 * n_syllables) // n_words AS score_milli,
        CASE WHEN 206835 - (1015 * n_words) // n_sentences
                         - (84600 * n_syllables) // n_words >= 90000 THEN 'easy'
             WHEN 206835 - (1015 * n_words) // n_sentences
                         - (84600 * n_syllables) // n_words >= 60000 THEN 'standard'
             WHEN 206835 - (1015 * n_words) // n_sentences
                         - (84600 * n_syllables) // n_words >= 30000 THEN 'difficult'
             ELSE 'very_hard' END AS band
      FROM f WHERE n_words > 0 ORDER BY doc_id""")
  )

  /** X19: per-document unigram entropy — the lexical-diversity signal
    * (Gopher-style quality filtering flags both near-zero entropy, i.e.
    * degenerate repetition, and implausibly high entropy, i.e. random
    * noise): H = ln(n) − Σc·ln(c)/n over the doc's token counts.
    *
    * Exactness: the Σc·ln(c) term is a SEQUENTIAL left-fold over the
    * counts sorted by token (Spark `aggregate` over an `array_sort`ed
    * list, DuckDB `list_reduce` over `list(... ORDER BY tok)`), so both
    * engines associate the float additions identically — the same
    * determinism discipline as the vector dot products ([[SimilarityQueries]]).
    * A 0.0 seed is exact under IEEE (+0.0 + x = x), so fold-with-init and
    * DuckDB's no-init reduce agree. Result rounded to 6dp.
    *
    * Scale: one (doc_id, tok) count with map-side combine, one per-doc
    * collect of the doc's OWN vocabulary (bounded by doc length, never
    * corpus-wide) — the classic two-level aggregation; no joins.
    */
  val x19UnigramEntropy: Q = Q(
    "x19_unigram_entropy",
    (s, dir) => {
      val cnts = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      cnts.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          transform(array_sort(collect_list(struct(col("tok"), col("c")))),
            e => e("c").cast("double")).as("cl"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(log(col("n_tokens").cast("double")) -
            aggregate(col("cl"), lit(0.0), (acc, x) => acc + x * log(x)) /
              col("n_tokens"), 6).as("entropy_r6"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      cnts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct,
                list(CAST(c AS DOUBLE) ORDER BY tok) AS cl
              FROM cnts GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
        round(ln(CAST(n_tokens AS DOUBLE))
          - list_reduce(list_transform(cl, x -> x * ln(x)), (a, b) -> a + b)
            / n_tokens, 6) AS entropy_r6
      FROM agg ORDER BY doc_id""")
  )

  /** X20: Zipf exponent estimation — fit `ln(freq) = α·ln(rank) + c` by
    * least squares over the top-100 token frequencies (natural corpora
    * slope ≈ −1; synthetic/degenerate ones drift, so the slope is a
    * corpus-health signal next to x17's Heaps curve).
    *
    * Exactness: a DISTRIBUTED regression with exact integer arithmetic —
    * both logs are quantized to 2⁻²⁰ units on bit-identical doubles
    * (x10's trick), all five regression sums are BIGINT-exact and
    * order-independent, and the slope is ONE double division of identical
    * exact operands (the 2²⁰ scale cancels in the ratio, so the output IS
    * the dimensionless exponent). Rounded to 6dp.
    *
    * Scale: the vocabulary census is one map-side-combinable groupBy; the
    * top-100 cut is TakeOrdered (no full sort); ranking and the sums run
    * over exactly 100 rows — bounded at any corpus size.
    */
  val x20ZipfSlope: Q = Q(
    "x20_zipf_slope",
    (s, dir) => {
      val q20 = (1L << 20).toDouble
      val top = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("tok")).limit(100)
      val w = Window.orderBy(desc("freq"), col("tok"))
      top.withColumn("r", row_number().over(w))
        .select(col("freq"),
          round(log(col("r").cast("double")) * q20).cast("long").as("qx"),
          round(log(col("freq").cast("double")) * q20).cast("long").as("qy"))
        .agg(count(lit(1)).as("n_terms"), max(col("freq")).as("top_freq"),
          sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
          sum(col("qx") * col("qy")).as("sxy"),
          sum(col("qx") * col("qx")).as("sxx"))
        .select(col("n_terms"), col("top_freq"),
          round(
            (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"),
            6).as("slope_r6"))
    },
    Some("""WITH freqs AS (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok ORDER BY freq DESC, tok LIMIT 100),
      pts AS (SELECT freq,
          CAST(round(ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
            * 1048576) AS BIGINT) AS qx,
          CAST(round(ln(CAST(freq AS DOUBLE)) * 1048576) AS BIGINT) AS qy
        FROM freqs),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
          CAST(max(freq) AS BIGINT) AS top_freq,
          CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
          CAST(sum(qx * qy) AS BIGINT) AS sxy,
          CAST(sum(qx * qx) AS BIGINT) AS sxx
        FROM pts)
      SELECT n_terms, top_freq,
        round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
          / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS slope_r6
      FROM agg""")
  )

  /** X21: n-gram novelty curve — for each document in arrival (doc_id)
    * order, the fraction of its distinct 3-gram shingles never seen in
    * any EARLIER document. Dataset curation uses this to decide when a
    * source is mined out (novelty decays toward zero as the corpus
    * saturates) — the per-doc form of d6's segment census.
    *
    * Exactness: a shingle is novel exactly when this doc IS its global
    * first holder (`min(doc_id)`), so novelty needs no sequential scan —
    * one census + join-back answers every document at once. Counts are
    * integers; the ratio is integer permille.
    *
    * Scale: the fused codegen shingler ([[Text]]/FastText) emits each
    * doc's DISTINCT shingles in the scan (no per-doc Exchange); the
    * first-seen census is a map-side-combinable `min`; the join back is
    * one keyed equi-join on the shingle. Nothing quadratic, nothing
    * driver-side, at any corpus size.
    */
  val x21NgramNovelty: Q = Q(
    "x21_ngram_novelty",
    (s, dir) => {
      graft.functions.FastVec.register(s) // graft_shingles (idempotent)
      val sh = Pin.owned(t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.FastText.shingles(col("text"), 3)).as("shingle")))
      sh.count() // eager: census + join-back both scan it
      val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
      val out = sh.join(first, Seq("shingle"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(1000 * n_novel) div n_grams").as("novelty_pm"))
        .orderBy("doc_id")
      out
    },
    Some("""WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3),
      first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        (1000 * CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT))
          // count(*) AS novelty_pm
      FROM sh s JOIN first f ON f.shingle = s.shingle
      GROUP BY s.doc_id ORDER BY s.doc_id""")
  )

  /** X22: language-ID confusion matrix — the evaluation harness next to
    * x2's classifier (the e9/d11 "measure the shipped pipeline" pattern
    * applied to text): cross-tabulate stored label × x2's prediction,
    * with per-truth-row shares, so per-language precision/recall drops
    * are visible the moment profiles drift.
    *
    * Exactness: x2's argmax is reproduced verbatim (same profile scores,
    * same greatest + first-match tie-break); counts are integers and the
    * share is an integer permille floor division.
    *
    * Scale: one narrow scan scoring every doc (codegen'd filters — no
    * shuffle before the census), one map-side-combinable groupBy on the
    * ≤|langs|² matrix cells, and a window over those bounded rows.
    */
  val x22LangConfusion: Q = Q(
    "x22_lang_confusion",
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      val scored = t(s, dir, "documents")
        .select(
          Seq(col("doc_id"), col("lang")) ++
            profiles.map { case (l, ws) => profileScore(toks, ws).as(s"${l}_score") }: _*)
      val mx = greatest(profiles.map { case (l, _) => col(s"${l}_score") }: _*)
      val predicted = profiles
        .foldLeft(when(lit(false), lit(""))) { case (acc, (l, _)) =>
          acc.when(col(s"${l}_score") === mx, lit(l))
        }
      val w = Window.partitionBy("lang")
      scored.withColumn("predicted", predicted)
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .withColumn("lang_total", sum(col("n")).over(w))
        .select(col("lang"), col("predicted"), col("n"),
          expr("(1000 * n) div lang_total").as("share_pm"),
          when(col("lang") === col("predicted"), lit(1L)).otherwise(0L).as("is_correct"))
        .orderBy("lang", "predicted")
    },
    Some {
      val scores = profiles
        .map { case (l, ws) => s"${sqlProfileScore(ws)} AS ${l}_score" }
        .mkString(",\n      ")
      val mx = s"greatest(${profiles.map { case (l, _) => s"${l}_score" }.mkString(", ")})"
      val cases = profiles
        .map { case (l, _) => s"WHEN ${l}_score = $mx THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (
        SELECT doc_id, lang,
      $scores
        FROM documents),
      pred AS (SELECT lang, CASE $cases END AS predicted FROM scored),
      cells AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
                FROM pred GROUP BY lang, predicted),
      tot AS (SELECT *, CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total
              FROM cells)
      SELECT lang, predicted, n, (1000 * n) // lang_total AS share_pm,
             CAST(CASE WHEN lang = predicted THEN 1 ELSE 0 END AS BIGINT) AS is_correct
      FROM tot ORDER BY lang, predicted"""
    }
  )

  /** X23: BPE tokenizer TRAINING — x15 computed ONE round of merge-pair
    * counts; this runs the actual training loop (Sennrich et al. 2016)
    * for K = 4 merges, entirely on the vocab-bounded word census. Each
    * round: (1) count adjacent symbol pairs weighted by word frequency,
    * (2) pick the argmax pair with (freq DESC, c1, c2) tie-break, (3)
    * apply the merge to every census entry. The symbol sequence is a
    * chr(31)-framed string (`␟d␟a␟t␟a␟` — chr(31) appears nowhere in the
    * corpus) and the merge is one literal `replace` of `␟c1␟c2␟` with
    * `␟c1c2␟`: both engines share the same left-to-right non-overlapping
    * scan, so the rule is BIT-IDENTICAL cross-engine. (On a RUN of the
    * same pair this consumes the shared frame char — `a a a a` merges to
    * `aa a a` in one round, where subword-nmt's zero-width-lookaround
    * re.sub gives `aa aa`; RE2/DuckDB has no lookbehind, so the framed
    * literal-replace variant is the portable, deterministic choice, and
    * runs re-merge on later rounds anyway.)
    *
    * Scale: the corpus is touched ONCE (the word census — the only
    * corpus-sized aggregate, map-side combinable); all K rounds run on
    * the census (O(vocab × word-length) rows), the per-round argmax is a
    * 1-row broadcast, and the merge is a narrow codegen projection. The
    * oracle unrolls the identical K rounds as CTEs (the g1/PageRank
    * pattern) with pure integer counts — no floats anywhere.
    */
  /** The chr(31)-framed per-word character census (c, seq) both BPE
    * trainers start from — the ONLY corpus-sized aggregate either runs
    * (map-side combinable); the caller pins it.
    */
  private def bpeCharCensus(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val charSeq = "concat(chr(31), array_join(transform(" +
      "sequence(1, length(word)), i -> substr(word, i, 1)), chr(31)), chr(31))"
    t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .select(col("c"), expr(charSeq).as("seq"))
  }

  /** One BPE training round over the census: (pair counts, best pair).
    * `best` is None when no multi-symbol entry remains (training is out
    * of pairs). Shared by x23's fixed-K loop and x33's to-vocab loop so
    * the two trainers cannot drift on pair counting or tie-breaks.
    */
  private def bpeBestPair(census: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.Row] =
    census
      .select(col("c"),
        expr("filter(split(seq, chr(31)), x -> x <> '')").as("syms"))
      // sequence(1, n-1) steps BACKWARD for n < 2 (the x15 trap)
      .filter(size(col("syms")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS c1, syms[i] AS c2))")).as("p"))
      .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
      .agg(sum(col("c")).as("freq"))
      .orderBy(col("freq").desc, col("c1"), col("c2")).limit(1)
      .collect().headOption

  /** Runs `body` with AQE disabled on the session, restoring the prior
    * setting on every exit path (r13, r12 verdict #4/#5 — the
    * DispatchProbe evidence). SCOPE CONTRACT: only for job sequences that
    * operate entirely on VOCAB-BOUNDED frames (the BPE training rounds:
    * every round is one explode+aggregate+argmax over the cached word
    * census, ≤ |vocab| rows at ANY corpus scale by the groupBy(word)
    * contract). On such frames AQE's adaptive wins — size-based partition
    * coalescing, skew splits, join re-strategy — are no-ops at every
    * scale, while its stage-by-stage QueryStage materialization charges
    * two extra scheduling barriers per round × ~10 rounds. Measured
    * (DispatchProbe, min-of-4, same window): x33 1.48 → 0.86 s,
    * x34 2.13 → 1.07 s, x23 0.55 → 0.44 s. This is NOT a local[32]
    * tuning: the rounds are latency-bound at any corpus size because the
    * frame they run on does not grow with the corpus. Corpus-sized work
    * (the census build, x34's final encode join) stays OUTSIDE the
    * window, where AQE keeps its scale duties.
    */
  private def withAqeOff[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The framed-literal merge of `(c1, c2)` applied to every census entry
    * — see x23's scaladoc for why the consumed-boundary `replace` is the
    * portable cross-engine rule.
    *
    * LAZY (r12 optimization): the rule pair is driver-known, so it is
    * inlined as string LITERALS into one narrow codegen projection —
    * no 1-row broadcast, no crossJoin, and crucially NO eager count.
    * The caller pins the returned frame, and whatever reads it next (the
    * next round's argmax, or the encoder's final pass) fills the pin, so
    * each training round costs ONE Spark action instead of three
    * (broadcast build + merge count + argmax collect). The predecessor
    * stays pinned until the caller's pins are released (the merge is a
    * narrow map over the cached predecessor — dropping it early would
    * silently recompute the whole chain from the corpus scan). Carries
    * every column except `seq` through, so x34's `word` survives.
    */
  private def bpeMerge(census: org.apache.spark.sql.DataFrame,
      c1: String, c2: String): org.apache.spark.sql.DataFrame = {
    val f = "\u001f" // chr(31), the frame char
    val others = census.columns.filter(_ != "seq").map(col).toSeq
    census
      .select(others :+
        replace(col("seq"), lit(f + c1 + f + c2 + f), lit(f + c1 + c2 + f))
          .as("seq"): _*)
  }

  /** The toks/wc/s0 CTE prelude of the BPE oracles (DuckDB). wc and s0
    * are multi-referenced downstream — MATERIALIZED, see [[sqlBpeRounds]].
    */
  private val sqlBpeS0: String =
    """toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS MATERIALIZED (SELECT word, count(*) AS c FROM toks GROUP BY word),
      s0 AS MATERIALIZED (SELECT c, chr(31) || array_to_string(list_transform(
               range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INTEGER), 1)), chr(31)) || chr(31) AS seq
             FROM wc)"""

  /** Rounds 1..k of the BPE loop as p$r/b$r/s$r CTE triples (DuckDB).
    *
    * `AS MATERIALIZED` on b$r/s$r is LOAD-BEARING: DuckDB inlines CTEs by
    * default, and each round references its predecessor census TWICE
    * (pair count + merge), so an inlined k-round chain re-evaluates the
    * base census 2^k times — measured live at k = 12: 468 s inlined vs
    * 0.9 s materialized on the sf0.01 corpus. (Spark never sees this
    * text; the oracle is DuckDB-only.)
    */
  private def sqlBpeRounds(k: Int): String =
    (1 to k).map { r =>
      s""",
      p$r AS (SELECT c1, c2, CAST(sum(c) AS BIGINT) AS freq FROM (
         SELECT syms[i] AS c1, syms[i + 1] AS c2, c FROM (
           SELECT c, unnest(range(1, len(syms))) AS i, syms FROM (
             SELECT c, list_filter(string_split(seq, chr(31)), x -> x <> '') AS syms
             FROM s${r - 1}) WHERE len(syms) >= 2))
       GROUP BY c1, c2),
      b$r AS MATERIALIZED (SELECT c1, c2, freq FROM p$r ORDER BY freq DESC, c1, c2 LIMIT 1),
      s$r AS MATERIALIZED (SELECT c, replace(seq, chr(31) || b.c1 || chr(31) || b.c2 || chr(31),
                        chr(31) || b.c1 || b.c2 || chr(31)) AS seq
              FROM s${r - 1} CROSS JOIN b$r b)"""
    }.mkString

  val x23BpeTrain: Q = {
    val K = 4
    Q(
      "x23_bpe_train",
      (s, dir) => {
        import s.implicits._
        // Each round's argmax is ONE row — collected to the driver
        // (bounded by construction, the e10 pattern) so every census pin
        // is scoped to this call and the K-rule result is a local table,
        // not a K-way union whose lineage spans all rounds.
        // ONE action per round (r12): the lazy [[bpeMerge]] is
        // materialized by the NEXT round's argmax collect.
        Pin.scoped { pin =>
          var census = pin(bpeCharCensus(s, dir))
          census.count()
          var rules = Vector.empty[(Int, String, String, Long)]
          // Rounds run on the vocab-bounded census — see [[withAqeOff]].
          withAqeOff(s) {
            for (r <- 1 to K) {
              val best = bpeBestPair(census).get // K=4 < pair depth at any SF
              rules = rules :+
                ((r, best.getString(0), best.getString(1), best.getLong(2)))
              // the final round's merge has no reader — skip it
              if (r < K) census = pin(bpeMerge(census, best.getString(0), best.getString(1)))
            }
          }
          rules.toDF("round", "c1", "c2", "freq").orderBy("round")
        }
      },
      Some {
        val union = (1 to K)
          .map(r => s"SELECT $r AS round, c1, c2, freq FROM b$r")
          .mkString(" UNION ALL ")
        s"""WITH $sqlBpeS0${sqlBpeRounds(K)}
      SELECT round, c1, c2, freq FROM ($union) ORDER BY round"""
      }
    )
  }

  /** X33: BPE training to a TARGET VOCABULARY — x23 runs a fixed K = 4
    * merges; this is the contract Sennrich-style trainers actually ship
    * (subword-nmt's `--vocab-size` / `--min-frequency`): starting from
    * the character vocabulary (v0 symbols), merge until the vocabulary
    * reaches `TargetVocab` (each rule adds exactly one symbol, so the
    * merge budget M = TargetVocab − v0 is known after one census-sized
    * distinct count), or the best pair's weighted frequency drops below
    * `MinCount`, or no multi-symbol census entry remains. The loop is
    * driver-held 1-row state (the e20/g10 iterate pattern); all rounds
    * run on the vocab-bounded census — the corpus is scanned once.
    *
    * Oracle replay of a DATA-DEPENDENT loop: the best-pair frequency is
    * NON-INCREASING round over round — a new pair (x, c1·c2) occurs at
    * most once per merged occurrence, so its count is bounded by the
    * merged pair's frequency, and old pairs only ever lose occurrences —
    * so the MinCount stop cuts a clean TAIL of the unrolled sequence.
    * The oracle therefore unrolls `RMax` fixed rounds (the verdict's
    * "unrolled CTE at fixed V") and re-applies the stop as the filter
    * `round <= TargetVocab − v0 AND freq >= MinCount`: rounds the driver
    * loop never executed are exactly the rounds the filter drops. The
    * pairs-exhausted stop needs no filter — an empty p_r yields an empty
    * b_r, whose cross join empties every later round's census.
    *
    * vocab_size = v0 + round counts the standard BPE inventory (initial
    * characters + one per merge RULE; two rules can in principle spell
    * the same string — they are still distinct tokens, as in subword-nmt
    * merge tables). Scale: identical to x23 — one corpus-sized census,
    * then O(vocab × word-length) rounds with 1-row driver state.
    */
  /** The x33/x34 training configuration: target vocabulary (v0 = 24 on
    * this corpus family → 10-merge budget), the subword-nmt-style
    * min-frequency stop, and the oracle unroll depth (must be ≥ any
    * SF's executed rounds).
    */
  private val BpeTargetVocab = 34
  private val BpeMinCount = 2L
  private val BpeRMax = 12

  val x33BpeVocab: Q = {
    val TargetVocab = BpeTargetVocab
    val MinCount = BpeMinCount
    val RMax = BpeRMax
    Q(
      "x33_bpe_vocab",
      (s, dir) => {
        import s.implicits._
        Pin.scoped { pin =>
          // The v0 head() below is the census pin's first action and
          // fills it — one materializing count saved (r12).
          var census = pin(bpeCharCensus(s, dir))
          val v0 = census
            .select(explode(expr("filter(split(seq, chr(31)), x -> x <> '')")).as("sym"))
            .agg(countDistinct(col("sym")))
            .head().getLong(0)
          val m = math.min(math.max(0L, TargetVocab - v0), RMax.toLong)
          var rules = Vector.empty[(Int, String, String, Long, Long)]
          // ONE action per round (r12): lazy merges are materialized by
          // the next argmax collect (see [[bpeMerge]]).
          var r = 1
          var stop = m < 1
          // Rounds run on the vocab-bounded census — see [[withAqeOff]].
          withAqeOff(s) {
            while (!stop) {
              bpeBestPair(census) match {
                case Some(best) if best.getLong(2) >= MinCount =>
                  rules = rules :+ ((r, best.getString(0), best.getString(1),
                    best.getLong(2), v0 + r))
                  if (r < m)
                    census = pin(bpeMerge(census, best.getString(0), best.getString(1)))
                  r += 1
                  stop = r > m
                case _ => stop = true // pairs exhausted or best below MinCount
              }
            }
          }
          rules.toDF("round", "c1", "c2", "freq", "vocab_size").orderBy("round")
        }
      },
      Some {
        val union = (1 to RMax)
          .map(r => s"SELECT $r AS round, c1, c2, freq FROM b$r")
          .mkString(" UNION ALL ")
        s"""WITH $sqlBpeS0${sqlBpeRounds(RMax)},
      v0 AS MATERIALIZED (SELECT count(DISTINCT sym) AS v FROM (
               SELECT unnest(list_filter(string_split(seq, chr(31)), x -> x <> '')) AS sym
               FROM s0))
      SELECT round, c1, c2, freq, (SELECT v FROM v0) + round AS vocab_size
      FROM ($union)
      WHERE round <= greatest(0, $TargetVocab - (SELECT v FROM v0))
        AND freq >= $MinCount
      ORDER BY round"""
      }
    )
  }

  /** X34: BPE ENCODE with the x33-trained merge table — the apply half of
    * the tokenizer lifecycle (train → encode → count), and the token
    * counter a packing/budgeting pipeline (x9 seq packing, c-family
    * mixtures) actually needs: every document's token count under the
    * LEARNED subword vocabulary, not a whitespace proxy. Training is
    * x33's loop verbatim (same constants, same stops) except every
    * executed rule is applied — including the final one, which x33 could
    * skip because nothing read its merge; the encoded form of each WORD
    * is then its framed census entry's symbol count, and per-document
    * stats are one explode + one equi-join on the word against the
    * vocab-bounded census + one keyed aggregate. chars_per_token_pm
    * (permille chars covered per emitted token) is the compression the
    * vocabulary buys — the number a tokenizer owner watches across
    * corpus drift.
    *
    * Oracle replay: rule learning reuses x33's unrolled s/p/b chain
    * VERBATIM (shared [[sqlBpeRounds]]) — sound because only the
    * EXECUTED PREFIX of the unconditional chain is ever applied, and on
    * that prefix unconditional and driver-looped merges coincide
    * (x33's stop-cuts-a-clean-tail argument). The executed rules (the
    * same filtered union x33's oracle emits) are packed into ONE ordered
    * list and the encode is a single `list_reduce` replace-fold over the
    * word census — exactly the driver loop's rule application, with no
    * per-rule CTE hop. (Two rejected formulations, for the record: a
    * conditional merge threaded through the chain itself evaluated
    * pathologically in DuckDB, and an RMax-deep nested CASE duplicates
    * the accumulator per level — 2^RMax expression blow-up.)
    *
    * Scale: the corpus is touched twice (word census; the final
    * explode + join-back), both map-side-combinable / keyed on the word;
    * every loop round runs on the O(vocab × word-length) census with
    * 1-row driver state — the x23/x33 shape.
    */
  val x34BpeEncode: Q = {
    val TargetVocab = BpeTargetVocab
    val MinCount = BpeMinCount
    val RMax = BpeRMax
    Q(
      "x34_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val charSeq = "concat(chr(31), array_join(transform(" +
          "sequence(1, length(word)), i -> substr(word, i, 1)), chr(31)), chr(31))"
        // Every census is a frame-owned pin: the returned encode reads the
        // final one, and through its recompute path the earlier rounds.
        var census = Pin.owned(t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("c"))
          .select(col("word"), col("c"), expr(charSeq).as("seq")))
        // the v0 head() below is the census's first action and fills the
        // pin — one materializing count saved (r12, the x33 shape)
        val v0 = census
          .select(explode(expr("filter(split(seq, chr(31)), x -> x <> '')")).as("sym"))
          .agg(countDistinct(col("sym")))
          .head().getLong(0)
        val m = math.min(math.max(0L, TargetVocab - v0), RMax.toLong)
        // ONE action per round (r12): lazy merges are materialized by the
        // next argmax collect (see [[bpeMerge]], word column carried
        // through). Unlike x33, EVERY executed rule is applied — the
        // final census IS the encoder's output, and a merge still lazy
        // when the loop exits is filled by the encode's first action.
        var r = 1
        var stop = m < 1
        // Rounds run on the vocab-bounded census — see [[withAqeOff]]; the
        // encode join below is corpus-sized and stays under AQE.
        withAqeOff(s) {
          while (!stop) {
            bpeBestPair(census) match {
              case Some(best) if best.getLong(2) >= MinCount =>
                census = Pin.owned(bpeMerge(census, best.getString(0), best.getString(1)))
                r += 1
                stop = r > m
              case _ => stop = true
            }
          }
        }
        val wt = census.select(col("word"),
          size(expr("filter(split(seq, chr(31)), x -> x <> '')")).as("n_sym"))
        val out = t(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
          .join(wt, Seq("word"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("word"))).as("n_chars"),
            sum(col("n_sym").cast("long")).as("n_bpe_tokens"))
          .select(col("doc_id"), col("n_words"), col("n_chars"),
            col("n_bpe_tokens"),
            expr("(1000 * n_chars) div n_bpe_tokens").as("chars_per_token_pm"))
          .orderBy("doc_id")
        out
      },
      Some {
        val union = (1 to RMax)
          .map(r => s"SELECT $r AS round, c1, c2, freq FROM b$r")
          .mkString(" UNION ALL ")
        s"""WITH $sqlBpeS0${sqlBpeRounds(RMax)},
      t0 AS MATERIALIZED (SELECT word, c, chr(31) || array_to_string(list_transform(
               range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INTEGER), 1)), chr(31)) || chr(31) AS seq
             FROM wc),
      v0 AS MATERIALIZED (SELECT count(DISTINCT sym) AS v FROM (
               SELECT unnest(list_filter(string_split(seq, chr(31)), x -> x <> '')) AS sym
               FROM s0)),
      bud AS MATERIALIZED (SELECT greatest(0, least($TargetVocab - v, $RMax)) AS m FROM v0),
      exec AS (SELECT round, c1, c2 FROM ($union)
               WHERE round <= (SELECT m FROM bud) AND freq >= $MinCount),
      rules AS MATERIALIZED (SELECT coalesce(list(c1 || chr(1) || c2 ORDER BY round),
                  CAST([] AS VARCHAR[])) AS rl FROM exec),
      wt AS MATERIALIZED (SELECT word, len(list_filter(string_split(
               list_reduce(list_prepend(seq, (SELECT rl FROM rules)),
                 (acc, x) -> replace(acc,
                   chr(31) || split_part(x, chr(1), 1) || chr(31)
                     || split_part(x, chr(1), 2) || chr(31),
                   chr(31) || split_part(x, chr(1), 1)
                     || split_part(x, chr(1), 2) || chr(31))),
               chr(31)), y -> y <> '')) AS n_sym
             FROM t0),
      d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      SELECT d.doc_id, count(*) AS n_words,
        CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
        CAST(sum(wt.n_sym) AS BIGINT) AS n_bpe_tokens,
        (1000 * CAST(sum(length(d.word)) AS BIGINT))
          // CAST(sum(wt.n_sym) AS BIGINT) AS chars_per_token_pm
      FROM d JOIN wt ON wt.word = d.word
      GROUP BY d.doc_id ORDER BY d.doc_id"""
      }
    )
  }


  /** X24: boilerplate detection by shingle document-frequency — the
    * CCNet/RefinedWeb cleaning primitive x21's novelty census doesn't
    * cover: a shingle carried by MORE than 10% of all documents is
    * boilerplate (nav chrome, license banners, scraper artifacts), and
    * each document is scored by the permille of its distinct shingles
    * that are boilerplate, with the CCNet-style keep decision
    * (boiler_pm ≤ 500) emitted alongside. Novelty asks "was I first?";
    * this asks "does everyone say it?" — a doc can be 100% non-novel yet
    * 0% boilerplate (one twin) or vice versa.
    *
    * Exactness: the threshold is the integer comparison 10·df > n_docs
    * (exactly df > n/10 over integers), counts are integers, the score
    * an integer-permille floor division.
    *
    * Scale: the fused codegen shingler emits distinct shingles in the
    * scan; the DF census is one map-side-combinable count; the join back
    * is one keyed equi-join on the shingle with NO forced broadcast (the
    * census is shingle-space-sized, so Catalyst must stay free to pick a
    * shuffled join past the threshold — the x-family census contract);
    * the 1-row corpus count is a broadcast cross join.
    */
  val x24Boilerplate: Q = Q(
    "x24_boilerplate",
    (s, dir) => {
      graft.functions.FastVec.register(s) // graft_shingles (idempotent)
      val docs = t(s, dir, "documents")
      val sh = Pin.owned(docs
        .select(col("doc_id"),
          explode(graft.functions.FastText.shingles(col("text"), 3)).as("shingle")))
      sh.count() // eager: census + join-back both scan it
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("n_docs"))
      val out = sh.join(df, Seq("shingle"))
        .crossJoin(broadcast(nn))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") * 10 > col("n_docs"), 1L).otherwise(0L))
            .as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          expr("(1000 * n_boiler) div n_grams").as("boiler_pm"))
        .withColumn("keep",
          when(col("boiler_pm") <= 500, 1L).otherwise(0L))
        .orderBy("doc_id")
      out
    },
    Some("""WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3),
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      nn AS (SELECT count(*) AS n FROM documents),
      agg AS (
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(CASE WHEN 10 * f.df > (SELECT n FROM nn) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler
        FROM sh s JOIN df f ON f.shingle = s.shingle
        GROUP BY s.doc_id)
      SELECT doc_id, n_grams, n_boiler,
        (1000 * n_boiler) // n_grams AS boiler_pm,
        CAST(CASE WHEN (1000 * n_boiler) // n_grams <= 500 THEN 1 ELSE 0 END
          AS BIGINT) AS keep
      FROM agg ORDER BY doc_id""")
  )

  /** X26: hashing-trick linear classifier inference — the fastText-style
    * quality filter GPT-3/LLaMA-class corpora are screened with, run as a
    * pure dataflow: each token hashes into a 2¹² feature bucket (the
    * hashing trick — the feature space is BOUNDED regardless of vocabulary,
    * which is what makes model shipping trivial at 100 TB), each bucket
    * carries a weight, a document's logit is the bag-of-words weight sum,
    * and the keep decision is a threshold on the mean weight. Weights here
    * are derived deterministically from the bucket id (integer in
    * [-1000, 1000]) — an explicit stand-in for a learned coefficient
    * vector, chosen so the DuckDB oracle can recompute the identical model
    * (a trained model would arrive as a 4096-row broadcast table; the
    * plan shape is the same either way).
    *
    * Exactness: everything is BIGINT — bucket = md5-prefix mod 4096,
    * weight = md5-prefix mod 2001 − 1000, keep = cross-multiplied
    * mean-threshold (`Σw > 25·n`). No float appears anywhere.
    *
    * Scale: token explode → ONE map-side-combinable hash aggregate on
    * doc_id; the weight lookup is computed inline (zero joins — with a
    * learned model it becomes a broadcast hash join against 4096 rows).
    * Hashing runs on the fused thread-local [[Text.seededHash64]]
    * expression, inside WholeStageCodegen.
    */
  val x26HashClassifier: Q = Q(
    "x26_hash_classifier",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val bkt = pmod(Text.seededHash64(lit("clf"), col("tok")), lit(4096L))
      val wt = pmod(Text.seededHash64(lit("w"), bkt.cast("string")), lit(2001L)) - 1000L
      tok
        .select(col("doc_id"), wt.as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("sum_w"))
        .select(col("doc_id"), col("n_tok"), col("sum_w"),
          when(col("sum_w") > lit(25L) * col("n_tok"), lit(1)).otherwise(lit(0))
            .as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      b AS (SELECT doc_id,
              CAST('0x' || substr(md5('clf|' || tok), 1, 15) AS BIGINT) % 4096 AS bkt
            FROM toks),
      w AS (SELECT doc_id,
              (CAST('0x' || substr(md5('w|' || CAST(bkt AS VARCHAR)), 1, 15) AS BIGINT)
                % 2001) - 1000 AS wt
            FROM b)
      SELECT doc_id, count(*) AS n_tok, CAST(sum(wt) AS BIGINT) AS sum_w,
             CASE WHEN sum(wt) > 25 * count(*) THEN 1 ELSE 0 END AS keep
      FROM w GROUP BY doc_id ORDER BY doc_id""")
  )

  /** X27: Gopher quality gates — the rule battery of Gopher (Rae et al.
    * 2021, Table A1) that MassiveText/RefinedWeb-descended pipelines apply
    * before any model-based filter, consolidated into one narrow pass with
    * a per-rule verdict (x3 scores, x8 measures repetition; this is the
    * hard REJECT battery): word count within [50, 100k], mean word length
    * within [3, 10], ≥ 80 % alphabetic words, ≥ 2 stopwords. Per-rule
    * flags are kept (not just the conjunction) because pipeline datasheets
    * report WHICH gate failed.
    *
    * Exactness: every gate is a cross-multiplied integer comparison —
    * mean word length bounds become `3n ≤ chars ≤ 10n`, the alpha
    * fraction `5·n_alpha ≥ 4·n` — so no division or float appears.
    *
    * Scale: a pure narrow codegen map over the scan (size/filter/length
    * HOFs — zero shuffles before the presentation sort), the same
    * per-row shape as x3/x16.
    */
  val x27GopherGates: Q = Q(
    "x27_gopher_gates",
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      val n = size(toks).cast("long")
      // single-space text: chars-sans-separators = length − (n − 1)
      val chars = length(col("text")).cast("long") - n + 1
      val nAlpha = size(filter(toks, tk => tk.rlike("[a-z]"))).cast("long")
      val nStop = size(filter(toks, tk => tk.isin("the", "a", "of", "to"))).cast("long")
      val flag = (c: org.apache.spark.sql.Column) => when(c, lit(1)).otherwise(lit(0))
      t(s, dir, "documents")
        .select(col("doc_id"), n.as("n_words"), chars.as("n_chars"),
          nAlpha.as("n_alpha"), nStop.as("n_stop"))
        .select(col("doc_id"), col("n_words"),
          flag(col("n_words") >= 50 && col("n_words") <= 100000).as("ok_wc"),
          flag(col("n_chars") >= col("n_words") * 3 &&
            col("n_chars") <= col("n_words") * 10).as("ok_mwl"),
          flag(lit(5) * col("n_alpha") >= lit(4) * col("n_words")).as("ok_alpha"),
          flag(col("n_stop") >= 2).as("ok_stop"))
        .withColumn("pass",
          col("ok_wc") * col("ok_mwl") * col("ok_alpha") * col("ok_stop"))
        .orderBy("doc_id")
    },
    Some("""WITH m AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          CAST(length(text) AS BIGINT)
            - CAST(len(string_split(text, ' ')) AS BIGINT) + 1 AS n_chars,
          CAST(len(list_filter(string_split(text, ' '),
            tk -> regexp_matches(tk, '[a-z]'))) AS BIGINT) AS n_alpha,
          CAST(len(list_filter(string_split(text, ' '),
            tk -> tk IN ('the', 'a', 'of', 'to'))) AS BIGINT) AS n_stop
        FROM documents)
      SELECT doc_id, n_words,
        CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS ok_wc,
        CASE WHEN n_chars >= 3 * n_words AND n_chars <= 10 * n_words
             THEN 1 ELSE 0 END AS ok_mwl,
        CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS ok_alpha,
        CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS ok_stop,
        (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
          * (CASE WHEN n_chars >= 3 * n_words AND n_chars <= 10 * n_words
                  THEN 1 ELSE 0 END)
          * (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
          * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass
      FROM m ORDER BY doc_id""")
  )

  /** X28: sliding-window chunking — the RAG/retrieval ingest step: each
    * document splits into overlapping token windows (size 32, stride 24 —
    * 8 tokens of overlap so no boundary-straddling sentence is lost), one
    * row per chunk with its token span, text and content fingerprint.
    * x9 packs whole documents into training sequences; this is the
    * complementary shape that FRAGMENTS documents for embedding+indexing
    * (every chunk here is what e1/e7 would embed and retrieve).
    *
    * Chunk count per doc is ⌈max(n−overlap, 1) / stride⌉ — the last
    * window is allowed to be short rather than dropping trailing tokens
    * (the tail is data too); a doc shorter than one window is one chunk.
    *
    * Scale: a narrow generate off the scan — `sequence` over the chunk
    * count, `slice` over the token array, md5 fingerprint, zero shuffles
    * before the presentation sort; at 100 TB chunking streams through
    * the corpus scan exactly like x16's scrub.
    */
  val x28Chunking: Q = Q(
    "x28_chunking",
    (s, dir) => {
      val size = 32
      val stride = 24
      val toks = Text.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("t"))
        .withColumn("n", org.apache.spark.sql.functions.size(col("t")).cast("long"))
        .withColumn("n_chunks",
          expr(s"(greatest(n - ${size - stride}, 1) + $stride - 1) div $stride"))
        .select(col("doc_id"), col("t"), col("n"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * stride).as("tok_start"),
          least(col("chunk_id") * stride + size, col("n")).as("tok_end"),
          concat_ws(" ", slice(col("t"), (col("chunk_id") * stride + 1).cast("int"),
            lit(size))).as("chunk_text"))
        .withColumn("chunk_md5", md5(col("chunk_text")))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      c AS (SELECT doc_id, t, n,
              unnest(range((greatest(n - 8, 1) + 23) // 24)) AS chunk_id
            FROM d)
      SELECT doc_id, chunk_id,
             chunk_id * 24 AS tok_start,
             least(chunk_id * 24 + 32, n) AS tok_end,
             array_to_string(t[CAST(chunk_id * 24 + 1 AS INTEGER):CAST(chunk_id * 24 + 32 AS INTEGER)], ' ') AS chunk_text,
             md5(array_to_string(t[CAST(chunk_id * 24 + 1 AS INTEGER):CAST(chunk_id * 24 + 32 AS INTEGER)], ' ')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_id""")
  )

  /** X29: per-source KL divergence from the corpus unigram distribution —
    * the domain-shift statistic mixture tuning reads before reweighting
    * (Xie et al. 2023 derive DSIR from exactly this likelihood ratio;
    * c8 imports per document, this reports per SOURCE):
    * KL(P_src ‖ P_corpus) = Σ_w (c/N)·log2(cM / (N·C)) bits. A source
    * whose KL drifts upward between crawls changed its content mix.
    *
    * Exactness: all four censuses are exact BIGINTs derived from ONE
    * (source, tok) aggregate; each term's log2 runs on identical doubles
    * in the identical operation order on both engines, is quantized at
    * 2^-20 (the x10 rule), and the Σ c·qb fold is an order-independent
    * long sum — `kl_bits` is one IEEE division of identical operands
    * followed by an exact /2^20 shift. Headroom: |qb| < 2^25 at any
    * realistic vocab, so the fold is safe to ~2^37 tokens per source.
    *
    * Scale: the (source, tok) census is vocab×sources-bounded and
    * persisted once (three consumers); the corpus census joins it on
    * `tok` with NO forced broadcast (the x10 degradation rule); the
    * per-source totals are O(sources) and broadcast. Nothing rescans
    * the corpus after the first tokenize pass.
    */
  val x29KlDivergence: Q = Q(
    "x29_kl_divergence",
    (s, dir) => {
      val q20d = (1L << 20).toDouble
      val sc = Pin.owned(t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c")))
      sc.count()
      val cc = sc.groupBy("tok").agg(sum(col("c")).as("cc"))
      val st = sc.groupBy("source").agg(sum(col("c")).as("n"))
      val g = st.agg(sum(col("n")).as("m"))
      sc.join(cc, Seq("tok"))
        .join(broadcast(st), Seq("source"))
        .crossJoin(broadcast(g))
        .select(col("source"), col("n"), col("c"),
          round((log2(col("c")) + log2(col("m")) - log2(col("n")) - log2(col("cc")))
            * q20d).cast("long").as("qb"))
        .groupBy("source", "n")
        .agg(count(lit(1)).as("n_types"), sum(col("c") * col("qb")).as("sq"))
        .select(col("source"), col("n").as("n_tokens"), col("n_types"),
          (col("sq").cast("double") / col("n") / lit(q20d)).as("kl_bits"))
        .orderBy("source")
    },
    Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      sc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      cc AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY tok),
      st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY source),
      g AS (SELECT CAST(sum(n) AS BIGINT) AS m FROM st),
      q AS (SELECT source, n, c,
              CAST(round((log2(c) + log2(m) - log2(n) - log2(cc)) * 1048576) AS BIGINT) AS qb
            FROM sc JOIN cc USING (tok) JOIN st USING (source) CROSS JOIN g)
      SELECT source, n AS n_tokens, count(*) AS n_types,
             CAST(sum(c * qb) AS DOUBLE) / n / 1048576.0 AS kl_bits
      FROM q GROUP BY source, n ORDER BY source""")
  )

  /** X32: classifier calibration audit — the reliability curve a pipeline
    * reads before trusting x26's model-based filter: documents binned by
    * classifier mean weight (8 bins via seven cross-multiplied integer
    * edges at mean ∈ {−75, −50, −25, 0, 25, 50, 75} — `sum_w ≥ e·n_tok`,
    * sign-safe with no division), and per bin the Gopher-gate pass rate
    * (x27's full conjunction as the independent rule-based quality
    * signal) plus the keep↔pass agreement rate. A calibrated filter
    * shows pass_pm rising monotonically with the bin; a flat curve means
    * the classifier score carries no quality signal over the rule
    * battery.
    *
    * Exactness: x26's logit statistics and x27's gates are reused with
    * their exact integer spellings; the two permilles are non-negative
    * floor divisions (Spark `div` ≡ DuckDB `//`).
    *
    * Scale: one token explode into x26's map-side-combinable doc
    * aggregate, one narrow x27 gate map, one doc-keyed equi-join, then an
    * O(8)-row rollup — nothing new shuffles beyond x26's own plan.
    */
  val x32Calibration: Q = Q(
    "x32_calibration",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val bkt = pmod(Text.seededHash64(lit("clf"), col("tok")), lit(4096L))
      val wt = pmod(Text.seededHash64(lit("w"), bkt.cast("string")), lit(2001L)) - 1000L
      val clf = tok
        .select(col("doc_id"), wt.as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("sum_w"))
      val toks = Text.tokens(col("text"))
      val n = size(toks).cast("long")
      val chars = length(col("text")).cast("long") - n + 1
      val nAlpha = size(filter(toks, tk => tk.rlike("[a-z]"))).cast("long")
      val nStop = size(filter(toks, tk => tk.isin("the", "a", "of", "to"))).cast("long")
      val gates = t(s, dir, "documents")
        .select(col("doc_id"),
          when(n >= 50 && n <= 100000 &&
            chars >= n * 3 && chars <= n * 10 &&
            lit(5) * nAlpha >= lit(4) * n && nStop >= 2, 1L).otherwise(0L).as("pass"))
      val edges = Seq(-75L, -50L, -25L, 0L, 25L, 50L, 75L)
      val bin = edges
        .map(e => when(col("sum_w") >= lit(e) * col("n_tok"), 1L).otherwise(0L))
        .reduce(_ + _)
      val keep = col("sum_w") > lit(25L) * col("n_tok")
      clf.join(gates, Seq("doc_id"))
        .withColumn("bin", bin)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_keep"),
          sum(col("pass")).as("n_pass"),
          sum(when(keep === (col("pass") === 1L), 1L).otherwise(0L)).as("n_agree"))
        .select(col("bin"), col("n_docs"), col("n_keep"), col("n_pass"),
          expr("(1000 * n_pass) div n_docs").as("pass_pm"),
          expr("(1000 * n_agree) div n_docs").as("agree_pm"))
        .orderBy("bin")
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      b AS (SELECT doc_id,
              CAST('0x' || substr(md5('clf|' || tok), 1, 15) AS BIGINT) % 4096 AS bkt
            FROM toks),
      w AS (SELECT doc_id,
              (CAST('0x' || substr(md5('w|' || CAST(bkt AS VARCHAR)), 1, 15) AS BIGINT)
                % 2001) - 1000 AS wt
            FROM b),
      clf AS (SELECT doc_id, count(*) AS n_tok, CAST(sum(wt) AS BIGINT) AS sum_w
              FROM w GROUP BY doc_id),
      m AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              CAST(length(text) AS BIGINT)
                - CAST(len(string_split(text, ' ')) AS BIGINT) + 1 AS n_chars,
              CAST(len(list_filter(string_split(text, ' '),
                tk -> regexp_matches(tk, '[a-z]'))) AS BIGINT) AS n_alpha,
              CAST(len(list_filter(string_split(text, ' '),
                tk -> tk IN ('the', 'a', 'of', 'to'))) AS BIGINT) AS n_stop
            FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN n_words >= 50 AND n_words <= 100000
                    AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
                    AND 5 * n_alpha >= 4 * n_words AND n_stop >= 2
                   THEN 1 ELSE 0 END AS pass
            FROM m),
      binned AS (
        SELECT c.doc_id, c.sum_w, c.n_tok, g.pass,
          CAST((CASE WHEN sum_w >= -75 * n_tok THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= -50 * n_tok THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= -25 * n_tok THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= 25 * n_tok THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= 50 * n_tok THEN 1 ELSE 0 END)
          + (CASE WHEN sum_w >= 75 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS bin
        FROM clf c JOIN g ON g.doc_id = c.doc_id)
      SELECT bin, count(*) AS n_docs,
        CAST(sum(CASE WHEN sum_w > 25 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        CAST(sum(pass) AS BIGINT) AS n_pass,
        (1000 * CAST(sum(pass) AS BIGINT)) // count(*) AS pass_pm,
        (1000 * CAST(sum(CASE WHEN (sum_w > 25 * n_tok) = (pass = 1)
                     THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS agree_pm
      FROM binned GROUP BY bin ORDER BY bin""")
  )

  val all: Seq[Q] = Seq(x1TokenStats, x2LangId, x3Quality, x4Fingerprint, x5TokenFreq,
    x13Bm25, x15BpePairs, x16PiiScrub, x17VocabGrowth, x18Readability,
    x19UnigramEntropy, x20ZipfSlope, x21NgramNovelty, x22LangConfusion,
    x23BpeTrain, x33BpeVocab, x34BpeEncode, x24Boilerplate, x26HashClassifier, x27GopherGates, x28Chunking,
    x29KlDivergence, x30LexicalDiversity, x32Calibration)

  /** X30: per-source lexical diversity — type-token ratio and hapax-legomenon
    * fraction, the corpus-health pair next to x17's Heaps curve and x19's
    * per-doc entropy: a source whose TTR collapses is template spam; one
    * whose hapax fraction spikes is OCR noise or mojibake. Both signals are
    * standard corpus-quality gates in large-scale pretraining pipelines.
    *
    * Exactness: all four counts are exact integers from two keyed hash
    * aggregates; the two ratios are single IEEE divisions of identical
    * exact operands on both engines.
    *
    * Scale: tokens shuffle ONCE on (source, tok) for the census; the
    * per-source rollup rides the same partitioning (sub-key aggregate),
    * and distinct-type / hapax counts fall out of the census rather than a
    * second corpus pass. Output is one row per source — bounded by the
    * source vocabulary, never the corpus.
    */
  lazy val x30LexicalDiversity: Q = Q(
    "x30_lexical_diversity",
    (s, dir) => {
      val census = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      census.groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
        .orderBy("source")
    },
    Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents),
      census AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_types,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
              FROM census GROUP BY source)
      SELECT source, n_tokens, n_types, n_hapax,
        CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        CAST(n_hapax AS DOUBLE) / n_types AS hapax_frac
      FROM agg ORDER BY source""")
  )
}
