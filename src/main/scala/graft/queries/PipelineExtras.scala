package graft.queries

import graft.{Pin, Q, Tables}
import graft.operators.MinHashLSH
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Round-2 pipeline breadth (north star: LLM training-data ops): array/map
  * scalar surface, regex extraction, PII scrubbing, BPE-style token
  * counting, multimodal frame sampling, and connected-components duplicate
  * clustering over the MinHash-LSH near-dup graph.
  */
object PipelineExtras {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** The corpus's 60-bit FRAME-signature table `(doc_id, simhash)` —
    * `Multimodal.frameSimhash` at the wide width, materialized once as a
    * bucketed view (r10 verdict #4): m10 read the frame explode +
    * signature aggregate per isolated run even though the streaming gate
    * maintains exactly this table incrementally as its census. Bucketed on
    * doc_id so both verify-side joins read bucket-local. m4's 32-bit
    * signature stays inline — it is the byte-parity reference path, not a
    * scale consumer.
    */
  private[graft] def frameSims60Table(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sources.MatView.of(s, dir, "framesims60", "doc_id", 16) {
      graft.operators.Multimodal.frameSimhash(t(s, dir, "documents"), 60)
    }
  }

  /** F14: array function surface — distinct/sort/slice/join/contains over
    * the token array (all narrow per-row transforms; nothing shuffles).
    */
  val f14ArrayOps: Q = Q(
    "f14_array_ops",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_toks"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          element_at(sort_array(col("toks")), 1).as("min_tok"),
          array_join(slice(sort_array(array_distinct(col("toks"))), 1, 3), "-")
            .as("first3_distinct"),
          array_contains(col("toks"), "spark").as("has_spark"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      len(t) AS n_toks,
      len(list_distinct(t)) AS n_distinct,
      list_sort(t)[1] AS min_tok,
      array_to_string(list_sort(list_distinct(t))[1:3], '-') AS first3_distinct,
      list_contains(t, 'spark') AS has_spark
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      ORDER BY doc_id""")
  )

  /** F15: map surface — parse the JSON props into a typed map, then
    * keys/cardinality/lookup (`from_json` per SURVEY §1.1 semi-structured
    * payloads, `update_live_price.py:153-157`).
    */
  val f15MapOps: Q = Q(
    "f15_map_ops",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
        .select(
          col("event_id"),
          size(map_keys(col("m"))).as("n_keys"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_csv"),
          expr("CAST(try_element_at(m, 'k') AS INT)").as("k_val"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
      len(json_keys(props)) AS n_keys,
      array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
      FROM events ORDER BY event_id""")
  )

  /** F16: row generation — posexplode(sequence(...)), the lateral-range
    * primitive behind backfills and frame enumeration.
    */
  val f16ExplodeSequence: Q = Q(
    "f16_explode_sequence",
    (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"), posexplode(sequence(lit(0), lit(2))))
        .select(
          col("n_nationkey"), col("pos"),
          (col("n_nationkey") * 3 + col("pos")).as("gid"))
        .orderBy("n_nationkey", "pos"),
    Some("""SELECT n_nationkey, i AS pos, n_nationkey * 3 + i AS gid
      FROM nation, (SELECT unnest(range(3)) AS i)
      ORDER BY n_nationkey, pos""")
  )

  /** F17: string function surface — pad/reverse/substring/edit-distance
    * (levenshtein shares its definition across engines).
    */
  val f17StringFuncs: Q = Q(
    "f17_string_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_padded"),
          reverse(col("p_name")).as("name_rev"),
          substring(col("p_name"), 2, 5).as("name_mid"),
          levenshtein(col("p_name"), lower(col("p_type"))).as("lev_name_type"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
      lpad(p_brand, 12, '*') AS brand_padded,
      reverse(p_name) AS name_rev,
      substr(p_name, 2, 5) AS name_mid,
      levenshtein(p_name, lower(p_type)) AS lev_name_type
      FROM part ORDER BY p_partkey""")
  )

  /** F18: regexp_extract_all — pull every number out of the raw JSON
    * payload (count + first match).
    */
  val f18RegexpExtractAll: Q = Q(
    "f18_regexp_extract_all",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("nums", expr("regexp_extract_all(props, '[0-9]+', 0)"))
        .select(
          col("event_id"),
          size(col("nums")).as("n_nums"),
          when(size(col("nums")) > 0, element_at(col("nums"), 1)).as("first_num"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
      len(regexp_extract_all(props, '[0-9]+')) AS n_nums,
      regexp_extract_all(props, '[0-9]+')[1] AS first_num
      FROM events ORDER BY event_id""")
  )

  /** X6: PII-style scrubbing — redact a sensitive token class everywhere
    * it appears and report match counts (regexp_replace is all-occurrence
    * in Spark; DuckDB needs the 'g' flag).
    */
  val x6PiiScrub: Q = Q(
    "x6_pii_scrub",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, '\\\\bcustomer\\\\b', 0)")).as("n_hits"),
          md5(regexp_replace(col("text"), "\\bcustomer\\b", "<PII>")).as("scrubbed_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      len(regexp_extract_all(text, '\bcustomer\b')) AS n_hits,
      md5(regexp_replace(text, '\bcustomer\b', '<PII>', 'g')) AS scrubbed_md5
      FROM documents ORDER BY doc_id""")
  )

  /** X7: BPE-style token counting — the standard pre-tokenizer shape for
    * LLM data budgeting (letter runs / digit runs / single punctuation vs
    * whitespace tokens). Counted WITHOUT materializing any token array:
    * `graft_bpe_count` ([[graft.functions.BpeTokenCount]]) is one fused
    * codegen pass over the bytes, and the whitespace-token count is
    * `spaces + 1` arithmetic (Spark's `split` keeps trailing empties, so
    * `size(split(text, ' ')) == count(' ') + 1` exactly — same as DuckDB's
    * `string_split`). The oracle keeps the regex formulation, which is the
    * definition this expression implements.
    */
  val x7BpeTokens: Q = Q(
    "x7_bpe_tokens",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          graft.functions.FastText.bpeCount(lower(col("text"))).as("n_bpe"),
          (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
            .as("n_ws"))
        .withColumn("bpe_per_ws",
          round(col("n_bpe").cast("double") / col("n_ws"), 6))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      len(string_split(text, ' ')) AS n_ws,
      round(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS bpe_per_ws
      FROM documents ORDER BY doc_id""")
  )

  /** X14: tokenizer fertility — bytes per BPE-style token, per language:
    * THE standard tokenizer-efficiency metric (a tokenizer that spends 6
    * bytes/token on one language and 3 on another doubles that language's
    * effective cost per model token, which is how mixture budgets get
    * silently skewed). Exact integer sums (UTF-8 byte length via
    * octet_length, token count via the fused `graft_bpe_count` pass) with
    * ONE division at the end — corpus-level ratios, not averaged per-doc
    * ratios, so partial-aggregation order cannot perturb the result.
    */
  val x14TokenFertility: Q = Q(
    "x14_token_fertility",
    (s, dir) => {
      graft.functions.FastVec.register(s)
      t(s, dir, "documents")
        .select(col("lang"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          graft.functions.FastText.bpeCount(lower(col("text"))).cast("long").as("n_bpe"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("n_bpe")).as("total_tokens"))
        .withColumn("bytes_per_token",
          round(col("total_bytes").cast("double") / col("total_tokens"), 6))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
      CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
      CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_tokens,
      round(CAST(sum(strlen(text)) AS DOUBLE)
            / sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6) AS bytes_per_token
      FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** M2: multimodal frame sampling — enumerate fixed-size frames of each
    * payload, keep every 4th, fingerprint each frame. The payload is text
    * standing in for media bytes (no codecs in the container, SURVEY
    * §2.10); the enumerate-then-sample plumbing (per-row sequence explode,
    * narrow substring, no shuffle) is the real 100 TB shape.
    */
  val m2FrameSample: Q = Q(
    "m2_frame_sample",
    (s, dir) =>
      t(s, dir, "documents")
        // empty payloads have no frames (Spark's sequence would descend
        // on 0 > -1; DuckDB's range(0) is already empty)
        .filter(length(col("text")) > 0)
        .withColumn("n_frames", expr("(length(text) + 63) div 64"))
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), col("n_frames") - 1)))
        .filter(col("pos") % 4 === 0)
        .select(
          col("doc_id"),
          col("pos").cast("long").as("frame_id"),
          expr("length(substr(text, pos * 64 + 1, 64))").as("frame_len"),
          expr("md5(substr(text, pos * 64 + 1, 64))").as("frame_md5"))
        .orderBy("doc_id", "frame_id"),
    Some("""SELECT doc_id, frame_id,
      length(substr(text, CAST(frame_id * 64 + 1 AS INTEGER), 64)) AS frame_len,
      md5(substr(text, CAST(frame_id * 64 + 1 AS INTEGER), 64)) AS frame_md5
      FROM (SELECT doc_id, text,
              unnest(range((length(text) + 63) // 64)) AS frame_id
            FROM documents)
      WHERE frame_id % 4 = 0
      ORDER BY doc_id, frame_id""")
  )

  /** F19: categorization bucketing — the engine form of the reference's
    * ONLY pluggable function, `categorize_market_caps` (dynamically loaded
    * `get_market_cap.py`, `download_historical_price.py:31-40,225-240`:
    * bucket every symbol by market cap, then select the union of the
    * requested categories). Market caps live outside the corpus, so the
    * analogous continuous measure is `c_acctbal`; the shape — a pure
    * `when`-chain categorization feeding a grouped rollup and a
    * category-membership filter — is exactly the reference's, and needs no
    * UDF (SURVEY §2.10: a CASE expression, fully codegen'd).
    */
  val f19BucketCategorize: Q = Q(
    "f19_bucket_categorize",
    (s, dir) => {
      val cat = when(col("c_acctbal") >= 7500, "mega")
        .when(col("c_acctbal") >= 5000, "large")
        .when(col("c_acctbal") >= 2500, "mid")
        .when(col("c_acctbal") >= 0, "small")
        .otherwise("negative")
      t(s, dir, "customer")
        .withColumn("category", cat)
        // the reference's `--categories mega large` union-selection
        .filter(col("category").isin("mega", "large", "mid", "small"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_members"), Q.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("category")
    },
    Some(s"""SELECT category, count(*) AS n_members,
        ${Q.sqlDsum("c_acctbal")} AS sum_bal
      FROM (SELECT c_acctbal,
              CASE WHEN c_acctbal >= 7500 THEN 'mega'
                   WHEN c_acctbal >= 5000 THEN 'large'
                   WHEN c_acctbal >= 2500 THEN 'mid'
                   WHEN c_acctbal >= 0 THEN 'small'
                   ELSE 'negative' END AS category
            FROM customer)
      WHERE category IN ('mega', 'large', 'mid', 'small')
      GROUP BY category ORDER BY category""")
  )

  /** M3: multimodal resize planning — the decode → feature → fit-within-64
    * downscale chain over the typed `mapPartitions` pipeline
    * ([[graft.operators.Multimodal.decodeAll]] → `resizeAll`): dims come
    * from the stubbed codec's header bytes, the clamp/stride arithmetic is
    * exact integer math the oracle mirrors byte-for-byte (the corpus text
    * is ASCII, so UTF-8 byte k = character k).
    */
  val m3ResizeMeta: Q = Q(
    "m3_resize_meta",
    (s, dir) => {
      import graft.operators.Multimodal
      val feats = Multimodal.decodeAll(
        Multimodal.fromDocuments(s, t(s, dir, "documents")))
      Multimodal.resizeAll(feats, 64)
        .toDF()
        .orderBy("id")
    },
    Some("""WITH dims AS (
        SELECT doc_id AS id,
          CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
          16 + (CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) % 128 ELSE 0 END) AS width,
          16 + (CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1)) % 128 ELSE 0 END) AS height
        FROM documents)
      SELECT id, kind, width, height,
        LEAST(width, 64) AS out_w, LEAST(height, 64) AS out_h,
        GREATEST(1, (width * height) // (LEAST(width, 64) * LEAST(height, 64))) AS stride
      FROM dims ORDER BY id""")
  )

  /** D5: duplicate clustering — connected components over the MinHash-LSH
    * near-dup graph (d3's pairs) via [[graft.operators.ConnectedComponents]]:
    * frontier-only min-label propagation with pointer jumping, one action
    * per round, reliable disk checkpoints. The oracle's recursive CTE
    * computes the same min-reachable-id labels.
    *
    * Both the edge set (d3's verified pairs) and the labels themselves are
    * write-once bucketed materialized views ([[DedupQueries.d5Labels]],
    * r7 verdict lead item): an isolated d5 reads the label table instead
    * of re-running LSH + clustering — 14.9 s of rebuild in the r7 driver
    * artifact becomes a bucketed scan, exactly the g-family's r7 cure.
    */
  val d5DupClusters: Q = Q(
    "d5_dup_clusters",
    (s, dir) => DedupQueries.d5Labels(s, dir).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE pairs AS (${DedupQueries.sqlD3Body}),
      edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      walk(id, lbl) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id)
      SELECT id AS doc_id, min(lbl) AS cluster
      FROM walk GROUP BY id ORDER BY doc_id""")
  )

  /** M4: media near-dup by frame signature — the video/image dedup shape:
    * every payload is cut into fixed-size frames (m2's model), each frame
    * contributes a 32-bit content hash, the per-doc SimHash of those frame
    * hashes is the "perceptual" signature, and candidates sharing any
    * signature byte are verified at Hamming ≤ 6 (d4's byte-block shape
    * over FRAMES instead of tokens). Payloads stream through one narrow
    * frame explode + one map-side-combinable signature aggregate — at
    * 100 TB of video, only 8-byte signatures ever shuffle, never media
    * bytes.
    */
  val m4MediaDedup: Q = Q(
    "m4_media_dedup",
    (s, dir) => {
      // Frame signatures come from the ONE shared derivation
      // (operators/Multimodal.frameSimhash) the streaming admission twin
      // (startIngestFrames) also uses — frame size and hash cannot drift
      // between the batch dedup and the stream gate.
      val sims = Pin.owned(graft.operators.Multimodal
        .frameSimhash(t(s, dir, "documents")))
      sims.count() // eager: byte-block explode + both verify sides rescan
      val bytes = graft.operators.Multimodal.simhashBands(sims)
        .select("doc_id", "k", "byte")
      val cand = bytes
        .select(col("doc_id").as("a"), col("k"), col("byte"))
        .join(bytes.select(col("doc_id").as("b"), col("k"), col("byte")),
          Seq("k", "byte"))
        .filter(col("a") < col("b"))
        .select("a", "b")
        .distinct()
      cand
        .join(sims.select(col("doc_id").as("a"), col("simhash").as("sim_a")), Seq("a"))
        .join(sims.select(col("doc_id").as("b"), col("simhash").as("sim_b")), Seq("b"))
        .select(col("a"), col("b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy("a", "b")
    },
    Some("""WITH frames AS (SELECT doc_id,
          substr(text, CAST(fpos * 64 + 1 AS INTEGER), 64) AS frame
        FROM (SELECT doc_id, text, unnest(range((length(text) + 63) // 64)) AS fpos
              FROM documents WHERE length(text) > 0)),
      hv AS (SELECT doc_id,
          (strpos('0123456789abcdef', md5(frame)[1]) - 1) * 268435456
        + (strpos('0123456789abcdef', md5(frame)[2]) - 1) * 16777216
        + (strpos('0123456789abcdef', md5(frame)[3]) - 1) * 1048576
        + (strpos('0123456789abcdef', md5(frame)[4]) - 1) * 65536
        + (strpos('0123456789abcdef', md5(frame)[5]) - 1) * 4096
        + (strpos('0123456789abcdef', md5(frame)[6]) - 1) * 256
        + (strpos('0123456789abcdef', md5(frame)[7]) - 1) * 16
        + (strpos('0123456789abcdef', md5(frame)[8]) - 1) AS hv
        FROM frames),
      votes AS (SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS vote
                FROM hv CROSS JOIN range(32) r(j) GROUP BY doc_id, j),
      sims AS (SELECT doc_id,
                 sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash
               FROM votes GROUP BY doc_id),
      bytes AS (SELECT doc_id, k, (simhash >> CAST(k * 8 AS INTEGER)) & 255 AS byte
                FROM sims CROSS JOIN range(4) r(k)),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bytes x JOIN bytes y
                 ON x.k = y.k AND x.byte = y.byte AND x.doc_id < y.doc_id)
      SELECT c.a, c.b,
        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      FROM cand c
      JOIN sims sa ON sa.doc_id = c.a
      JOIN sims sb ON sb.doc_id = c.b
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
      ORDER BY a, b""")
  )

  /** M10: WIDE-signature media near-dup — m4's frame-signature relation at
    * the 60-bit width the STREAMING gate already ships
    * (`CorpusIngest.startIngestFrames(sigBits = 60)`), closing the r9
    * verdict's "the cure exists only on the stream gate" gap: same shared
    * derivations (`Multimodal.frameSimhash` at 60 bits,
    * `Multimodal.simhashBands`' 8 near-equal bands — four 8-bit + four
    * 7-bit), candidates recall-EXACT at the verify radius by pigeonhole
    * (Hamming ≤ 7 over 8 bands always shares one), exact popcount verify.
    * m4's 32-bit rows are untouched — this is the parameterized twin, not
    * an oracle change.
    *
    * Scale: identical plan shape to m4 (only 8-byte signatures shuffle —
    * paid once at [[frameSims60Table]] build time, read back bucket-local
    * here; band join per-bucket work bounded by band selectivity, worst
    * 1/128); what changes is WHERE it saturates — see `Text.tokenHash60`
    * for the birthday arithmetic and `ScaleProbe`'s `batchsig` leg for
    * the measured 32-vs-60 candidate-volume curve.
    */
  val m10MediaDedupWide: Q = Q(
    "m10_media_dedup_wide",
    (s, dir) => {
      val sims = frameSims60Table(s, dir)
      val bands = graft.operators.Multimodal.simhashBands(sims, 60)
        .select("doc_id", "k", "byte")
      val cand = bands
        .select(col("doc_id").as("a"), col("k"), col("byte"))
        .join(bands.select(col("doc_id").as("b"), col("k"), col("byte")),
          Seq("k", "byte"))
        .filter(col("a") < col("b"))
        .select("a", "b")
        .distinct()
      cand
        .join(sims.select(col("doc_id").as("a"), col("simhash").as("sim_a")), Seq("a"))
        .join(sims.select(col("doc_id").as("b"), col("simhash").as("sim_b")), Seq("b"))
        .select(col("a"), col("b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 7)
        .orderBy("a", "b")
    },
    Some("""WITH frames AS (SELECT doc_id,
          substr(text, CAST(fpos * 64 + 1 AS INTEGER), 64) AS frame
        FROM (SELECT doc_id, text, unnest(range((length(text) + 63) // 64)) AS fpos
              FROM documents WHERE length(text) > 0)),
      hv AS (SELECT doc_id,
          CAST('0x' || substr(md5(frame), 1, 15) AS BIGINT) AS hv
        FROM frames),
      votes AS (SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS vote
                FROM hv CROSS JOIN range(60) r(j) GROUP BY doc_id, j),
      sims AS (SELECT doc_id,
                 sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash
               FROM votes GROUP BY doc_id),
      bands AS (SELECT doc_id, k,
          (simhash >> CAST(k * 7 + least(k, 4) AS INTEGER))
            & ((1 << (7 + CASE WHEN k < 4 THEN 1 ELSE 0 END)) - 1) AS byte
        FROM sims CROSS JOIN range(8) r(k)),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bands x JOIN bands y
                 ON x.k = y.k AND x.byte = y.byte AND x.doc_id < y.doc_id)
      SELECT c.a, c.b,
        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      FROM cand c
      JOIN sims sa ON sa.doc_id = c.a
      JOIN sims sb ON sb.doc_id = c.b
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 7
      ORDER BY a, b""")
  )

  /** M5: VAD-style segmentation — the voice-activity-detection pass every
    * speech-corpus pipeline runs before transcription: per media object,
    * frame ENERGIES gate active frames, and consecutive active frames
    * merge into segments (gaps-and-islands: `frame_id − rank` is constant
    * within a run). Frame energy here is the deterministic stand-in the
    * m-family contract established (hash of the frame slice — a real
    * build reads RMS from the decoded samples; the segmentation dataflow
    * downstream of decode is the real, tested thing).
    *
    * Scale: frames explode narrowly off the payload scan (m2's shape);
    * the islands window and the rollup both partition by doc — one keyed
    * shuffle; only frame METADATA ever shuffles, never payload bytes
    * (the m4 rule).
    */
  val m5AudioSegments: Q = Q(
    "m5_audio_segments",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_id")
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("n_frames", expr("(length(text) + 63) div 64"))
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), col("n_frames") - 1)))
        .withColumnRenamed("pos", "frame_id")
        .withColumn("energy",
          pmod(graft.functions.Text.seededHash64(lit("vad"),
            expr("substr(text, frame_id * 64 + 1, 64)")), lit(1000L)))
        .filter(col("energy") >= 500)
        .withColumn("grp", col("frame_id") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("frame_id")).cast("long").as("seg_start"),
          count(lit(1)).as("seg_len"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(col("seg_len")).as("n_active"),
          max(col("seg_len")).as("longest"),
          min(col("seg_start")).as("first_start"))
        .orderBy("doc_id")
    },
    Some("""WITH frames AS (
        SELECT doc_id,
               unnest(range((length(text) + 63) // 64)) AS frame_id,
               text
        FROM documents WHERE length(text) > 0),
      act AS (SELECT doc_id, frame_id
              FROM (SELECT doc_id, frame_id,
                      CAST('0x' || substr(md5('vad|' ||
                        substr(text, CAST(frame_id * 64 + 1 AS INTEGER), 64)), 1, 15)
                        AS BIGINT) % 1000 AS energy
                    FROM frames)
              WHERE energy >= 500),
      segs AS (SELECT doc_id,
                 frame_id - row_number() OVER (PARTITION BY doc_id ORDER BY frame_id) AS grp,
                 frame_id
               FROM act),
      agg AS (SELECT doc_id, grp, CAST(min(frame_id) AS BIGINT) AS seg_start,
                count(*) AS seg_len
              FROM segs GROUP BY doc_id, grp)
      SELECT doc_id, count(*) AS n_segments,
        CAST(sum(seg_len) AS BIGINT) AS n_active,
        CAST(max(seg_len) AS BIGINT) AS longest,
        CAST(min(seg_start) AS BIGINT) AS first_start
      FROM agg GROUP BY doc_id ORDER BY doc_id""")
  )

  /** M6: ViT patch-grid extraction — per image, the 16×16 patch tiling a
    * vision transformer's ingest computes before embedding (x28 is the
    * text analogue): one row per patch with grid position, pixel origin
    * and the edge-clamped patch extent. Dimensions come from the same
    * deterministic decode stand-in as m3 (zero-egress container); the
    * PATCH dataflow — narrow generate bounded by ⌈w/P⌉·⌈h/P⌉ per image,
    * media bytes never shuffled — is the real operator.
    */
  val m6PatchGrid: Q = Q(
    "m6_patch_grid",
    (s, dir) => {
      import graft.operators.Multimodal
      val feats = Multimodal.decodeAll(
        Multimodal.fromDocuments(s, t(s, dir, "documents"))).toDF()
      feats.filter(col("kind") === "image")
        .select(col("id"), col("width").cast("long").as("w"),
          col("height").cast("long").as("h"))
        .withColumn("nx", expr("(w + 15) div 16"))
        .select(col("id"), col("w"), col("h"), col("nx"),
          explode(expr("sequence(0L, (w + 15) div 16 * ((h + 15) div 16) - 1)"))
            .as("p"))
        .select(col("id"), col("w"), col("h"),
          (col("p") % col("nx")).as("px"), expr("p div nx").as("py"))
        .select(col("id"), col("px"), col("py"),
          (col("px") * 16).as("x0"), (col("py") * 16).as("y0"),
          least(lit(16L), col("w") - col("px") * 16).as("pw"),
          least(lit(16L), col("h") - col("py") * 16).as("ph"))
        .orderBy("id", "py", "px")
    },
    Some("""WITH dims AS (
        SELECT doc_id AS id,
          CAST(16 + (CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) % 128 ELSE 0 END) AS BIGINT) AS w,
          CAST(16 + (CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1)) % 128 ELSE 0 END) AS BIGINT) AS h
        FROM documents WHERE doc_id % 2 = 0),
      g AS (SELECT id, w, h, (w + 15) // 16 AS nx,
                   unnest(range(0, ((w + 15) // 16) * ((h + 15) // 16))) AS p
            FROM dims)
      SELECT id, p % nx AS px, p // nx AS py,
             (p % nx) * 16 AS x0, (p // nx) * 16 AS y0,
             least(16, w - (p % nx) * 16) AS pw,
             least(16, h - (p // nx) * 16) AS ph
      FROM g ORDER BY id, py, px""")
  )

  /** M7: shot-boundary detection + keyframe census — the video
    * segmentation step a vision-LM data pipeline runs before sampling
    * training frames (cut detection → one keyframe per shot beats
    * fixed-stride m2 sampling, which straddles cuts). Media stand-in as
    * in m2/m4: each 64-byte payload block is a "frame", its 16-bit
    * signature the first 4 md5 nibbles (a perceptual-hash stand-in; the
    * codec is honestly stubbed, zero-egress). A cut falls where the
    * Hamming distance between adjacent frame signatures ≥ 12 of 16 bits;
    * shots are the running count of cuts, and the census emits one row
    * per shot with its keyframe (first frame) signature.
    *
    * Scale: signatures are narrow per-row codegen (md5 + conv — payloads
    * never shuffle); the lag/cumsum windows and the census all key on
    * doc_id, so the whole pipeline rides ONE video-keyed exchange. Frame
    * counts per video are bounded (minutes × fps), so per-key windows
    * never skew.
    */
  val m7ShotBoundary: Q = Q(
    "m7_shot_boundary",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_id")
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("n_frames", expr("(length(text) + 63) div 64"))
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), col("n_frames") - 1)))
        .select(col("doc_id"), col("pos").cast("long").as("frame_id"),
          expr("cast(conv(substr(md5(substr(text, pos * 64 + 1, 64)), 1, 4), 16, 10) as bigint)")
            .as("sig"))
        .withColumn("prev_sig", lag(col("sig"), 1).over(w))
        .withColumn("cut",
          when(col("prev_sig").isNull ||
            expr("bit_count(sig ^ prev_sig)") >= 12, 1L).otherwise(0L))
        .withColumn("shot", sum(col("cut")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
        .groupBy("doc_id", "shot")
        .agg(count(lit(1)).as("n_frames"),
          min(col("frame_id")).as("first_frame"),
          max(col("frame_id")).as("last_frame"),
          min_by(col("sig"), col("frame_id")).as("keyframe_sig"))
        .orderBy("doc_id", "shot")
    },
    Some("""WITH frames AS (
        SELECT doc_id, frame_id,
          CAST('0x' || substr(md5(substr(text, CAST(frame_id * 64 + 1 AS INTEGER), 64)), 1, 4)
               AS BIGINT) AS sig
        FROM (SELECT doc_id, text,
                unnest(range((length(text) + 63) // 64)) AS frame_id
              FROM documents WHERE length(text) > 0)),
      cuts AS (SELECT doc_id, frame_id, sig,
          CASE WHEN lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_id) IS NULL
                 OR bit_count(xor(sig,
                      lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_id))) >= 12
               THEN 1 ELSE 0 END AS cut
        FROM frames),
      shots AS (SELECT doc_id, frame_id, sig,
          CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_id
                ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS shot
        FROM cuts)
      SELECT doc_id, shot, count(*) AS n_frames,
        min(frame_id) AS first_frame, max(frame_id) AS last_frame,
        min_by(sig, frame_id) AS keyframe_sig
      FROM shots GROUP BY doc_id, shot ORDER BY doc_id, shot""")
  )

  /** M8: perceptual hash (pHash) media dedup — the canonical
    * frequency-domain near-dup signature next to m4's content-block
    * SimHash: an 8×8 intensity grid per payload, an EXACT INTEGER
    * DCT-II (cosine basis quantized to Q14 fixed-point, the 64 constants
    * generated ONCE in Scala and inlined as literals into BOTH engines —
    * no runtime transcendental anywhere), and a 32-bit signature from
    * the SIGNS of the 32 lowest-frequency AC coefficients in zigzag
    * order. Real pHash thresholds against the coefficient median; the
    * sign form keeps the audit integer-exact while preserving the
    * property that matters: low-frequency signs are stable under small
    * local perturbations, so near-identical payloads land within a few
    * bits while the chance background at the hamming ≤ 4 gate is
    * ~4·10⁻⁷ per pair.
    *
    * The "pixels" are the honest codec stand-in (the m1/m4 posture): the
    * payload's first 1 KiB maps to 64 cells of 16 chars, each hashed to
    * an 8-bit intensity — a real build swaps in the decoder's downscaled
    * luma grid and NOTHING downstream changes (the DCT, signature, and
    * dedup join consume an (id, cell, intensity) frame whatever produced
    * it).
    *
    * Scale: the DCT is SEPARABLE — a row pass then a column pass, each
    * one map-side-combinable keyed aggregate over ≤64 narrow rows per
    * doc joined to a broadcast 40-row basis table; candidates come from
    * m4's byte-band equi-join on the signature (never all-pairs) and the
    * verify is one popcount on 16-bit pairs. Payload bytes never
    * shuffle.
    */
  /** Q14 fixed-point scale and the quantized DCT-II basis m8 transforms
    * with — exposed for the orthogonality spec (MultimodalSpec proves the
    * 64 literals ARE a DCT basis, which the cross-engine oracle cannot:
    * both engines would agree on a mistranscribed table).
    */
  private[graft] val PhashQ14 = 16384L
  private[graft] val phashBasis: Array[Array[Long]] =
    Array.tabulate(8, 8) { (u, r) =>
      math.round(math.cos(math.Pi * (2 * r + 1) * u / 16) * PhashQ14)
    }

  val m8PhashDct: Q = {
    val Q14 = PhashQ14
    val k = phashBasis
    // The 32 lowest-frequency AC coefficients in zigzag order (by u+v,
    // then u) — pHash's standard low-band selection; bit index = zigzag
    // position. At 32 sign bits the chance background at hamming ≤ 4 is
    // ~4·10⁻⁷ per pair, so emitted pairs are structure, not noise.
    val coefs: Seq[(Int, Int)] =
      (for (u <- 0 to 7; v <- 0 to 7 if u + v > 0) yield (u, v))
        .sortBy { case (u, v) => (u + v, u) }.take(32)
    Q(
      "m8_phash_dct",
      (s, dir) => {
        // The engine computes the WHOLE transform as narrow per-row
        // expression work — cells, DCT, and sign signature never touch a
        // shuffle (the first exchange in the plan is the candidate band
        // join, PlanSpec-asserted). The 2-D DCT weight of grid cell i for
        // coefficient j is K(u_j, i/8)·K(v_j, i%8): 32 precomputed 64-long
        // weight arrays ship as literals, and each coefficient is one
        // zip_with/aggregate fold over the cell array. The relational
        // row-pass/column-pass spelling lives in the ORACLE, which proves
        // this fused form computes the same separable transform.
        //
        // The grid covers the WHOLE payload (cell width = len/64) — the
        // stand-in for pHash's resize-to-8×8: a short payload never pads
        // with shared empty cells (which would correlate every short
        // doc's signature), and a local edit perturbs one or two cells.
        val w: Seq[Array[Long]] = coefs.map { case (u, v) =>
          Array.tabulate(64)(i => k(u)(i / 8) * k(v)(i % 8))
        }
        val docsF = t(s, dir, "documents")
          .filter(length(col("text")) > 0)
          .withColumn("cw", expr("greatest(length(text) div 64, 1)"))
        val pArr = transform(sequence(lit(0), lit(63)), i =>
          pmod(graft.functions.Text.seededHash64(
            i, col("text").substr(
              (i * col("cw") + 1).cast("int"), col("cw").cast("int"))),
            lit(256L)))
        // graft_ldot (r12): the 32 folds used to be interpreted
        // aggregate(zip_with(...)) higher-order expressions — no codegen,
        // one intermediate array + two lambda dispatches per element; the
        // fused codegen loop is bit-identical (exact integer multiply-add).
        graft.functions.FastVec.register(s)
        val sigCol = coefs.indices.map { j =>
          val dot = graft.functions.FastVec.ldot(col("p"), typedLit(w(j).toSeq))
          when(dot > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        val sigs = Pin.owned(docsF
          .select(col("doc_id"), pArr.as("p"))
          .select(col("doc_id"), sigCol.as("sig")))
        sigs.count() // eager: band explode + both verify sides rescan
        val bands = sigs
          .withColumn("b", explode(sequence(lit(0), lit(3))))
          .select(col("doc_id"), col("b"),
            expr("shiftright(sig, b * 8) & 255").as("byte"))
        val cand = bands
          .select(col("doc_id").as("a"), col("b"), col("byte"))
          .join(bands.select(col("doc_id").as("bid"), col("b"), col("byte")),
            Seq("b", "byte"))
          .filter(col("a") < col("bid"))
          .select(col("a"), col("bid").as("bb"))
          .distinct()
        cand
          .join(sigs.select(col("doc_id").as("a"), col("sig").as("sig_a")), Seq("a"))
          .join(sigs.select(col("doc_id").as("bb"), col("sig").as("sig_b")), Seq("bb"))
          .select(col("a"), col("bb").as("b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
          .filter(col("hamming") <= 4)
          .orderBy("a", "b")
      },
      Some {
        val kVals = (for (u <- 0 to 7; r <- 0 to 7)
          yield s"($u, $r, ${k(u)(r)})").mkString(", ")
        val cjVals = coefs.zipWithIndex
          .map { case ((u, v), j) => s"($u, $v, $j)" }.mkString(", ")
        s"""WITH kt(u, r, kk) AS (VALUES $kVals),
          cj(u, v, j) AS (VALUES $cjVals),
          cells AS (SELECT doc_id, i // 8 AS r, i % 8 AS c,
              CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' ||
                   substr(text, CAST(i * cw + 1 AS INTEGER), CAST(cw AS INTEGER))),
                   1, 15) AS BIGINT) % 256 AS p
            FROM (SELECT doc_id, text, unnest(range(64)) AS i,
                         greatest(length(text) // 64, 1) AS cw
                  FROM documents WHERE length(text) > 0)),
          rp AS (SELECT cells.doc_id, cells.r, kt.u AS v,
                CAST(sum(cells.p * kt.kk) AS BIGINT) AS rs
            FROM cells JOIN kt ON kt.r = cells.c GROUP BY 1, 2, 3),
          cp AS (SELECT rp.doc_id, kt.u, rp.v,
                CAST(sum(rp.rs * kt.kk) AS BIGINT) AS cuv
            FROM rp JOIN kt ON kt.r = rp.r GROUP BY 1, 2, 3),
          sigs AS (SELECT cp.doc_id,
                CAST(sum(CASE WHEN cp.cuv > 0 THEN CAST(1 AS BIGINT) << cj.j
                         ELSE 0 END) AS BIGINT) AS sig
            FROM cp JOIN cj ON cj.u = cp.u AND cj.v = cp.v
            GROUP BY cp.doc_id),
          bands AS (SELECT doc_id, b, (sig >> CAST(b * 8 AS INTEGER)) & 255 AS byte
            FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b) g),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.b = y.b AND x.byte = y.byte AND x.doc_id < y.doc_id)
          SELECT c.a, c.b,
            CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
          FROM cand c
          JOIN sigs sa ON sa.doc_id = c.a
          JOIN sigs sb ON sb.doc_id = c.b
          WHERE bit_count(xor(sa.sig, sb.sig)) <= 4
          ORDER BY c.a, c.b"""
      }
    )
  }

  /** M9: audio fingerprint matching — the Shazam constellation scheme
    * (Wang 2003, "An Industrial-Strength Audio Search Algorithm"): per
    * frame a PEAK FREQUENCY stand-in (hash of the 64-byte frame slice
    * mod 1024 — a real build takes the STFT argmax; the m-family's
    * honest-decode contract), each anchor frame paired with the next
    * Z = 5 frames into (f1, f2, Δt) landmark hashes, and candidate media
    * pairs verified by OFFSET COHERENCE: matched landmarks between two
    * payloads vote on (t_a − t_b), and a true match concentrates votes
    * at one offset — the property that makes the scheme robust to
    * clipping and lets it reject bag-of-landmark coincidences. Output:
    * per matching pair, the best offset and its vote count (votes ≥ 4).
    *
    * Landmarks with census df > 50 are dropped before matching — the
    * standard common-landmark cut (boilerplate frames would otherwise
    * contribute Σ df² join work for zero discriminative value; d16's
    * rare-feature blocking, applied to audio).
    *
    * Scale: frames explode narrowly off the payload scan (m2's shape);
    * anchor→target pairing is an equi-join on (doc, t2 = t1 + Δt) with
    * fanout bounded at Z; the landmark census is map-side combinable;
    * matching is an equi-join on the landmark hash with df-capped
    * posting lists; the offset vote is one (a, b, Δ) aggregate and the
    * best-offset cut a pair-keyed window. Only (doc, t, hash) longs ever
    * shuffle — payload bytes never do (the m4 rule).
    */
  val m9AudioFingerprint: Q = Q(
    "m9_audio_fingerprint",
    (s, dir) => {
      val Z = 5
      val minVotes = 4
      val dfCap = 50
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("a", "b").orderBy(col("votes").desc, col("offset"))
      val frames = Pin.owned(t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("n_frames", expr("(length(text) + 63) div 64"))
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), col("n_frames") - 1)))
        .withColumnRenamed("pos", "t")
        .withColumn("f",
          pmod(graft.functions.Text.seededHash64(lit("cfp"),
            expr("substr(text, t * 64 + 1, 64)")), lit(1024L)))
        .select(col("doc_id"), col("t"), col("f")))
      frames.count() // eager: anchor and target sides + census scan it
      val landmarks = Pin.owned(frames
        .select(col("doc_id"), col("t").as("t1"), col("f").as("f1"),
          explode(sequence(lit(1), lit(Z))).as("dt"))
        .withColumn("t", col("t1") + col("dt"))
        .join(frames.select(col("doc_id"), col("t"), col("f").as("f2")),
          Seq("doc_id", "t"))
        .select(col("doc_id"), col("t1"),
          (col("f1") * lit(8192L) + col("f2") * lit(8L) + col("dt")).as("h")))
      landmarks.count() // eager: census + both match sides scan it
      val rare = landmarks.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("h")
      val fp = landmarks.join(rare, Seq("h"), "left_semi")
      fp.select(col("doc_id").as("a"), col("t1").as("ta"), col("h"))
        .join(fp.select(col("doc_id").as("b"), col("t1").as("tb"), col("h")),
          Seq("h"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"), (col("ta") - col("tb")).as("offset"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("votes") >= minVotes)
        .select(col("a"), col("b"), col("offset").cast("long").as("offset"),
          col("votes"))
        .orderBy("a", "b")
    },
    Some("""WITH fr AS (SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS t, text
              FROM documents WHERE length(text) > 0),
      fq AS (SELECT doc_id, t,
               CAST('0x' || substr(md5('cfp|' ||
                 substr(text, CAST(t * 64 + 1 AS INTEGER), 64)), 1, 15)
                 AS BIGINT) % 1024 AS f
             FROM fr),
      pr AS (SELECT x.doc_id, x.t AS t1,
               x.f * 8192 + y.f * 8 + (y.t - x.t) AS h
             FROM fq x JOIN fq y
               ON y.doc_id = x.doc_id AND y.t BETWEEN x.t + 1 AND x.t + 5),
      cen AS (SELECT h, count(*) AS df FROM pr GROUP BY h),
      fp AS (SELECT pr.doc_id, pr.t1, pr.h FROM pr
             JOIN cen ON cen.h = pr.h WHERE cen.df <= 50),
      m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.t1 - y.t1 AS off,
              count(*) AS votes
            FROM fp x JOIN fp y ON y.h = x.h AND x.doc_id < y.doc_id
            GROUP BY 1, 2, 3),
      best AS (SELECT a, b, off, votes FROM m
               QUALIFY row_number() OVER (PARTITION BY a, b
                 ORDER BY votes DESC, off) = 1)
      SELECT a, b, CAST(off AS BIGINT) AS offset, votes
      FROM best WHERE votes >= 4 ORDER BY a, b""")
  )

  val all: Seq[Q] = Seq(
    f14ArrayOps, f15MapOps, f16ExplodeSequence, f17StringFuncs,
    f18RegexpExtractAll, f19BucketCategorize, x6PiiScrub, x7BpeTokens,
    x14TokenFertility, m2FrameSample, m3ResizeMeta, d5DupClusters,
    m4MediaDedup, m5AudioSegments, m6PatchGrid, m7ShotBoundary, m8PhashDct,
    m9AudioFingerprint, m10MediaDedupWide)
}
