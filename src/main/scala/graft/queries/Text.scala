package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Queries whose primary input is the `documents` table:
  * tokenization, language models, corpus curation and text audits. */
object Text extends QueryFamily("text") {
  import Common._
  import FixedPoint.{lnQ, sdiv, sdivPpm}

  /** #23 text quality scoring: length / punctuation / stopword-family
    * ratios, all codegen'd built-ins over the pruned text column. */
  private def textStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.charCount(col("text")).as("n_chars_m"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.vowelCount(col("text")).as("n_vowels"),
        TextAnalysis.nonAlnumCount(col("text")).as("n_marks"),
        (length(col("text")) < 100).as("is_short"))

  private val textStatsSql =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars_m,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(length(text) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS INT) AS n_vowels,
      |  CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS INT) AS n_marks,
      |  (length(text) < 100) AS is_short
      |FROM documents""".stripMargin

  /** #24 language ID via marker-token scores + argmax. */
  private def langId(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_guess"))

  private val langIdSql: String = {
    val pad = "' ' || lower(text) || ' '"
    def occ(m: String) = {
      val esc = m.replace("'", "''")
      s"((length($pad) - length(replace($pad, '$esc', ''))) // ${m.length})"
    }
    val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
      lang -> ms.map(occ).mkString(" + ")
    }
    val withs = scores.map { case (l, e) => s"CAST($e AS INT) AS s_$l" }.mkString(",\n  ")
    val best = s"greatest(${scores.map(c => s"s_${c._1}").mkString(", ")})"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang,
       |  CASE $cases
       |    ELSE 'und' END AS lang_guess
       |FROM (SELECT doc_id, lang, text,
       |  $withs
       |FROM documents)""".stripMargin
  }

  /** #25 token counting: whitespace + BPE-ish regex pre-tokenizer. */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  private val tokenCountSql =
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens
      |FROM documents""".stripMargin

  /** #47 sequence packing: each document assigned to a fixed
    * token-budget bin by its starting offset in the id-ordered global
    * token stream — the LLM-training batch-assembly shape. Runs on the
    * distributed two-phase prefix scan (no single-reducer window); the
    * oracle recomputes the same offsets with a window cumsum, which is
    * equivalent on (small) gate data. */
  private def seqPack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    PrefixSum.packByBudget(docs, "doc_id", "n_tokens", budget = 2048L)
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"), col("pack_id"))
  }

  private val seqPackSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
      |FROM c""".stripMargin

  /** #48 stratified data mixing: per-language sampling rates applied
    * via a deterministic hash bucket — reproducible membership (a pure
    * function of doc_id), stable under repartitioning, auditable after
    * the fact, and recomputable by any engine; `df.sample()`'s
    * partition-seeded RNG has none of those properties. */
  private def sampleMixture(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
      t(s, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang",
      rates = Map("en" -> 1.0, "zh" -> 0.5, "es" -> 0.5, "de" -> 0.25),
      defaultRate = 0.1)

  private val sampleMixtureSql =
    """SELECT doc_id, lang FROM documents
      |WHERE ((doc_id % 1000003) * 1103515247 + 12345) % 1000 <
      |  CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 500
      |            WHEN 'es' THEN 500 WHEN 'de' THEN 250 ELSE 100 END""".stripMargin

  /** #49 PII scrubbing: count + redact emails and phone numbers. The
    * synthetic corpus has no natural PII, so every 3rd document gets a
    * deterministic email + phone appended (both engines construct the
    * identical augmented text); counts and the fully-redacted text are
    * then hash-compared — engine-portable regexes make Java regex and
    * RE2 agree match-for-match. */
  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +7 (900) 123-45-"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(col("text")).as("text"))
    // project the email-redacted text ONCE (the oracle's `t1` CTE shape);
    // n_phones and text_clean both derive from it — one email pass, not two
    aug.select(col("doc_id"),
        TextAnalysis.countPattern(col("text"), TextAnalysis.EmailRe).as("n_emails"),
        regexp_replace(col("text"), TextAnalysis.EmailRe, "<EMAIL>").as("__t1"))
      .select(col("doc_id"), col("n_emails"),
        size(regexp_extract_all(col("__t1"), lit(TextAnalysis.PhoneRe), lit(0))).as("n_phones"),
        regexp_replace(col("__t1"), TextAnalysis.PhoneRe, "<PHONE>").as("text_clean"))
  }

  private val piiScrubSql = {
    val (em, ph) = (TextAnalysis.EmailRe, TextAnalysis.PhoneRe)
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
       |              || '@example.com or +7 (900) 123-45-'
       |              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
       |         ELSE text END AS text
       |  FROM documents),
       |e AS (SELECT doc_id, text, regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1
       |      FROM aug)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$ph')) AS INT) AS n_phones,
       |  regexp_replace(t1, '$ph', '<PHONE>', 'g') AS text_clean
       |FROM e""".stripMargin
  }

  /** #50 intra-document repetition ratio — the Gopher/RefinedWeb-style
    * repetitive-content signal: 1 − distinct/total word 3-grams. The
    * distinct count comes from the native hashed-shingle set (64-bit
    * collisions negligible at gate scale — the same argument the
    * MinHash oracle rests on); DuckDB recomputes it over string shingle
    * sets. */
  private def repRatio(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        greatest(TextAnalysis.tokenCount(col("text")) - 2, lit(1)).as("__total"),
        size(TextAnalysis.hashedShingles(col("text"), 3)).as("__distinct"))
      .select(col("doc_id"),
        col("__total").as("n_ngrams"),
        col("__distinct").as("n_distinct"),
        round(lit(1.0) - col("__distinct").cast("double") / col("__total"), 6).as("rep_ratio"))

  private val repRatioSql =
    s"""WITH sh AS (
       |  ${shingleSetsSql("documents")}),
       |t AS (SELECT doc_id,
       |        greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) AS n_ngrams
       |      FROM documents)
       |SELECT t.doc_id, CAST(t.n_ngrams AS INT) AS n_ngrams,
       |  CAST(len(sh.s) AS INT) AS n_distinct,
       |  round(1.0 - CAST(len(sh.s) AS DOUBLE) / t.n_ngrams, 6) AS rep_ratio
       |FROM t JOIN sh ON sh.doc_id = t.doc_id""".stripMargin

  /** #27 multimodal plumbing: binary media column + typed metadata,
    * partition-local REAL header decode (PNG IHDR parse — pure stdlib
    * byte reads) with a stub fallback for opaque media.
    *
    * Even doc_ids carry a VALID PNG container whose IHDR dimensions
    * derive from the id, so the oracle recomputes the DECODED width/
    * height arithmetically — a header-parse regression on any PNG row
    * breaks the hash compare. Odd ids are opaque audio payloads: their
    * stub dimensions ride as the `dims_ok` band check (q_approx_distinct
    * pattern) and the decoded columns are NULL. n_bytes pins the exact
    * container size (payload + 57 bytes of PNG framing). The checksum
    * stays spec-bounded in MultimodalSpec. */
  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.withFakeMedia(t(s, dir, "documents"), "doc_id", "text"))
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        when(col("header_decoded"), col("width")).as("img_w"),
        when(col("header_decoded"), col("height")).as("img_h"),
        (col("header_decoded") ||
          (col("width").between(16, 655) && col("height").between(16, 495)))
          .as("dims_ok"))

  private val multimodalMetaSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
      |  CAST(octet_length(encode(text))
      |    + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 0 END AS INT) AS n_bytes,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 640 END AS INT) AS img_w,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 480 END AS INT) AS img_h,
      |  TRUE AS dims_ok
      |FROM documents""".stripMargin

  /** #36 composite quality filter: the keep/drop decision an LLM-data
    * pipeline makes from the text-stats features — length band, mark
    * ratio, stopword evidence — with the reasons kept for auditing. */
  private def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val stats = textStats(s, dir)
    stats
      .withColumn("too_short", col("n_tokens") < 20)
      .withColumn("too_marky",
        col("n_marks").cast("double") / greatest(col("n_chars_m"), lit(1)) > 0.05)
      .withColumn("keep", !col("too_short") && !col("too_marky"))
      .select("doc_id", "keep", "too_short", "too_marky")
  }

  private val qualityFilterSql =
    """WITH stats AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INT) AS n_chars_m,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS INT) AS n_marks
      |  FROM documents)
      |SELECT doc_id,
      |  NOT (n_tokens < 20) AND NOT (CAST(n_marks AS DOUBLE) / greatest(n_chars_m, 1) > 0.05) AS keep,
      |  n_tokens < 20 AS too_short,
      |  CAST(n_marks AS DOUBLE) / greatest(n_chars_m, 1) > 0.05 AS too_marky
      |FROM stats""".stripMargin

  /** #55 TF-IDF top-3 terms per document. Scores round to 6dp BEFORE
    * the rank window so Spark's `Math.log` and DuckDB's `ln` (which may
    * differ in the last ulp) can never flip an ordering. */
  private def tfidf(s: SparkSession, dir: String): DataFrame =
    Tfidf.topTerms(parallelize(s, t(s, dir, "documents")), "doc_id", "text", k = 3)

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM toks WHERE term <> '' GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
      |scored AS (
      |  SELECT p.doc_id, p.term, p.tf,
      |    round(p.tf * ln(n.nd / d.df), 6) AS score
      |  FROM pairs p JOIN dfreq d USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, score, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |       ORDER BY score DESC, term) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** #66 corpus heavy hitters: top-50 terms by DOCUMENT frequency
    * (per-doc distinct tokens, so a term spamming one document counts
    * once). The top-k is `orderBy(...).limit(k)` — Spark plans a
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    * the driver), never a global sort of the vocabulary. Ties at the
    * cut break on the token string, so the result is deterministic. */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(array_distinct(
        TextAnalysis.tokens(lower(col("text"))))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(50)

  private val heavyHittersSql =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS df FROM tok
      |GROUP BY 1 ORDER BY df DESC, token LIMIT 50""".stripMargin

  /** Target length of one posting-list shard row: shard count scales
    * WITH the corpus (S = ⌈0.9·N / target⌉), so no reducer row ever
    * materializes more than ~this many doc ids however big N grows. */
  private val PostingsShardTarget = 128.0

  /** #67 inverted index over the sub-stopword vocabulary: token →
    * document-frequency + SHARDED sorted posting lists. The real skew
    * protection is the sharding: postings group by
    * `(token, pmod(doc_id, S))` with S = ⌈0.9·N_docs / target⌉, so the
    * biggest admissible token (df ≈ 0.9·N) lands as S bounded rows —
    * never one `collect_list` of 0.9·N doc ids in a single reducer, the
    * 100-TB OOM shape. Total `df` spans shards via a token-partitioned
    * window (≤ S rows per token — tiny). The df band only trims noise:
    * hapaxes (df < 2) and near-universal stopwords (df > ⌈0.9·N⌉),
    * both corpus-relative off a broadcast 1-row scalar (explicit
    * `broadcast()`, matching Tfidf.scala — no reliance on stats
    * estimation). Postings sort NUMERICALLY before stringifying (a
    * lexicographic sort of stringified ids misorders 10 before 2). */
  private def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"), explode(array_distinct(
        TextAnalysis.tokens(lower(col("text"))))).as("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("shard", pmod(col("doc_id"),
        greatest(lit(1L), ceil(lit(0.9) * col("n_docs") / lit(PostingsShardTarget)))))
      .groupBy("token", "shard")
      .agg(count(lit(1)).as("shard_df"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            id => id.cast("string"))).as("postings"),
        max(col("n_docs")).as("n_docs"))
      .withColumn("df", sum(col("shard_df")).over(Window.partitionBy("token")))
      .filter(col("df") >= 2 && col("df") <= ceil(lit(0.9) * col("n_docs")))
      .select(col("token"), col("shard"), col("df"), col("shard_df"),
        col("postings"))
  }

  private val invertedIndexSql =
    s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
      |tok AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      |  FROM documents),
      |sh AS (
      |  SELECT token,
      |    doc_id % CAST(greatest(1, ceil(0.9 * n.n_docs / $PostingsShardTarget)) AS BIGINT) AS shard,
      |    count(*) AS shard_df,
      |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |  FROM tok, n GROUP BY 1, 2),
      |w AS (
      |  SELECT token, shard,
      |    CAST(sum(shard_df) OVER (PARTITION BY token) AS BIGINT) AS df,
      |    CAST(shard_df AS BIGINT) AS shard_df, postings
      |  FROM sh)
      |SELECT token, shard, df, shard_df, postings FROM w
      |WHERE df >= 2 AND df <= ceil(0.9 * (SELECT n_docs FROM n))""".stripMargin

  /** #68 per-document token-distribution Shannon entropy (the
    * lexical-diversity quality signal): H = ln(T) − (Σ c·ln c)/T.
    * The cross-row sum runs in FIXED POINT — Σ c·⌊ln(c)·1e6⌋ as exact
    * long arithmetic — so the aggregate is identical under any
    * partial-aggregation order (a double Σ c·ln c is non-associative
    * and nondeterministic under shuffle); only the final per-doc
    * formula touches doubles, then rounds to 6dp on both engines. */
  private def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(
        TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("__t"),
        sum(col("c") * floor(log(col("c")) * 1e6).cast("long")).as("__s"))
      .select(col("doc_id"), col("__t").as("n_tokens"),
        round(log(col("__t")) - col("__s") / (lit(1e6) * col("__t")), 6)
          .as("entropy"))

  private val tokenEntropySql =
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |a AS (SELECT doc_id, sum(c) AS t,
      |        sum(c * ${lnQ("c")}) AS s
      |      FROM c GROUP BY 1)
      |SELECT doc_id, CAST(t AS BIGINT) AS n_tokens,
      |  round(ln(t) - s / (1e6 * t), 6) AS entropy
      |FROM a""".stripMargin

  /** #72 document chunking for training-sequence construction: fixed
    * token-budget chunks with overlap (chunk 64, overlap 16, stride 48) —
    * the standard context-window splitter feeding `q_seq_pack`'s packer.
    * Pure map-side explode: chunk starts come from a per-row `sequence`,
    * the chunk text from `slice` on the already-split token array — no
    * shuffle, no window, no re-tokenization per chunk. A document shorter
    * than the overlap still yields its one (partial) chunk; a tail
    * adding no new tokens beyond the previous chunk's coverage is not
    * emitted (starts stop before n − overlap). */
  private def docChunk(s: SparkSession, dir: String): DataFrame = {
    val chunk = 64; val overlap = 16; val stride = chunk - overlap
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), greatest(col("n") - overlap - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / lit(stride)).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunk))).as("chunk"),
        least(lit(chunk), col("n") - col("start")).cast("long").as("n_tokens"))
  }

  private val docChunkSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    unnest(range(0, greatest(len(toks) - 16, 1), 48)) AS start
      |  FROM t)
      |SELECT doc_id, CAST(start / 48 AS BIGINT) AS chunk_idx,
      |  array_to_string(toks[CAST(start + 1 AS INT):CAST(start + 64 AS INT)], ' ') AS chunk,
      |  CAST(least(64, n - start) AS BIGINT) AS n_tokens
      |FROM c""".stripMargin

  /** #76 vocabulary encoding — the tokenize-to-ids step of a training
    * pipeline: build a top-V document-frequency vocabulary (V=512,
    * deterministic total order df DESC, token ASC), then map every
    * token of every document to its id (OOV → 0), preserving token
    * order. The vocabulary is BOUNDED (V rows) and broadcast — the
    * encode pass is a map-side hash join however large the corpus; the
    * only corpus-sized shuffles are the df aggregation and the per-doc
    * regroup. Per-doc state is one document's tokens (collect_list is
    * doc-length-bounded, never corpus-bounded). */
  private def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text")))).as(Seq("pos", "token")))
    // vocab size is CORPUS-RELATIVE: min(512, types/2) — the fixed 512
    // covered the entire synthetic type space at every gate SF, so
    // n_oov was structurally 0 and the OOV path was never exercised
    // (r10 vacuity audit). Half the types guarantees real OOV tokens at
    // any SF; the 512 cap restores the fixed-budget semantics once the
    // corpus outgrows it. One 1-value driver read (the containment/
    // bloom corpus-relative device).
    val V = math.min(512L,
      math.max(toks.select("token").distinct().count() / 2, 1L)).toInt
    // df over distinct (doc, token); (df DESC, token ASC) is a total
    // order (token unique), so limit + row_number are deterministic.
    // The window is over the ≤V post-limit rows — bounded, not corpus.
    val vocab = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(V)
      .withColumn("id",
        row_number().over(Window.orderBy(desc("df"), asc("token"))))
      .select("token", "id")
    toks.join(broadcast(vocab), Seq("token"), "left")
      .withColumn("id", coalesce(col("id"), lit(0)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            p => p.getField("id").cast("string"))).as("ids"))
  }

  private val vocabEncodeSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token,
      |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
      |  FROM documents),
      |df AS (
      |  SELECT token, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
      |vocab AS (
      |  SELECT token,
      |    CAST(row_number() OVER (ORDER BY df DESC, token) AS INT) AS id
      |  FROM df ORDER BY df DESC, token
      |  LIMIT (SELECT least(512, greatest(count(*) // 2, 1)) FROM df)),
      |enc AS (
      |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
      |  FROM tok t LEFT JOIN vocab v USING (token))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
      |FROM enc GROUP BY 1""".stripMargin

  /** #77 BM25 relevance scoring (Robertson/Spärck Jones; k1=1.2,
    * b=0.75) of the corpus against a fixed query-term set — the
    * retrieval scorer that pairs with `q_inverted_index` and
    * `q_tfidf`. tf/df/dl are exact counts; N and avgdl ride one
    * broadcast scalar row; per-(doc,term) scores are single
    * deterministic double expressions off those exact ints, and the
    * cross-TERM sum runs in FIXED POINT (Σ ⌊score·1e9⌋ as long — the
    * `q_token_entropy` pattern, and long sums are associative, so the
    * column-wise row sum here is bit-identical to the oracle's
    * term-row sum). Plan shape: ONE doc_id-keyed corpus aggregate
    * carries dl and every per-term tf as columns (no (doc,term)
    * shuffle, no corpus join); N/Σdl/df ride one broadcast scalar row
    * whose subtree re-derives that aggregate — the standard global-
    * normalization second pass (as in q_tfidf); persist the per-doc
    * frame to trade memory for the rescan at very large corpora. */
  private def bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "merge", "vector")
    val k1 = 1.2; val b = 0.75
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
    // ONE corpus shuffle: per-doc length AND per-term tf in the same
    // map-side-combinable aggregate (the term set is a fixed column
    // list, so tf needs no (doc, term)-keyed second shuffle)
    val perDocAggs = Seq(count(lit(1)).as("dl")) ++
      terms.map(t => sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = toks.groupBy("doc_id").agg(perDocAggs.head, perDocAggs.tail: _*)
    // N, Σdl and every per-term df ride ONE broadcast scalar row
    val statAggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    // per-term fixed-point score — summed across COLUMNS of one row, and
    // longs are associative, so this is bit-identical to the oracle's
    // per-term-row sum
    val scoreFx = terms.map { t =>
      val tf = col(s"tf_$t").cast("double")
      val dfT = col(s"df_$t").cast("double")
      val idf = log(lit(1.0) + (nD - dfT + lit(0.5)) / (dfT + lit(0.5)))
      val denom = tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)
      when(col(s"tf_$t") > 0,
        floor(idf * (tf * lit(k1 + 1.0)) / denom * 1e9).cast("long"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val nTerms = terms.map(t =>
      when(col(s"tf_$t") > 0, 1L).otherwise(0L)).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("n_terms", nTerms)
      .filter(col("n_terms") >= 1)
      .select(col("doc_id"), col("n_terms"),
        round(scoreFx / lit(1e9), 6).as("bm25"))
  }

  private val bm25Sql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM tok
      |  WHERE token IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) /
      |              (CAST(df.df AS DOUBLE) + 0.5)) *
      |    (CAST(tf.tf AS DOUBLE) * 2.2) /
      |    (CAST(tf.tf AS DOUBLE) +
      |      1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) /
      |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS score
      |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  round(sum(CAST(floor(score * 1e9) AS BIGINT)) / 1e9, 6) AS bm25
      |FROM scored GROUP BY 1""".stripMargin

  /** #80 token co-occurrence PMI over the top-V vocabulary — the
    * corpus-statistics pass behind embedding/collocation training.
    * Candidate pairs come from a SELF-join per document restricted to
    * the BROADCAST 64-token vocabulary, so per-doc fan-out is bounded
    * by V(V−1)/2 whatever the document length, and the join is
    * co-partitioned on doc_id (one corpus shuffle — never all-pairs
    * across docs). c_x/c_y are exact dfs carried on the vocab rows;
    * PMI = ln(c_xy·N/(c_x·c_y)) is one deterministic double
    * expression off exact longs. Top-100 by (c_xy DESC, pair) is a
    * total order → deterministic cut, TakeOrderedAndProject (k-row
    * driver merge). */
  private def cooccurPmi(s: SparkSession, dir: String): DataFrame = {
    val V = 64; val topK = 100
    val docs = parallelize(s, t(s, dir, "documents"))
    val docToks = docs.select(col("doc_id"), explode(array_distinct(
      TextAnalysis.tokens(lower(col("text"))))).as("token"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val vocab = docToks.groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(V)
    val vToks = docToks.join(broadcast(vocab), Seq("token"))
    val pairs = vToks.as("a")
      .join(vToks.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .select(col("a.token").as("tok_x"), col("b.token").as("tok_y"),
        col("a.df").as("dfx"), col("b.df").as("dfy"))
      .groupBy("tok_x", "tok_y")
      .agg(count(lit(1)).as("c_xy"),
        max(col("dfx")).as("c_x"), max(col("dfy")).as("c_y"))
    pairs.crossJoin(broadcast(nDocs))
      .select(col("tok_x"), col("tok_y"), col("c_xy"),
        round(log(col("c_xy").cast("double") * col("n_docs").cast("double") /
          (col("c_x").cast("double") * col("c_y").cast("double"))), 6).as("pmi"))
      .orderBy(desc("c_xy"), asc("tok_x"), asc("tok_y")).limit(topK)
  }

  private val cooccurPmiSql =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |df AS (SELECT token, count(*) AS df FROM dt GROUP BY 1),
      |vocab AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT 64),
      |vt AS (SELECT dt.doc_id, dt.token, v.df FROM dt JOIN vocab v USING (token)),
      |p AS (
      |  SELECT a.token AS tok_x, b.token AS tok_y, count(*) AS c_xy,
      |    max(a.df) AS c_x, max(b.df) AS c_y
      |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
      |  GROUP BY 1, 2)
      |SELECT tok_x, tok_y, CAST(c_xy AS BIGINT) AS c_xy,
      |  round(ln(CAST(c_xy AS DOUBLE) * CAST((SELECT n_docs FROM n) AS DOUBLE) /
      |    (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))), 6) AS pmi
      |FROM p ORDER BY c_xy DESC, tok_x, tok_y LIMIT 100""".stripMargin

  /** #84 deterministic weighted sampling: P(keep) ∝ n_chars via a
    * fixed-hash priority (the Efraimidis–Spirakis shape with the random
    * draw replaced by the engine-portable fingerprint of the doc id —
    * reproducible across runs, engines, AND repartitioning). priority =
    * h/w as one double division off exact longs; the k smallest win, a
    * total order (priority, doc_id), so the cut is deterministic and
    * plans as TakeOrderedAndProject — per-partition top-k, k-row driver
    * merge, no global sort however large the corpus. */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        round(TextAnalysis.fingerprint(col("doc_id").cast("string")).cast("double") /
          col("n_chars").cast("double"), 6).as("priority"))
      .orderBy(asc("priority"), asc("doc_id")).limit(k)
  }

  private val weightedSampleSql =
    s"""SELECT doc_id, n_chars,
       |  round(CAST(list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(CAST(doc_id AS VARCHAR), ''),
       |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) AS DOUBLE) /
       |    CAST(n_chars AS DOUBLE), 6) AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT 100""".stripMargin

  /** #87 bigram language-model scoring — model-based quality filtering
    * (the CCNet/KenLM-style perplexity gate, expressed with an exact
    * in-corpus model): tokens map to a (V=256)+OOV id space, the corpus
    * bigram/context counts train in ONE map-side-combinable aggregate
    * (state bounded by (V+1)² however large the corpus), and each
    * document scores its adjacent-id pairs against the BROADCAST model
    * with add-α smoothing: p(w₂|w₁) = (c₁₂+α)/(c₁+α(V+1)), α=0.5.
    * Per-doc cross-entropy −Σln p / n accumulates in FIXED POINT
    * (Σ ⌊ln p·1e9⌋ longs — shuffle-order-proof). Pair construction is a
    * map-side zip of the id array with its own tail — no window, no
    * per-token shuffle beyond the id encode's doc regroup. */
  /** Per-document bigram-LM scores (doc_id, n_bigrams, __s) where `__s`
    * is the fixed-point Σ ⌊ln p·1e9⌋ — shared by #87 (cross-entropy
    * output) and #213 (perplexity-band bucketing); see #87's doc
    * comment for the model. */
  private def bigramDocScores(s: SparkSession, dir: String): DataFrame = {
    val V = 256; val alpha = 0.5
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text")))).as(Seq("pos", "token")))
    val vocab = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(V)
      .withColumn("id",
        row_number().over(Window.orderBy(desc("df"), asc("token"))))
      .select("token", "id")
    // adjacent-id pairs via lead() over the per-doc position order (a
    // bounded per-doc window) — the r13 form materialized each doc's
    // id ARRAY (collect_list + array_sort + an interpreted transform/
    // element_at lambda chain per position) and, unpersisted, ran that
    // whole pipeline TWICE (once for the model counts, once for the
    // scoring pass); the window builds the same (doc_id, id1, id2)
    // rows codegen'd, and the model and scoring passes both read its
    // one exchange, so the pipeline runs once
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0)).as("id1"))
      .withColumn("id2", lead(col("id1"), 1).over(w))
      .filter(col("id2").isNotNull)
      .select("doc_id", "id1", "id2")
    val bigrams = pairs.groupBy("id1", "id2").agg(count(lit(1)).as("c12"))
    val contexts = bigrams.groupBy("id1").agg(sum(col("c12")).as("c1"))
    val lnP = log((coalesce(col("c12"), lit(0L)).cast("double") + lit(alpha)) /
      (col("c1").cast("double") + lit(alpha * (V + 1))))
    pairs
      .join(broadcast(bigrams), Seq("id1", "id2"), "left")
      .join(broadcast(contexts), Seq("id1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(floor(lnP * lit(1e9)).cast("long")).as("__s"))
  }

  private def bigramLm(s: SparkSession, dir: String): DataFrame =
    bigramDocScores(s, dir)
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("__s").cast("double") / (lit(1e9) * col("n_bigrams").cast("double")), 6)
          .as("xent"))

  /** The tok→…→scored CTE chain shared by the #87 and #213 oracles. */
  private val bigramScoredCtes =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token,
      |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
      |  FROM documents),
      |df AS (
      |  SELECT token, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
      |vocab AS (
      |  SELECT token,
      |    CAST(row_number() OVER (ORDER BY df DESC, token) AS INT) AS id
      |  FROM df ORDER BY df DESC, token LIMIT 256),
      |ids AS (
      |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
      |  FROM tok t LEFT JOIN vocab v USING (token)),
      |pairs AS (
      |  SELECT a.doc_id, a.id AS id1, b.id AS id2
      |  FROM ids a JOIN ids b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |bg AS (SELECT id1, id2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
      |ctx AS (SELECT id1, sum(c12) AS c1 FROM bg GROUP BY 1),
      |scored AS (
      |  SELECT p.doc_id,
      |    ln((CAST(coalesce(bg.c12, 0) AS DOUBLE) + 0.5) /
      |       (CAST(ctx.c1 AS DOUBLE) + 128.5)) AS lnp
      |  FROM pairs p
      |  LEFT JOIN bg USING (id1, id2)
      |  JOIN ctx USING (id1))""".stripMargin

  private val bigramLmSql =
    s"""WITH $bigramScoredCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(-CAST(sum(CAST(floor(lnp * 1e9) AS BIGINT)) AS DOUBLE) /
       |    (1e9 * CAST(count(*) AS DOUBLE)), 6) AS xent
       |FROM scored GROUP BY 1""".stripMargin

  /** #88 representative examples per group via the native bounded
    * `topk_by` aggregate — the "show me the top docs per language"
    * inspection query, as an AGGREGATE rather than a window: state is
    * an O(k) heap per group (map-side partial, heap merge), so no
    * per-group sort of all rows and no rank window materializing every
    * row — the window-free top-N shape `q_topn_per_group` documents as
    * the alternative. Output order (score desc, id asc) matches the
    * oracle's row_number tie-break exactly. */
  private def groupExamples(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .groupBy("lang")
      .agg(graft.functions.TopKAggregate.topk_by(col("n_chars"), col("doc_id"), 3)
        .as("__top"))
      .select(col("lang"), posexplode(col("__top")).as(Seq("r", "e")))
      .select(col("lang"), (col("r") + 1).cast("int").as("rank"),
        col("e.id").as("doc_id"), col("e.score").cast("long").as("n_chars"))

  private val groupExamplesSql =
    """SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars
      |FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 3""".stripMargin

  /** #90 deterministic train/val/test split assignment — the dataset-
    * versioning primitive: membership must be a PURE FUNCTION of the
    * row (auditable after the fact, identical on any engine, stable
    * under repartitioning), never `randomSplit`, whose partition-seeded
    * RNG re-deals the split when the input re-partitions. Reuses the
    * systematic hash bucket from `Sampling` (98/1/1 by bucket range).
    * Map-only assignment + ONE map-side-combinable aggregate; the split
    * of any individual doc_id is re-derivable by hand from the formula. */
  private def trainSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("__b", Sampling.systematicBucket(col("doc_id"), 1000))
      .withColumn("split",
        when(col("__b") < 980, "train").when(col("__b") < 990, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))

  private val trainSplitSql =
    """SELECT CASE WHEN b < 980 THEN 'train' WHEN b < 990 THEN 'val'
      |            ELSE 'test' END AS split,
      |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM (SELECT lang, n_chars,
      |        ((doc_id % 1000003) * 1103515247 + 12345) % 1000 AS b
      |      FROM documents)
      |GROUP BY 1, 2""".stripMargin

  /** #92 curriculum percentile bucketing — assign every document to a
    * global-quartile difficulty bin of its length. The wrong plan is
    * `ntile() OVER (ORDER BY n_chars)`: an unpartitioned window, every
    * row through ONE reducer. Instead: exact interpolated quartile
    * BOUNDARIES via distributed rank selection (DistributedPercentiles —
    * O(partitions) driver state, the q_percentiles-proven DuckDB
    * quantile_cont pairing), broadcast the 1-row bounds, and bucket
    * map-only — the 100-TB scan never shuffles at all. */
  private def percentileBucket(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bounds = DistributedPercentiles.exact(
        docs.withColumn("__g", lit(1)), "__g", "n_chars",
        Seq(("q1", 0.25), ("q2", 0.5), ("q3", 0.75)))
      .select("q1", "q2", "q3")
    docs.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("n_chars") <= col("q1"), 0)
          .when(col("n_chars") <= col("q2"), 1)
          .when(col("n_chars") <= col("q3"), 2)
          .otherwise(3).cast("int"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
  }

  private val percentileBucketSql =
    """WITH b AS (
      |  SELECT quantile_cont(n_chars, 0.25) AS q1,
      |         quantile_cont(n_chars, 0.50) AS q2,
      |         quantile_cont(n_chars, 0.75) AS q3
      |  FROM documents)
      |SELECT lang,
      |  CAST(CASE WHEN n_chars <= q1 THEN 0 WHEN n_chars <= q2 THEN 1
      |            WHEN n_chars <= q3 THEN 2 ELSE 3 END AS INT) AS bucket,
      |  count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents CROSS JOIN b
      |GROUP BY 1, 2""".stripMargin

  /** #106 BPE merge-pair counting — one iteration of byte-pair-encoding
    * tokenizer training at corpus scale: adjacent character-pair
    * frequencies over the VOCABULARY (word types weighted by corpus
    * frequency, the standard BPE formulation), top candidates by count.
    * The corpus collapses to word types FIRST (one hash aggregate —
    * at 100 TB the type table is millions of rows, not trillions of
    * tokens), pairs explode map-side bounded by word length, and the
    * top-k cut is TakeOrderedAndProject (per-partition top-k, k-row
    * driver merge — no global sort). */
  private def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), asc("pair")).limit(20)
  }

  private val bpePairsSql =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY 1),
      |pk AS (
      |  SELECT w, freq, CAST(unnest(range(1, length(w))) AS INT) AS k
      |  FROM wf WHERE length(w) >= 2),
      |p AS (SELECT substr(w, k, 2) AS pair, freq FROM pk)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
      |FROM p GROUP BY 1
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** #107 language-ID confusion matrix — the classifier AUDIT every
    * curation pipeline owes its lang filter: predicted vs labeled
    * language counts in one aggregate over the map-only classifier
    * pass (q_lang_id's expression, reused verbatim — audit and
    * production can't drift apart). Off-diagonal mass localizes which
    * languages the marker heuristic confuses; 'und' columns expose its
    * abstention rate. */
  private def langConfusion(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_guess"))
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n"))

  private val langConfusionSql =
    s"""SELECT lang, lang_guess, count(*) AS n
       |FROM ($langIdSql) GROUP BY 1, 2""".stripMargin

  /** #113 Count-Min sketch frequency audit — the mergeable
    * constant-memory token-frequency sketch (heavy-hitter estimation
    * when the exact per-token groupBy is too wide to keep). The sketch
    * IS a DataFrame: d seeded polynomial hashes per token land in
    * (row, slot) cells via a constant d× map-side explode + ONE hash
    * aggregate — d·w rows total (here 3·512), mergeable across batches
    * by cell-wise sum, never a driver-side array. Estimates for the
    * top-10 exact tokens come from a broadcast probe join + min over
    * the d cells; the audit follows the q_approx_distinct pattern:
    * exact count, estimate, and the CM guarantee flag
    * (exact ≤ est ≤ exact + ⌈2N/w⌉ — the ε=2/w Markov bound) computed
    * identically on both engines. Hashes are the engine-portable
    * char fold seeded per row, so DuckDB replays the sketch bit-exact. */
  private def countMin(s: SparkSession, dir: String): DataFrame = {
    // the synthetic vocabulary is ~31 tokens: w=16 forces real slot
    // collisions (est > exact for some probes) so the audit is
    // non-vacuous, while the epsilon=2/w bound still pins every estimate
    val d = 3; val w = 16
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    def slotOf(tok: Column, i: Column): Column =
      pmod(graft.functions.NativeText.poly_fingerprint(tok,
        (i + 1).cast("long") * lit(1315423911L), TextAnalysis.FingerprintMod),
        lit(w.toLong))
    // ONE pass over the token stream collapses it to (token, freq)
    // TYPES; the sketch, the stream length, and the probes all derive
    // from that small relation (distinct tokens ≪ stream length) — the
    // d× explode and the hash fold run per TYPE, never per occurrence
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val probes = exact.orderBy(col("exact").desc, col("tok")).limit(10)
    val n = exact.agg(sum("exact").as("__n"))
    val sketch = exact
      .select(col("tok"), col("exact"), explode(array((0 until d).map(lit): _*)).as("i"))
      .select(col("exact"), col("i"), slotOf(col("tok"), col("i")).as("slot"))
      .groupBy("i", "slot").agg(sum("exact").as("cnt"))
    val probeCells = probes
      .select(col("tok"), col("exact"), explode(array((0 until d).map(lit): _*)).as("i"))
      .select(col("tok"), col("exact"), col("i"), slotOf(col("tok"), col("i")).as("slot"))
    sketch.join(broadcast(probeCells), Seq("i", "slot"))
      .groupBy("tok", "exact").agg(min("cnt").as("est"))
      .crossJoin(broadcast(n))
      .select(col("tok").as("token"), col("exact"), col("est"),
        (col("est") <= col("exact") + ceil(lit(2.0) * col("__n") / w).cast("long"))
          .as("within_bound"))
  }

  private val countMinSql = {
    val d = 3; val w = 16
    def slotSql(tok: String, i: String): String =
      s"list_reduce(list_prepend(($i + 1) * 1315423911, " +
        s"list_transform(string_split_regex($tok, ''), " +
        s"c -> CAST(coalesce(ascii(c), 0) AS BIGINT))), " +
        s"(a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) % $w"
    s"""WITH tk AS (
       |  SELECT tok FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE length(tok) > 0),
       |exact AS (SELECT tok, count(*) AS exact FROM tk GROUP BY 1),
       |probes AS (SELECT tok, exact FROM exact ORDER BY exact DESC, tok LIMIT 10),
       |n AS (SELECT count(*) AS n FROM tk),
       |sk AS (
       |  SELECT i, ${slotSql("tok", "i")} AS slot, count(*) AS cnt
       |  FROM tk CROSS JOIN range(0, $d) r(i) GROUP BY 1, 2),
       |pc AS (
       |  SELECT tok, exact, i, ${slotSql("tok", "i")} AS slot
       |  FROM probes CROSS JOIN range(0, $d) r(i)),
       |est AS (
       |  SELECT pc.tok, pc.exact, min(sk.cnt) AS est
       |  FROM pc JOIN sk ON sk.i = pc.i AND sk.slot = pc.slot
       |  GROUP BY 1, 2)
       |SELECT tok AS token, CAST(exact AS BIGINT) AS exact,
       |  CAST(est AS BIGINT) AS est,
       |  est <= exact + CAST(ceil(2.0 * n.n / $w) AS BIGINT) AS within_bound
       |FROM est CROSS JOIN n""".stripMargin
  }

  /** #114 per-source corpus cap — web-pipeline source balancing: no
    * single domain may contribute more than K documents, and which K
    * survive is a deterministic quality rank (longest first, ties →
    * lowest doc_id). The rank never materializes: the native `topk_by`
    * aggregate holds an O(K) heap per source (map-side partials, heap
    * merge — no window, no per-source sort of all rows), and the
    * surviving-id set — O(K·sources), the small side by construction —
    * broadcast-joins back against the corpus for the kept/capped
    * verdict. The 100-TB shape: one aggregate + one broadcast join,
    * however skewed the source distribution. */
  private def domainCap(s: SparkSession, dir: String): DataFrame = {
    // the fixture corpus has exactly 25 docs per source at every SF — a
    // cap of 15 provably bites (10 capped per source)
    val cap = 15
    val docs = parallelize(s, t(s, dir, "documents"))
    val kept = docs.groupBy("source")
      .agg(graft.functions.TopKAggregate.topk_by(
        col("n_chars").cast("double"), col("doc_id"), cap).as("top"))
      .select(explode(col("top.id")).as("doc_id"))
    docs.join(broadcast(kept.withColumn("__k", lit(1))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("__k").isNotNull.as("kept"))
  }

  private val domainCapSql =
    """SELECT doc_id, source, n_chars,
      |  row_number() OVER (PARTITION BY source
      |                     ORDER BY n_chars DESC, doc_id) <= 15 AS kept
      |FROM documents""".stripMargin

  /** #120 trigram-index substring search — `%pattern%` acceleration
    * (the pg_trgm idea, distributed): a LIKE scan reads every byte of a
    * 100-TB corpus; the trigram route explodes each document ONCE into
    * distinct char 3-grams, equi-joins the (tiny, broadcast) pattern
    * trigram set, and only documents containing ALL of a pattern's
    * trigrams (count == needed — necessary, not sufficient) reach the
    * exact `contains` verify. The full-text scan happens on candidates
    * only; the posting build is the reusable write-once index. Oracle:
    * DuckDB runs the plain LIKE scan — same result by construction,
    * which IS the claim (index accelerates, semantics unchanged). */
  private def trigramSearch(s: SparkSession, dir: String): DataFrame = {
    val patterns = Seq("join merge", "scan filter")
    val docs = parallelize(s, t(s, dir, "documents"))
    val tri = docs.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(1, greatest(length(lower(text)) - 2, 0)), " +
          "i -> substring(lower(text), i, 3))"))).as("__tg"))
    import s.implicits._
    val patTri = patterns.flatMap { p =>
      val tgs = p.sliding(3).toSeq.distinct
      tgs.map(tg => (p, tg, tgs.size))
    }.toDF("pattern", "__tg", "__need")
    val cand = tri.join(broadcast(patTri), Seq("__tg"))
      .groupBy("doc_id", "pattern", "__need")
      .agg(countDistinct(col("__tg")).as("__hit"))
      .filter(col("__hit") === col("__need"))
    cand.join(docs.select(col("doc_id"), lower(col("text")).as("__lt")), Seq("doc_id"))
      .filter(expr("instr(__lt, pattern) > 0"))
      .select(col("pattern"), col("doc_id"))
  }

  private val trigramSearchSql =
    """SELECT p.pattern, d.doc_id
      |FROM documents d
      |CROSS JOIN (VALUES ('join merge'), ('scan filter')) p(pattern)
      |WHERE contains(lower(d.text), p.pattern)""".stripMargin

  /** #131 empirical-Bayes rate shrinkage — ranking sources by a quality
    * RATE when some have few samples: raw rates k/n get pulled toward
    * the corpus prior by a method-of-moments Beta fit, so a 3-for-3
    * source stops outranking a 240-for-250 one. The discipline is the
    * house exact-moment rule: per-source (k, n) and the cross-source
    * Σk, Σk² fold as exact longs in TWO tiny aggregates; every double
    * (μ, var, α, β, the shrunk rates) lives in the final deterministic
    * projection — bit-stable under any partitioning. */
  private def rateShrinkage(s: SparkSession, dir: String): DataFrame = {
    val thresh = 300
    val per = parallelize(s, t(s, dir, "documents"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") >= thresh, 1L).otherwise(0L)).as("k"))
    val mom = per.agg(count(lit(1)).as("__m"), sum("n").as("__sn"),
      sum("k").as("__sk"), sum(col("k") * col("k")).as("__skk"),
      // per-source n is constant in the fixtures; keep the general form
      max("n").as("__nmax"))
    val m = col("__m").cast("double")
    val nPer = col("__nmax").cast("double")
    val mu = col("__sk").cast("double") / (m * nPer)
    val rbar2 = col("__skk").cast("double") / (m * nPer * nPer)
    val v = (rbar2 - m * mu * mu / m) * (m / (m - 1.0))
    val apb = mu * (lit(1.0) - mu) / v - 1.0
    per.crossJoin(broadcast(mom))
      .select(col("source"), col("n"), col("k"),
        round(col("k").cast("double") / col("n").cast("double"), 6).as("rate"),
        round((col("k").cast("double") + greatest(apb, lit(0.0)) * mu) /
          (col("n").cast("double") + greatest(apb, lit(0.0))), 6).as("shrunk"))
  }

  private val rateShrinkageSql =
    """WITH per AS (
      |  SELECT source, count(*) AS n,
      |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM documents GROUP BY 1),
      |mom AS (
      |  SELECT count(*) AS m, sum(n) AS sn, sum(k) AS sk, sum(k * k) AS skk,
      |    max(n) AS nmax
      |  FROM per)
      |SELECT source, n, k,
      |  round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
      |  round(
      |    (CAST(k AS DOUBLE) + greatest(
      |       (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) *
      |       (1.0 - CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) /
      |       ((CAST(skk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE) * CAST(nmax AS DOUBLE)) -
      |         CAST(m AS DOUBLE) * (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) *
      |         (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) / CAST(m AS DOUBLE)) *
      |        (CAST(m AS DOUBLE) / (CAST(m AS DOUBLE) - 1.0))) - 1.0, 0.0) *
      |       (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE)))) /
      |    (CAST(n AS DOUBLE) + greatest(
      |       (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) *
      |       (1.0 - CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) /
      |       ((CAST(skk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE) * CAST(nmax AS DOUBLE)) -
      |         CAST(m AS DOUBLE) * (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) *
      |         (CAST(sk AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(nmax AS DOUBLE))) / CAST(m AS DOUBLE)) *
      |        (CAST(m AS DOUBLE) / (CAST(m AS DOUBLE) - 1.0))) - 1.0, 0.0)),
      |  6) AS shrunk
      |FROM per CROSS JOIN mom""".stripMargin

  /** #148 temperature-scaled source mixing weights (T=2 ⇒ p ∝ √share —
    * the mC4/XLM-R multilingual-sampling trick): upweights the tail
    * sources a proportional sample would starve. ONE corpus pass
    * (map-side whitespace token counts → a per-source aggregate);
    * everything after is O(sources). The √ weight is pinned through
    * the hash gate as FIXED POINT: `floor(sqrt(tokens)·1e6)` — sqrt of
    * an exact-integer double is IEEE-correctly-rounded, identical on
    * both engines, and the long weights then sum exactly. Shares and
    * the upsample factor are final-projection doubles against the
    * broadcast 1-row totals. */
  private def mixingWeights(s: SparkSession, dir: String): DataFrame = {
    val bySource = t(s, dir, "documents")
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("__toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__toks").as("tokens"))
      .withColumn("__w",
        floor(sqrt(col("tokens").cast("double")) * lit(1000000.0)).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = bySource.agg(sum("tokens").as("__tt"), sum("__w").as("__tw"))
    bySource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens").cast("double") / col("__tt").cast("double"), 6)
          .as("raw_share"),
        round(col("__w").cast("double") / col("__tw").cast("double"), 6)
          .as("temp_share"),
        round((col("__w").cast("double") / col("__tw").cast("double"))
          / (col("tokens").cast("double") / col("__tt").cast("double")), 6)
          .as("upsample"))
  }

  private val mixingWeightsSql =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(toks) AS BIGINT) AS tokens
      |      FROM d GROUP BY 1),
      |w AS (SELECT source, n_docs, tokens,
      |        CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS wfp
      |      FROM g),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt,
      |        CAST(sum(wfp) AS BIGINT) AS tw FROM w)
      |SELECT source, n_docs, tokens,
      |  round(CAST(tokens AS DOUBLE) / CAST(t.tt AS DOUBLE), 6) AS raw_share,
      |  round(CAST(wfp AS DOUBLE) / CAST(t.tw AS DOUBLE), 6) AS temp_share,
      |  round((CAST(wfp AS DOUBLE) / CAST(t.tw AS DOUBLE))
      |        / (CAST(tokens AS DOUBLE) / CAST(t.tt AS DOUBLE)), 6) AS upsample
      |FROM w, t""".stripMargin

  /** #149 Zipf law fit — "does this corpus look like natural
    * language?": OLS of log-frequency on log-rank over the top-200
    * corpus terms; natural text slopes ≈ −1, templated/synthetic text
    * flattens or cliffs. The corpus-sized work is ONE term-frequency
    * aggregate + a TakeOrderedAndProject top-k; the rank window and
    * the regression run over the BOUNDED 200-row survivor set (the
    * q_heavy_hitters discipline — k-row state, never a global window
    * over the vocabulary). Log coordinates go through the
    * q_token_entropy fixed point (⌊ln·1e6⌋ longs), so the OLS moments
    * fold exactly; slope/R² are final-projection doubles (the ·1e6
    * scale cancels in the ratio). */
  private def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val topK = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(200)
    val ranked = topK
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("freq"), asc("token"))).cast("long"))
      .select(floor(log(col("rk")) * 1e6).cast("long").as("__x"),
        floor(log(col("freq")) * 1e6).cast("long").as("__y"))
    val m = ranked.agg(count(lit(1)).as("n_terms"), sum("__x").as("sx"),
      sum("__y").as("sy"), sum(col("__x") * col("__y")).as("sxy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"))
    val n = col("n_terms").cast("double")
    val cov = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n_terms"), round(cov / vx, 6).as("zipf_slope"),
      round(cov * cov / (vx * vy), 6).as("r2"))
  }

  private val zipfFitSql =
    s"""WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok
      |       GROUP BY 1 ORDER BY freq DESC, token LIMIT 200),
      |r AS (SELECT freq,
      |        CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rk
      |      FROM tf),
      |c AS (SELECT ${lnQ("rk")} AS x,
      |        ${lnQ("freq")} AS y
      |      FROM r),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y * y) AS BIGINT) AS syy
      |      FROM c)
      |SELECT n_terms,
      |  round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
      |  round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        * (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / ((CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |           * (CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
      |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
      |FROM m""".stripMargin

  /** #152 Pareto-front (skyline) of documents maximizing BOTH length
    * and lexical diversity — the multi-objective "best corpus
    * exemplars" query (no single point dominates a skyline member on
    * both axes). The classic skyline is an all-pairs dominance scan;
    * here the 2-D structure collapses it to ONE aggregate plus the
    * distributed exclusive prefix max: per distinct length keep the
    * best token count (O(distinct lengths) rows), scan lengths in
    * DESCENDING order (the negated key) with `PrefixSum.
    * runningMaxExclusive` — two-phase, O(partitions) driver combine,
    * never a single-reducer window — and a length survives iff its
    * best beats every longer length's best. Survivors are O(skyline)
    * and broadcast back; the corpus is scanned once plus one
    * broadcast-join pass, with NO quadratic stage anywhere. The oracle
    * is the INDEPENDENT O(n²) `NOT EXISTS` dominance scan, so the
    * fast path is checked against the definition, not a replay. */
  private def skyline(s: SparkSession, dir: String): DataFrame = {
    val d = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(TextAnalysis.tokens(lower(col("text")))))
          .cast("long").as("n_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = d.groupBy("n_chars").agg(max("n_toks").as("best"))
      .withColumn("__ord", -col("n_chars"))
    val sk = PrefixSum.runningMaxExclusive(m, "__ord", "best", "prev_best")
      .filter(col("prev_best").isNull || col("best") > col("prev_best"))
      .select(col("n_chars").as("__nc"), col("best"))
    d.join(broadcast(sk),
        col("n_chars") === col("__nc") && col("n_toks") === col("best"))
      .select("doc_id", "n_chars", "n_toks")
  }

  private val skylineSql =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
      |         AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT a.doc_id, a.n_chars, a.n_toks FROM d a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM d b
      |  WHERE b.n_chars >= a.n_chars AND b.n_toks >= a.n_toks
      |    AND (b.n_chars > a.n_chars OR b.n_toks > a.n_toks))""".stripMargin

  /** #160 BPE tokenizer TRAINING — K=5 merge rounds at corpus scale,
    * extending q_bpe_pairs (one counting round) to the full iterative
    * loop every in-house tokenizer build runs. Scale shape: the corpus
    * collapses to WORD TYPES first (one hash aggregate — millions of
    * rows at 100 TB, not trillions of tokens) and every round is one
    * bounded-fanout pair count over the type table + a 1-ROW collect
    * (the argmax pair; driver state is O(K), the IVF-centroid
    * precedent). Words carry a space-delimited symbol string; a merge
    * applies as literal `replace` of ` a b ` with ` ab ` run TWICE —
    * replace scans left-to-right non-overlapping (identically in both
    * engines), and the second pass picks up the pair straddling a
    * replacement boundary in even runs (for runs ≥5 of one symbol the
    * token POSITIONS can differ from canonical greedy BPE, the counts
    * don't — the semantics is "two-pass replace", deterministic and
    * engine-portable). Ties break (count desc, pair asc) so the merge
    * table is a total order; the oracle replays all K rounds UNROLLED
    * in SQL. */
  /** Shared BPE training loop: returns the K merges AND the final
    * merged word-type table (rep, freq) for the apply side. */
  private def bpeMergeLoop(s: SparkSession, dir: String, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var cur = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("rep"),
        col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to k) {
      val best = cur
        .select(col("freq"), expr("filter(split(rep, ' '), x -> x <> '')").as("l"))
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(l) - 1), " +
            "i -> struct(element_at(l, i) AS a, element_at(l, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()(0)
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((i, a, b, cnt))
      val merged = call_function("replace",
        call_function("replace", col("rep"), lit(s" $a $b "), lit(s" $a$b ")),
        lit(s" $a $b "), lit(s" $a$b "))
      cur = cur.select(merged.as("rep"), col("freq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    (merges.result(), cur)
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeMergeLoop(s, dir, 5)
    import s.implicits._
    merges.toDF("merge_idx", "sym_a", "sym_b", "cnt")
  }

  /** The unrolled K=5 oracle CTE chain (w0→w5 + per-round argmaxes),
    * shared by the train oracle (reads b1..b5) and the apply oracle
    * (reads w5). */
  private val bpeChainSql: String = {
    // every CTE MATERIALIZED: the w0→w5 chain re-evaluates exponentially
    // under DuckDB's default inlining (each round references its
    // predecessor several times) — materialization makes the replay
    // O(K) passes like the Spark side
    val base =
      """WITH w0 AS MATERIALIZED (
        |  SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS rep,
        |    CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1)""".stripMargin
    val rounds = (1 to 5).map { i =>
      val (p, b, wPrev, wCur) = (s"p$i", s"b$i", s"w${i - 1}", s"w$i")
      s"""$p AS MATERIALIZED (
         |  SELECT l[j] AS a, l[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT l, freq, unnest(generate_series(1, len(l) - 1)) AS j
         |        FROM (SELECT list_filter(string_split(rep, ' '), x -> x <> '') AS l,
         |                     freq FROM $wPrev))
         |  GROUP BY 1, 2),
         |$b AS MATERIALIZED (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1),
         |$wCur AS MATERIALIZED (
         |  SELECT replace(replace(rep,
         |      ' ' || (SELECT a FROM $b) || ' ' || (SELECT b FROM $b) || ' ',
         |      ' ' || (SELECT a FROM $b) || (SELECT b FROM $b) || ' '),
         |      ' ' || (SELECT a FROM $b) || ' ' || (SELECT b FROM $b) || ' ',
         |      ' ' || (SELECT a FROM $b) || (SELECT b FROM $b) || ' ') AS rep,
         |    freq FROM $wPrev)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  private val bpeTrainSql: String = {
    val out = (1 to 5).map { i =>
      s"SELECT CAST($i AS INT) AS merge_idx, a AS sym_a, b AS sym_b, cnt FROM b$i"
    }.mkString("\nUNION ALL ")
    s"$bpeChainSql\n$out"
  }

  /** #161 Simpson concentration index of sources per language — the
    * corpus-composition audit ("is this language dominated by one
    * crawl source?") behind source-mixing decisions. Two hash
    * aggregates, both map-side combinable: (lang, source) counts, then
    * the per-lang fold Σnᵢ(nᵢ−1)/(N(N−1)) entirely in exact integers
    * (DECIMAL(38,0) — a 1e9-doc language squares past BIGINT), ppm by
    * integral division. Single-doc languages are excluded (the index
    * is undefined at N=1) identically on both engines. */
  private def simpson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_sources"),
        expr("""(CAST(sum(n * (n - 1)) AS DECIMAL(38,0)) * 1000000)
               | div (CAST(sum(n) AS DECIMAL(38,0)) * (sum(n) - 1))
               |""".stripMargin.replace("\n", " ")).as("simpson_ppm"))
      .filter(col("n_docs") > 1)

  private val simpsonSql =
    """WITH d AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  CAST((CAST(sum(n * (n - 1)) AS HUGEINT) * 1000000)
      |       // (CAST(sum(n) AS HUGEINT) * (sum(n) - 1)) AS BIGINT)
      |    AS simpson_ppm
      |FROM d GROUP BY 1 HAVING sum(n) > 1""".stripMargin

  /** #163 BPE tokenizer APPLY — the inference side of q_bpe_train:
    * re-tokenize the corpus under the 5 trained merges and report the
    * top-20 vocabulary tokens by corpus frequency. At scale this is
    * the shape that matters: training collects O(K) driver state, but
    * apply is a MAP-ONLY pass (the merge table rides into the literal
    * replace chain; no shuffle until the final count), and the top-20
    * cut is TakeOrderedAndProject. Token frequency folds word-type
    * counts (freq-weighted), exact integers. Oracle replays the same
    * chain (shared MATERIALIZED CTEs) and unnests the final symbol
    * table. */
  private def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeMergeLoop(s, dir, 5)
    words
      .select(col("freq"),
        explode(expr("filter(split(rep, ' '), x -> x <> '')")).as("token"))
      .groupBy("token").agg(sum("freq").as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(20)
  }

  private val bpeApplySql: String =
    s"""$bpeChainSql
       |SELECT tok AS token, CAST(sum(freq) AS BIGINT) AS freq
       |FROM (SELECT unnest(list_filter(string_split(rep, ' '), x -> x <> '')) AS tok,
       |             freq FROM w5)
       |GROUP BY 1 ORDER BY freq DESC, token LIMIT 20""".stripMargin

  /** #165 capture-recapture coverage estimate (Chapman) — "how many
    * documents does the full population hold, given two independent
    * crawls?": two deterministic capture slices, overlap via one
    * aggregate, N̂ = (n₁+1)(n₂+1)/(m+1) − 1 in exact integral
    * arithmetic, plus the true count and the estimator's signed error
    * in ppm — the audit for crawl/dedup recall claims. One map-only
    * pass over the id column; O(1) output. */
  private def captureRecapture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .agg(count(lit(1)).as("n_true"),
        sum((col("doc_id") % 3 === 0).cast("long")).as("n1"),
        sum((col("doc_id") % 5 < 2).cast("long")).as("n2"),
        sum((col("doc_id") % 3 === 0 && col("doc_id") % 5 < 2).cast("long"))
          .as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        expr("(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)) div (m + 1) - 1")
          .as("n_hat"),
        expr("""(((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)) div (m + 1) - 1 - n_true)
               | * 1000000) div n_true""".stripMargin.replace("\n", " "))
          .as("err_ppm"))

  private val captureRecaptureSql =
    """WITH c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_true,
      |    CAST(count(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT) AS n1,
      |    CAST(count(*) FILTER (WHERE doc_id % 5 < 2) AS BIGINT) AS n2,
      |    CAST(count(*) FILTER (WHERE doc_id % 3 = 0 AND doc_id % 5 < 2) AS BIGINT)
      |      AS m
      |  FROM documents)
      |SELECT n_true, n1, n2, m,
      |  CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1 AS BIGINT) AS n_hat,
      |  CAST((((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1 - n_true)
      |        * 1000000) // n_true AS BIGINT) AS err_ppm
      |FROM c""".stripMargin

  /** #177 cross-source vocabulary overlap (pairwise Jaccard) — "how
    * lexically similar are my corpus sources?", the corpus-mixing
    * diagnostic that pairs with #148's temperature weights. The
    * per-source vocabulary collapses to DISTINCT (source, token) once;
    * the pairwise intersection is a token-keyed join whose fan-out is
    * bounded by #sources² PER TOKEN (a stopword costs C(S,2) rows, not
    * a posting list); sizes are O(sources) and broadcast. Jaccard is
    * ppm fixed point over exact set sizes. */
  private def sourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    vocab.as("a")
      .join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("""(CAST(n_common AS DECIMAL(38,0)) * 1000000)
               | div (n_a + n_b - n_common)""".stripMargin.replace("\n", " "))
          .cast("long").as("jaccard_ppm"))
  }

  private val sourceJaccardSql =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |v AS (SELECT DISTINCT source, tok FROM tok),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
      |c AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(count(*) AS BIGINT) AS n_common
      |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
      |  CAST((CAST(n_common AS HUGEINT) * 1000000)
      |       // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_ppm
      |FROM c JOIN sz sa ON sa.source = src_a
      |       JOIN sz sb ON sb.source = src_b""".stripMargin

  /** #183 dataset card — the per-source summary block a training-data
    * release ships (docs, chars, tokens, language mix, dominant
    * language share). One tokenizing pass collapses to O(source×lang)
    * rows; the dominant language is an O(1) `min(struct(-count,
    * lang))` agg state per source (argmax with a total asc-lang
    * tie-break — never a per-source sort); shares are ppm fixed point
    * over exact counts. */
  private def dataCard(s: SparkSession, dir: String): DataFrame = {
    val byLang = parallelize(s, t(s, dir, "documents"))
      .select(col("source"), col("lang"), col("n_chars"),
        TextAnalysis.tokenCount(lower(col("text"))).cast("long").as("__t"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"),
        sum("__t").as("toks"))
    byLang.groupBy("source")
      .agg(sum("docs").as("n_docs"), count(lit(1)).as("n_langs"),
        sum("chars").as("total_chars"), sum("toks").as("total_tokens"),
        min(struct((-col("docs")).as("nc"), col("lang").as("l"))).as("__top"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_chars"), col("total_tokens"),
        col("__top.l").as("top_lang"),
        expr("(-__top.nc * 1000000) div n_docs").as("top_lang_ppm"),
        expr("total_chars div n_docs").as("mean_chars"))
  }

  private val dataCardSql =
    """WITH bl AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(n_chars) AS BIGINT) AS chars,
      |    CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY 1, 2),
      |top AS (
      |  SELECT source, lang, docs,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY docs DESC, lang) AS rn
      |  FROM bl)
      |SELECT b.source, CAST(sum(b.docs) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_langs,
      |  CAST(sum(b.chars) AS BIGINT) AS total_chars,
      |  CAST(sum(b.toks) AS BIGINT) AS total_tokens,
      |  max(CASE WHEN t.rn = 1 THEN t.lang END) AS top_lang,
      |  CAST(max(CASE WHEN t.rn = 1 THEN t.docs END) * 1000000
      |       // sum(b.docs) AS BIGINT) AS top_lang_ppm,
      |  CAST(sum(b.chars) // sum(b.docs) AS BIGINT) AS mean_chars
      |FROM bl b JOIN top t ON b.source = t.source AND b.lang = t.lang
      |GROUP BY 1""".stripMargin

  /** #187 reciprocal-rank fusion — merge two retrieval rankings
    * (length-prior and token-count here; BM25/ANN lists in production)
    * into one fused ordering: RRF(d) = Σ 1/(60+rank_i(d)). Both ranks
    * come from the distributed two-phase scan
    * (`PrefixSum.withGlobalRank` — never a single-reducer row_number
    * window); the fusion is exact integer ppm (truncating division on
    * both engines); the final cut plans as TakeOrderedAndProject —
    * per-partition top-k, k-row driver merge, no global sort. */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(lower(col("text"))).cast("long").as("__t"))
    val ra = PrefixSum.withGlobalRank(
      docs.withColumn("__negc", -col("n_chars")),
      Seq("__negc", "doc_id"), "rank_chars").drop("__negc")
    val rb = PrefixSum.withGlobalRank(
      ra.withColumn("__negt", -col("__t")),
      Seq("__negt", "doc_id"), "rank_tokens").drop("__negt", "__t", "n_chars")
    rb.select(col("doc_id"), col("rank_chars"), col("rank_tokens"),
        (expr("1000000 div (60 + rank_chars)")
          + expr("1000000 div (60 + rank_tokens)")).as("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(100)
  }

  private val rrfFusionSql =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
      |      AS t
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
      |      AS rank_chars,
      |    CAST(row_number() OVER (ORDER BY t DESC, doc_id) AS BIGINT)
      |      AS rank_tokens
      |  FROM d)
      |SELECT doc_id, rank_chars, rank_tokens,
      |  CAST(1000000 // (60 + rank_chars)
      |       + 1000000 // (60 + rank_tokens) AS BIGINT) AS rrf_ppm
      |FROM r ORDER BY rrf_ppm DESC, doc_id LIMIT 100""".stripMargin

  /** The four curation-gate signals, shared by #193 (per-reason
    * counts) and #200 (the funnel's accept predicate) so the two
    * queries cannot drift; the SQL fragment mirrors them for both
    * oracles. */
  private def gateAlphaCount: Column =
    length(regexp_replace(lower(col("text")), "[^a-z]", ""))

  private def gateDigitCount: Column =
    length(regexp_replace(col("text"), "[^0-9]", ""))

  private def gateReject: Column =
    col("n_chars") < 100 || col("n_chars") > 20000 ||
      gateAlphaCount * 2 < col("n_chars") ||
      gateDigitCount * 10 > col("n_chars") * 3

  private val gateRejectSql: String =
    "(n_chars < 100 OR n_chars > 20000" +
      " OR length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 2 < n_chars" +
      " OR length(regexp_replace(text, '[^0-9]', '', 'g')) * 10 > n_chars * 3)"

  /** #193 quality gate — the reason-coded accept/reject filter a
    * curation pipeline runs first (and must EXPLAIN: per-reason
    * rejection counts drive threshold tuning). All four signals are
    * map-side integer arithmetic off one projection (engine-portable
    * regex counts — the q_pii_scrub parity rules); a document can trip
    * several reasons, so the per-reason counts are independent sums,
    * not a partition; one bounded final aggregate.
    *
    * Three PLANTED violators (one per reason the shipped corpus never
    * trips: too-long, low-alpha, digit-heavy) keep every reason counter
    * non-vacuous at each SF — the r9 containment/bloom device: the gate
    * must be seen to FIRE, or an all-zero counter and a broken counter
    * are indistinguishable. Constant 3 probe rows, engine-identical
    * via repeat(). */
  private def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val alpha = gateAlphaCount
    val digit = gateDigitCount
    val planted = s.range(1).select(
      expr("repeat('ab', 10500)").as("text"))   // 21000 chars: too-long
      .unionAll(s.range(1).select(
        expr("repeat('. ', 60)").as("text")))   // 120 chars, 0 alpha: low-alpha
      .unionAll(s.range(1).select(
        expr("repeat('1a', 60)").as("text")))   // 120 chars, half digits: digit-heavy
      .select(col("text"), length(col("text")).cast("long").as("n_chars"))
    t(s, dir, "documents").select(col("text"), col("n_chars"))
      .unionAll(planted)
      .select(
        (col("n_chars") < 100).as("f_short"),
        (col("n_chars") > 20000).as("f_long"),
        (alpha * 2 < col("n_chars")).as("f_low_alpha"),
        (digit * 10 > col("n_chars") * 3).as("f_digit_heavy"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("f_short") && !col("f_long") && !col("f_low_alpha")
          && !col("f_digit_heavy"), 1L).otherwise(0L)).as("n_accepted"),
        sum(col("f_short").cast("long")).as("n_too_short"),
        sum(col("f_long").cast("long")).as("n_too_long"),
        sum(col("f_low_alpha").cast("long")).as("n_low_alpha"),
        sum(col("f_digit_heavy").cast("long")).as("n_digit_heavy"))
  }

  private val qualityGateSql =
    """WITH corpus AS (
      |  SELECT text, n_chars FROM documents
      |  UNION ALL
      |  SELECT t, CAST(length(t) AS BIGINT)
      |  FROM (VALUES (repeat('ab', 10500)), (repeat('. ', 60)),
      |               (repeat('1a', 60))) v(t)),
      |f AS (
      |  SELECT n_chars < 100 AS f_short, n_chars > 20000 AS f_long,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 2
      |      < n_chars AS f_low_alpha,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 10
      |      > n_chars * 3 AS f_digit_heavy
      |  FROM corpus)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN NOT f_short AND NOT f_long AND NOT f_low_alpha
      |                 AND NOT f_digit_heavy THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_accepted,
      |  CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
      |  CAST(sum(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
      |  CAST(sum(CASE WHEN f_low_alpha THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low_alpha,
      |  CAST(sum(CASE WHEN f_digit_heavy THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_digit_heavy
      |FROM f""".stripMargin

  /** #195 tokenizer fertility — tokens-per-word by language, the
    * fertility audit every multilingual training run does before
    * fixing a tokenizer (high fertility = the tokenizer fragments that
    * language; drives vocab rebalancing). Both counts are map-side off
    * ONE projection (whitespace words vs BPE-ish pre-tokens — the
    * q_token_count parity rules); one label-domain-bounded groupBy;
    * fertility in ppm over exact sums. */
  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    parallelize(s, t(s, dir, "documents"))
      .select(col("lang"),
        TextAnalysis.tokenCount(lower(col("text"))).cast("long").as("__w"),
        size(TextAnalysis.bpeTokens(lower(col("text")))).cast("long").as("__b"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("__w").as("n_words"),
        sum("__b").as("n_tokens"))
      .withColumn("fertility_ppm", expr("(n_tokens * 1000000) div n_words"))
  }

  private val tokenizerFertilitySql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
      |    AS BIGINT) AS n_words,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
      |    AS BIGINT) AS n_tokens,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
      |       * 1000000
      |       // sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
      |    AS BIGINT) AS fertility_ppm
      |FROM documents GROUP BY 1""".stripMargin

  /** #196 prefix autocomplete index — top-3 completions per 3-char
    * token prefix by corpus frequency, the suggest-as-you-type index a
    * search box builds offline. Token TYPES collapse first (the BPE
    * discipline: one corpus-scale aggregate, then everything downstream
    * is O(vocab)); the per-prefix cut is a row_number window over that
    * vocab-bounded frame PARTITIONED by prefix — bounded by the type
    * count per prefix, never event-scale. Tie-break (count desc, token
    * asc) is total on both engines. */
  private def prefixAutocomplete(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("prefix")
      .orderBy(col("cnt").desc, col("token"))
    parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) >= 3)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("prefix", substring(col("token"), 1, 3))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("prefix"), col("rank"), col("token"), col("cnt"))
  }

  private val prefixAutocompleteSql =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok WHERE length(token) >= 3 GROUP BY 1),
      |r AS (
      |  SELECT substring(token, 1, 3) AS prefix, token, cnt,
      |    CAST(row_number() OVER (PARTITION BY substring(token, 1, 3)
      |                            ORDER BY cnt DESC, token) AS INT) AS rank
      |  FROM c)
      |SELECT prefix, rank, token, cnt FROM r WHERE rank <= 3""".stripMargin

  /** #200 corpus build — the END-TO-END curation funnel run as one
    * query: quality gate (#193's signals) → exact dedup (md5
    * fingerprint, min-id survivor — #16's discipline) → sequence
    * packing (#47's `PrefixSum.packByBudget`, 2048-token bins), with
    * the per-stage funnel counts every corpus release report leads
    * with. Every stage is the already-proven scale shape: map-side
    * gate, one hash-groupBy dedup (min-struct state, no window), the
    * two-phase distributed prefix scan for pack assignment; stage
    * totals are 1-row broadcasts. The oracle replays the identical
    * funnel in CTEs. */
  private def corpusBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
    val accepted = docs
      .filter(!gateReject)
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"),
        TextAnalysis.tokenCount(lower(col("text"))).cast("long").as("ntok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: the prefix scan underneath packByBudget executes its
    // input twice, in the range-bound sample and the shuffle's map stage
    // (PrefixSum.orderedScan) — without the persist each of them re-runs
    // the dedup aggregation off the shuffle files
    val unique = accepted.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("ntok"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.ntok").as("ntok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val packed = PrefixSum.packByBudget(unique, "doc_id", "ntok", 2048L)
    val stats = packed.agg(count(lit(1)).as("n_unique"),
      sum("ntok").as("n_tokens"),
      countDistinct(col("pack_id")).as("n_packs"))
    val nIn = docs.agg(count(lit(1)).as("__in"))
    val nAcc = accepted.agg(count(lit(1)).as("__acc"))
    stats.crossJoin(broadcast(nIn)).crossJoin(broadcast(nAcc))
      .select(col("__in").as("n_input"), col("__acc").as("n_accepted"),
        col("n_unique"), col("n_tokens"), col("n_packs"),
        expr("((__acc - n_unique) * 1000000) div __acc").as("dup_ppm"),
        expr("(n_unique * 1000000) div __in").as("yield_ppm"))
  }

  private val corpusBuildSql =
    s"""WITH g AS (
      |  SELECT doc_id, text, $gateRejectSql AS rej
      |  FROM documents),
      |a AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
      |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
      |      AS ntok
      |  FROM g WHERE NOT rej),
      |u AS (
      |  SELECT min(doc_id) AS doc_id,
      |    min_by(ntok, doc_id) AS ntok
      |  FROM a GROUP BY fp),
      |p AS (
      |  SELECT doc_id, ntok,
      |    sum(ntok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM u),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_unique,
      |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT CAST((cum - ntok) // 2048 AS BIGINT)) AS BIGINT)
      |      AS n_packs
      |  FROM p),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_input FROM documents),
      |acc AS (SELECT CAST(count(*) AS BIGINT) AS n_accepted FROM a)
      |SELECT tot.n_input, acc.n_accepted, st.n_unique, st.n_tokens, st.n_packs,
      |  CAST(((acc.n_accepted - st.n_unique) * 1000000) // acc.n_accepted
      |    AS BIGINT) AS dup_ppm,
      |  CAST((st.n_unique * 1000000) // tot.n_input AS BIGINT) AS yield_ppm
      |FROM st, tot, acc""".stripMargin

  /** #207 deterministic reservoir sample — a fixed-size (k=5) uniform
    * sample per language stratum, reproducible across runs and engines:
    * "random" order is the multiplicative hash of doc_id (the #185/#204
    * primitive), so the sample is the k hash-smallest docs per stratum —
    * exactly the bottom-k-of-a-uniform-hash formulation of reservoir
    * sampling, with none of the sequential-stream state. TWO-PHASE
    * top-k: a first window partitioned by (stratum × 64 hash buckets)
    * cuts each bucket to k (bounded frames at any stratum size —
    * losslessly contains the global top-k), then the final rank runs
    * over ≤ 64·k survivors per stratum. */
  private def reservoirSample(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("lang"), col("doc_id"), expr(multHashExpr("doc_id")).as("__h"))
      .withColumn("__b", pmod(col("__h"), lit(64)))
    val w1 = Window.partitionBy("lang", "__b").orderBy("__h", "doc_id")
    val pre = docs.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
    val w2 = Window.partitionBy("lang").orderBy("__h", "doc_id")
    pre.withColumn("rank", row_number().over(w2).cast("int"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"))
  }

  private val reservoirSampleSql =
    s"""SELECT lang, CAST(rank AS INT) AS rank, doc_id FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
       |  FROM (SELECT lang, doc_id, ${multHashDuck("doc_id")} AS h
       |        FROM documents))
       |WHERE rank <= 5""".stripMargin

  /** #208 stratified k-fold split audit — 5-fold assignment by the
    * multiplicative hash of doc_id (deterministic: replays identically
    * on any engine, any run) plus the per-fold language-balance audit a
    * training pipeline runs before trusting cross-validation: for each
    * fold, the max absolute deviation (ppm) between the fold's language
    * shares and the corpus's. All shapes are partial-aggregated
    * groupBys over O(folds × langs) rows; shares are exact integer ppm
    * (never a double ratio); deviations are measured over the languages
    * present in each fold (identically on both engines). */
  private def stratifiedKfold(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(pmod(${multHashExpr("doc_id")}, 5) AS INT)").as("fold"))
    val fl = docs.groupBy("fold", "lang").agg(count(lit(1)).as("n_fl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f = fl.groupBy("fold").agg(sum("n_fl").as("n_docs"))
    val l = fl.groupBy("lang").agg(sum("n_fl").as("n_l"))
    val tot = l.agg(sum("n_l").as("n"))
    fl.join(f, Seq("fold")).join(broadcast(l), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"),
        expr("abs((n_fl * 1000000) div n_docs - (n_l * 1000000) div n)")
          .as("__dev"))
      .groupBy("fold", "n_docs")
      .agg(max(col("__dev")).cast("long").as("max_dev_ppm"))
      .select(col("fold"), col("n_docs"), col("max_dev_ppm"))
  }

  private val stratifiedKfoldSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(${multHashDuck("doc_id")} % 5 AS INT) AS fold
       |  FROM documents),
       |fl AS (SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_fl
       |       FROM d GROUP BY 1, 2),
       |f AS (SELECT fold, sum(n_fl) AS n_docs FROM fl GROUP BY 1),
       |l AS (SELECT lang, sum(n_fl) AS n_l FROM fl GROUP BY 1),
       |t AS (SELECT sum(n_l) AS n FROM l)
       |SELECT fl.fold, CAST(f.n_docs AS BIGINT) AS n_docs,
       |  CAST(max(abs((fl.n_fl * 1000000) // f.n_docs
       |               - (l.n_l * 1000000) // t.n)) AS BIGINT) AS max_dev_ppm
       |FROM fl JOIN f ON fl.fold = f.fold JOIN l ON fl.lang = l.lang, t
       |GROUP BY 1, 2""".stripMargin

  /** #213 perplexity terciles — the CCNet head/middle/tail quality cut
    * over #87's per-document cross-entropy: rank every document by its
    * LM score and split the corpus into thirds (tail = the highest-
    * perplexity third a CCNet-style pipeline drops or down-weights),
    * reporting each tercile's size and score range. Ranking runs on
    * the INTEGER nats-ppb score ((−Σ⌊ln p·1e9⌋) div n — never the
    * rounded double, so cut points cannot knife-edge across engines)
    * via the distributed two-phase rank scan — no single-reducer
    * window; docs with <2 tokens score no bigrams and are out of frame
    * on both sides. O(3) output. */
  private def perplexityBucket(s: SparkSession, dir: String): DataFrame = {
    // persisted: the rank scan executes its input twice, in the
    // range-bound sample and the shuffle's map stage
    // (PrefixSum.orderedScan) — without this the whole bigram-LM
    // pipeline re-runs for each (the q_corpus_build lesson)
    val ds = bigramDocScores(s, dir)
      .select(col("doc_id"), expr("(-__s) div n_bigrams").as("__ppb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = PrefixSum.withGlobalRank(ds, Seq("__ppb", "doc_id"), "__rk")
    val tot = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .select(expr("CAST(((__rk - 1) * 3) div __n AS INT)").as("tercile"),
        col("__ppb"))
      .groupBy("tercile")
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("__ppb")).cast("double") / 1e9, 6).as("min_xent"),
        round(max(col("__ppb")).cast("double") / 1e9, 6).as("max_xent"))
  }

  private val perplexityBucketSql =
    s"""WITH $bigramScoredCtes,
       |ds AS (
       |  SELECT doc_id,
       |    (-sum(CAST(floor(lnp * 1e9) AS BIGINT))) // count(*) AS ppb
       |  FROM scored GROUP BY 1),
       |r AS (
       |  SELECT ppb, row_number() OVER (ORDER BY ppb, doc_id) AS rk,
       |    count(*) OVER () AS n
       |  FROM ds)
       |SELECT CAST(((rk - 1) * 3) // n AS INT) AS tercile,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CAST(min(ppb) AS DOUBLE) / 1e9, 6) AS min_xent,
       |  round(CAST(max(ppb) AS DOUBLE) / 1e9, 6) AS max_xent
       |FROM r GROUP BY 1""".stripMargin

  /** #216 vocabulary coverage curve — the share of corpus token
    * OCCURRENCES covered by the top-{8,16,…,512} types, plus the
    * full-vocabulary row (the "how big must the vocab be?" tokenizer-
    * design curve pairing with q_zipf_fit/q_vocab_encode): one tf
    * aggregate, top-800 cut as TakeOrderedAndProject, the cumulative
    * sum over the ≤800-row bounded frame, exact integer ppm. The
    * full-vocab row (coverage exactly 1e6 when n_types ≤ 800) keeps
    * the curve non-vacuous at ANY vocabulary size. */
  private def ngramCoverage(s: SparkSession, dir: String): DataFrame = {
    val cutoffs = Seq(8, 16, 32, 64, 128, 256, 512)
    val tf = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val tot = tf.agg(sum("tf").as("__t"), count(lit(1)).as("n_types"))
    val top = tf.orderBy(desc("tf"), asc("token")).limit(800)
    // bounded frame: ≤ 800 rows survive the cut
    val w = Window.orderBy(desc("tf"), asc("token"))
      .rowsBetween(Window.unboundedPreceding, 0)
    top.withColumn("__cum", sum("tf").over(w))
      .withColumn("__rk", row_number().over(Window.orderBy(desc("tf"), asc("token"))))
      .crossJoin(broadcast(tot))
      .filter(col("__rk").isin(cutoffs: _*) || col("__rk") === col("n_types"))
      .select(col("__rk").cast("int").as("vocab_size"), col("n_types"),
        expr("(__cum * 1000000) div __t").as("coverage_ppm"))
  }

  private val ngramCoverageSql =
    """WITH tf AS (
      |  SELECT token, count(*) AS tf FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |    FROM documents) GROUP BY 1),
      |tot AS (SELECT sum(tf) AS t, CAST(count(*) AS BIGINT) AS n_types FROM tf),
      |top AS (
      |  SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rk,
      |    sum(tf) OVER (ORDER BY tf DESC, token
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (SELECT * FROM tf ORDER BY tf DESC, token LIMIT 800))
      |SELECT CAST(rk AS INT) AS vocab_size, tot.n_types,
      |  CAST((cum * 1000000) // tot.t AS BIGINT) AS coverage_ppm
      |FROM top, tot
      |WHERE rk IN (8, 16, 32, 64, 128, 256, 512) OR rk = tot.n_types""".stripMargin

  /** #224 training-shard assignment + balance audit — hash documents
    * into 16 shards (the multiplicative hash, so assignment replays
    * identically on any engine/run) and report per-shard doc/token
    * counts plus the token-count deviation from the uniform share in
    * ppm — the check a distributed-training data loader runs before
    * trusting that shards are balanced. One map-only projection + one
    * partial-aggregated groupBy; the totals join is an O(shards)
    * broadcast. Token-count products route through DECIMAL(38,0): at
    * 100-TB corpus sizes `n_tokens · 16e6` overflows BIGINT. */
  private def shardBalance(s: SparkSession, dir: String): DataFrame = {
    val S = 16
    val sh = parallelize(s, t(s, dir, "documents"))
      .select(
        expr(s"CAST(pmod(${multHashExpr("doc_id")}, $S) AS INT)").as("shard"),
        size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("__tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("__tok").as("n_tokens"))
    val tot = sh.agg(sum("n_tokens").as("__t"))
    sh.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"CAST((CAST(n_tokens AS DECIMAL(38,0)) * ${S.toLong * 1000000L})" +
          " div __t - 1000000 AS BIGINT)").as("dev_ppm"))
  }

  private val shardBalanceSql =
    s"""WITH d AS (
       |  SELECT CAST(${multHashDuck("doc_id")} % 16 AS INT) AS shard,
       |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
       |      AS tok
       |  FROM documents),
       |sh AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(tok) AS BIGINT) AS n_tokens
       |       FROM d GROUP BY 1),
       |t AS (SELECT sum(n_tokens) AS tt FROM sh)
       |SELECT shard, n_docs, n_tokens,
       |  CAST((CAST(n_tokens AS HUGEINT) * 16000000) // tt - 1000000 AS BIGINT)
       |    AS dev_ppm
       |FROM sh, t""".stripMargin

  /** #230 context-window truncation audit — for candidate window sizes
    * {32, 64, 128}, how many documents fit outright, how many tokens
    * truncation would discard, and the discard share (ppm) — the table
    * that decides a training context length before q_seq_pack commits
    * to one. Token counts are one map-only pass; the window axis is a
    * 3-element explode (map-side row growth only); everything else is
    * a partial-aggregated groupBy in exact integers. */
  private def truncationAudit(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("__n"))
      .select(col("__n"), explode(array(lit(32L), lit(64L), lit(128L))).as("window"))
      .groupBy("window")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n") <= col("window"), 1L).otherwise(0L)).as("n_fit"),
        sum(greatest(col("__n") - col("window"), lit(0L))).as("trunc_tokens"),
        sum(least(col("__n"), col("window"))).as("kept_tokens"))
      .withColumn("trunc_share_ppm",
        expr("(trunc_tokens * 1000000) div (trunc_tokens + kept_tokens)"))

  private val truncationAuditSql =
    """WITH n AS (
      |  SELECT CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
      |    AS BIGINT) AS n
      |  FROM documents),
      |w AS (SELECT n, unnest([CAST(32 AS BIGINT), 64, 128]) AS wdw FROM n),
      |a AS (
      |  SELECT wdw AS "window", CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN n <= wdw THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
      |    CAST(sum(greatest(n - wdw, 0)) AS BIGINT) AS trunc_tokens,
      |    CAST(sum(least(n, wdw)) AS BIGINT) AS kept_tokens
      |  FROM w GROUP BY 1)
      |SELECT "window", n_docs, n_fit, trunc_tokens, kept_tokens,
      |  CAST((trunc_tokens * 1000000) // (trunc_tokens + kept_tokens) AS BIGINT)
      |    AS trunc_share_ppm
      |FROM a""".stripMargin

  /** #233 epoch-shuffle decorrelation audit — are per-epoch shuffles
    * independent? Assign every doc a batch for epochs 0 and 1 (the
    * multiplicative hash of `doc_id·2 + epoch`, 8 batches) and report
    * the 64-cell contingency matrix with each cell's deviation from
    * the uniform 1/64 share in ppm — correlated epoch orders (the bug:
    * reusing one permutation) light up the diagonal. Map-only
    * assignment + one partial-aggregated groupBy; products through
    * DECIMAL for 100-TB counts. */
  private def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    // the per-epoch hash SQUARES the multiplicative hash before the
    // batch mod — an affine-only chain (h(2d+ε) = h(2d) + A) would make
    // epoch 1 a constant rotation of epoch 0 (16 of 64 cells occupied:
    // the exact correlated-shuffle bug this op exists to detect, planted
    // by its own hash). x² mod M is the portable nonlinear mix — exact
    // in DECIMAL(38,0)/HUGEINT (x < 2^55 ⇒ x² < 10^34).
    def batch(e: Int): String =
      s"CAST(pmod(pmod(CAST(${multHashExpr(s"(doc_id * 2 + $e)")} AS DECIMAL(38,0))" +
        s" * ${multHashExpr(s"(doc_id * 2 + $e)")}, ${TextAnalysis.FingerprintMod})," +
        " 8) AS INT)"
    val d = parallelize(s, t(s, dir, "documents"))
      .select(expr(batch(0)).as("b0"), expr(batch(1)).as("b1"))
    val m = d.groupBy("b0", "b1").agg(count(lit(1)).as("n"))
    val tot = m.agg(sum("n").as("__t"))
    m.crossJoin(broadcast(tot))
      .select(col("b0"), col("b1"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 64000000) div __t" +
          " - 1000000 AS BIGINT)").as("dev_ppm"))
  }

  private val epochShuffleSql = {
    def batch(e: Int): String =
      s"CAST((CAST(${multHashDuck(s"(doc_id * 2 + $e)")} AS HUGEINT)" +
        s" * ${multHashDuck(s"(doc_id * 2 + $e)")})" +
        s" % ${TextAnalysis.FingerprintMod} % 8 AS INT)"
    s"""WITH d AS (
       |  SELECT ${batch(0)} AS b0,
       |    ${batch(1)} AS b1
       |  FROM documents),
       |m AS (SELECT b0, b1, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
       |t AS (SELECT sum(n) AS tt FROM m)
       |SELECT b0, b1, n,
       |  CAST((CAST(n AS HUGEINT) * 64000000) // tt - 1000000 AS BIGINT)
       |    AS dev_ppm
       |FROM m, t""".stripMargin
  }

  /** #236 diversified top-k — the MMR-lite re-rank a retrieval/feed
    * layer runs so one prolific source cannot monopolize the list:
    * rank docs WITHIN source by quality (n_chars, ties → doc_id), then
    * interleave globally by (within-source rank, quality) and keep the
    * top 20. Per-source ranks are bounded windows over each source's
    * rows; the global cut is orderBy+limit — TakeOrderedAndProject
    * (per-partition top-k, k-row driver merge), NEVER a global sort;
    * the final dense rank is a window over the 20 surviving rows. */
  private def diversifiedTopk(s: SparkSession, dir: String): DataFrame = {
    val ranked = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy("source").orderBy(desc("n_chars"), asc("doc_id")))
        .cast("int"))
    ranked
      .orderBy(asc("src_rank"), desc("n_chars"), asc("doc_id"))
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(asc("src_rank"), desc("n_chars"), asc("doc_id")))
        .cast("int"))
      .select("rank", "doc_id", "source", "n_chars", "src_rank")
  }

  private val diversifiedTopkSql =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS INT) AS src_rank
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY src_rank, n_chars DESC, doc_id)
      |    AS INT) AS rank,
      |  doc_id, source, n_chars, src_rank
      |FROM r
      |ORDER BY src_rank, n_chars DESC, doc_id
      |LIMIT 20""".stripMargin

  /** #240 video frame sampling — the frame-sample leg of the multimodal
    * path as a gated operator: `Multimodal.sampleFrames` slices 8
    * evenly-spaced frames per container (map-only 1→8 explode inside
    * the sanctioned mapPartitions island — a real implementation seeks
    * the container and decodes every stride-th frame; the byte-slice
    * stub keeps the schema/partitioning/batch shape real). Frame
    * boundaries are pure integer functions of the container length, so
    * the oracle recomputes every sampled frame's size from the #27
    * container-size formula — a slicing regression on any row breaks
    * the hash compare. */
  private def frameSample(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withFakeMedia(
      parallelize(s, t(s, dir, "documents")), "doc_id", "text")
    Multimodal.sampleFrames(media, nFrames = 8)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("n_bytes"))
  }

  private val frameSampleSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(octet_length(encode(text))
      |      + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 0 END AS BIGINT) AS len
      |  FROM documents),
      |f AS (SELECT m.doc_id, m.len, CAST(r.range AS INT) AS frame_idx
      |      FROM m CROSS JOIN range(0, 8) r)
      |SELECT doc_id, frame_idx,
      |  CAST(least(greatest((frame_idx * len) // 8 + 1,
      |                      ((frame_idx + 1) * len) // 8), len)
      |    - (frame_idx * len) // 8 AS INT) AS n_bytes
      |FROM f""".stripMargin

  /** #241 aspect-preserving resize plan — the deterministic geometry
    * pass a vision pipeline runs before any pixel work: for every
    * decoded image, the ppm scale factor to a 224 short side and the
    * rounded output dimensions. Dimensions come from the REAL PNG
    * header decode (`Multimodal.extractFeatures` — not the id
    * formula), so the oracle's arithmetic recompute doubles as a
    * decode regression gate; rounding is `(n·scale + 5e5) div 1e6` on
    * positive integers — truncating division, identical on both
    * engines. Map-only end to end. */
  private def resizePlan(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withFakeMedia(
      parallelize(s, t(s, dir, "documents")), "doc_id", "text")
    Multimodal.extractFeatures(media)
      .filter(col("header_decoded"))
      .select(col("doc_id"), col("width"), col("height"))
      .withColumn("scale_ppm",
        expr("(224 * 1000000) div least(width, height)"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_ppm"),
        expr("CAST((width * scale_ppm + 500000) div 1000000 AS INT)").as("out_w"),
        expr("CAST((height * scale_ppm + 500000) div 1000000 AS INT)").as("out_h"))
  }

  private val resizePlanSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 640 AS INT) AS width,
      |    CAST(16 + doc_id % 480 AS INT) AS height
      |  FROM documents WHERE doc_id % 2 = 0),
      |sc AS (
      |  SELECT doc_id, width, height,
      |    CAST((224 * 1000000) // least(width, height) AS BIGINT) AS scale_ppm
      |  FROM d)
      |SELECT doc_id, width, height, scale_ppm,
      |  CAST((width * scale_ppm + 500000) // 1000000 AS INT) AS out_w,
      |  CAST((height * scale_ppm + 500000) // 1000000 AS INT) AS out_h
      |FROM sc""".stripMargin

  /** #245 shared-prefix audit — how much of the corpus shares a 3-token
    * prefix with another document: the KV-cache prefix-sharing estimate
    * an inference-batching layer reads (shared prefixes decode once).
    * One map-only prefix projection + one partial-aggregated groupBy;
    * only groups of ≥2 docs surface (the cache hits). */
  private def prefixShare(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(concat_ws(" ",
        slice(TextAnalysis.tokens(lower(col("text"))), 1, 3)).as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .withColumn("saved_tokens", expr("(n_docs - 1) * 3"))

  private val prefixShareSql =
    """SELECT array_to_string(
      |    (regexp_split_to_array(trim(lower(text)), '\s+'))[1:3], ' ')
      |    AS prefix,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST((count(*) - 1) * 3 AS BIGINT) AS saved_tokens
      |FROM documents
      |GROUP BY 1
      |HAVING count(*) >= 2""".stripMargin

  /** #247 padding-waste audit — the token cost of batch padding under
    * two batching policies: ARRIVAL order (batch = doc_id div B) vs
    * LENGTH-SORTED (global token-count rank div B — the bucketed
    * batching every trainer uses to cut padding). Each batch pads every
    * member to its max length; waste = Σ(n_b·max − Σlen). The sorted
    * rank is the distributed two-phase `PrefixSum.withGlobalRank`
    * (never a single-reducer row_number window); per-batch and global
    * folds are partial-aggregated. The output pair of rows is the
    * policy decision: how many tokens bucketing saves. */
  private def paddingWaste(s: SparkSession, dir: String): DataFrame = {
    val B = 16L
    val n = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("__n"))
    def fold(batched: DataFrame, strategy: String): DataFrame =
      batched.groupBy("__b")
        .agg(count(lit(1)).as("__nb"), max("__n").as("__mx"),
          sum("__n").as("__sm"))
        .agg(count(lit(1)).as("n_batches"),
          sum(expr("__nb * __mx - __sm")).as("pad_tokens"),
          sum("__sm").as("useful_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("pad_tokens"), col("useful_tokens"),
          expr("(pad_tokens * 1000000) div (pad_tokens + useful_tokens)")
            .as("waste_ppm"))
    val arrival = fold(n.select(expr(s"doc_id div $B").as("__b"), col("__n")),
      "arrival")
    val sorted = fold(
      PrefixSum.withGlobalRank(n, Seq("__n", "doc_id"), "__r")
        .select(expr(s"(__r - 1) div $B").as("__b"), col("__n")),
      "sorted")
    arrival.unionAll(sorted)
  }

  private val paddingWasteSql =
    """WITH n AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
      |      AS tn
      |  FROM documents),
      |ab AS (
      |  SELECT doc_id // 16 AS b, count(*) AS nb, max(tn) AS mx, sum(tn) AS sm
      |  FROM n GROUP BY 1),
      |sb AS (
      |  SELECT (row_number() OVER (ORDER BY tn, doc_id) - 1) // 16 AS b, tn
      |  FROM n),
      |sg AS (
      |  SELECT b, count(*) AS nb, max(tn) AS mx, sum(tn) AS sm
      |  FROM sb GROUP BY 1),
      |u AS (
      |  SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
      |    CAST(sum(nb * mx - sm) AS BIGINT) AS pad_tokens,
      |    CAST(sum(sm) AS BIGINT) AS useful_tokens
      |  FROM ab
      |  UNION ALL
      |  SELECT 'sorted', CAST(count(*) AS BIGINT),
      |    CAST(sum(nb * mx - sm) AS BIGINT), CAST(sum(sm) AS BIGINT)
      |  FROM sg)
      |SELECT strategy, n_batches, pad_tokens, useful_tokens,
      |  CAST((pad_tokens * 1000000) // (pad_tokens + useful_tokens) AS BIGINT)
      |    AS waste_ppm
      |FROM u""".stripMargin

  /** #248 encoding audit — mojibake/control-character share per source
    * over a deterministically corrupted corpus (the synthetic documents
    * are clean ASCII, so the fixture plants BEL on doc_id%7=3 and
    * U+FFFD — the decoder's replacement char, the mojibake signature —
    * on doc_id%11=5; both plants are pure SQL on both engines). Dirty
    * detection and char totals are single regex passes (codegen'd, no
    * UDF); one partial-aggregated groupBy on source. The pre-ingest
    * gate that catches a broken upstream decode before it trains. */
  private def encodingAudit(s: SparkSession, dir: String): DataFrame = {
    val ctrlCls = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    val dirtyCls = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\uFFFD]"
    parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        when(expr("doc_id % 7 = 3"), concat(col("text"), lit("\u0007")))
          .when(expr("doc_id % 11 = 5"), concat(lit("\uFFFD"), col("text")))
          .otherwise(col("text")).as("__t"))
      .select(col("source"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), ctrlCls, ""))).cast("long")
          .as("__ctrl"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), "\uFFFD", ""))).cast("long")
          .as("__repl"),
        when(regexp_like(col("__t"), lit(dirtyCls)), 1L).otherwise(0L)
          .as("__dirty"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__dirty").as("n_dirty"),
        sum("__ctrl").as("n_ctrl_chars"), sum("__repl").as("n_repl_chars"))
      .withColumn("clean_ppm",
        expr("((n_docs - n_dirty) * 1000000) div n_docs"))
  }

  private val encodingAuditSql =
    """WITH c AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 7 = 3 THEN text || chr(7)
      |         WHEN doc_id % 11 = 5 THEN chr(65533) || text
      |         ELSE text END AS t
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    CAST(length(t) - length(regexp_replace(t,
      |      '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS BIGINT) AS n_ctrl,
      |    CAST(length(t) - length(regexp_replace(t, chr(65533), '', 'g'))
      |      AS BIGINT) AS n_repl,
      |    CASE WHEN regexp_matches(t,
      |      '[\x01-\x08\x0b\x0c\x0e-\x1f' || chr(65533) || ']')
      |      THEN 1 ELSE 0 END AS dirty
      |  FROM c)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(dirty) AS BIGINT) AS n_dirty,
      |  CAST(sum(n_ctrl) AS BIGINT) AS n_ctrl_chars,
      |  CAST(sum(n_repl) AS BIGINT) AS n_repl_chars,
      |  CAST(((count(*) - sum(dirty)) * 1000000) // count(*) AS BIGINT)
      |    AS clean_ppm
      |FROM m GROUP BY 1""".stripMargin

  /** #249 Cohen's kappa — chance-corrected agreement between two
    * deterministic labelers (the weak-supervision audit: "do my two
    * heuristic annotators actually agree beyond base rates?"): labeler
    * A is the full-document language ID, labeler B the same rule over
    * the first 120 chars (the cheap truncated labeler a pipeline might
    * deploy). One partial-aggregated confusion groupBy over the corpus;
    * margins and the κ fold run on the O(5²) cell table. Exact
    * integers throughout — n² at trillion-doc scale exceeds a long, so
    * the fold is DECIMAL(38,0)/HUGEINT; the final division is
    * sign-symmetric ((|num|·1e6) div den, sign reapplied) because Spark
    * `div` truncates while DuckDB `//` floors — identical only on
    * nonnegatives. */
  private def cohenKappa(s: SparkSession, dir: String): DataFrame = {
    val conf = parallelize(s, t(s, dir, "documents"))
      .select(TextAnalysis.langId(col("text")).as("__la"),
        TextAnalysis.langId(substring(col("text"), 1, 120)).as("__lb"))
      .groupBy("__la", "__lb").agg(count(lit(1)).as("__c"))
    val tot = conf.agg(sum("__c").as("n"),
      sum(when(col("__la") === col("__lb"), col("__c")).otherwise(0L))
        .as("agree"))
    val rows = conf.groupBy("__la").agg(sum("__c").as("__r"))
    val cols = conf.groupBy("__lb").agg(sum("__c").as("__k"))
    val rc = rows.join(cols, col("__la") === col("__lb"))
      .agg(coalesce(sum(expr("CAST(__r AS DECIMAL(38,0)) * __k")), lit(0))
        .cast("decimal(38,0)").as("__rc"))
    tot.crossJoin(broadcast(rc))
      .select(col("n"), col("agree"),
        expr("(agree * 1000000) div n").as("po_ppm"),
        expr("CAST((__rc * 1000000) div (CAST(n AS DECIMAL(38,0)) * n)" +
          " AS BIGINT)").as("pe_ppm"),
        expr(KappaPpmExpr).as("kappa_ppm"))
  }

  /** The κ fold over columns (n, agree, __rc) — shared with the
    * property spec so the PRODUCTION string is what gets tested. The
    * numerator goes negative when agreement is below chance, hence the
    * sign-split division. DECIMAL(38,0) headroom: n ≤ 1e15 docs keeps
    * |num|·1e6 ≤ n²·1e6 = 1e36 < 1e38. */
  private[graft] val KappaPpmExpr: String =
    s"""CAST(${sdivPpm("CAST(n AS DECIMAL(38,0)) * agree - __rc",
      "CAST(n AS DECIMAL(38,0)) * n - __rc", duck = false)} AS BIGINT)"""

  private val cohenKappaSql = {
    // the langId CASE over an arbitrary raw-text SQL expression — same
    // marker-occurrence rule as langIdSql, reused for both labelers
    def langCase(textExpr: String): String = {
      val pad = s"' ' || lower($textExpr) || ' '"
      def occ(m: String) = {
        val esc = m.replace("'", "''")
        s"((length($pad) - length(replace($pad, '$esc', ''))) // ${m.length})"
      }
      val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
        lang -> ("(" + ms.map(occ).mkString(" + ") + ")")
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (l, e) =>
        s"WHEN $e > 0 AND $e = $best THEN '$l'"
      }.mkString(" ")
      s"CASE $cases ELSE 'und' END"
    }
    s"""WITH lab AS (
       |  SELECT ${langCase("text")} AS la,
       |         ${langCase("substr(text, 1, 120)")} AS lb
       |  FROM documents),
       |conf AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
       |         FROM lab GROUP BY 1, 2),
       |tot AS (SELECT sum(c) AS n,
       |    sum(CASE WHEN la = lb THEN c ELSE 0 END) AS agree FROM conf),
       |r AS (SELECT la, sum(c) AS rn FROM conf GROUP BY 1),
       |k AS (SELECT lb, sum(c) AS kn FROM conf GROUP BY 1),
       |rc AS (SELECT coalesce(sum(CAST(r.rn AS HUGEINT) * k.kn), 0) AS rc
       |       FROM r JOIN k ON r.la = k.lb)
       |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
       |  CAST((agree * 1000000) // n AS BIGINT) AS po_ppm,
       |  CAST((rc * 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
       |  CAST(${sdivPpm("CAST(n AS HUGEINT) * agree - rc",
            "CAST(n AS HUGEINT) * n - rc", duck = true)} AS BIGINT) AS kappa_ppm
       |FROM tot, rc""".stripMargin
  }

  /** #252 canary scan — memorization-canary audit: search the corpus
    * for a fixed list of planted canary strings (the standard
    * memorization-measurement setup: unique markers inserted into
    * training data, then counted) and report docs touched + total
    * occurrences PER CANARY, including the never-planted control at 0.
    * The scan is ONE map-only projection (length-diff occurrence
    * counting per needle — no regex engine in the hot path) + ONE
    * global partial aggregate, unpivoted to the O(needles) report;
    * the needle list rides in the plan as literals (broadcast-free). */
  private val Canaries = Seq(
    ("canary-alpha-7f3a", 101L, 7L), ("canary-beta-2c9d", 103L, 11L),
    ("canary-gamma-e5b1", 107L, 13L), ("canary-delta-0a42", -1L, -1L))

  private def canaryScan(s: SparkSession, dir: String): DataFrame = {
    // plant: alpha appended once, beta appended twice (occurrence
    // multiplicity), gamma prepended, delta NEVER (the control row)
    val planted = parallelize(s, t(s, dir, "documents"))
      .select(when(expr("doc_id % 101 = 7"),
          concat(col("text"), lit(" canary-alpha-7f3a")))
        .when(expr("doc_id % 103 = 11"),
          concat(col("text"), lit(" canary-beta-2c9d canary-beta-2c9d")))
        .when(expr("doc_id % 107 = 13"),
          concat(lit("canary-gamma-e5b1 "), col("text")))
        .otherwise(col("text")).as("__t"))
    val occCols = Canaries.zipWithIndex.flatMap { case ((c, _, _), i) =>
      val o = TextAnalysis.occurrences(col("__t"), c)
      Seq(sum(o.cast("long")).as(s"__h$i"),
        sum(when(o > 0, 1L).otherwise(0L)).as(s"__d$i"))
    }
    val stack = Canaries.zipWithIndex
      .map { case ((c, _, _), i) => s"'$c', __d$i, __h$i" }.mkString(", ")
    planted.agg(occCols.head, occCols.tail: _*)
      .select(expr(
        s"stack(${Canaries.size}, $stack) AS (canary, n_docs, n_hits)"))
  }

  private val canaryScanSql = {
    val plant =
      """SELECT CASE WHEN doc_id % 101 = 7 THEN text || ' canary-alpha-7f3a'
        |  WHEN doc_id % 103 = 11
        |    THEN text || ' canary-beta-2c9d canary-beta-2c9d'
        |  WHEN doc_id % 107 = 13 THEN 'canary-gamma-e5b1 ' || text
        |  ELSE text END AS t
        |FROM documents""".stripMargin
    val rows = Canaries.map { case (c, _, _) =>
      val occ = s"(length(t) - length(replace(t, '$c', ''))) // ${c.length}"
      s"""SELECT '$c' AS canary,
         |  CAST(sum(CASE WHEN $occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs,
         |  CAST(sum($occ) AS BIGINT) AS n_hits
         |FROM p""".stripMargin
    }.mkString("\nUNION ALL ")
    s"WITH p AS (\n$plant)\n$rows"
  }

  /** #253 cross-source shingle overlap — the duplication matrix BETWEEN
    * corpus sources (which feeds double-count before any mixing-weight
    * decision): per source pair, shared distinct 3-shingles and each
    * side's containment share. Spark shuffles 8-byte shingle HASHES
    * (`hashed_shingles`, the dedup pipeline's native expression), the
    * oracle replays string shingles — counts agree absent 64-bit
    * collisions (same argument as every jaccard gate; verified exact
    * here at the swept scales). The self-join's per-shingle fan-out is
    * bounded by sources² (≤400), so no hot-key skew exists by
    * construction; per-source totals broadcast. */
  private def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        explode(TextAnalysis.hashedShingles(col("text"), 3)).as("__sh"))
      .distinct()
    val tot = sh.groupBy("source").agg(count(lit(1)).as("__n"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.__sh") === col("b.__sh")
        && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(tot.select(col("source").as("source_a"),
        col("__n").as("__na"))), Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("__n").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        expr("(n_common * 1000000) div __na").as("cont_a_ppm"),
        expr("(n_common * 1000000) div __nb").as("cont_b_ppm"))
  }

  private val sourceOverlapSql =
    """WITH t AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' '))) AS g
      |  FROM t),
      |tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_common,
      |  CAST((n_common * 1000000) // ta.n AS BIGINT) AS cont_a_ppm,
      |  CAST((n_common * 1000000) // tb.n AS BIGINT) AS cont_b_ppm
      |FROM p
      |JOIN tot ta ON ta.source = p.source_a
      |JOIN tot tb ON tb.source = p.source_b""".stripMargin

  /** #254 text-normalization audit — what would the canonical cleanup
    * pass (lower → strip control chars → collapse whitespace runs →
    * trim) change? Per source: docs changed, characters removed, and
    * the already-normal share. The synthetic corpus is born clean, so
    * the fixture plants doubled spaces / uppercasing / trailing tab+pad
    * by id formula (pure SQL on both engines) — the audit output is
    * non-trivial at every scale. Map-only + one partial aggregate;
    * normalization idempotence is property-tested in the spec. */
  private def textNormAudit(s: SparkSession, dir: String): DataFrame = {
    val ctrl = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    val planted = parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        when(expr("doc_id % 5 = 1"), regexp_replace(col("text"), " ", "  "))
          .when(expr("doc_id % 7 = 2"), upper(col("text")))
          .when(expr("doc_id % 11 = 3"), concat(col("text"), lit("\t  ")))
          .otherwise(col("text")).as("__t"))
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("__t")), ctrl, ""), "\\s+", " "))
    planted
      .select(col("source"), col("__t"), norm.as("__n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n") =!= col("__t"), 1L).otherwise(0L))
          .as("n_changed"),
        sum((length(col("__t")) - length(col("__n"))).cast("long"))
          .as("chars_removed"))
      .withColumn("normal_ppm",
        expr("((n_docs - n_changed) * 1000000) div n_docs"))
  }

  private val textNormAuditSql =
    """WITH c AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 5 = 1 THEN replace(text, ' ', '  ')
      |         WHEN doc_id % 7 = 2 THEN upper(text)
      |         WHEN doc_id % 11 = 3 THEN text || chr(9) || '  '
      |         ELSE text END AS t
      |  FROM documents),
      |n AS (
      |  SELECT source, t,
      |    trim(regexp_replace(regexp_replace(lower(t),
      |      '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g'), '\s+', ' ', 'g')) AS nt
      |  FROM c)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  CAST(sum(length(t) - length(nt)) AS BIGINT) AS chars_removed,
      |  CAST(((count(*) - sum(CASE WHEN nt <> t THEN 1 ELSE 0 END))
      |    * 1000000) // count(*) AS BIGINT) AS normal_ppm
      |FROM n GROUP BY 1""".stripMargin

  /** #255 pack efficiency — the boundary-fragmentation audit of #47's
    * budget packing (B=2048): how many documents straddle a window
    * boundary, how many tokens spill past their window, and the fill
    * share of the allocated capacity. Token offsets come from the same
    * distributed `PrefixSum.runningTotal` scan as q_seq_pack (never a
    * single-reducer window); the report is one global fold. The
    * decision input for "pack greedily vs split documents". */
  private def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    val B = 2048L
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text"))
        .cast("long").as("__n"))
    PrefixSum.runningTotal(docs, "doc_id", "__n")
      .select(col("__n"),
        expr(s"(running_total - __n) div $B").as("__p"),
        expr(s"(running_total - 1) div $B").as("__pEnd"),
        col("running_total"))
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("total_tokens"),
        max("running_total").as("__tt"),
        sum(when(col("__pEnd") > col("__p"), 1L).otherwise(0L))
          .as("n_straddle"),
        sum(when(col("__pEnd") > col("__p"),
            col("running_total") - (col("__p") + 1L) * B)
          .otherwise(0L)).as("spill_tokens"))
      .select(col("n_docs"), col("total_tokens"),
        expr(s"(__tt + ${B - 1}) div $B").as("n_packs"),
        col("n_straddle"), col("spill_tokens"))
      .withColumn("fill_ppm",
        expr(s"(total_tokens * 1000000) div (n_packs * $B)"))
  }

  private val packEfficiencySql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n
      |  FROM documents),
      |c AS (
      |  SELECT n, sum(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t),
      |m AS (
      |  SELECT n, (cum - n) // 2048 AS p, (cum - 1) // 2048 AS pe, cum
      |  FROM c)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  CAST((max(cum) + 2047) // 2048 AS BIGINT) AS n_packs,
      |  CAST(sum(CASE WHEN pe > p THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_straddle,
      |  CAST(sum(CASE WHEN pe > p THEN cum - (p + 1) * 2048 ELSE 0 END)
      |    AS BIGINT) AS spill_tokens,
      |  CAST((sum(n) * 1000000) // (((max(cum) + 2047) // 2048) * 2048)
      |    AS BIGINT) AS fill_ppm
      |FROM m""".stripMargin

  /** #269 Fleiss' kappa — multi-rater chance-corrected agreement
    * (Fleiss 1971), extending #249's two-rater Cohen κ to the three
    * deterministic quality raters a corpus pipeline actually runs:
    * A = length gate (≥25 tokens), B = repetition gate (distinct-token
    * share ≥ 40%), C = morphology gate (mean token length in [3,8)
    * chars, decided in ×10 fixed point). With m=3 raters and 2
    * categories the per-item pair-agreement Σn_ij(n_ij−1) collapses to
    * a∈{6,2,2,6} by keep-count k∈{0..3}, so two corpus sums suffice:
    * A₆ = Σa_i and S = Σk_i. κ = (P̄−Pe)/(1−Pe) with P̄ = A₆/(6n),
    * Pe = (S²+(3n−S)²)/(9n²) becomes ONE sign-split ppm division of
    * exact DECIMAL(38) folds: num = 3n·A₆ − 2(S²+(3n−S)²),
    * den = 18n² − 2(S²+(3n−S)²) (18n²·1e6 < 1e38 up to ~2e15 docs).
    * One map-side pass + one aggregate. */
  private def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val rated = parallelize(s, t(s, dir, "documents"))
      .select(
        (size(toks) >= 25).cast("long").as("__ra"),
        (size(array_distinct(toks)) * 10 >= size(toks) * 4).cast("long")
          .as("__rb"),
        ((length(regexp_replace(col("text"), "\\s+", "")) * 10
            >= size(toks) * 30) &&
          (length(regexp_replace(col("text"), "\\s+", "")) * 10
            < size(toks) * 80)).cast("long").as("__rc"))
      .select((col("__ra") + col("__rb") + col("__rc")).as("__k"))
    rated.agg(
        count(lit(1)).as("n"),
        sum("__k").as("s"),
        sum(expr("CASE WHEN __k = 0 OR __k = 3 THEN 6 ELSE 2 END")).as("a6"))
      .select(col("n"), col("s"), col("a6"),
        expr(s"""CAST(${sdivPpm(
          "3 * CAST(n AS DECIMAL(38,0)) * a6 - 2 * (CAST(s AS DECIMAL(38,0)) * s" +
            " + (3 * CAST(n AS DECIMAL(38,0)) - s) * (3 * CAST(n AS DECIMAL(38,0)) - s))",
          "18 * CAST(n AS DECIMAL(38,0)) * n - 2 * (CAST(s AS DECIMAL(38,0)) * s" +
            " + (3 * CAST(n AS DECIMAL(38,0)) - s) * (3 * CAST(n AS DECIMAL(38,0)) - s))",
          duck = false)} AS BIGINT)""").as("fleiss_kappa_ppm"))
  }

  private val fleissKappaSql =
    s"""WITH d AS (
      |  SELECT string_split_regex(trim(text), '\\s+') AS toks,
      |    length(regexp_replace(text, '\\s+', '', 'g')) AS nc
      |  FROM documents),
      |r AS (
      |  SELECT
      |    (CASE WHEN len(toks) >= 25 THEN 1 ELSE 0 END
      |     + CASE WHEN len(list_distinct(toks)) * 10 >= len(toks) * 4
      |            THEN 1 ELSE 0 END
      |     + CASE WHEN nc * 10 >= len(toks) * 30
      |                 AND nc * 10 < len(toks) * 80
      |            THEN 1 ELSE 0 END) AS k
      |  FROM d),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS s,
      |    CAST(sum(CASE WHEN k = 0 OR k = 3 THEN 6 ELSE 2 END) AS BIGINT)
      |      AS a6
      |  FROM r)
      |SELECT n, s, a6,
      |  CAST(${sdivPpm(
          "3 * CAST(n AS HUGEINT) * a6" +
            " - 2 * (CAST(s AS HUGEINT) * s + (3 * CAST(n AS HUGEINT) - s) * (3 * CAST(n AS HUGEINT) - s))",
          "18 * CAST(n AS HUGEINT) * n" +
            " - 2 * (CAST(s AS HUGEINT) * s + (3 * CAST(n AS HUGEINT) - s) * (3 * CAST(n AS HUGEINT) - s))",
          duck = true)} AS BIGINT) AS fleiss_kappa_ppm
      |FROM f""".stripMargin

  /** #273 McNemar's test — the PAIRED comparison two classifiers get
    * on the same items (McNemar 1947; the right test where two
    * quality gates disagree doc-by-doc, unlike the unpaired χ²):
    * rater A = #269's length gate, rater B = its repetition gate. Only
    * the discordant cells matter: χ² = (b−c)²/(b+c), emitted in ×1e6
    * fixed point (numerator is a square — nonnegative, plain div).
    * One map-side pass, one 1-row fold. */
  private def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    parallelize(s, t(s, dir, "documents"))
      .select((size(toks) >= 25).cast("long").as("__a"),
        (size(array_distinct(toks)) * 10 >= size(toks) * 4).cast("long")
          .as("__b"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN __a = 1 AND __b = 1 THEN 1 ELSE 0 END"))
          .as("n_both"),
        sum(expr("CASE WHEN __a = 1 AND __b = 0 THEN 1 ELSE 0 END"))
          .as("n_only_a"),
        sum(expr("CASE WHEN __a = 0 AND __b = 1 THEN 1 ELSE 0 END"))
          .as("n_only_b"),
        sum(expr("CASE WHEN __a = 0 AND __b = 0 THEN 1 ELSE 0 END"))
          .as("n_neither"))
      .withColumn("chi2_q6",
        expr("""CASE WHEN n_only_a + n_only_b > 0
          THEN ((n_only_a - n_only_b) * (n_only_a - n_only_b) * 1000000)
               div (n_only_a + n_only_b)
          ELSE 0 END"""))
  }

  private val mcnemarSql =
    """WITH r AS (
      |  SELECT
      |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 25
      |         THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_distinct(string_split_regex(trim(text), '\s+')))
      |           * 10
      |         >= len(string_split_regex(trim(text), '\s+')) * 4
      |         THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_both,
      |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_only_a,
      |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_only_b,
      |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_neither
      |  FROM r)
      |SELECT n, n_both, n_only_a, n_only_b, n_neither,
      |  CAST(CASE WHEN n_only_a + n_only_b > 0
      |    THEN ((n_only_a - n_only_b) * (n_only_a - n_only_b) * 1000000)
      |         // (n_only_a + n_only_b)
      |    ELSE 0 END AS BIGINT) AS chi2_q6
      |FROM f""".stripMargin

  /** #276 Krippendorff's alpha — the generalized reliability
    * coefficient (Krippendorff 2004) over the #249 labeler pair
    * (full-text vs 120-char language ID), nominal data, m=2 coders,
    * no missing values. Unlike Cohen's κ (per-coder margins), α pools
    * the COINCIDENCE margins: with N = 2n pairable values,
    * Q = Σ_c n_c² over the pooled value counts, and d disagreeing
    * units, Do = d/n and De = (N²−Q)/(N(N−1)) reduce to
    * α = (4n² − Q − 2d(2n−1)) / (4n² − Q) — one sign-split ppm
    * division of exact DECIMAL(38) folds (4n²·1e6 < 1e38 up to
    * ~1.5e15 docs). Same one confusion groupBy as #249; margins and
    * the fold run on the O(langs²) cell table. All-identical labels
    * (4n² = Q) emit α = 1e6 by the perfect-agreement convention. */
  private def krippendorff(s: SparkSession, dir: String): DataFrame = {
    val conf = parallelize(s, t(s, dir, "documents"))
      .select(TextAnalysis.langId(col("text")).as("__la"),
        TextAnalysis.langId(substring(col("text"), 1, 120)).as("__lb"))
      .groupBy("__la", "__lb").agg(count(lit(1)).as("__c"))
    val tot = conf.agg(sum("__c").as("n"),
      sum(when(col("__la") =!= col("__lb"), col("__c")).otherwise(0L))
        .as("n_disagree"))
    // pooled coincidence margins: each unit contributes BOTH its labels
    val q = conf.select(col("__la").as("__v"), col("__c"))
      .union(conf.select(col("__lb").as("__v"), col("__c")))
      .groupBy("__v").agg(sum("__c").as("__m"))
      .agg(coalesce(sum(expr("CAST(__m AS DECIMAL(38,0)) * __m")), lit(0))
        .cast("decimal(38,0)").as("__q"))
    tot.crossJoin(broadcast(q))
      .select(col("n"), col("n_disagree"),
        expr("(n_disagree * 1000000) div n").as("do_ppm"),
        expr("""CAST(((4 * CAST(n AS DECIMAL(38,0)) * n - __q) * 1000000)
          div (2 * CAST(n AS DECIMAL(38,0)) * (2 * n - 1)) AS BIGINT)""")
          .as("de_ppm"),
        expr(s"""CAST(CASE
          WHEN 4 * CAST(n AS DECIMAL(38,0)) * n - __q = 0 THEN 1000000
          ELSE ${sdivPpm(
            "4 * CAST(n AS DECIMAL(38,0)) * n - __q - 2 * CAST(n_disagree AS DECIMAL(38,0)) * (2 * n - 1)",
            "4 * CAST(n AS DECIMAL(38,0)) * n - __q", duck = false)}
          END AS BIGINT)""").as("alpha_ppm"))
  }

  private val krippendorffSql = {
    def langCase(textExpr: String): String = {
      val pad = s"' ' || lower($textExpr) || ' '"
      def occ(m: String) = {
        val esc = m.replace("'", "''")
        s"((length($pad) - length(replace($pad, '$esc', ''))) // ${m.length})"
      }
      val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
        lang -> ("(" + ms.map(occ).mkString(" + ") + ")")
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (l, e) =>
        s"WHEN $e > 0 AND $e = $best THEN '$l'"
      }.mkString(" ")
      s"CASE $cases ELSE 'und' END"
    }
    s"""WITH lab AS (
       |  SELECT ${langCase("text")} AS la,
       |         ${langCase("substr(text, 1, 120)")} AS lb
       |  FROM documents),
       |conf AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
       |         FROM lab GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN la <> lb THEN c ELSE 0 END) AS BIGINT)
       |      AS n_disagree FROM conf),
       |q AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * m), 0) AS q FROM (
       |    SELECT v, CAST(sum(c) AS BIGINT) AS m FROM (
       |      SELECT la AS v, c FROM conf
       |      UNION ALL SELECT lb AS v, c FROM conf) GROUP BY 1))
       |SELECT t.n, t.n_disagree,
       |  CAST((t.n_disagree * 1000000) // t.n AS BIGINT) AS do_ppm,
       |  CAST(((4 * CAST(t.n AS HUGEINT) * t.n - q.q) * 1000000)
       |    // (2 * CAST(t.n AS HUGEINT) * (2 * t.n - 1)) AS BIGINT)
       |    AS de_ppm,
       |  CAST(CASE
       |    WHEN 4 * CAST(t.n AS HUGEINT) * t.n - q.q = 0 THEN 1000000
       |    ELSE ${sdivPpm(
            "4 * CAST(t.n AS HUGEINT) * t.n - q.q - 2 * CAST(t.n_disagree AS HUGEINT) * (2 * t.n - 1)",
            "4 * CAST(t.n AS HUGEINT) * t.n - q.q", duck = true)}
       |    END AS BIGINT) AS alpha_ppm
       |FROM tot t, q""".stripMargin
  }

  /** #281 audio-container metadata: REAL RIFF/WAVE header decode
    * (Multimodal.decodeWavHeader — pure stdlib byte walks over the chunk
    * list) on a partition-local map, the audio counterpart of
    * q_multimodal_meta's PNG path. The fixture wraps each document's
    * UTF-8 bytes in a VALID 44-byte PCM WAV container whose sample rate
    * and channel count derive from doc_id, so the oracle recomputes
    * every DECODED field arithmetically — a header-parse regression on
    * any row breaks the hash compare. duration_ms is the exact integer
    * floor of data_bytes·1000 / (rate·channels·2); both engines divide
    * positive integers, so truncate == floor. Map-only: the audio bytes
    * never reach a shuffle, and at 100 TB the decode distributes with
    * the scan. */
  private def audioMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioMeta(
      Multimodal.withFakeAudio(
        parallelize(s, t(s, dir, "documents")), "doc_id", "text"))

  private val audioMetaSql =
    """SELECT doc_id,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST(16 AS INT) AS bits,
      |  CAST(octet_length(encode(text)) AS INT) AS data_bytes,
      |  CAST(octet_length(encode(text)) + 44 AS INT) AS n_bytes,
      |  CAST(octet_length(encode(text)) * 1000
      |    // ((CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |         WHEN 2 THEN 22050 ELSE 44100 END) * (1 + doc_id % 2) * 2)
      |    AS BIGINT) AS duration_ms,
      |  TRUE AS header_decoded
      |FROM documents""".stripMargin

  /** #429 video-container metadata: REAL ISO-BMFF/MP4 box walk
    * (Multimodal.decodeMp4Header — pure stdlib byte reads over the box
    * tree: ftyp brand, mvhd timescale/duration incl. version-1 64-bit
    * forms and largesize/to-EOF boxes, tkhd 16.16 pixel dimensions,
    * mdat payload size; unknown boxes skip by declared size) — the
    * video sibling of q_audio_meta, replacing the byte-slice stub the
    * r11 verdict flagged. The fixture wraps each document's UTF-8
    * bytes in a VALID MP4 whose timescale/duration/dimensions derive
    * from doc_id (duration units = 25·payload bytes), so the oracle
    * recomputes every DECODED field arithmetically — a box-walk
    * regression on any row breaks the hash compare. duration_ms =
    * ⌊units·1000/timescale⌋, positive on both engines. Map-only; the
    * media bytes never reach a shuffle. Codec payloads inside mdat
    * stay opaque BY DESIGN — pixel/frame access needs a codec library
    * this container doesn't ship, so q_frame_sample's decode step
    * remains the documented stub while the container plumbing here is
    * real. */
  private def videoMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractVideoMeta(
      Multimodal.withFakeVideo(
        parallelize(s, t(s, dir, "documents")), "doc_id", "text"))

  private val videoMetaSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |       WHEN 2 THEN 30000 ELSE 90000 END AS BIGINT) AS timescale,
      |  CAST(octet_length(encode(text)) * 25 AS BIGINT) AS duration_units,
      |  CAST(octet_length(encode(text)) * 25 * 1000
      |    // (CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |        WHEN 2 THEN 30000 ELSE 90000 END) AS BIGINT) AS duration_ms,
      |  CAST(320 + 16 * (doc_id % 5) AS INT) AS width,
      |  CAST(240 + 16 * (doc_id % 3) AS INT) AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS mdat_bytes,
      |  CAST(octet_length(encode(text)) + 244 AS INT) AS n_bytes,
      |  TRUE AS header_decoded
      |FROM documents""".stripMargin

  /** #286 multi-class precision/recall/F1 — the per-class report card
    * for the heuristic language labeler against the corpus labels
    * (complements #107's raw confusion matrix and #249's single-number
    * κ). tp/fp/fn fold exactly from two conditional aggregates over the
    * one labeler pass; precision/recall land as ppm integer divisions
    * (all operands nonnegative — no sign split needed) and F1 as the
    * ppm harmonic mean (2·p·r) div (p+r), every step exact and
    * engine-portable. Zero-denominator classes report 0, not NULL. */
  private def multiclassPrf(s: SparkSession, dir: String): DataFrame = {
    val labeled = parallelize(s, t(s, dir, "documents"))
      .select(col("lang"), TextAnalysis.langId(col("text")).as("__pred"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byTruth = labeled.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_true"),
        sum((col("__pred") === col("lang")).cast("long")).as("tp"))
    val byPred = labeled.groupBy(col("__pred").as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    byTruth.join(byPred, Seq("cls"), "full")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_ppm",
        expr("CASE WHEN n_pred > 0 THEN (tp * 1000000) div n_pred ELSE 0 END"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_true > 0 THEN (tp * 1000000) div n_true ELSE 0 END"))
      .withColumn("f1_ppm", expr(
        """CASE WHEN precision_ppm + recall_ppm > 0
          THEN (2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)
          ELSE 0 END"""))
  }

  private lazy val multiclassPrfSql =
    s"""WITH l AS (SELECT lang, lang_guess AS pred FROM ($langIdSql)),
       |t AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_true,
       |        CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
       |          AS tp
       |      FROM l GROUP BY 1),
       |p AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
       |      FROM l GROUP BY 1),
       |j AS (SELECT coalesce(t.cls, p.cls) AS cls,
       |        coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
       |        coalesce(tp, 0) AS tp
       |      FROM t FULL JOIN p ON t.cls = p.cls),
       |q AS (SELECT *,
       |  CAST(CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred ELSE 0 END
       |    AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN n_true > 0 THEN (tp * 1000000) // n_true ELSE 0 END
       |    AS BIGINT) AS recall_ppm
       |  FROM j)
       |SELECT cls, n_true, n_pred, tp, precision_ppm, recall_ppm,
       |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
       |    THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
       |    ELSE 0 END AS BIGINT) AS f1_ppm
       |FROM q""".stripMargin

  /** #291 readability — Flesch–Kincaid grade per document from three
    * deterministic regex counts (words, sentence-terminator runs,
    * vowel-group syllable proxy): the classic text-quality signal a
    * curation pipeline ranks on next to #36's heuristics. Map-only
    * codegen'd regex passes; the grade is one shared double expression
    * over the three exact INTs (sentence floor 1 so terminator-free
    * docs don't divide by zero). Patterns are RE2/Java-portable
    * character classes — both engines count identical matches. */
  private def readability(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .withColumn("fk_grade", expr(FkGradeExpr))

  /** F-K grade fold shared verbatim with the oracle (all-int inputs). */
  private[graft] val FkGradeExpr: String =
    """round(CASE WHEN n_words > 0
      THEN 0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           - 15.59
      ELSE 0.0 END, 6)"""

  private lazy val readabilitySql =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_words,
       |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
       |      AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
       |      AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${FkGradeExpr.replace("\n", " ")} AS fk_grade
       |FROM b""".stripMargin

  /** #292 per-source character-class KL divergence — corpus forensics:
    * which source's byte mix drifts furthest from the corpus (OCR dumps
    * skew digits, code skews punctuation)? Five fixed classes count via
    * length-difference regex folds (map-only, no explode of the text);
    * the KL fold is EXACT integer arithmetic over +1-smoothed ppm
    * shares using the property-tested ⌊ln·1e6⌋ quantization (#68's
    * entropy discipline) — five fixed-order terms, scale 1e-12, no
    * cross-row double sum. */
  private def charKl(s: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String): Column =
      (length(lower(col("text"))) -
        length(regexp_replace(lower(col("text")), cls, ""))).cast("long")
    val perSource = parallelize(s, t(s, dir, "documents"))
      .select(col("source"), length(col("text")).cast("long").as("__n"),
        cnt("[aeiou]").as("__c1"),
        cnt("[b-df-hj-np-tv-z]").as("__c2"),
        cnt("[0-9]").as("__c3"),
        cnt("\\s").as("__c4"))
      .withColumn("__c5",
        col("__n") - col("__c1") - col("__c2") - col("__c3") - col("__c4"))
      .groupBy("source")
      .agg(sum("__n").as("n_chars"),
        sum("__c1").as("c1"), sum("__c2").as("c2"), sum("__c3").as("c3"),
        sum("__c4").as("c4"), sum("__c5").as("c5"))
    val tot = perSource.agg(sum("n_chars").as("tn"),
      sum("c1").as("t1"), sum("c2").as("t2"), sum("c3").as("t3"),
      sum("c4").as("t4"), sum("c5").as("t5"))
    perSource.crossJoin(broadcast(tot))
      .withColumn("kl_q12", expr(CharKlExpr))
      .withColumn("kl", round(col("kl_q12").cast("double") / 1e12, 6))
      .select("source", "n_chars", "c1", "c2", "c3", "c4", "c5",
        "kl_q12", "kl")
  }

  /** Σ p_ppm·(⌊ln p_ppm·1e6⌋ − ⌊ln q_ppm·1e6⌋) over the five classes,
    * +1 smoothing, ppm floored at 1 (ln 0 guard). Exact BIGINT. */
  private[graft] val CharKlExpr: String = (1 to 5).map { i =>
    val p = s"greatest(1, ((c$i + 1) * 1000000) div (n_chars + 5))"
    val q = s"greatest(1, ((t$i + 1) * 1000000) div (tn + 5))"
    s"($p * (${lnQ(p)} - ${lnQ(q)}))"
  }.mkString(" + ")

  private lazy val charKlSql = {
    val duckExpr = CharKlExpr.replace(" div ", " // ")
    s"""WITH b AS (
       |  SELECT source, CAST(length(text) AS BIGINT) AS n,
       |    CAST(length(lower(text)) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS BIGINT) AS c1,
       |    CAST(length(lower(text)) - length(regexp_replace(lower(text), '[b-df-hj-np-tv-z]', '', 'g')) AS BIGINT) AS c2,
       |    CAST(length(lower(text)) - length(regexp_replace(lower(text), '[0-9]', '', 'g')) AS BIGINT) AS c3,
       |    CAST(length(lower(text)) - length(regexp_replace(lower(text), '\\s', '', 'g')) AS BIGINT) AS c4
       |  FROM documents),
       |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
       |        CAST(sum(c1) AS BIGINT) AS c1, CAST(sum(c2) AS BIGINT) AS c2,
       |        CAST(sum(c3) AS BIGINT) AS c3, CAST(sum(c4) AS BIGINT) AS c4,
       |        CAST(sum(n - c1 - c2 - c3 - c4) AS BIGINT) AS c5
       |      FROM b GROUP BY 1),
       |t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tn,
       |        CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2,
       |        CAST(sum(c3) AS BIGINT) AS t3, CAST(sum(c4) AS BIGINT) AS t4,
       |        CAST(sum(c5) AS BIGINT) AS t5
       |      FROM s)
       |SELECT source, n_chars, c1, c2, c3, c4, c5,
       |  CAST($duckExpr AS BIGINT) AS kl_q12,
       |  round(CAST($duckExpr AS DOUBLE) / 1e12, 6) AS kl
       |FROM s, t""".stripMargin
  }

  /** #307 distinct-n diversity — the generation-eval lexical-diversity
    * metric per source: distinct-1 = unigram types/tokens, distinct-2 =
    * bigram types/bigrams, in ppm. Tokens split on the #291-portable
    * character class; bigrams build inside the token array (one
    * map-only pass) before the explode, so the shuffle carries n-grams,
    * not documents. Exact counts; ppm floors. */
  private def distinctN(s: SparkSession, dir: String): DataFrame = {
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), w -> w <> '')")
          .as("__ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(col("source"), explode(col("__ws")).as("__w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("__w")).as("n_types"))
    // CASE guard: Spark's sequence(1, 0) DESCENDS instead of returning
    // empty, which would index element_at(ws, 0)
    val bi = toks.select(col("source"), explode(expr(
        """CASE WHEN size(__ws) >= 2
          |  THEN transform(sequence(1, size(__ws) - 1),
          |    i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1)))
          |  ELSE array() END"""
          .stripMargin.replace("\n", " "))).as("__b"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        count_distinct(col("__b")).as("n_bigram_types"))
    uni.join(bi, Seq("source"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("n_bigram_types", coalesce(col("n_bigram_types"), lit(0L)))
      .withColumn("distinct1_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (n_types * 1000000) div n_tokens ELSE 0 END"))
      .withColumn("distinct2_ppm",
        expr("CASE WHEN n_bigrams > 0 THEN (n_bigram_types * 1000000) div n_bigrams ELSE 0 END"))
  }

  private val distinctNSql =
    """WITH base AS (
      |  SELECT source,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                w -> w <> '') AS ws
      |  FROM documents),
      |u AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT w) AS BIGINT) AS n_types
      |  FROM (SELECT source, unnest(ws) AS w FROM base) GROUP BY 1),
      |bl AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, greatest(len(ws), 1)),
      |      i -> ws[i] || ' ' || ws[i + 1])) AS b
      |  FROM base),
      |bg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(count(DISTINCT b) AS BIGINT) AS n_bigram_types
      |  FROM bl GROUP BY 1)
      |SELECT u.source, u.n_tokens, u.n_types,
      |  coalesce(bg.n_bigrams, 0) AS n_bigrams,
      |  coalesce(bg.n_bigram_types, 0) AS n_bigram_types,
      |  CAST(CASE WHEN u.n_tokens > 0
      |    THEN (u.n_types * 1000000) // u.n_tokens ELSE 0 END AS BIGINT)
      |    AS distinct1_ppm,
      |  CAST(CASE WHEN coalesce(bg.n_bigrams, 0) > 0
      |    THEN (bg.n_bigram_types * 1000000) // bg.n_bigrams ELSE 0 END
      |    AS BIGINT) AS distinct2_ppm
      |FROM u LEFT JOIN bg ON bg.source = u.source""".stripMargin

  /** #317 boilerplate phrase mining — the top cross-document 5-gram
    * PHRASES by document frequency: unlike the hash-space dedup family
    * (#73 winnow, #201 shingle novelty) this MATERIALIZES the actual
    * repeated text so a curator can read and strip it. Phrases build
    * inside the token array before the explode (the #307 discipline —
    * the shuffle carries n-grams, not documents); df ≥ 3 floor and a
    * (df desc, phrase) total-order top-20. */
  private def boilerplatePhrases(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
    val nDocs = docs.agg(count(lit(1)).as("__nd"))
    docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), w -> w <> '')")
          .as("__ws"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(__ws) >= 5
          |  THEN transform(sequence(1, size(__ws) - 4),
          |    i -> concat_ws(' ', element_at(__ws, i), element_at(__ws, i + 1),
          |      element_at(__ws, i + 2), element_at(__ws, i + 3),
          |      element_at(__ws, i + 4)))
          |  ELSE array() END""".stripMargin.replace("\n", " "))).as("phrase"))
      .groupBy("phrase")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .crossJoin(broadcast(nDocs))
      .withColumn("df_share_ppm", expr("(df * 1000000) div __nd"))
      .select("phrase", "df", "df_share_ppm")
      .orderBy(desc("df"), asc("phrase")).limit(20)
  }

  private val boilerplatePhrasesSql =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |ws AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                w -> w <> '') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(l) - 3, 1)),
      |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
      |           || l[i+3] || ' ' || l[i+4])) AS phrase
      |  FROM ws),
      |tf AS (SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |       FROM g GROUP BY 1)
      |SELECT phrase, df,
      |  CAST((df * 1000000) // nd AS BIGINT) AS df_share_ppm
      |FROM tf CROSS JOIN n
      |WHERE df >= 3
      |ORDER BY df DESC, phrase LIMIT 20""".stripMargin

  /** #320 1-D earth-mover distance of document-length distributions —
    * which source's length profile drifts furthest from the corpus
    * (the continuous companion to #292's class KL and #94's binned
    * PSI)? EMD(S, C) = ∫|CDF_S − CDF_C| dv computed EXACTLY on the
    * compressed merged length domain: per (source, length) counts,
    * corpus counts broadcast-joined, per-source prefix scans over the
    * bounded distinct-length domain, Σ|cumS·nC − cumC·nS|·Δv in
    * DECIMAL(38), ONE division at the end (milli-chars). */
  private def emdLengths(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("source"), length(col("text")).cast("long").as("__len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bySrcLen = docs.groupBy("source", "__len")
      .agg(count(lit(1)).as("__cs"))
    val byLen = docs.groupBy("__len").agg(count(lit(1)).as("__cc"))
    val totals = docs.groupBy("source").agg(count(lit(1)).as("__ns"))
    val nAll = docs.agg(count(lit(1)).as("__nc"))
    // every (source, distinct length) cell — including lengths the
    // source never hits (cs = 0), so the CDF steps align
    val grid = totals.crossJoin(broadcast(byLen))
      .join(bySrcLen, Seq("source", "__len"), "left")
      .withColumn("__cs", coalesce(col("__cs"), lit(0L)))
    val w = Window.partitionBy("source").orderBy("__len")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("source").orderBy("__len")
    grid
      .withColumn("__cums", sum("__cs").over(w))
      .withColumn("__cumc", sum("__cc").over(w))
      .withColumn("__dv",
        coalesce(lead(col("__len"), 1).over(wNext) - col("__len"), lit(0L)))
      .crossJoin(broadcast(nAll))
      .groupBy(col("source"), col("__ns").as("n_docs"))
      .agg(sum(abs(col("__cums").cast("decimal(38,0)") * col("__nc") -
          col("__cumc").cast("decimal(38,0)") * col("__ns")) * col("__dv"))
        .as("__num"),
        max(col("__ns").cast("decimal(38,0)") * col("__nc")).as("__den"))
      .withColumn("emd_milli_chars",
        expr("CAST((__num * 1000) div __den AS BIGINT)"))
      .select("source", "n_docs", "emd_milli_chars")
  }

  private val emdLengthsSql =
    """WITH d AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS len FROM documents),
      |sl AS (SELECT source, len, CAST(count(*) AS BIGINT) AS cs
      |       FROM d GROUP BY 1, 2),
      |cl AS (SELECT len, CAST(count(*) AS BIGINT) AS cc FROM d GROUP BY 1),
      |ts AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY 1),
      |na AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM d),
      |grid AS (
      |  SELECT ts.source, ts.ns, cl.len, cl.cc, coalesce(sl.cs, 0) AS cs
      |  FROM ts CROSS JOIN cl
      |  LEFT JOIN sl ON sl.source = ts.source AND sl.len = cl.len),
      |scan AS (
      |  SELECT source, ns, len,
      |    sum(cs) OVER (PARTITION BY source ORDER BY len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
      |    sum(cc) OVER (PARTITION BY source ORDER BY len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
      |    coalesce(lead(len) OVER (PARTITION BY source ORDER BY len) - len,
      |             0) AS dv
      |  FROM grid)
      |SELECT source, ns AS n_docs,
      |  CAST((sum(abs(CAST(cums AS HUGEINT) * na.nc
      |                - CAST(cumc AS HUGEINT) * ns) * dv) * 1000)
      |       // (CAST(ns AS HUGEINT) * na.nc) AS BIGINT) AS emd_milli_chars
      |FROM scan CROSS JOIN na
      |GROUP BY source, ns, na.nc""".stripMargin

  /** #324 bigram collocation mining by Dunning log-likelihood (G²) —
    * the significance-ranked companion to #80's PMI (PMI over-ranks
    * rare pairs; G² weights by evidence mass, the standard collocation
    * statistic). The 2×2 cell entropy identity G² = 2·[Σ O·lnO −
    * Σ R·lnR − Σ C·lnC + N·lnN] folds in the property-tested
    * ⌊ln(int)·1e6⌋ fixed point — every x·⌊ln x·1e6⌋ term is an exact
    * DECIMAL(38) product (BIGINT·1e6-micronats overflows long at
    * 100-TB token counts), so the G² ranking key is a total order in
    * exact integers. Margins come FROM the bigram table itself (two
    * shuffle aggregates re-joined on the token key — never broadcast:
    * the vocabulary is corpus-sized); N is a 1-row broadcast; the
    * top-20 cut is TakeOrderedAndProject. */
  private def collocationLlr(s: SparkSession, dir: String): DataFrame = {
    def xlq(x: String): String =
      s"""CASE WHEN $x > 0 THEN CAST($x AS DECIMAL(38,0))
         | * ${lnQ(x)} ELSE CAST(0 AS DECIMAL(38,0))
         | END""".stripMargin.replace("\n", " ")
    val big = t(s, dir, "documents")
      .select(expr(
        """filter(split(lower(text), '[^a-z0-9]+'), w -> w <> '')""")
        .as("__l"))
      .filter(expr("size(__l) >= 2")) // sequence(1, 0) would DESCEND
      .select(explode(expr(
        """transform(sequence(1, size(__l) - 1),
          |  i -> struct(element_at(__l, i) AS w1,
          |              element_at(__l, i + 1) AS w2))"""
          .stripMargin.replace("\n", " "))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = big.groupBy("w1").agg(sum("k11").as("r1"))
    val c = big.groupBy("w2").agg(sum("k11").as("c1"))
    val n = big.agg(sum("k11").as("nn"))
    big.filter(col("k11") >= 5)
      .join(r, Seq("w1")).join(c, Seq("w2")).crossJoin(broadcast(n))
      .withColumn("g2_micronats", expr(
        s"""CAST(2 * (${xlq("k11")} + ${xlq("r1 - k11")} + ${xlq("c1 - k11")}
           | + ${xlq("nn - r1 - c1 + k11")} - ${xlq("r1")} - ${xlq("nn - r1")}
           | - ${xlq("c1")} - ${xlq("nn - c1")} + ${xlq("nn")})
           | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .select(col("w1"), col("w2"), col("k11").as("n_pair"),
        col("g2_micronats"))
      .orderBy(desc("g2_micronats"), asc("w1"), asc("w2")).limit(20)
  }

  private val collocationLlrSql = {
    def xlq(x: String): String =
      s"CASE WHEN $x > 0 THEN CAST($x AS HUGEINT) * ${lnQ(x)} ELSE 0 END"
    s"""WITH ws AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                     w -> w <> '') AS l
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(l), 1)),
      |           i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS b
      |  FROM ws),
      |big AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS k11
      |        FROM bg WHERE b.w2 IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r1 FROM big GROUP BY 1),
      |c AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c1 FROM big GROUP BY 1),
      |n AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM big)
      |SELECT big.w1, big.w2, k11 AS n_pair,
      |  CAST(2 * (${xlq("k11")} + ${xlq("r1 - k11")} + ${xlq("c1 - k11")}
      |    + ${xlq("nn - r1 - c1 + k11")} - ${xlq("r1")} - ${xlq("nn - r1")}
      |    - ${xlq("c1")} - ${xlq("nn - c1")} + ${xlq("nn")}) AS BIGINT)
      |    AS g2_micronats
      |FROM big JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN n
      |WHERE k11 >= 5
      |ORDER BY g2_micronats DESC, big.w1, big.w2 LIMIT 20""".stripMargin
  }

  /** #333 quantile-normalization map — the per-source → corpus decile
    * mapping table (the batch-effect correction ML data prep applies
    * when sources have incomparable length distributions; the
    * TRANSFORM companion to #320's EMD, which only scores the
    * mismatch). Both quantile sets ride `DistributedPercentiles.exact`
    * (per-partition run-length counts + rank-targeted second pass —
    * never a global sort), interpolation matches `quantile_cont`,
    * floor-before-cast on both engines. O(sources · 9) output. */
  private def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("source"), length(col("text")).cast("long").as("__len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probs = (1 to 9).map(i => s"p$i" -> i / 10.0)
    val srcQ = DistributedPercentiles.exact(docs, "source", "__len", probs)
    val corQ = DistributedPercentiles.exact(
      docs.withColumn("__g", lit("all")), "__g", "__len", probs)
    def unpivot(df: DataFrame, out: String): DataFrame =
      df.select(col(df.columns.head), expr(
        (1 to 9).map(i => s"$i, p$i").mkString("stack(9, ", ", ", ")"))
        .as(Seq("decile", "__v")))
        .select(col(df.columns.head), col("decile").cast("int").as("decile"),
          floor(col("__v")).cast("long").as(out))
    unpivot(srcQ, "src_len")
      .join(broadcast(unpivot(corQ, "corpus_len").drop("__g")), Seq("decile"))
      .withColumn("shift_chars", col("corpus_len") - col("src_len"))
      .select("source", "decile", "src_len", "corpus_len", "shift_chars")
  }

  private val quantileNormalizeSql =
    """WITH d AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS len FROM documents),
      |sq AS (
      |  SELECT source,
      |    quantile_cont(len, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      |  FROM d GROUP BY 1),
      |cq AS (
      |  SELECT quantile_cont(len, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      |  FROM d),
      |ix AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS decile)
      |SELECT sq.source, ix.decile,
      |  CAST(floor(sq.qs[ix.decile]) AS BIGINT) AS src_len,
      |  CAST(floor(cq.qs[ix.decile]) AS BIGINT) AS corpus_len,
      |  CAST(floor(cq.qs[ix.decile]) AS BIGINT)
      |    - CAST(floor(sq.qs[ix.decile]) AS BIGINT) AS shift_chars
      |FROM sq CROSS JOIN ix CROSS JOIN cq""".stripMargin

  /** #336 Heaps'-law vocabulary growth — V(N) ≈ K·N^β measured at ten
    * corpus-prefix checkpoints (the vocabulary-saturation signal a
    * tokenizer/corpus curator reads before sizing a vocab: natural
    * text sits at β≈0.5-0.7; template/synthetic corpora saturate to
    * β≈0). The "vocabulary" is word TRIGRAM types: the fixture's
    * closed ~31-word unigram vocab saturates inside the first decile
    * and pinned β to 0 at every SF — a vacuous growth measure (the
    * r9 vacuity audit caught it); trigram types keep growing with N,
    * so β measures actual combinatorial growth while still reading 0
    * only for a truly template corpus. Checkpoints are exact doc_id
    * deciles (the rank scan, no global sort); each trigram type
    * contributes its FIRST-occurrence doc (one groupBy min — never a
    * per-checkpoint distinct over the corpus); cumulative token/vocab
    * counts fold through a 10-row broadcast of cuts; β is the OLS
    * slope over the ten (⌊ln N⌋, ⌊ln V⌋) fixed-point pairs,
    * sign-split ppm. O(10) output. */
  private def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), expr(
        "filter(split(lower(text), '[^a-z0-9]+'), w -> w <> '')").as("__l"))
      .select(col("doc_id"), col("__l"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probs = (1 to 10).map(i => s"p$i" -> i / 10.0)
    val cuts = DistributedPercentiles.exact(
      docs.select(col("doc_id"), col("doc_id").as("__v"))
        .withColumn("__g", lit("all")), "__g", "__v", probs)
      .select(expr((1 to 10).map(i => s"$i, CAST(floor(p$i) AS BIGINT)")
        .mkString("stack(10, ", ", ", ")")).as(Seq("decile", "cut_doc_id")))
    val nk = docs.select(col("doc_id"), size(col("__l")).cast("long")
        .as("__nt"))
      .crossJoin(broadcast(cuts))
      .filter(col("doc_id") <= col("cut_doc_id"))
      .groupBy("decile", "cut_doc_id")
      .agg(sum("__nt").as("n_tokens_cum"), count(lit(1)).as("n_docs_cum"))
    val firstOcc = docs
      .select(col("doc_id"), explode(expr(
        """array_distinct(CASE WHEN size(__l) >= 3
          | THEN transform(sequence(1, size(__l) - 2),
          |   i -> concat(element_at(__l, i), ' ', element_at(__l, i + 1),
          |     ' ', element_at(__l, i + 2)))
          | ELSE array() END)""".stripMargin.replace("\n", " "))).as("__w"))
      .groupBy("__w").agg(min("doc_id").as("__fd"))
    val vk = firstOcc.crossJoin(broadcast(cuts))
      .filter(col("__fd") <= col("cut_doc_id"))
      .groupBy("decile").agg(count(lit(1)).as("vocab_cum"))
    val pts = nk.join(vk, Seq("decile"))
      .withColumn("__x", expr(lnQ("n_tokens_cum")))
      .withColumn("__y", expr(lnQ("vocab_cum")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val beta = pts.agg(count(lit(1)).as("__n"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(expr("CAST(__x AS DECIMAL(38,0)) * __y")).as("__sxy"),
        sum(expr("CAST(__x AS DECIMAL(38,0)) * __x")).as("__sxx"))
      .select(expr(sdivPpm(
        "CAST(__n AS DECIMAL(38,0)) * __sxy - CAST(__sx AS DECIMAL(38,0)) * __sy",
        "CAST(__n AS DECIMAL(38,0)) * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx",
        duck = false)).cast("long").as("heaps_beta_ppm"))
    pts.crossJoin(broadcast(beta))
      .select(col("decile").cast("int").as("decile"), col("cut_doc_id"),
        col("n_docs_cum"), col("n_tokens_cum"), col("vocab_cum"),
        col("heaps_beta_ppm"))
  }

  private val heapsLawSql = {
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                w -> w <> '') AS l
      |  FROM documents),
      |cq AS (
      |  SELECT quantile_cont(doc_id,
      |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs
      |  FROM d),
      |cuts AS (
      |  SELECT CAST(i.i AS INT) AS decile,
      |    CAST(floor(cq.qs[i.i]) AS BIGINT) AS cut_doc_id
      |  FROM cq CROSS JOIN (SELECT unnest(range(1, 11)) AS i) i),
      |nk AS (
      |  SELECT c.decile, c.cut_doc_id,
      |    CAST(sum(len(d.l)) AS BIGINT) AS n_tokens_cum,
      |    CAST(count(*) AS BIGINT) AS n_docs_cum
      |  FROM d CROSS JOIN cuts c
      |  WHERE d.doc_id <= c.cut_doc_id
      |  GROUP BY 1, 2),
      |fo AS (
      |  SELECT w, min(doc_id) AS fd
      |  FROM (SELECT doc_id, unnest(list_distinct(
      |          CASE WHEN len(l) >= 3 THEN
      |            list_transform(range(1, len(l) - 1),
      |              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
      |          ELSE CAST([] AS VARCHAR[]) END)) AS w FROM d)
      |  GROUP BY 1),
      |vk AS (
      |  SELECT c.decile, CAST(count(*) AS BIGINT) AS vocab_cum
      |  FROM fo CROSS JOIN cuts c
      |  WHERE fo.fd <= c.cut_doc_id
      |  GROUP BY 1),
      |pts AS (
      |  SELECT nk.decile, nk.cut_doc_id, nk.n_docs_cum, nk.n_tokens_cum,
      |    vk.vocab_cum,
      |    ${lnQ("nk.n_tokens_cum")} AS x, ${lnQ("vk.vocab_cum")} AS y
      |  FROM nk JOIN vk ON vk.decile = nk.decile),
      |b AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM pts)
      |SELECT pts.decile, pts.cut_doc_id, pts.n_docs_cum, pts.n_tokens_cum,
      |  pts.vocab_cum,
      |  CAST(${sdivPpm(
          "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
          "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx",
          duck = true)} AS BIGINT) AS heaps_beta_ppm
      |FROM pts CROSS JOIN b""".stripMargin
  }

  /** #338 HTML boilerplate stripping — the web-corpus cleaning pass
    * (tag removal + script elimination + whitespace collapse) proven
    * by construction: each document is wrapped in a VALID formulaic
    * HTML shell derived from doc_id (the #248 planted-corruption
    * pattern), the Spark side runs the REAL strip regexes, and the
    * oracle recomputes every output column arithmetically from the
    * id formula WITHOUT stripping — any regex regression on any row
    * breaks the hash compare. Map-only; the regex chain is
    * codegen-friendly `regexp_replace`, no UDF. */
  private def htmlStrip(s: SparkSession, dir: String): DataFrame = {
    val wrapped = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("text"), concat(
        lit("<html><body><div id=\"d"), col("doc_id"), lit("\" class=\"c"),
        pmod(col("doc_id"), lit(7)), lit("\"><h1>T</h1><p>"), col("text"),
        lit("</p><script>var x="), col("doc_id"),
        lit(";</script></div></body></html>")).as("__html"))
    wrapped
      // 1. drop script blocks WITH their content; 2. drop every
      // remaining tag; 3. collapse runs of whitespace introduced by
      // tag boundaries
      .withColumn("__noscript",
        regexp_replace(col("__html"), "<script>.*?</script>", " "))
      .withColumn("__notags",
        regexp_replace(col("__noscript"), "<[^>]*>", " "))
      .withColumn("__clean",
        expr("trim(regexp_replace(__notags, '\\\\s+', ' '))"))
      .select(col("doc_id"),
        length(col("__html")).cast("long").as("html_len"),
        length(col("__clean")).cast("long").as("clean_len"),
        (length(col("__html")) - length(col("__clean"))).cast("long")
          .as("removed_chars"),
        (!col("__clean").contains("<") &&
          !col("__clean").contains("var x=")).as("strip_ok"))
  }

  private val htmlStripSql =
    """SELECT doc_id,
      |  CAST(95 + 2 * length(CAST(doc_id AS VARCHAR))
      |    + length(CAST(doc_id % 7 AS VARCHAR)) + length(text)
      |    AS BIGINT) AS html_len,
      |  CAST(2 + length(trim(regexp_replace(text, '\s+', ' ', 'g')))
      |    AS BIGINT) AS clean_len,
      |  CAST(95 + 2 * length(CAST(doc_id AS VARCHAR))
      |    + length(CAST(doc_id % 7 AS VARCHAR)) + length(text)
      |    - 2 - length(trim(regexp_replace(text, '\s+', ' ', 'g')))
      |    AS BIGINT) AS removed_chars,
      |  TRUE AS strip_ok
      |FROM documents""".stripMargin

  /** #346 RAKE keyphrase extraction — multi-word keyphrases by the
    * Rapid-Automatic-Keyword-Extraction score (degree/frequency), the
    * phrase-level complement of q_tfidf (unigrams) and
    * q_boilerplate_phrases (which surfaces REPEATED text — RAKE
    * surfaces CONTENT-BEARING text). Candidate phrases are maximal
    * stopword-free token runs, built in the ARRAY domain off the
    * parity-proven `[^a-z0-9]+` split (stopwords → '|' markers, join,
    * one regex split — no per-row loop); word degree folds Σ|phrase|
    * per occurrence, score(w) = ⌊deg·1e6/freq⌋, and a phrase scores
    * Σ score(w) — exact integers end to end. The shuffles carry
    * words and phrases, never documents; the top-15 cut plans as
    * TakeOrderedAndProject. */
  private def keyphraseRake(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is", "for",
      "on", "with", "as")
    val stopSql = stop.map(w => s"'$w'").mkString(", ")
    val docs = parallelize(s, t(s, dir, "documents"))
    val phrases = docs
      .select(expr("filter(split(lower(text), '[^a-z0-9]+'), w -> w <> '')")
        .as("__ws"))
      .select(explode(expr(
        s"""filter(split(concat_ws(' ',
           |  transform(__ws, w -> CASE WHEN w IN ($stopSql) THEN '|' ELSE w END)),
           |  ' *\\\\| *'), p -> p <> '')"""
          .stripMargin.replace("\n", " "))).as("phrase"))
      .filter(expr("size(split(phrase, ' ')) <= 6"))
    val stats = phrases
      .select(expr("size(split(phrase, ' '))").cast("long").as("__plen"),
        explode(expr("split(phrase, ' ')")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("__freq"), sum("__plen").as("__deg"))
      .select(col("w"), expr("(__deg * 1000000) div __freq").as("__wscore"))
    phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"),
        explode(expr("split(phrase, ' ')")).as("w"))
      .join(stats, Seq("w"))
      .groupBy("phrase", "n_occ")
      .agg(sum("__wscore").as("rake_score"))
      .orderBy(desc("rake_score"), asc("phrase")).limit(15)
  }

  private val keyphraseRakeSql = {
    val stopSql = Seq("the", "a", "an", "and", "of", "to", "in", "is", "for",
      "on", "with", "as").map(w => s"'$w'").mkString(", ")
    s"""WITH ws AS (
       |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                     w -> w <> '') AS l
       |  FROM documents),
       |ph AS (
       |  SELECT p AS phrase
       |  FROM ws, unnest(list_filter(string_split_regex(
       |    array_to_string(list_transform(l,
       |      w -> CASE WHEN w IN ($stopSql) THEN '|' ELSE w END), ' '),
       |    ' *\\| *'), p -> p <> '')) AS t(p)),
       |phf AS (SELECT phrase FROM ph
       |        WHERE len(string_split(phrase, ' ')) <= 6),
       |pw AS (
       |  SELECT u.w, len(string_split(phrase, ' ')) AS plen
       |  FROM phf, unnest(string_split(phrase, ' ')) AS u(w)),
       |sc AS (
       |  SELECT w, CAST((CAST(sum(plen) AS BIGINT) * 1000000) // count(*)
       |              AS BIGINT) AS wscore
       |  FROM pw GROUP BY 1),
       |pc AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
       |       FROM phf GROUP BY 1)
       |SELECT pc.phrase, pc.n_occ,
       |  CAST(sum(sc.wscore) AS BIGINT) AS rake_score
       |FROM pc, unnest(string_split(pc.phrase, ' ')) AS u(w)
       |JOIN sc ON sc.w = u.w
       |GROUP BY 1, 2
       |ORDER BY rake_score DESC, phrase LIMIT 15""".stripMargin
  }

  /** #351 DSIR importance resampling — Data Selection via Importance
    * Resampling (Xie et al. 2023, public): score every raw document by
    * how target-like its hashed n-gram bag is, log w(x) =
    * Σ_g c_g(x)·(ln p̂_target(g) − ln p̂_raw(g)) under two
    * add-one-smoothed bag-of-hashed-grams models (unigrams + bigrams,
    * B=2048 buckets), then keep the top of the ranking. The target
    * distribution is the corpus's first source (min(source) — a 1-row
    * broadcast, so "which pile is the target" is data-driven, never a
    * config literal that goes stale). Scale shape: gram hashing is the
    * shared poly-fingerprint map pass; the two model tables are ONE
    * O(B) grouped aggregate broadcast everywhere; per-doc scores are
    * one partial-aggregated groupBy; the final cut is
    * TakeOrderedAndProject (per-partition heaps — no global sort at
    * 100 TB). Integer end to end: probabilities quantize to ppm and
    * logs to ⌊ln·1e6⌋ (the q_char_kl device), so the score is an exact
    * BIGINT on both engines. */
  private def dsir(s: SparkSession, dir: String): DataFrame = {
    val B = 2048L
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokens(lower(col("text"))).as("__t"))
    val uni = docs.select(col("doc_id"), col("source"),
      explode(col("__t")).as("g"))
    // sequence(1, 0) would count DOWN in Spark — the filter guard keeps
    // 1-token docs bigram-free instead of indexing t[-1]
    val big = docs.select(col("doc_id"), col("source"),
      explode(expr("transform(filter(sequence(1, greatest(size(__t) - 1, 1))," +
        " i -> i <= size(__t) - 1), i -> concat(__t[i - 1], ' ', __t[i]))")).as("g"))
    val grams = uni.unionAll(big)
      .select(col("doc_id"), col("source"),
        pmod(graft.functions.NativeText.poly_fingerprint(col("g"), lit(0L),
          TextAnalysis.FingerprintMod), lit(B)).as("b"))
    val ts = docs.agg(min("source").as("__ts"))
    // ONE aggregation of the gram fan-out: the per-(doc, bucket) counts
    // feed BOTH the model (grouped again by bucket — Σ per-doc counts ≡
    // the per-occurrence conditional sums it replaces) and the per-doc
    // scoring pass. Unpersisted, the tokenize→explode→fingerprint
    // pipeline over every document executed TWICE (model + scoring);
    // the persisted bcnt is O(docs·distinct buckets) ≤ docs·2048 rows.
    val bcnt = grams.groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = bcnt.crossJoin(broadcast(ts))
      .groupBy("b")
      .agg(sum(when(col("source") === col("__ts"), col("c")).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= col("__ts"), col("c")).otherwise(0L)).as("cr"))
    val tot = model.agg(sum("ct").as("__tt"), sum("cr").as("__tr"))
    val lam = model.crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"${lnQ(s"greatest(1, ((ct + 1) * 1000000) div (__tt + $B))")}" +
          s" - ${lnQ(s"greatest(1, ((cr + 1) * 1000000) div (__tr + $B))")}")
          .as("dl"))
    val perDoc = bcnt
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_grams"), sum(expr("c * dl")).as("score_q6"))
    val top = perDoc.crossJoin(broadcast(ts))
      .filter(col("source") =!= col("__ts")) // resample from the RAW pile
      .orderBy(desc("score_q6"), asc("doc_id")).limit(20)
    top.withColumn("rank",
        row_number().over(Window.orderBy(desc("score_q6"), asc("doc_id")))
          .cast("long"))
      .select("rank", "doc_id", "source", "n_grams", "score_q6")
  }

  private val dsirSql =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      |  FROM documents),
      |uni AS (SELECT doc_id, source, unnest(t) AS g FROM d),
      |big AS (
      |  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS g
      |  FROM d, unnest(range(1, greatest(len(t), 1))) AS u(i)),
      |grams AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split_regex(g, ''),
      |                       c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 36028797018963913) % 2048 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
      |ts AS (SELECT min(source) AS s FROM documents),
      |model AS (
      |  SELECT b,
      |    CAST(sum(CASE WHEN source = ts.s THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(sum(CASE WHEN source <> ts.s THEN 1 ELSE 0 END) AS BIGINT) AS cr
      |  FROM grams CROSS JOIN ts GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
      |               CAST(sum(cr) AS BIGINT) AS tr FROM model),
      |lam AS (
      |  SELECT b,
      |    ${lnQ("greatest(1, ((ct + 1) * 1000000) // (tt + 2048))")}
      |    - ${lnQ("greatest(1, ((cr + 1) * 1000000) // (tr + 2048))")}
      |      AS dl
      |  FROM model CROSS JOIN tot),
      |pd AS (
      |  SELECT g.doc_id, g.source,
      |    CAST(sum(cnt) AS BIGINT) AS n_grams,
      |    CAST(sum(cnt * dl) AS BIGINT) AS score_q6
      |  FROM (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS cnt
      |        FROM grams GROUP BY 1, 2, 3) g
      |  JOIN lam ON lam.b = g.b
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT * FROM pd CROSS JOIN ts WHERE source <> ts.s
      |  ORDER BY score_q6 DESC, doc_id LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY score_q6 DESC, doc_id) AS BIGINT)
      |    AS rank,
      |  doc_id, source, n_grams, score_q6
      |FROM top""".stripMargin

  /** #352 span-corruption plan — the T5/UL2 denoising-objective
    * preprocessing audit (Raffel et al. 2020, public): per document,
    * which token positions would be masked at a 15% rate and how many
    * contiguous SPANS they form (span count drives sentinel-token
    * budget and target-length planning). The mask decision is a pure
    * multiplicative hash of (doc_id, position) — deterministic,
    * replayable on any engine, repartition-stable — so span starts need
    * NO window: started(i) = masked(i) AND NOT masked(i−1) is map-side
    * arithmetic per token row, and the whole plan is one explode + one
    * partial-aggregated groupBy however large the corpus. Positions
    * key as doc_id·1e6 + i (documents are generator-bounded ≪ 1e6
    * tokens; the key never collides across docs). */
  private def spanCorruption(s: SparkSession, dir: String): DataFrame = {
    // the mask hash SQUARES the multiplicative hash before the
    // threshold (the q_epoch_shuffle device): an affine-only chain
    // steps by the CONSTANT A between consecutive positions, so two
    // neighbors never co-mask and every span has length 1 — caught by
    // the vacuity audit on first run. x² mod M decorrelates neighbors;
    // exact in DECIMAL(38,0)/HUGEINT (x < 2^55 ⇒ x² < 10^34).
    def maskedE(key: String): String = {
      val h = multHashExpr(key)
      s"(pmod(CAST($h AS DECIMAL(38,0)) * $h, ${TextAnalysis.FingerprintMod}) % 1000) < 150"
    }
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text")))).as(Seq("i", "__w")))
      .select(col("doc_id"), col("i"),
        expr(maskedE("(doc_id * 1000000 + i)")).as("__m"),
        expr(s"i > 0 AND ${maskedE("(doc_id * 1000000 + i)")}" +
          s" AND NOT (${maskedE("(doc_id * 1000000 + i - 1)")})" +
          s" OR i = 0 AND ${maskedE("(doc_id * 1000000 + i)")}").as("__start"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__m").cast("long")).as("n_masked"),
        sum(col("__start").cast("long")).as("n_spans"))
      .withColumn("mask_ppm", expr("(n_masked * 1000000) div n_tokens"))
      .withColumn("mean_span_len_q3",
        expr("CASE WHEN n_spans > 0 THEN (n_masked * 1000) div n_spans" +
          " ELSE 0 END"))
  }

  private lazy val spanCorruptionSql = {
    def maskedD(key: String): String = {
      val h = multHashDuck(key)
      s"(((CAST(($h) AS HUGEINT) * ($h)) % ${TextAnalysis.FingerprintMod}) % 1000) < 150"
    }
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) - 1
       |      AS i,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, i,
       |    ${maskedD("(doc_id * 1000000 + i)")} AS mk,
       |    (i > 0 AND ${maskedD("(doc_id * 1000000 + i)")}
       |      AND NOT (${maskedD("(doc_id * 1000000 + i - 1)")}))
       |    OR (i = 0 AND ${maskedD("(doc_id * 1000000 + i)")}) AS st
       |  FROM tok)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  CAST((sum(CASE WHEN mk THEN 1 ELSE 0 END) * 1000000) // count(*)
       |    AS BIGINT) AS mask_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN st THEN 1 ELSE 0 END) > 0
       |    THEN (sum(CASE WHEN mk THEN 1 ELSE 0 END) * 1000)
       |         // sum(CASE WHEN st THEN 1 ELSE 0 END)
       |    ELSE 0 END AS BIGINT) AS mean_span_len_q3
       |FROM m GROUP BY 1""".stripMargin
  }

  /** #353 bytes-per-token — the compression-style quality signal data
    * curators read per pile (a high bytes/token ratio flags encoding
    * bloat, long rare words, or non-linguistic content; cf. the
    * tokens-per-byte filters in public corpus reports): per (source,
    * lang) cell, docs, exact byte and token masses, the cell ratio in
    * ppm, and the min/max per-doc ratio. Byte counts are octet lengths
    * (not char counts) — identical on both engines for any UTF-8
    * payload. One map pass + one partial-aggregated groupBy. */
  private def tokensPerByte(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("source"), col("lang"),
        octet_length(col("text")).cast("long").as("__b"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("__t"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("__b").as("sum_bytes"), sum("__t").as("sum_tokens"),
        min(expr("(__b * 1000000) div __t")).as("min_bpt_ppm"),
        max(expr("(__b * 1000000) div __t")).as("max_bpt_ppm"))
      .withColumn("bpt_ppm", expr("(sum_bytes * 1000000) div sum_tokens"))

  private val tokensPerByteSql =
    """WITH d AS (
      |  SELECT source, lang,
      |    CAST(strlen(text) AS BIGINT) AS b,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
      |  FROM documents)
      |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(b) AS BIGINT) AS sum_bytes,
      |  CAST(sum(t) AS BIGINT) AS sum_tokens,
      |  CAST(min((b * 1000000) // t) AS BIGINT) AS min_bpt_ppm,
      |  CAST(max((b * 1000000) // t) AS BIGINT) AS max_bpt_ppm,
      |  CAST((sum(b) * 1000000) // sum(t) AS BIGINT) AS bpt_ppm
      |FROM d GROUP BY 1, 2""".stripMargin

  /** #354 exact-substring cross-doc dedup — the suffix-array dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", public) re-expressed bucketed: every K=10-token
    * sliding window is fingerprinted, a window is DUPLICATED when it
    * occurs in ≥2 distinct docs, and each doc reports what fraction of
    * its windows are cross-doc duplicates (the "remove these spans"
    * signal ExactSubstr acts on). No suffix array is ever built: the
    * explode is map-side, windows ride as 8-byte fingerprints (the
    * 60-char strings never shuffle), duplication is ONE hash-bucketed
    * aggregate, and the flag joins back on the same key — Σ bucket²
    * never appears, so the shape is the MinHash-LSH scale contract on
    * a different key. The oracle replays window STRINGS (never the
    * hash), so the gate doubles as a fingerprint-collision-absence
    * proof (the q_source_overlap device). Naturally non-vacuous: the
    * generator's templated runs give ~9% duplicated 10-grams at every
    * shipped SF (measured 0.001/0.01/0.1 before K was fixed). */
  private def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val K = 10
    val wins = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("__t"))
      .filter(size(col("__t")) >= K)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(__t) - ${K - 1})," +
          s" i -> array_join(slice(__t, i, $K), ' '))")).as("__w"))
      .select(col("doc_id"),
        graft.functions.NativeText.poly_fingerprint(col("__w"), lit(0L),
          TextAnalysis.FingerprintMod).as("h"))
    val dup = wins.groupBy("h")
      .agg((countDistinct("doc_id") >= 2).as("__dup"))
    wins.join(dup, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("__dup").cast("long")).as("n_dup_windows"))
      .withColumn("dup_ppm", expr("(n_dup_windows * 1000000) div n_windows"))
  }

  private val substringDedupSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT doc_id, list_aggregate(t[i:i+9], 'string_agg', ' ') AS w
      |  FROM d, unnest(range(1, len(t) - 10 + 2)) AS u(i)
      |  WHERE len(t) >= 10),
      |dup AS (SELECT w, count(DISTINCT doc_id) >= 2 AS dp FROM w GROUP BY 1)
      |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN dup.dp THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_windows,
      |  CAST((sum(CASE WHEN dup.dp THEN 1 ELSE 0 END) * 1000000) // count(*)
      |    AS BIGINT) AS dup_ppm
      |FROM w JOIN dup USING (w) GROUP BY 1""".stripMargin

  /** #355 Gopher repetition signals — the within-doc repetition
    * filters of Rae et al. 2021 (Gopher, Table A1, public): per doc,
    * the token fraction claimed by the single most frequent 2-, 3-,
    * and 4-gram (templated/boilerplate docs spike these long before
    * exact dedup sees them). One explode emits all three gram sizes
    * tagged by n (the fan-out is a CONSTANT ≤3× of the token count),
    * one (doc, n, gram) count + one (doc, n) max, and a conditional
    * pivot back to columns — all partial-aggregated, no window, no
    * join but the final n_tokens attach. Overlapping occurrences can
    * claim more tokens than exist (Gopher's definition counts
    * occurrences×n), so the ppm clamps at 1e6. */
  private def gopherRep(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("__t"))
    val grams = docs.select(col("doc_id"), size(col("__t")).cast("long").as("__nt"),
      explode(expr(
        """flatten(transform(array(2, 3, 4), n ->
          |  transform(filter(sequence(1, greatest(size(__t) - n + 1, 1)),
          |                   i -> i <= size(__t) - n + 1),
          |            i -> struct(n AS n, array_join(slice(__t, i, n), ' ') AS g))))"""
          .stripMargin.replace("\n", " "))).as("e"))
      .select(col("doc_id"), col("__nt"), col("e.n").as("n"), col("e.g").as("g"))
    grams.groupBy("doc_id", "__nt", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "__nt", "n").agg(max("c").as("top"))
      .groupBy("doc_id", "__nt")
      .agg(max(when(col("n") === 2, col("top"))).as("__t2"),
        max(when(col("n") === 3, col("top"))).as("__t3"),
        max(when(col("n") === 4, col("top"))).as("__t4"))
      .select(col("doc_id"), col("__nt").as("n_tokens"),
        coalesce(col("__t2"), lit(0L)).as("top2_cnt"),
        expr("least(1000000, (coalesce(__t2, 0) * 2 * 1000000) div __nt)")
          .as("top2_ppm"),
        expr("least(1000000, (coalesce(__t3, 0) * 3 * 1000000) div __nt)")
          .as("top3_ppm"),
        expr("least(1000000, (coalesce(__t4, 0) * 4 * 1000000) div __nt)")
          .as("top4_ppm"))
  }

  private val gopherRepSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS nt, n.n AS n,
      |    list_aggregate(t[i:i+n.n-1], 'string_agg', ' ') AS g
      |  FROM d, (VALUES (2), (3), (4)) n(n),
      |       unnest(range(1, greatest(len(t) - n.n + 1, 0) + 1)) AS u(i)),
      |c AS (SELECT doc_id, nt, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3, 4),
      |tp AS (SELECT doc_id, nt, n, max(c) AS top FROM c GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT doc_id, nt,
      |    max(CASE WHEN n = 2 THEN top END) AS t2,
      |    max(CASE WHEN n = 3 THEN top END) AS t3,
      |    max(CASE WHEN n = 4 THEN top END) AS t4
      |  FROM tp GROUP BY 1, 2)
      |SELECT doc_id, nt AS n_tokens,
      |  CAST(coalesce(t2, 0) AS BIGINT) AS top2_cnt,
      |  CAST(least(1000000, (coalesce(t2, 0) * 2 * 1000000) // nt) AS BIGINT)
      |    AS top2_ppm,
      |  CAST(least(1000000, (coalesce(t3, 0) * 3 * 1000000) // nt) AS BIGINT)
      |    AS top3_ppm,
      |  CAST(least(1000000, (coalesce(t4, 0) * 4 * 1000000) // nt) AS BIGINT)
      |    AS top4_ppm
      |FROM p""".stripMargin

  /** ⌊ln(1e12)·1e6⌋ — the fixed-point log of the Naive-Bayes ppt
    * (parts-per-trillion) probability scale (#372). */
  private val LnTrillionQ6 = 27631021L

  /** #372 multinomial Naive Bayes — train a language classifier on the
    * hash-split 3/4 of the corpus, score the held-out 1/4, emit the
    * confusion matrix: the classical text-classification baseline
    * (a first-class corpus-curation op: route docs when the declared
    * `lang` is missing/untrusted, audit it when present — the trainable
    * sibling of #24's fixed marker heuristic). Everything replays
    * exactly: the split is the multiplicative hash, P(tok|c) =
    * (cnt+1)/(totᶜ+V) quantizes at parts-per-trillion by ONE integral
    * division (positive through 1e12 tokens/class — documented gate)
    * before the property-tested ⌊ln·1e6⌋ fold, and the per-doc argmax
    * is a bounded `min(struct(−score, lang))` aggregate with the
    * deterministic min-lang tiebreak. Plan shape: token counts are one
    * groupBy, the class grid is a 5-row broadcast, scoring is one
    * equi-join of test tokens against the (token,class) model — no
    * all-pairs anywhere; the model table itself shuffles on token,
    * V·C rows. */
  private def naiveBayes(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"),
        (expr(s"pmod(${multHashExpr("doc_id")}, 4)") < 3).as("__train"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = docs.filter(col("__train"))
    val cnt = train.groupBy(col("lang").as("c"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classes = cnt.groupBy("c").agg(sum("cnt").as("tot"))
    val vocab = cnt.select("token").distinct().agg(count(lit(1)).as("v"))
    val priors = train.select("doc_id", "lang").distinct()
      .groupBy(col("lang").as("c")).agg(count(lit(1)).as("nd"))
    val ndTot = priors.agg(sum("nd").as("ndt"))
    val model = cnt // (token, class) observed counts; zeros via left join
    val test = docs.filter(!col("__train"))
      .select(col("doc_id"), col("lang"), col("token"))
    val scored = test
      .crossJoin(broadcast(classes.join(vocab).join(
        priors, Seq("c")).crossJoin(broadcast(ndTot))))
      .join(model, Seq("token", "c"), "left")
      .select(col("doc_id"), col("lang"), col("c"),
        expr(s"""${lnQ("((coalesce(cnt, 0) + 1) * 1000000000000) div (tot + v)")}
                 - $LnTrillionQ6""").as("__t"),
        expr(s"""${lnQ("(nd * 1000000000000) div ndt")}
                 - $LnTrillionQ6""").as("__p"))
      .groupBy("doc_id", "lang", "c")
      .agg((sum("__t") + first("__p")).as("__score"))
    val pred = scored.groupBy("doc_id", "lang")
      .agg(min(struct((-col("__score")).as("ns"), col("c"))).as("__b"))
      .select(col("lang"), col("__b.c").as("pred_lang"))
    pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
  }

  private val naiveBayesSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token,
       |    (${multHashDuck("doc_id")} % 4) < 3 AS train
       |  FROM documents),
       |cnt AS (
       |  SELECT lang AS c, token, count(*) AS cnt
       |  FROM d WHERE train GROUP BY 1, 2),
       |cls AS (SELECT c, sum(cnt) AS tot FROM cnt GROUP BY 1),
       |voc AS (SELECT count(DISTINCT token) AS v FROM cnt),
       |pri AS (
       |  SELECT lang AS c, count(DISTINCT doc_id) AS nd
       |  FROM d WHERE train GROUP BY 1),
       |ndt AS (SELECT sum(nd) AS ndt FROM pri),
       |test AS (SELECT doc_id, lang, token FROM d WHERE NOT train),
       |sc AS (
       |  SELECT t.doc_id, t.lang, cls.c,
       |    sum(${lnQ("((coalesce(m.cnt, 0) + 1) * 1000000000000) // (cls.tot + voc.v)")}
       |        - $LnTrillionQ6)
       |      + any_value(${lnQ("(pri.nd * 1000000000000) // ndt.ndt")}
       |        - $LnTrillionQ6) AS score
       |  FROM test t
       |  CROSS JOIN cls CROSS JOIN voc CROSS JOIN ndt
       |  JOIN pri ON pri.c = cls.c
       |  LEFT JOIN cnt m ON m.token = t.token AND m.c = cls.c
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT lang, c AS pred_lang,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, c ASC) AS rn
       |  FROM sc)
       |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  /** #374 Kneser–Ney bigram LM — the standard smoothed n-gram
    * estimator (Kneser & Ney 1995; Chen & Goodman 1998, both public),
    * replacing #87's additive smoothing with absolute discounting plus
    * CONTINUATION-count backoff: p(w|v) = max(c(v,w)−D,0)/c(v) +
    * D·N₁₊(v·)/c(v) · N₁₊(·w)/T, D = 3/4. Working in quarters makes
    * the whole mixture ONE rational per pair — [max(4c−3,0)·T +
    * 3·N₁₊(v·)·N₁₊(·w)] / (4·c(v)·T) — quantized parts-per-trillion
    * by one positive integral division into the property-tested
    * ⌊ln·1e6⌋ fold; the per-doc score is an exact integer sum. Model
    * tables (bigrams, contexts, continuation counts) are V²-bounded
    * broadcasts over the same map-side adjacent-pair device as #87;
    * nothing re-tokenizes per class. */
  private def kneserNey(s: SparkSession, dir: String): DataFrame = {
    val V = 256
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text")))).as(Seq("pos", "token")))
    val vocab = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(V)
      .withColumn("id",
        row_number().over(Window.orderBy(desc("df"), asc("token"))))
      .select("token", "id")
    // adjacent-id pairs via lead() — see bigramDocScores (the model
    // counts and the scoring pass below share the window's exchange)
    val wkn = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0)).as("id1"))
      .withColumn("id2", lead(col("id1"), 1).over(wkn))
      .filter(col("id2").isNotNull)
      .select("doc_id", "id1", "id2")
    val bigrams = pairs.groupBy("id1", "id2").agg(count(lit(1)).as("c12"))
    val contexts = bigrams.groupBy("id1").agg(sum("c12").as("c1"),
      count(lit(1)).as("n1post"))
    val cont = bigrams.groupBy("id2").agg(count(lit(1)).as("n1pre"))
    val types = bigrams.agg(count(lit(1)).as("tt"))
    pairs
      .join(broadcast(bigrams), Seq("id1", "id2"))
      .join(broadcast(contexts), Seq("id1"))
      .join(broadcast(cont), Seq("id2"))
      .crossJoin(broadcast(types))
      .select(col("doc_id"), expr(
        s"""${lnQ("""greatest((CAST(greatest(4 * c12 - 3, 0) * tt
                      + 3 * n1post * n1pre AS DECIMAL(38,0)) * 1000000000000)
                     div (CAST(4 * c1 AS DECIMAL(38,0)) * tt), 1)""".replace("\n", " "))}
            - $LnTrillionQ6""").as("__t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("__t").as("kn_lnq6"))
  }

  private val kneserNeySql =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token,
       |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS pos
       |  FROM documents),
       |df AS (
       |  SELECT token, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
       |vocab AS (
       |  SELECT token,
       |    CAST(row_number() OVER (ORDER BY df DESC, token) AS INT) AS id
       |  FROM df ORDER BY df DESC, token LIMIT 256),
       |ids AS (
       |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
       |  FROM tok t LEFT JOIN vocab v USING (token)),
       |pairs AS (
       |  SELECT a.doc_id, a.id AS id1, b.id AS id2
       |  FROM ids a JOIN ids b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |bg AS (SELECT id1, id2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
       |ctx AS (SELECT id1, sum(c12) AS c1, count(*) AS n1post
       |        FROM bg GROUP BY 1),
       |cont AS (SELECT id2, count(*) AS n1pre FROM bg GROUP BY 1),
       |tt AS (SELECT count(*) AS tt FROM bg)
       |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(${lnQ(
            """greatest((CAST(greatest(4 * bg.c12 - 3, 0) * tt.tt
              | + 3 * ctx.n1post * cont.n1pre AS HUGEINT) * 1000000000000)
              | // (CAST(4 * ctx.c1 AS HUGEINT) * tt.tt), 1)""".stripMargin.replace("\n", " "))}
       |    - $LnTrillionQ6) AS BIGINT) AS kn_lnq6
       |FROM pairs p
       |JOIN bg USING (id1, id2)
       |JOIN ctx USING (id1)
       |JOIN cont USING (id2)
       |CROSS JOIN tt
       |GROUP BY 1""".stripMargin

  /** #379 rank-biased overlap — RBO@10 (Webber et al. 2010, public)
    * between two document rankings (longest-by-chars vs
    * most-whitespace-tokens): DO two length notions agree about the
    * head of the corpus? p = 9/10 makes every weight an exact integer
    * at the 1e10 scale (10^{d−1} divides 1e9·9^{d−1} for d ≤ 10), and
    * the 1/d factors clear through lcm(1..10) = 2520 — so the whole
    * truncated-RBO sum is ONE integer fold and ONE final ppm division.
    * Each ranking is a TakeOrderedAndProject top-10 (bounded heaps);
    * the depth-overlap table is a 10×10 bounded join. */
  private def rbo(s: SparkSession, dir: String): DataFrame = {
    val d = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("__tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def top10(score: String): DataFrame = d
      .orderBy(desc(score), asc("doc_id")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc(score), asc("doc_id"))))
      .select(col("doc_id"), col("rk"))
    // bounded 10-row frames; the window is over the already-cut top-10
    val a = top10("n_chars").select(col("doc_id"), col("rk").as("ra"))
    val b = top10("__tok").select(col("doc_id"), col("rk").as("rb"))
    val weights = (1 to 10).map(dd =>
      (dd, BigInt(9).pow(dd - 1).toLong * math.pow(10, 10 - dd).toLong / 10L
        * 10L, 2520 / dd)) // w_e10(d) = 1e9·9^{d-1}/10^{d-1}
    import s.implicits._
    val wdf = broadcast(weights.map { case (dd, w, ld) => (dd, w, ld.toLong) }
      .toDF("d", "w_e10", "lcm_d"))
    val xd = a.join(b, Seq("doc_id"))
      .crossJoin(broadcast(wdf))
      .filter(col("ra") <= col("d") && col("rb") <= col("d"))
      .groupBy("d", "w_e10", "lcm_d")
      .agg(count(lit(1)).as("x_d"))
    // zero overlap through depth 10 ⇒ xd has NO rows: the sum must be
    // 0, not NULL (caught by the sf1 sweep — disjoint top-10s)
    xd.agg(coalesce(sum(expr("w_e10 * x_d * lcm_d")), lit(0L)).as("__s"))
      .select(
        expr("CAST((CAST(__s AS DECIMAL(38,0)) * 1000000) div (CAST(10000000000 AS DECIMAL(38,0)) * 2520) AS BIGINT)")
          .as("rbo_ppm"))
  }

  private val rboSql = {
    val weights = (1 to 10).map(dd =>
      s"(${dd}, ${BigInt(9).pow(dd - 1).toLong * BigInt(10).pow(10 - dd).toLong / 10L * 10L}, ${2520 / dd})")
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
       |      AS BIGINT) AS tok
       |  FROM documents),
       |a AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id)
       |    AS ra
       |  FROM d ORDER BY n_chars DESC, doc_id LIMIT 10),
       |b AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY tok DESC, doc_id) AS rb
       |  FROM d ORDER BY tok DESC, doc_id LIMIT 10),
       |w(dep, w_e10, lcm_d) AS (VALUES $weights),
       |xd AS (
       |  SELECT w.dep, w.w_e10, w.lcm_d, count(*) AS x_d
       |  FROM a JOIN b USING (doc_id) CROSS JOIN w
       |  WHERE a.ra <= w.dep AND b.rb <= w.dep
       |  GROUP BY 1, 2, 3)
       |SELECT CAST((CAST(coalesce(sum(w_e10 * x_d * lcm_d), 0) AS HUGEINT)
       |             * 1000000)
       |       // (CAST(10000000000 AS HUGEINT) * 2520) AS BIGINT) AS rbo_ppm
       |FROM xd""".stripMargin
  }

  /** #382 greedy coverage selection — pick 4 of the corpus's sources
    * to maximize distinct 3-shingle coverage (the submodular
    * data-selection step behind "which crawls add the most new
    * content"; the greedy 1−1/e guarantee is classical). Per round ONE
    * distributed pass: marginal gain per remaining source = anti-join
    * of its distinct shingles against the covered set (checkpointed,
    * grows by the winner only), argmax via a 1-row
    * TakeOrderedAndProject collect with min-source tiebreak (the
    * k-center driver pattern — O(k) state). Shingles are 64-bit
    * hashes Spark-side; the oracle replays on the raw string shingles,
    * so the count-only output doubles as a collision-absence proof
    * (the q_source_overlap device). */
  private def greedyCover(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcSh = parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        explode(TextAnalysis.hashedShingles(lower(col("text")), 3)).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var chosen = Vector[(Int, String, Long, Long)]()
    for (round <- 1 to 4) {
      // the covered set is re-derived LAZILY from the persisted srcSh
      // (shingles of the chosen sources) inside the round's one gains
      // job — the r13 loop materialized it with a distinct +
      // localCheckpoint per round, doubling the driver job count for
      // a set the anti-join consumes exactly once
      val covered =
        if (chosen.isEmpty) srcSh.select("sh").limit(0)
        else srcSh.filter(col("source").isInCollection(chosen.map(_._2)))
          .select("sh")
      val gains = srcSh
        .filter(!col("source").isInCollection(
          if (chosen.isEmpty) Seq("") else chosen.map(_._2)))
        .join(covered, Seq("sh"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), asc("source")).limit(1)
        .collect().map(r => (r.getString(0), r.getLong(1))).head
      val total = chosen.lastOption.fold(0L)(_._4) + gains._2
      chosen = chosen :+ ((round, gains._1, gains._2, total))
    }
    chosen.toDF("round", "source", "gain", "covered_total")
  }

  private val greedyCoverSql = {
    // NOT EXISTS (hash anti-join), never NOT IN: DuckDB's null-aware
    // anti-join for NOT IN goes quadratic-with-spill at sf1 (caught by
    // the sweep — temp-storage exhaustion); covered sets materialize
    // once per round
    def round(i: Int): String = {
      val excl =
        if (i == 1) "" else "WHERE " + (1 until i).map(j =>
          s"x.source <> (SELECT source FROM c$j)").mkString(" AND ")
      val cov =
        if (i == 1) "SELECT NULL AS sh WHERE 1=0"
        else (1 until i).map(j =>
          s"SELECT DISTINCT e.sh FROM e JOIN c$j ON c$j.source = e.source")
          .mkString(" UNION ")
      s"""cov$i AS MATERIALIZED ($cov),
         |g$i AS (
         |  SELECT x.source, count(*) AS gain
         |  FROM e x
         |  $excl${if (i == 1) "WHERE" else " AND"}
         |    NOT EXISTS (SELECT 1 FROM cov$i c WHERE c.sh = x.sh)
         |  GROUP BY 1),
         |c$i AS (SELECT source, gain FROM g$i
         |        ORDER BY gain DESC, source LIMIT 1)""".stripMargin
    }
    s"""WITH s AS (
       |${shingleSetsSql("(SELECT doc_id, source, lower(text) AS text FROM documents)")
          .replace("SELECT doc_id,", "SELECT doc_id, source,")
          .replace("(SELECT doc_id, regexp_split_to_array",
            "(SELECT doc_id, source, regexp_split_to_array")}),
       |e AS MATERIALIZED (SELECT DISTINCT source, unnest(s) AS sh FROM s),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to 4).map(i =>
          s"SELECT CAST($i AS INT) AS round, source, CAST(gain AS BIGINT) AS gain," +
            s" CAST((${(1 to i).map(j => s"(SELECT gain FROM c$j)").mkString(" + ")})" +
            s" AS BIGINT) AS covered_total FROM c$i").mkString("\nUNION ALL\n")})""".stripMargin
  }

  /** #394 Chao1 unseen-vocabulary estimate — how many MORE unique
    * 3-shingles would a bigger crawl surface? The nonparametric
    * richness estimator Ŝ = S + F₁²/(2F₂) plus the Good–Turing
    * unseen-mass share F₁/N (Chao 1984; the curve-fitting companion
    * is #336 Heaps' law). Runs over 3-SHINGLE document frequencies,
    * not unigrams — the corpus's unigram vocabulary saturates by sf1
    * (no singletons ⇒ vacuous estimator, caught by the sweep), while
    * the shingle space keeps a genuine rare tail at every SF. Hashes
    * Spark-side, string shingles in the oracle: count-only output =
    * collision-absence proof (the q_source_overlap device). One
    * df groupBy + one count-of-counts fold; exact integers. */
  private def chao1(s: SparkSession, dir: String): DataFrame = {
    val tf = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.hashedShingles(lower(col("text")), 3)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    tf.agg(count(lit(1)).as("s_obs"), sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("s_obs"), col("n_tokens"), col("f1"), col("f2"),
        expr("""s_obs + CAST((CAST(f1 AS DECIMAL(38,0)) * f1)
                div greatest(2 * f2, 1) AS BIGINT)""").as("chao1_est"),
        expr("(f1 * 1000000) div n_tokens").as("unseen_mass_ppm"))
  }

  private val chao1Sql =
    s"""WITH sh AS (
      |${shingleSetsSql("(SELECT doc_id, lower(text) AS text FROM documents)")}),
      |tf AS (SELECT doc_id, unnest(s) AS tok FROM sh),
      |c AS (SELECT tok, count(*) AS c FROM tf GROUP BY 1),
      |a AS (
      |  SELECT count(*) AS s_obs, sum(c) AS n_tokens,
      |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
      |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
      |  FROM c)
      |SELECT CAST(s_obs AS BIGINT) AS s_obs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
      |  CAST(s_obs + (CAST(f1 AS HUGEINT) * f1) // greatest(2 * f2, 1)
      |    AS BIGINT) AS chao1_est,
      |  CAST((f1 * 1000000) // n_tokens AS BIGINT) AS unseen_mass_ppm
      |FROM a""".stripMargin

  /** #395 Good–Turing smoothing — adjusted frequencies r* =
    * (r+1)·N_{r+1}/N_r for the unigram count-of-counts (Good 1953;
    * the smoothing #372's Laplace and #374's Kneser–Ney are
    * alternatives to): the whole model is the O(distinct counts)
    * count-of-counts table, so after one token groupBy the adjustment
    * is a self-join on r+1 (bounded frame) with r* quantized to milli
    * by one integral division. Runs over 3-SHINGLE document
    * frequencies (unigram counts saturate by sf1 — no r ≤ 10 rows at
    * all, caught by the sweep); rows r ≤ 10 emitted — the regime
    * where GT matters. Hashed Spark-side vs string oracle =
    * collision-absence proof. */
  private def goodTuring(s: SparkSession, dir: String): DataFrame = {
    val tf = parallelize(s, t(s, dir, "documents"))
      .select(explode(TextAnalysis.hashedShingles(lower(col("text")), 3)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val coc = tf.groupBy(col("c").as("r")).agg(count(lit(1)).as("nr"))
    coc.as("a")
      .join(coc.select((col("r") - 1).as("r"), col("nr").as("nr1")).as("b"),
        Seq("r"), "left")
      .filter(col("r") <= 10)
      .select(col("r"), col("nr"),
        coalesce(col("nr1"), lit(0L)).as("nr_next"),
        expr("""CAST(((r + 1) * coalesce(nr1, 0) * 1000)
                div nr AS BIGINT)""").as("r_star_milli"))
  }

  private val goodTuringSql =
    s"""WITH sh AS (
      |${shingleSetsSql("(SELECT doc_id, lower(text) AS text FROM documents)")}),
      |tf AS (SELECT doc_id, unnest(s) AS tok FROM sh),
      |c AS (SELECT tok, count(*) AS c FROM tf GROUP BY 1),
      |coc AS (SELECT c AS r, count(*) AS nr FROM c GROUP BY 1)
      |SELECT CAST(a.r AS BIGINT) AS r, CAST(a.nr AS BIGINT) AS nr,
      |  CAST(coalesce(b.nr, 0) AS BIGINT) AS nr_next,
      |  CAST(((a.r + 1) * coalesce(b.nr, 0) * 1000) // a.nr AS BIGINT)
      |    AS r_star_milli
      |FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
      |WHERE a.r <= 10""".stripMargin

  /** #397 corpus BLEU audit — BLEU-4 (Papineni 2002) between
    * same-source adjacent documents: how template-alike is each
    * source's content? (The generation-eval metric applied as a
    * boilerplate detector — complements #317's phrase mining.)
    * Pairing is an EQUI-JOIN on doc_id+20 filtered to same source —
    * never a per-source window over the raw table. Per pair, clipped
    * n-gram precision for n=1..4 comes from ONE native expression
    * ([[graft.functions.NativeText.BleuClipCounts]]) over the two
    * token arrays already side by side in the pair row — gram identity
    * is the exact token string, the same keying as the oracle's string
    * n-grams, and the whole metric is map-side: the only shuffles in
    * the query are the slim pairing join and the 20-row per-source
    * aggregate. (The first cut posexplode'd corpus×4 gram rows through
    * a groupBy + self-join — the r12 plan audit's worst constant
    * factor, ~356 s at sf10 and corpus×4 shuffle at any scale.)
    * log-BLEU = [Σ lnq6(pₙ) + 4·min(0, 1e6 − r·1e6/c)] / 4 in exact
    * fixed point. Output: per-source pair count, mean log-BLEU (q6). */
  private def bleu(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), lower(col("text")).as("tx"))
    // reference = the doc 20 ids ahead: source is id-mod-20 assigned in
    // the fixture, so +1 pairs NEVER share a source (0 pairs — vacuous);
    // the same-source filter still guards against assignment drift
    val pairs = docs.as("h")
      .join(docs.select((col("doc_id") - 20).as("doc_id"),
          col("source").as("rsource"), col("tx").as("rtx")).as("r"),
        Seq("doc_id"))
      .filter(col("source") === col("rsource"))
      .select(col("source"), col("tx"), col("rtx"))
    val slpTerms = (0 to 3).map { i =>
      s"(${lnQ(s"greatest((cc[${2 * i + 1}] * 1000000000000) div cc[${2 * i}], 1)")}" +
        s" - $LnTrillionQ6)"
    }.mkString(" + ")
    val perPair = pairs.select(col("source"),
        size(TextAnalysis.tokens(col("tx"))).cast("long").as("c"),
        size(TextAnalysis.tokens(col("rtx"))).cast("long").as("r"),
        graft.functions.NativeText.bleu_clip_counts(
          TextAnalysis.tokens(col("tx")),
          TextAnalysis.tokens(col("rtx"))).as("cc"))
      .select(col("source"),
        expr(sdiv(
          s"($slpTerms) + 4 * least(CAST(0 AS BIGINT), 1000000 - (r * 1000000) div c)",
          "4", duck = false)).as("__logbleu"))
    perPair.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        expr(sdiv("sum(__logbleu)", "count(1)", duck = false))
          .cast("long").as("mean_logbleu_q6"))
  }

  private val bleuSql =
    s"""WITH d AS (
       |  SELECT doc_id, source, lower(text) AS tx FROM documents),
       |pairs AS (
       |  SELECT h.doc_id AS pid, h.source, h.tx, r.tx AS rtx
       |  FROM d h JOIN d r ON r.doc_id = h.doc_id + 20
       |  WHERE h.source = r.source),
       |toks AS (
       |  SELECT pid, 'h' AS side,
       |    regexp_split_to_array(trim(tx), '\\s+') AS tk
       |  FROM pairs
       |  UNION ALL
       |  SELECT pid, 'r', regexp_split_to_array(trim(rtx), '\\s+')
       |  FROM pairs),
       |grams AS (
       |  SELECT pid, side, n.n,
       |    array_to_string(tk[u.i:u.i + n.n - 1], ' ') AS g
       |  FROM toks,
       |    (VALUES (1), (2), (3), (4)) AS n(n),
       |    unnest(range(1, greatest(len(tk) - n.n + 1, 1) + 1)) AS u(i)),
       |cnt AS (
       |  SELECT pid, n, g,
       |    sum(CASE WHEN side = 'h' THEN 1 ELSE 0 END) AS hc,
       |    sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS rc
       |  FROM grams GROUP BY 1, 2, 3),
       |clip AS (
       |  SELECT pid, n, sum(hc) AS tot, sum(least(hc, rc)) AS clip
       |  FROM cnt WHERE hc > 0 GROUP BY 1, 2),
       |lp AS (
       |  SELECT pid,
       |    sum(${lnQ("greatest((clip * 1000000000000) // tot, 1)")}
       |        - $LnTrillionQ6) AS slp
       |  FROM clip GROUP BY 1),
       |lens AS (
       |  SELECT pid, source,
       |    CAST(len(regexp_split_to_array(trim(tx), '\\s+')) AS BIGINT) AS c,
       |    CAST(len(regexp_split_to_array(trim(rtx), '\\s+')) AS BIGINT) AS r
       |  FROM pairs),
       |pp AS (
       |  SELECT lens.source,
       |    ${sdiv("lp.slp + 4 * least(CAST(0 AS BIGINT), 1000000 - (lens.r * 1000000) // lens.c)",
              "4", duck = true)}
       |      AS logbleu
       |  FROM lp JOIN lens USING (pid))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(${sdiv("sum(logbleu)", "count(*)", duck = true)} AS BIGINT)
       |    AS mean_logbleu_q6
       |FROM pp GROUP BY 1""".stripMargin

  /** #401 Jensen–Shannon source divergence — the symmetric, bounded
    * divergence between source unigram distributions (the mixture
    * audit #292's one-sided KL can't give): for every source pair,
    * JS = Σ_t cₐ·[ln(2cₐT_b) − ln(cₐT_b + c_bTₐ)]/(2Tₐ) + (sym.) —
    * the Tₐ inside the ratio cancels, so every ln argument is a
    * positive INTEGER and the whole statistic is two ⌊ln·1e6⌋ folds
    * plus two integral divisions per pair. Token counts shuffle once;
    * the pair expansion joins each source's vocabulary to the pair
    * list (O(vocab·pairs) rows, linear in vocab); one-sided tokens
    * enter through the left joins with c = 0 on the missing side
    * (contributing only to the present side's sum, as the formula
    * requires). */
  private def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val c = parallelize(s, t(s, dir, "documents"))
      .select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = c.groupBy("source").agg(sum("c").as("tt"))
    val pairs = tot.select(col("source").as("sa"), col("tt").as("ta"))
      .crossJoin(broadcast(tot.select(col("source").as("sb"), col("tt").as("tb"))))
      .filter(col("sa") < col("sb"))
    def side(aSrc: String, bSrc: String, aTot: String, bTot: String): DataFrame =
      broadcast(pairs)
        .join(c.select(col("source").as(aSrc), col("tok"), col("c").as("ca")),
          Seq(aSrc))
        .join(c.select(col("source").as(bSrc), col("tok"), col("c").as("cb")),
          Seq(bSrc, "tok"), "left")
        .select(col("sa"), col("sb"), col(aTot).as("tref"),
          expr(s"""CAST(ca AS DECIMAL(38,0)) *
                   (${lnQ(s"2 * CAST(ca AS DECIMAL(38,0)) * $bTot")}
                    - ${lnQ(s"CAST(ca AS DECIMAL(38,0)) * $bTot" +
                      s" + CAST(coalesce(cb, 0) AS DECIMAL(38,0)) * $aTot")})""")
            .as("__t"))
        .groupBy("sa", "sb", "tref")
        .agg(sum("__t").as("__s"))
        .select(col("sa"), col("sb"),
          expr(sdiv("__s", "2 * tref", duck = false)).as("__half"))
    side("sa", "sb", "ta", "tb")
      .unionAll(side("sb", "sa", "tb", "ta"))
      .groupBy("sa", "sb")
      .agg(sum("__half").cast("long").as("js_micro"))
  }

  private val jsDivergenceSql = {
    def side(a: String, b: String, ta: String, tb: String) =
      s"""SELECT p.sa, p.sb,
         |  ${sdiv(
            s"""sum(CAST(x.c AS HUGEINT) *
               | (${lnQ(s"2 * CAST(x.c AS HUGEINT) * p.$tb")}
               |  - ${lnQ(s"CAST(x.c AS HUGEINT) * p.$tb" +
                   s" + CAST(coalesce(y.c, 0) AS HUGEINT) * p.$ta")}))"""
              .stripMargin.replace("\n", " "),
            s"2 * p.$ta", duck = true)} AS half
         |FROM p
         |JOIN c x ON x.source = p.$a
         |LEFT JOIN c y ON y.source = p.$b AND y.tok = x.tok
         |GROUP BY 1, 2, p.$ta""".stripMargin
    s"""WITH c AS (
       |  SELECT source,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |cc AS (SELECT source, tok, count(*) AS c FROM c GROUP BY 1, 2),
       |tot AS (SELECT source, sum(c) AS tt FROM cc GROUP BY 1),
       |p AS (
       |  SELECT a.source AS sa, a.tt AS ta, b.source AS sb, b.tt AS tb
       |  FROM tot a JOIN tot b ON a.source < b.source)
       |SELECT sa, sb, CAST(sum(half) AS BIGINT) AS js_micro FROM (
       |${side("sa", "sb", "ta", "tb").replace(" c x", " cc x")
          .replace(" c y", " cc y")}
       |UNION ALL
       |${side("sb", "sa", "tb", "ta").replace(" c x", " cc x")
          .replace(" c y", " cc y")}
       |) GROUP BY 1, 2""".stripMargin
  }

  val rows: Seq[Q] = Seq(
    Q("q_text_stats", textStats, textStatsSql),
    Q("q_lang_id", langId, langIdSql),
    Q("q_token_count", tokenCount, tokenCountSql),
    Q("q_multimodal_meta", multimodalMeta, multimodalMetaSql),
    Q("q_quality_filter", qualityFilter, qualityFilterSql),
    Q("q_seq_pack", seqPack, seqPackSql),
    Q("q_sample_mixture", sampleMixture, sampleMixtureSql),
    Q("q_pii_scrub", piiScrub, piiScrubSql),
    Q("q_rep_ratio", repRatio, repRatioSql),
    Q("q_tfidf", tfidf, tfidfSql),
    Q("q_heavy_hitters", heavyHitters, heavyHittersSql),
    Q("q_inverted_index", invertedIndex, invertedIndexSql),
    Q("q_token_entropy", tokenEntropy, tokenEntropySql),
    Q("q_doc_chunk", docChunk, docChunkSql),
    Q("q_vocab_encode", vocabEncode, vocabEncodeSql),
    Q("q_bm25", bm25, bm25Sql),
    Q("q_cooccur_pmi", cooccurPmi, cooccurPmiSql),
    Q("q_weighted_sample", weightedSample, weightedSampleSql),
    Q("q_bigram_lm", bigramLm, bigramLmSql),
    Q("q_group_examples", groupExamples, groupExamplesSql),
    Q("q_train_split", trainSplit, trainSplitSql),
    Q("q_percentile_bucket", percentileBucket, percentileBucketSql),
    Q("q_bpe_pairs", bpePairs, bpePairsSql),
    Q("q_lang_confusion", langConfusion, langConfusionSql),
    Q("q_countmin", countMin, countMinSql),
    Q("q_domain_cap", domainCap, domainCapSql),
    Q("q_trigram_search", trigramSearch, trigramSearchSql),
    Q("q_rate_shrinkage", rateShrinkage, rateShrinkageSql),
    Q("q_mixing_weights", mixingWeights, mixingWeightsSql),
    Q("q_zipf_fit", zipfFit, zipfFitSql),
    Q("q_skyline", skyline, skylineSql),
    Q("q_bpe_train", bpeTrain, bpeTrainSql),
    Q("q_simpson", simpson, simpsonSql),
    Q("q_bpe_apply", bpeApply, bpeApplySql),
    Q("q_capture_recapture", captureRecapture, captureRecaptureSql),
    Q("q_source_jaccard", sourceJaccard, sourceJaccardSql),
    Q("q_data_card", dataCard, dataCardSql),
    Q("q_rrf_fusion", rrfFusion, rrfFusionSql),
    Q("q_quality_gate", qualityGate, qualityGateSql),
    Q("q_tokenizer_fertility", tokenizerFertility, tokenizerFertilitySql),
    Q("q_prefix_autocomplete", prefixAutocomplete, prefixAutocompleteSql),
    Q("q_corpus_build", corpusBuild, corpusBuildSql),
    Q("q_reservoir_sample", reservoirSample, reservoirSampleSql),
    Q("q_stratified_kfold", stratifiedKfold, stratifiedKfoldSql),
    Q("q_perplexity_bucket", perplexityBucket, perplexityBucketSql),
    Q("q_ngram_coverage", ngramCoverage, ngramCoverageSql),
    Q("q_shard_balance", shardBalance, shardBalanceSql),
    Q("q_truncation_audit", truncationAudit, truncationAuditSql),
    Q("q_epoch_shuffle", epochShuffle, epochShuffleSql),
    Q("q_diversified_topk", diversifiedTopk, diversifiedTopkSql),
    Q("q_frame_sample", frameSample, frameSampleSql),
    Q("q_resize_plan", resizePlan, resizePlanSql),
    Q("q_prefix_share", prefixShare, prefixShareSql),
    Q("q_padding_waste", paddingWaste, paddingWasteSql),
    Q("q_encoding_audit", encodingAudit, encodingAuditSql),
    Q("q_cohen_kappa", cohenKappa, cohenKappaSql),
    Q("q_canary_scan", canaryScan, canaryScanSql),
    Q("q_source_overlap", sourceOverlap, sourceOverlapSql),
    Q("q_text_norm_audit", textNormAudit, textNormAuditSql),
    Q("q_pack_efficiency", packEfficiency, packEfficiencySql),
    Q("q_fleiss_kappa", fleissKappa, fleissKappaSql),
    Q("q_mcnemar", mcnemar, mcnemarSql),
    Q("q_krippendorff", krippendorff, krippendorffSql),
    Q("q_audio_meta", audioMeta, audioMetaSql),
    Q("q_video_meta", videoMeta, videoMetaSql),
    Q("q_multiclass_prf", multiclassPrf, multiclassPrfSql),
    Q("q_readability", readability, readabilitySql),
    Q("q_char_kl", charKl, charKlSql),
    Q("q_distinct_n", distinctN, distinctNSql),
    Q("q_boilerplate_phrases", boilerplatePhrases, boilerplatePhrasesSql),
    Q("q_emd_lengths", emdLengths, emdLengthsSql),
    Q("q_collocation_llr", collocationLlr, collocationLlrSql),
    Q("q_quantile_normalize", quantileNormalize, quantileNormalizeSql),
    Q("q_heaps_law", heapsLaw, heapsLawSql),
    Q("q_html_strip", htmlStrip, htmlStripSql),
    Q("q_keyphrase_rake", keyphraseRake, keyphraseRakeSql),
    Q("q_dsir", dsir, dsirSql),
    Q("q_span_corruption", spanCorruption, spanCorruptionSql),
    Q("q_tokens_per_byte", tokensPerByte, tokensPerByteSql),
    Q("q_substring_dedup", substringDedup, substringDedupSql),
    Q("q_gopher_rep", gopherRep, gopherRepSql),
    Q("q_naive_bayes", naiveBayes, naiveBayesSql),
    Q("q_kneser_ney", kneserNey, kneserNeySql),
    Q("q_rbo", rbo, rboSql),
    Q("q_greedy_cover", greedyCover, greedyCoverSql),
    Q("q_chao1", chao1, chao1Sql),
    Q("q_good_turing", goodTuring, goodTuringSql),
    Q("q_bleu", bleu, bleuSql),
    Q("q_js_divergence", jsDivergence, jsDivergenceSql),
  )
}
