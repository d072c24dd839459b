package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Near-duplicate detection: exact, MinHash, SimHash, n-gram and
  * span dedup over the planted-duplicate corpus (`Common.dupCorpus`). */
object Lsh extends QueryFamily("lsh") {
  import Common._

  /** #16 exact dedup: normalize → hash-groupBy → keep min id (one
    * map-side-combinable aggregation, no window/sort). */
  private def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
      .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
    Dedup.exactByFingerprint(corpus, "fp", "doc_id")
  }

  private val dedupExactSql =
    s"""SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |  min(doc_id) AS keep_id, count(*) AS n_dupes
       |FROM $dupCorpusSql c
       |GROUP BY 1""".stripMargin

  /** #17 MinHash-LSH near-dup: banded signature buckets → per-bucket
    * candidate pairs → exact Jaccard verify, on the SQL-replicable
    * MinHashUniv hash family so DuckDB replays the ENTIRE pipeline
    * (signatures, band keys, capped bucket join, exact verify) at
    * every scale — see [[minhashBandPairsSql]]. Recall against the
    * exact all-pairs truth is DedupSpec's job (a theorem about the
    * planted corpus, not an engine-parity property: borderline j≈0.8
    * pairs miss a 8×4 banding with probability (1−j⁴)⁸ ≈ 1.5%, which
    * the r11 sf1 sweep surfaced once the truth oracle could run). */
  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairs(dupCorpus(s, dir), "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)

  /** Cross-set form of [[minhashBandPairsSql]] — the oracle half of
    * `MinHashLSH.crossCandidatePairs`: both sides' MinHashUniv
    * signatures, (band, key) equi-join restricted to buckets present
    * on BOTH sides with COMBINED size ≤ cap (the engine's cross skew
    * guard), exact Jaccard over candidates. Emits a chain ending in
    * `xver(id_b, id_c, jaccard)` (id_b from `srcB`, id_c from `srcC`;
    * both sources must expose (doc_id, text)). */
  private def crossBandCtes(srcB: String, srcC: String, bands: Int = 8,
                            rowsPerBand: Int = 4, cap: Int = 1000): String = {
    val u = graft.functions.NativeText.MinHashUniv
    val mins = (0 until bands * rowsPerBand).map { i =>
      s"list_min(list_transform(hs, h -> (h * ${u.a(i)} + ${u.b(i)}) % ${u.P})) AS m$i"
    }.mkString(",\n    ")
    val keys = (0 until bands).map { bi =>
      val cols = (0 until rowsPerBand).map(r => s"m${bi * rowsPerBand + r}")
      s"concat_ws(',', ${cols.mkString(", ")})"
    }.mkString("[", ", ", "]")
    def side(tag: String, src: String): String =
      s"""sh$tag AS MATERIALIZED (
         |  ${shingleSetsSql(src)}),
         |hh$tag AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(s, t ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split_regex(t, ''),
         |        ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % ${u.P}))) AS hs
         |  FROM sh$tag),
         |sg$tag AS MATERIALIZED (
         |  SELECT doc_id, hs,
         |    $mins
         |  FROM hh$tag),
         |bd$tag AS MATERIALIZED (
         |  SELECT doc_id, unnest(range(0, $bands)) AS band,
         |    unnest($keys) AS key
         |  FROM sg$tag)""".stripMargin
    s"""${side("b", srcB)},
       |${side("c", srcC)},
       |xsz AS (
       |  SELECT sb.band, sb.key FROM
       |    (SELECT band, key, count(*) AS nb FROM bdb GROUP BY 1, 2) sb
       |    JOIN (SELECT band, key, count(*) AS nc FROM bdc GROUP BY 1, 2) sc
       |      ON sb.band = sc.band AND sb.key = sc.key
       |  WHERE sb.nb + sc.nc <= $cap),
       |xcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_b, b.doc_id AS id_c
       |  FROM xsz z
       |  JOIN bdb a ON a.band = z.band AND a.key = z.key
       |  JOIN bdc b ON b.band = z.band AND b.key = z.key),
       |xver AS MATERIALIZED (
       |  SELECT id_b, id_c, CAST(li AS DOUBLE) / (la + lb - li) AS jaccard
       |  FROM (
       |    SELECT x.id_b, x.id_c, len(list_intersect(a.hs, b.hs)) AS li,
       |      len(a.hs) AS la, len(b.hs) AS lb
       |    FROM xcand x
       |    JOIN hhb a ON a.doc_id = x.id_b
       |    JOIN hhc b ON b.doc_id = x.id_c))""".stripMargin
  }

  /** #18 SimHash near-dup: pigeonhole chunk blocking over the
    * SQL-replicable universal-hash fingerprint (NativeText.SimHashUniv),
    * so DuckDB recomputes the identical 63-bit fingerprints and the
    * all-pairs hamming<=3 truth — which chunk blocking provably equals
    * (hamming<=3 < 4 chunks ⇒ some chunk agrees; no bucket can exceed
    * the skew cap at this corpus size). */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    // The skew cap SCALES WITH THE CORPUS: the fixed 1,000 default
    // silently pruned hot 16-bit chunk buckets at the 100k-doc sf1
    // corpus and dropped 2,156 true pairs vs the all-pairs oracle
    // (round-8 sweep). n/20 keeps exhaustive-recall semantics at the
    // audited scales while still bounding a pathological mega-bucket
    // (identical-fingerprint spam) to 5% of the corpus.
    val cap = math.max(1000L, corpus.count() / 20L).toInt
    SimHash.nearDupPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBucketSize = cap)
  }

  private val dedupSimhashSql: String = {
    val u = graft.functions.NativeText.SimHashUniv
    val terms = (0 until u.Bits).map { j =>
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h * ${u.a(j)} + ${u.b(j)}) % ${u.P}) * 2 < ${u.P} THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n    + ")
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |            FROM $dupCorpusSql c),
       |th AS (SELECT doc_id, list_transform(toks, t ->
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split_regex(t, ''), ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))),
       |          (a, b) -> (a * 31 + b) % ${u.P})) AS hs FROM tok),
       |fp AS MATERIALIZED (SELECT doc_id, ($terms) AS fp FROM th),
       |-- pigeonhole candidates (lossless, UNCAPPED — stronger than the
       |-- engine's skew-capped blocking): hamming ≤ 3 over 4 chunks ⇒
       |-- some 16-bit chunk is EQUAL, so the per-chunk equi-join emits
       |-- every true pair; the |D|²/2 bit_count join it replaces was the
       |-- sf1 oracle-cost bottleneck inside q_dedup_method_agreement
       |ch AS MATERIALIZED (
       |  SELECT doc_id, fp, c.ci, (fp >> (c.ci * 16)) & 65535 AS cv
       |  FROM fp, (VALUES (0), (1), (2), (3)) c(ci)),
       |hcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ch a JOIN ch b
       |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       |FROM hcand c
       |JOIN fp a ON a.doc_id = c.id_a
       |JOIN fp b ON b.doc_id = c.id_b
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
  }

  /** #19 n-gram Jaccard verify over a deterministic candidate-pair set. */
  /** The deterministic candidate-pair set (even doc_id, +1 neighbor)
    * that the verify-stage scorers (`q_ngram_jaccard`, `q_containment`)
    * run over — standing in for any LSH blocking scheme's output. */
  private def adjacentPairs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
    MinHashLSH.verifyPairs(adjacentPairs(docs), docs, "doc_id", "text",
      shingleK = 3)
  }

  private val ngramJaccardSql =
    s"""WITH sh AS (
       |  ${shingleSetsSql("documents")}),
       |j AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         len(list_intersect(a.s, b.s)) AS li, len(a.s) AS la, len(b.s) AS lb
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 2 = 0)
       |SELECT id_a, id_b,
       |  CASE WHEN la + lb - li = 0 THEN 1.0
       |       ELSE CAST(li AS DOUBLE) / (la + lb - li) END AS jaccard
       |FROM j""".stripMargin

  /** #20 embedding-cosine near-dup via hyperplane-LSH buckets. The
    * corpus is embeddings ∪ an id-shifted copy (natural max cosine in the
    * synthetic table is ~0.45), so each vector has one exact duplicate —
    * identical vectors land in the same bucket by construction, making
    * the pair set the all-pairs truth DuckDB recomputes. Cosine rounds
    * to 6dp on BOTH sides before the threshold so last-ulp accumulation
    * differences can't flip a boundary pair. */
  private def dedupEmbed(s: SparkSession, dir: String): DataFrame = {
    val e = parallelize(s, t(s, dir, "embeddings").select("vec_id", "embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + 100000000L).as("vec_id"), col("embedding")))
    // NB the default maxBucketSize (10k) prunes over-cap buckets — same
    // contract as the MinHash/SimHash siblings. The all-pairs oracle
    // holds while no bucket exceeds the cap (gate corpora are ~1k rows
    // over 256 buckets); a corpus dense enough to trip it needs the cap
    // (or bits) raised to keep exhaustive-recall semantics.
    //
    // bits SCALES WITH THE CORPUS: at fixed bits the per-bucket
    // population grows linearly and the in-bucket pair scan
    // quadratically (SURVEY.md "Embed-LSH candidate curve": 4k corpus
    // / bits=8 → 37k pairs; 40k corpus / bits=8 → 3.59M — 97× for 10×
    // data; bits=12 there → 306k, linear again). ceil(log2(n/16)) holds
    // ~16 vectors per bucket at any scale; floor 8 keeps the gate
    // corpus on its audited 256-bucket layout. Identical duplicates
    // collide at ANY width, so the oracle pair set is bits-independent;
    // on a real corpus more bits trades recall near the threshold —
    // the documented tables/bits lever.
    val n = corpus.count()
    val bits = math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 16 - 1, 1)))
    Similarity.nearDupPairs(corpus, threshold = 0.95, bits = bits.toInt, dim = 64,
      roundTo = Some(6))
  }

  private val dedupEmbedSql =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 100000000 AS vec_id, embedding FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                 CAST(b.embedding AS DOUBLE[])), 6) AS cosine
      |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95""".stripMargin

  /** #52 benchmark decontamination: training docs sharing >= 5 distinct
    * 3-shingles with the (broadcast) eval set — docs 0-19 stand in as
    * the benchmark. DuckDB recomputes overlap over string shingle sets
    * (hash-vs-string equivalence per the MinHash-oracle argument). */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents"))
    Decontamination.overlapCounts(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
      "doc_id", "text", shingleK = 3, minShingles = 5)
  }

  private val decontaminateSql =
    s"""WITH sh AS (
       |  ${shingleSetsSql("documents")}),
       |benchset AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20),
       |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20),
       |ov AS (SELECT tr.doc_id, count(*) AS n
       |       FROM tr JOIN benchset b ON b.g = tr.g GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(o.n, 0) AS INT) AS n_overlap,
       |  coalesce(o.n, 0) >= 5 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
       |LEFT JOIN ov o USING (doc_id)""".stripMargin

  /** #26 document fingerprint: 55-bit polynomial rolling hash. */
  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  private val docFingerprintSql =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(text, ''),
       |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) AS fp
       |FROM documents""".stripMargin

  /** #73 winnowing fingerprints (the MOSS scheme: Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003): hash every k-token gram (k=3), slide a window
    * of w=4 gram hashes, keep each window's MINIMUM — guaranteeing any
    * shared run of ≥ w+k−1 tokens between two documents shares a
    * fingerprint, with ~2/(w+1) of grams selected. Robust near-dup
    * signal that, unlike MinHash, localizes WHERE the overlap is.
    *
    * Shapes: gram construction is a map-side explode off one `sequence`
    * +`slice`; the only window partitions by doc_id over that document's
    * grams (bounded by document length — never a global or corpus-wide
    * window); the gram hash is the engine-portable fingerprint fold, so
    * DuckDB replays selection bit-exact. Output digests per document
    * (distinct-fingerprint count + min/max) keep the result row-bounded;
    * the exploded (doc_id, fingerprint) set feeding a pair-join is the
    * same frame pre-aggregation. */
  private def winnow(s: SparkSession, dir: String): DataFrame = {
    val k = 3; val w = 4
    val grams = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .withColumn("ng", size(col("toks")) - (k - 1))
      .filter(col("ng") >= w)
      .select(col("doc_id"), col("ng"),
        posexplode(expr(
          s"transform(sequence(1, ng), i -> concat_ws(' ', slice(toks, i, $k)))"))
          .as(Seq("g0", "gram")))
      .select(col("doc_id"), col("ng"), (col("g0") + 1).as("gpos"),
        TextAnalysis.fingerprint(col("gram")).as("gh"))
    val win = Window.partitionBy("doc_id").orderBy("gpos").rowsBetween(0, w - 1)
    grams
      .withColumn("sel", min(col("gh")).over(win))
      .filter(col("gpos") <= col("ng") - (w - 1))
      .groupBy("doc_id")
      .agg(countDistinct(col("sel")).as("n_fp"),
        min(col("sel")).as("fp_min"), max(col("sel")).as("fp_max"))
  }

  private val winnowSql =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, toks, len(toks) - 2 AS ng FROM t
      |  WHERE len(toks) - 2 >= 4),
      |g AS (
      |  SELECT doc_id, ng, CAST(i AS BIGINT) AS gpos,
      |    array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
      |  FROM d, unnest(range(1, CAST(ng + 1 AS BIGINT))) AS u(i)),
      |h AS (
      |  SELECT doc_id, ng, gpos,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split_regex(gram, ''),
      |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) AS gh
      |  FROM g),
      |w AS (
      |  SELECT doc_id, ng, gpos,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY gpos
      |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |  FROM h)
      |SELECT doc_id, CAST(count(DISTINCT sel) AS BIGINT) AS n_fp,
      |  min(sel) AS fp_min, max(sel) AS fp_max
      |FROM w WHERE gpos <= ng - 3
      |GROUP BY 1""".stripMargin

  /** #85 asymmetric containment scoring — the near-dup signal Jaccard
    * misses when a short document is wholly embedded in a long one
    * (quote extraction, boilerplate wrap): containment(A⊆B) =
    * |sh(A)∩sh(B)| / |sh(A)|. The candidate set carries BOTH planted
    * positives — each doc's first-2/3-words slice as a synthetic short
    * doc (id+2e6), whose shingles all appear in the full doc — and the
    * adjacent-doc negatives `q_ngram_jaccard` scores (the previous
    * negatives-only pairing left `contained` false at every SF: the
    * r9 vacuity audit flagged the always-zero audit column). In
    * production the pairs come from any LSH blocking scheme; the
    * verify stage costs one per-pair set intersection — never an
    * all-pairs scan. */
  private def containment(s: SparkSession, dir: String): DataFrame = {
    val base = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
    // synthetic prefix ids shift past the real id space — CORPUS-RELATIVE
    // (max+1, a 1-value driver read), not a fixed 2e6: a fixed shift
    // collides with real doc_ids once the table outgrows it, and both
    // engines applying the same collision would pass the gate on
    // corrupted pairs (r9 ADVICE). Same device as bloomFpr's probe keys.
    val off = base.agg(max("doc_id")).head().getLong(0) + 1L
    val prefixes = base.select((col("doc_id") + off).as("doc_id"),
      expr("""array_join(slice(split(trim(text), '\\s+'), 1,
        | greatest(CAST((size(split(trim(text), '\\s+')) * 2) div 3 AS INT),
        |   5)), ' ')""".stripMargin.replace("\n", " ")).as("text"))
    val docs = base.unionAll(prefixes)
    val pairs = base
      .select((col("doc_id") + off).as("id_a"), col("doc_id").as("id_b"))
      .unionAll(adjacentPairs(base))
    MinHashLSH.scorePairs(pairs, docs, "doc_id", "text",
        shingleK = 3) { (a, b) =>
      val c = when(size(a) === 0, lit(1.0))
        .otherwise(round(size(array_intersect(a, b)).cast("double") /
          size(a).cast("double"), 6))
      Seq(c.as("containment"), (c >= 0.9).as("contained"))
    }
  }

  private val containmentSql =
    s"""WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT o FROM off) AS doc_id,
       |    array_to_string(toks[1:greatest((len(toks) * 2) // 3, 5)], ' ')
       |      AS text
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)),
       |sh AS (
       |  ${shingleSetsSql("corpus")}),
       |pr AS (
       |  SELECT doc_id + (SELECT o FROM off) AS id_a, doc_id AS id_b
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
       |  WHERE doc_id % 2 = 0),
       |j AS (
       |  SELECT p.id_a, p.id_b,
       |         len(list_intersect(a.s, b.s)) AS li, len(a.s) AS la
       |  FROM pr p JOIN sh a ON a.doc_id = p.id_a
       |  JOIN sh b ON b.doc_id = p.id_b)
       |SELECT id_a, id_b,
       |  CASE WHEN la = 0 THEN 1.0
       |       ELSE round(CAST(li AS DOUBLE) / CAST(la AS DOUBLE), 6) END AS containment,
       |  (CASE WHEN la = 0 THEN 1.0
       |        ELSE round(CAST(li AS DOUBLE) / CAST(la AS DOUBLE), 6) END) >= 0.9 AS contained
       |FROM j""".stripMargin

  /** #96 passage-level corpus dedup (the CCNet/C4 boilerplate-removal
    * shape): documents split map-side into consecutive 2-token passages
    * (`sequence`+`slice`, no shuffle, no re-tokenization), passage
    * document-frequency counted in one two-phase aggregate, passages
    * appearing in > 10 documents (boilerplate) removed by a LEFT ANTI
    * join against the BROADCAST hot-passage dictionary — at 100 TB the
    * hot set stays bounded (it is the df-heavy head, by construction
    * ≤ corpus/10 entries and in practice a small boilerplate
    * dictionary; were it ever large the same anti-join runs shuffled).
    * Documents reassemble from surviving passages in passage order —
    * order restored from the per-doc passage id, never a global sort. */
  private def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val blocks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        (floor((size(toks) - 1) / 2) + 1).cast("long").as("n_blocks"),
        posexplode(transform(sequence(lit(0), floor((size(toks) - 1) / 2).cast("int")),
          i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")))
          .as(Seq("block_id", "block")))
    val hot = blocks.groupBy("block")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > 10)
      .select("block")
    blocks.join(broadcast(hot), Seq("block"), "left_anti")
      .groupBy("doc_id")
      .agg(first("n_blocks").as("n_blocks"),
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("block_id"), col("block")))),
          p => p.getField("block")), " ").as("text_kept"))
  }

  private val lineDedupSql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
      |    generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id, CAST((pos - 1) // 2 AS INT) AS block_id,
      |    string_agg(tok, ' ' ORDER BY pos) AS block
      |  FROM toks GROUP BY 1, 2),
      |nb AS (SELECT doc_id, count(*) AS n_blocks FROM blk GROUP BY 1),
      |hot AS (SELECT block FROM blk GROUP BY block
      |        HAVING count(DISTINCT doc_id) > 10)
      |SELECT b.doc_id, any_value(nb.n_blocks) AS n_blocks,
      |  count(*) AS n_kept,
      |  string_agg(b.block, ' ' ORDER BY b.block_id) AS text_kept
      |FROM blk b JOIN nb USING (doc_id)
      |WHERE b.block NOT IN (SELECT block FROM hot)
      |GROUP BY 1""".stripMargin

  /** #100 incremental cross-corpus dedup gate — "is this new batch
    * already in the training set?": batch docs are admitted unless they
    * near-dup (jaccard ≥ 0.8) an EXISTING corpus doc. Candidates come
    * from `MinHashLSH.crossCandidatePairs` — batch bands equi-join
    * corpus bands on (band, bucket), so NEITHER side ever self-joins
    * and the corpus is never rescanned per batch doc (the incremental
    * counterpart of q_dedup_minhash's self-join). Verify = exact
    * jaccard only over candidates; rejection = broadcast-able anti
    * join on the (small) rejected-id set. The fixture plants exact
    * copies of corpus docs in the batch (caught in every band by
    * construction) alongside genuinely unseen docs. */
  private def crossDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents").select("doc_id", "text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionAll(corpus.filter(col("corpus_id") % 5 === 1)
        .select((col("corpus_id") + 2000000L).as("doc_id"), col("text")))
    val shB = MinHashLSH.shingled(batch, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shC = MinHashLSH.shingled(corpus, "corpus_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = MinHashLSH.crossCandidatePairs(shB, "doc_id", shC, "corpus_id",
      bands = 8, rowsPerBand = 4, maxBucketSize = 1000)
    val rejected = cand
      .join(shB.select(col("doc_id"), col("__sh").as("__sh_b")), Seq("doc_id"))
      .join(shC.select(col("corpus_id"), col("__sh").as("__sh_c")), Seq("corpus_id"))
      .filter(graft.functions.NativeText.jaccard_sets(col("__sh_b"), col("__sh_c")) >= 0.8)
      .select("doc_id").distinct()
    batch.join(broadcast(rejected.withColumn("__rej", lit(1))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__rej").isNull.as("admitted"))
  }

  private val crossDedupSql =
    s"""WITH corpus AS (
       |  SELECT doc_id AS corpus_id, text FROM documents WHERE doc_id % 3 <> 0),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT corpus_id + 2000000, text FROM corpus WHERE corpus_id % 5 = 1),
       |-- FULL cross-band replay (minhashBandPairsSql's device, cross-set
       |-- form): both sides' MinHashUniv signatures, the (band, key)
       |-- equi-join with the COMBINED-size cap crossCandidatePairs
       |-- applies, exact Jaccard over candidates — the bare batch×corpus
       |-- length-filter join was quadratic (timed DuckDB out at sf1) and
       |-- asserted all-pairs recall banded LSH doesn't promise
       |${crossBandCtes("batch c", "(SELECT corpus_id AS doc_id, text FROM corpus) c")},
       |rej AS (
       |  SELECT DISTINCT x.id_b AS doc_id
       |  FROM xver x WHERE x.jaccard >= 0.8)
       |SELECT b.doc_id, r.doc_id IS NULL AS admitted
       |FROM batch b LEFT JOIN rej r USING (doc_id)""".stripMargin

  /** #115 SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup for training corpora: cluster embeddings with the IVF
    * k-means quantizer, then drop any vector whose cosine to a
    * LOWER-id vector in the SAME cell exceeds τ (the paper's
    * keep-one-per-semantic-duplicate rule made deterministic by id
    * order). The cluster step is the whole scale story: the pair scan
    * is per-cell — never the corpus-wide all-pairs join — and cells
    * larger than 4096 vectors split into hash sub-cells
    * ([[IvfIndex.subdivide]]): at fixed nlist the uncapped per-cell
    * scan still grows Σcell² (quadratic — the r11 sf10 sweep measured
    * it), capped it is ≤ N·4096. Cell assignment is the
    * map-only `nearest_cells` projection reused from q_ann_ivf, whose
    * replayable quantizer (systematic sample, first-16 init,
    * fixed-point Lloyd) lets DuckDB reach the identical clustering —
    * one shared CTE chain (`ivfAssignCtes`) for both oracles. */
  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.95
    val base = t(s, dir, "embeddings")
    // the synthetic embeddings are isotropic (max natural pairwise cosine
    // ~0.51) — plant exact duplicates at vec_id+1e7 for every 7th vector
    // so the τ gate provably fires; the oracle plants the same set in
    // SQL. The shift sits far above any corpus id: the previous +10000
    // COLLIDED with real vec_ids once the corpus passed 10k vectors
    // (caught by the round-8 sf1 sweep — duplicate ids diverged the
    // engines' row counts).
    val e = parallelize(s, base.select("vec_id", "embedding")
      .unionAll(base.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))))
    val cents = IvfIndex.trainReplicable(e, "vec_id", "embedding",
      nlist = 16, iters = 3, sampleMod = 4)
    // one assignment pass, persisted: the pair scan reads it twice and
    // the verdict projection once — recomputing nearest_cells over the
    // corpus three times is pure waste at any scale
    val cells = IvfIndex.subdivide(
      IvfIndex.assign(e, "vec_id", "embedding", cents,
        keep = Seq("embedding")), "embedding", 4096L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops = cells.select(col("cid"), col("sub"), col("vec_id").as("id_a"),
        col("embedding").as("__va"))
      .join(cells.select(col("cid"), col("sub"), col("vec_id").as("id_b"),
        col("embedding").as("__vb")), Seq("cid", "sub"))
      .filter(col("id_a") < col("id_b") &&
        round(Similarity.cosine(col("__va"), col("__vb")), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    cells.select(col("vec_id"), col("cid"))
      .join(broadcast(drops.withColumn("__d", lit(1))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("__d").isNull.as("kept"))
  }

  private val semDedupSql =
    s"""WITH ${ivfAssignCtes(64, 16, 3, src =
        "(SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 7 = 3)")},
       |${IvfIndex.subdivideCtes(4096L)},
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sbd a JOIN sbd b ON a.cid = b.cid AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95)
       |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS kept
       |FROM asg a LEFT JOIN drops d ON d.vec_id = a.vec_id""".stripMargin

  /** #125 duplicated-span detection (the Lee et al. 2022 "Deduplicating
    * Training Data" exact-substring signal, distributed): a token k-gram
    * appearing in ≥2 documents marks every occurrence position
    * duplicated; per document, overlapping/adjacent duplicated k-gram
    * positions merge into SPANS (the island-merge shape from
    * q_interval_coverage, bounded per doc), yielding span count,
    * duplicated-token mass, and dup ratio per document. Shapes: gram
    * explode is map-side off one sequence+slice; the df aggregate and
    * the gram join are co-partitioned on the gram hash (the hot-gram
    * dictionary is FILTERED before joining back — at 100 TB only
    * actually-duplicated grams flow); the only window partitions by
    * doc_id. The hash is the engine-portable fingerprint fold, so
    * DuckDB replays span merging bit-exact. */
  private def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val toks = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    // persisted: the gram tree (tokenize + explode + char-fold hash) is
    // the expensive pass and BOTH the df aggregate and the position join
    // read it — without the persist it would be computed twice
    val grams = toks.filter(col("n_tokens") >= k)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(expr(
          s"transform(sequence(1, n_tokens - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
          .as(Seq("g0", "gram")))
      .select(col("doc_id"), col("n_tokens"), (col("g0") + 1).as("pos"),
        TextAnalysis.fingerprint(col("gram")).as("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2).select("gh")
    val dup = grams.join(hot, Seq("gh"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("__pend",
        max(col("pos") + (k - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pend").isNull || col("pos") > col("__pend") + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy("doc_id", "__island")
      .agg(min("pos").as("__s"), max(col("pos") + (k - 1)).as("__e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s") + 1).as("dup_tokens"))
    toks.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ratio",
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6))
  }

  private val dupSpansSql =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
       |g AS (
       |  SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS pos,
       |    array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
       |  FROM d, unnest(range(1, CAST(n_tokens - 3 AS BIGINT))) AS u(i)
       |  WHERE n_tokens >= 5),
       |h AS (
       |  SELECT doc_id, pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(gram, ''),
       |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) AS gh
       |  FROM g),
       |hot AS (SELECT gh FROM h GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (SELECT h.doc_id, h.pos FROM h JOIN hot ON h.gh = hot.gh),
       |f AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
       |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |           OR pos > max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
       |                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |         THEN 1 ELSE 0 END AS new_island
       |  FROM dup),
       |gi AS (
       |  SELECT doc_id, pos,
       |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
       |                          ROWS UNBOUNDED PRECEDING) AS island
       |  FROM f),
       |sp AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos + 4) AS e
       |  FROM gi GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
       |  FROM sp GROUP BY 1)
       |SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / CAST(d.n_tokens AS DOUBLE), 6)
       |    AS dup_ratio
       |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** #201 shingle novelty — per-document originality: the fraction of
    * a doc's distinct 3-shingles that appear in NO other document (the
    * inverse of q_rep_ratio's within-doc repetition and q_dup_spans'
    * cross-doc sharing). The shingle dictionary is ONE corpus
    * aggregate over 64-bit hashed shingles (8-byte shuffle keys, the
    * MinHashLSH discipline); the join back is co-partitioned on the
    * shingle. The oracle replays over string shingles — injective, so
    * df counts agree (the q_ngram_jaccard equivalence). */
  private def shingleNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = parallelize(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(TextAnalysis.hashedShingles(lower(col("text")), 3)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dict = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dict, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_ppm", expr("(n_unique * 1000000) div n_shingles"))
  }

  private val shingleNoveltySql =
    s"""WITH s AS (
       |${shingleSetsSql("(SELECT doc_id, lower(text) AS text FROM documents)")}),
       |e AS (SELECT doc_id, unnest(s) AS sh FROM s),
       |d AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY 1)
       |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
       |    AS BIGINT) AS novelty_ppm
       |FROM e JOIN d USING (sh) GROUP BY 1""".stripMargin

  /** #211 minhash estimator calibration — per candidate pair, the
    * 32-slot minhash Jaccard ESTIMATE (share of agreeing slots) against
    * the EXACT shingle Jaccard, with the absolute error in ppm: the
    * audit that justifies the LSH family's band/row parameters with a
    * measured error distribution instead of the textbook 1/√H bound.
    * The signature here is the ENGINE-PORTABLE universal-hash family
    * (#18's (a·h+b) mod P over the mod-P polynomial shingle fold — not
    * xxhash64, which DuckDB can't replay), so the oracle recomputes the
    * identical signatures. Map-only signature pass; pair frame is the
    * #19 deterministic candidate set; exact integers end to end. */
  private def minhashEstErr(s: SparkSession, dir: String): DataFrame = {
    val u = graft.functions.NativeText.SimHashUniv
    val slots = 32
    val docs = parallelize(s, t(s, dir, "documents"))
    val sigs = docs.select(col("doc_id"),
        TextAnalysis.shingles(col("text"), 3).as("__s"))
      .withColumn("__bh", transform(col("__s"),
        x => graft.functions.NativeText.poly_fingerprint(x, lit(0L), u.P)))
      .withColumn("__g", array((0 until slots).map { j =>
        array_min(transform(col("__bh"),
          h => pmod(h * lit(u.a(j)) + lit(u.b(j)), lit(u.P))))
      }: _*))
      .select(col("doc_id"), col("__s"), col("__g"))
    val pairs = adjacentPairs(docs)
      .join(sigs.select(col("doc_id").as("id_a"), col("__s").as("__sa"),
        col("__g").as("__ga")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("__s").as("__sb"),
        col("__g").as("__gb")), Seq("id_b"))
    pairs
      .withColumn("n_match",
        size(filter(zip_with(col("__ga"), col("__gb"), (x, y) => x === y),
          b => b)).cast("int"))
      .withColumn("__li", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("__un",
        size(col("__sa")).cast("long") + size(col("__sb")) - col("__li"))
      .select(col("id_a"), col("id_b"), col("n_match"),
        expr(s"(n_match * CAST(1000000 AS BIGINT)) div $slots").as("est_ppm"),
        expr("(__li * 1000000) div __un").as("jaccard_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
  }

  private val minhashEstErrSql = {
    val u = graft.functions.NativeText.SimHashUniv
    val sigTerms = (0 until 32).map { j =>
      s"list_min(list_transform(bh, h -> (h * ${u.a(j)} + ${u.b(j)}) % ${u.P}))"
    }.mkString("[", ",\n      ", "]")
    s"""WITH sh AS (
       |  ${shingleSetsSql("documents")}),
       |bh AS (
       |  SELECT doc_id, s,
       |    list_transform(s, x -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split_regex(x, ''),
       |          ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % ${u.P})) AS bh
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, s, $sigTerms AS g
       |  FROM bh),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.s AS sa, b.s AS sb, a.g AS ga, b.g AS gb
       |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 2 = 0),
       |sc AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(range(1, 33), i -> ga[i] = gb[i])) AS INT)
       |      AS n_match,
       |    CAST(len(list_intersect(sa, sb)) AS BIGINT) AS li,
       |    CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS BIGINT) AS un
       |  FROM p)
       |SELECT id_a, id_b, n_match,
       |  CAST((n_match * 1000000) // 32 AS BIGINT) AS est_ppm,
       |  CAST((li * 1000000) // un AS BIGINT) AS jaccard_ppm,
       |  CAST(abs((n_match * 1000000) // 32 - (li * 1000000) // un) AS BIGINT)
       |    AS err_ppm
       |FROM sc""".stripMargin
  }

  /** #218 split-leakage audit — near-duplicate DECONTAMINATION across
    * train/validation folds: assign every document of the planted
    * near-dup corpus to a #208-style hash fold, then count how many
    * proven near-dup pairs (#17's oracle-exact ≥0.8 set) CROSS a fold
    * boundary — each one is evaluation contamination a naive random
    * split silently ships (the copy hashes to a different fold than
    * its original). O(folds²) output: pair counts per unordered fold
    * pair plus the leak flag; the pair set reuses the LSH shapes
    * unchanged. */
  private def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    val pairs = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    val folds = corpus.select(col("doc_id"),
      expr(s"CAST(pmod(${multHashExpr("doc_id")}, 5) AS INT)").as("fold"))
    pairs
      .join(folds.select(col("doc_id").as("id_a"), col("fold").as("__fa")), Seq("id_a"))
      .join(folds.select(col("doc_id").as("id_b"), col("fold").as("__fb")), Seq("id_b"))
      .select(least(col("__fa"), col("__fb")).as("fold_a"),
        greatest(col("__fa"), col("__fb")).as("fold_b"))
      .groupBy("fold_a", "fold_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("fold_a") =!= col("fold_b"))
  }

  private val splitLeakageSql =
    s"""WITH pairs AS MATERIALIZED (
       |$dedupMinhashSql
       |),
       |f AS (
       |  SELECT doc_id, CAST(${multHashDuck("doc_id")} % 5 AS INT) AS fold
       |  FROM $dupCorpusSql c)
       |SELECT least(fa.fold, fb.fold) AS fold_a,
       |  greatest(fa.fold, fb.fold) AS fold_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  least(fa.fold, fb.fold) <> greatest(fa.fold, fb.fold) AS is_leak
       |FROM pairs p
       |JOIN f fa ON fa.doc_id = p.id_a
       |JOIN f fb ON fb.doc_id = p.id_b
       |GROUP BY 1, 2""".stripMargin

  /** #219 dedup cluster profile — the size histogram of the near-dup
    * clusters (#46's output made reportable): how much of the corpus
    * sits in singletons vs 2-clusters vs bigger cliques — the first
    * chart of every dedup report, and the number that says whether the
    * threshold is too loose (mega-clusters) or too tight (all
    * singletons). Cluster sizes fold in one partial-aggregated groupBy
    * over the CC labels; the band aggregate is O(4). */
  private def dedupClusterProfile(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    val pairs = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
    ConnectedComponents.clusters(corpus, pairs, "doc_id")
      .groupBy("cluster_id").agg(count(lit(1)).as("__n"))
      .select(when(col("__n") === 1, "1").when(col("__n") === 2, "2")
        .when(col("__n") <= 5, "3-5").otherwise("6+").as("band"), col("__n"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_clusters"), sum("__n").cast("long").as("n_docs"))
  }

  private def dedupClusterProfileSql =
    s"""WITH pairs AS MATERIALIZED (
       |$dedupMinhashSql
       |),
       |${ccUnrolledSql(12)},
       |alldocs AS (SELECT doc_id FROM documents
       |            UNION ALL SELECT doc_id + 100000000 AS doc_id FROM documents),
       |lab AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid
       |  FROM alldocs d LEFT JOIN cc c USING (doc_id)),
       |sz AS (SELECT cid, count(*) AS n FROM lab GROUP BY 1)
       |SELECT CASE WHEN n = 1 THEN '1' WHEN n = 2 THEN '2'
       |            WHEN n <= 5 THEN '3-5' ELSE '6+' END AS band,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(n) AS BIGINT) AS n_docs
       |FROM sz GROUP BY 1""".stripMargin

  /** #232 media dedup by content hash — exact dedup of the BINARY
    * media column (q_dedup_exact's discipline applied to bytes): md5
    * over the container bytes, hash-groupBy, min-id survivor. The
    * duplicated corpus shifts every third id by 1,920,000 — a multiple
    * of lcm(640, 480, 2), so the id-derived PNG dimensions, parity
    * framing, and payload reproduce EXACTLY and the copy is
    * byte-identical. The oracle recomputes every group arithmetically
    * from that construction (the #206 pattern): any byte-level
    * divergence in the generated container splits a group and breaks
    * the compare. */
  private def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withFakeMedia(
      parallelize(s, t(s, dir, "documents")), "doc_id", "text")
    val dup = media.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1920000L).as("doc_id"),
        col("media"), col("media_type"))
    media.unionAll(dup)
      .groupBy(md5(col("media")).as("__fp"), col("media_type"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min(length(col("media"))).as("n_bytes"))
      .select("keep_id", "media_type", "n_copies", "n_bytes")
  }

  // The oracle groups on the CONTENT-DETERMINING key instead of
  // recomputing bytes: container bytes are a pure function of
  // (text, parity, id mod 640, id mod 480 — the last two only for
  // PNGs), so grouping on that key equals grouping on md5(media).
  // NOT simply `1 + [id%3=0]` per doc: at sf0.1 the corpus has
  // same-text odd-id doc pairs whose raw payloads are byte-identical
  // ACROSS doc ids — real duplicates the engine must (and does) fold.
  private val mediaDedupSql =
    """WITH c AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1920000, text FROM documents WHERE doc_id % 3 = 0)
      |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
      |    AS media_type,
      |  CAST(count(*) AS BIGINT) AS n_copies,
      |  CAST(octet_length(encode(text))
      |    + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 0 END AS INT) AS n_bytes
      |FROM c
      |GROUP BY text, doc_id % 2,
      |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 640 END,
      |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 480 END""".stripMargin

  /** #246 dedup threshold curve — pair survival as the near-dup
    * threshold tightens over the PROVEN ≥0.8 candidate truth (#17's
    * detection guarantee holds at 0.8; sweeping below it would outrun
    * the LSH detection probability): for thresholds {0.8, 0.9, 1.0},
    * surviving pairs and distinct documents touched — the sensitivity
    * table a dedup rollout reads before fixing its threshold. ONE LSH
    * pass, then ONE map-side threshold explode feeding two small
    * aggregates (pairs; exploded endpoint distinct) — the original
    * 3-branch union re-scanned the pair set six times and doubled the
    * query's bench cost. A 3-row seed left-join keeps zero-pair
    * thresholds in the output (aggregate-on-empty semantics of the
    * branch form). */
  private def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashLSH.nearDupPairs(dupCorpus(s, dir), "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val surviving = pairs.select(col("id_a"), col("id_b"),
        explode(array(lit(80), lit(90), lit(100))).as("threshold_pct"),
        col("jaccard"))
      .filter(col("jaccard") >= col("threshold_pct") / 100.0)
    val nPairs = surviving.groupBy("threshold_pct")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = surviving
      .select(col("threshold_pct"), explode(array(col("id_a"), col("id_b")))
        .as("id"))
      .groupBy("threshold_pct").agg(countDistinct("id").as("n_docs"))
    val seed = pairs.sparkSession.range(1)
      .select(explode(array(lit(80), lit(90), lit(100))).as("__t"))
      .select(col("__t").cast("int").as("threshold_pct"))
    seed.join(nPairs, Seq("threshold_pct"), "left")
      .join(nDocs, Seq("threshold_pct"), "left")
      .select(col("threshold_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  private val dedupThresholdCurveSql = {
    // the #17 band-replayed pair set at >=0.8 (minhashBandPairsSql),
    // swept at three cutoffs — exactly the pair set the Spark side sweeps
    val truth =
      s"""${minhashBandPairsSql(s"$dupCorpusSql c")},
         |pj AS MATERIALIZED (SELECT id_a, id_b, jaccard AS j FROM pairs)"""
        .stripMargin
    val one = (t: Int) =>
      s"""SELECT CAST($t AS INT) AS threshold_pct,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST((SELECT count(DISTINCT id) FROM (
         |     SELECT id_a AS id FROM pj WHERE j >= $t / 100.0
         |     UNION ALL SELECT id_b FROM pj WHERE j >= $t / 100.0)) AS BIGINT)
         |    AS n_docs
         |FROM pj WHERE j >= $t / 100.0""".stripMargin
    s"""WITH $truth
       |${one(80)}
       |UNION ALL ${one(90)}
       |UNION ALL ${one(100)}""".stripMargin
  }

  /** #250 dedup method agreement — do MinHash-LSH (jaccard ≥ 0.8) and
    * SimHash (hamming ≤ 3) flag the SAME pairs on this corpus? The
    * method-selection audit before a dedup rollout standardizes on one
    * detector. One pass of each existing detector (their plans are the
    * audited q_dedup_minhash/q_dedup_simhash shapes), full-outer join
    * on the pair key, one fold to the 1-row agreement summary. */
  private def dedupMethodAgreement(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    // |corpus| = 2·|documents| by construction; counting the RAW table
    // is a parquet-metadata read (count pushdown), where counting the
    // union-projection pipeline executed a full corpus job
    val cap = math.max(1000L, 2L * t(s, dir, "documents").count() / 20L).toInt
    val mh = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
      .select(col("id_a"), col("id_b"), lit(1L).as("__m"))
    val sh = SimHash.nearDupPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBucketSize = cap)
      .select(col("id_a"), col("id_b"), lit(1L).as("__s"))
    mh.join(sh, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(expr("CASE WHEN __m = 1 AND __s = 1 THEN 1 ELSE 0 END"))
          .as("n_both"),
        sum(expr("CASE WHEN __m = 1 AND __s IS NULL THEN 1 ELSE 0 END"))
          .as("n_minhash_only"),
        sum(expr("CASE WHEN __m IS NULL AND __s = 1 THEN 1 ELSE 0 END"))
          .as("n_simhash_only"))
      .withColumn("agreement_ppm",
        expr("(n_both * 1000000) div (n_both + n_minhash_only + n_simhash_only)"))
  }

  private val dedupMethodAgreementSql =
    s"""SELECT
       |  CAST(sum(CASE WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |  CAST(sum(CASE WHEN m.id_a IS NOT NULL AND s.id_a IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
       |  CAST(sum(CASE WHEN m.id_a IS NULL AND s.id_a IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only,
       |  CAST((sum(CASE WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL
       |      THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
       |    AS agreement_ppm
       |FROM ($dedupMinhashSql) m
       |FULL OUTER JOIN ($dedupSimhashSql) s
       |  ON m.id_a = s.id_a AND m.id_b = s.id_b""".stripMargin

  val rows: Seq[Q] = Seq(
    Q("q_dedup_exact", dedupExact, dedupExactSql),
    Q("q_dedup_minhash", dedupMinhash, dedupMinhashSql),
    Q("q_dedup_simhash", dedupSimhash, dedupSimhashSql),
    Q("q_ngram_jaccard", ngramJaccard, ngramJaccardSql),
    Q("q_dedup_embed", dedupEmbed, dedupEmbedSql),
    Q("q_doc_fingerprint", docFingerprint, docFingerprintSql),
    Q("q_decontaminate", decontaminate, decontaminateSql),
    Q("q_winnow", winnow, winnowSql),
    Q("q_containment", containment, containmentSql),
    Q("q_line_dedup", lineDedup, lineDedupSql),
    Q("q_cross_dedup", crossDedup, crossDedupSql),
    Q("q_semdedup", semDedup, semDedupSql),
    Q("q_dup_spans", dupSpans, dupSpansSql),
    Q("q_shingle_novelty", shingleNovelty, shingleNoveltySql),
    Q("q_minhash_est_err", minhashEstErr, minhashEstErrSql),
    Q("q_split_leakage", splitLeakage, splitLeakageSql),
    Q("q_dedup_cluster_profile", dedupClusterProfile, dedupClusterProfileSql),
    Q("q_media_dedup", mediaDedup, mediaDedupSql),
    Q("q_dedup_threshold_curve", dedupThresholdCurve, dedupThresholdCurveSql),
    Q("q_dedup_method_agreement", dedupMethodAgreement, dedupMethodAgreementSql),
  )
}
