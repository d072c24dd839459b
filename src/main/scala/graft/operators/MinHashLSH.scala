package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection at scale.
  *
  * Pipeline: word shingles → one base hash per shingle (once) → H
  * minhash values (one universal hash (x·A_i + B_i) mod P per slot,
  * `NativeText.MinHashUniv`) → band the signature → per-band bucket key →
  * DISTINCT candidate id-pairs via one capped aggregation per
  * (band, bucket) → exact shingle-Jaccard verify, once per unique pair.
  * Every step has a SQL replay (queries.Common.minhashBandPairsSql), so
  * the registry's dedup queries are checked cell-exact against an
  * external engine.
  *
  * Scale design:
  *   - candidate pairs are generated per-(band,bucket) — the aggregation
  *     is hash-partitioned on the bucket key, so work is Σ bucket² per
  *     band, never |D|². No crossJoin anywhere.
  *   - the banding stage carries ONLY (id, band, bucket) — the shingle
  *     arrays never ride through the × bands explosion or its shuffle;
  *     they are joined back exactly once per side for the verify stage.
  *   - Jaccard runs on integer-hashed shingles (primitive comparisons,
  *     not string compares), once per DISTINCT pair — a pair colliding
  *     in many bands is still verified once.
  *   - a mega-bucket (e.g. empty docs all colliding) is bounded by
  *     `maxBucketSize` before pairing, the standard guard against
  *     quadratic skew.
  *
  * Everything below composes Catalyst expressions (the hot loops are the
  * native expressions in `graft.functions`) — no UDFs, no driver
  * participation.
  *
  * NOTE: `nearDupPairs` persists the shingle table on small corpora
  * (it feeds the signature pipeline and both verify-join sides — see
  * `ScalePolicy`). The cache entries live for the session; a
  * long-lived service calling these repeatedly should
  * `spark.catalog.clearCache()` between corpora.
  */
object MinHashLSH {

  /** Signatures as a DataFrame: a single native-expression projection
    * (one primitive loop per document — no explode, no extra shuffle)
    * over the `__sh` base hashes of [[shingled]]. At most
    * `MinHashUniv.MaxHashes` (32) slots. */
  def signatures(docsWithShingles: DataFrame, idCol: String, numHashes: Int): DataFrame =
    docsWithShingles.select(col(idCol),
      graft.functions.NativeText.minhash_signature_univ(col("__sh"), numHashes)
        .as("__sig"))

  /** The `__sh` shingle projection the signatures and the verify stage
    * read: the universal family's base hashes (the whole pipeline
    * replays in SQL). */
  def shingled(docs: DataFrame, idCol: String, textCol: String,
               shingleK: Int): DataFrame =
    docs.select(col(idCol),
      graft.functions.NativeText.shingle_hashes_univ(col(textCol), shingleK).as("__sh"))

  /** (band, bucket) rows for LSH: one output row per band, bucket =
    * hash of that band's signature slice.
    *
    * The engine buckets by xxhash64(band, slot-string) while the DuckDB
    * replay (queries.Common.minhashBandPairsSql) keys buckets by the literal
    * slot string: an xxhash64 collision between two distinct slot
    * strings would merge buckets engine-side only (an extra candidate
    * pair, or a bucket pushed over the size cap, that the oracle does
    * not replay). Accepted as negligible (~2^-64 per bucket pair) —
    * a 64-bit bucket key keeps the candidate shuffle compact, which at
    * corpus scale outweighs exact key parity with the replay. */
  def banded(df: DataFrame, sigCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandIdx = explode(sequence(lit(0), lit(bands - 1))).as("band")
    df.select(col("*"), bandIdx)
      .withColumn("bucket",
        xxhash64(col("band"), concat_ws(",",
          slice(col(sigCol), col("band") * rowsPerBand + 1, lit(rowsPerBand)))))
  }

  /** Exact Jaccard over two shingle-set arrays (any element type).
    * Declarative form — fine for small/typed arrays; the dedup hot path
    * uses the native `jaccard_sets` (sort-merge over primitive longs). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** Distinct candidate id-pairs (id_a < id_b) from banded LSH buckets.
    * Only (id, band, bucket) flows through the aggregation; skewed
    * buckets larger than `maxBucketSize` are dropped before pairing.
    *
    * ONE capped collect aggregation replaces the r13 shape (persist the
    * banded table + bucket-size count + size semi-join + bucket
    * self-join — four shuffles of the banded rows): the per-bucket
    * member list is gathered by `topk_by` with k = maxBucketSize + 1,
    * so per-key state stays BOUNDED at the cap (a mega-bucket never
    * materializes — the +1 sentinel just flags it for the same drop
    * the old size filter did), and the C(n,2) pair fan-out runs
    * MAP-SIDE through the native `sorted_pairs` loop. Same pair set,
    * one shuffle of (id, band, bucket) + the distinct instead of four.
    * (sf0.1: 1.31 s → 0.72 s for the candidate stage, identical 6024
    * pairs; the shuffle-count win compounds at corpus scale.) */
  def candidatePairs(docsWithShingles: DataFrame, idCol: String,
                     bands: Int, rowsPerBand: Int,
                     maxBucketSize: Int): DataFrame = {
    val sigs = signatures(docsWithShingles, idCol, bands * rowsPerBand)
    val bandedDf = banded(sigs, "__sig", bands, rowsPerBand)
      .select(col(idCol), col("band"), col("bucket"))
    bandedDf.groupBy("band", "bucket")
      .agg(graft.functions.TopKAggregate
        .topk_by(-col(idCol).cast("double"), col(idCol), maxBucketSize + 1)
        .as("__t"))
      // array_sort, not reliance on topk order: ids past 2^53 would tie
      // in the double score and come back unordered; sorted input keeps
      // sorted_pairs' (a < b) orientation exact for any id range
      .select(array_sort(expr("transform(__t, e -> e.id)")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .distinct()
  }

  /** Distinct cross-corpus candidate pairs (idL from `left`, idR from
    * `right`) sharing an LSH bucket in some band — the INCREMENTAL
    * dedup shape: a new batch is checked against the existing corpus
    * without ever self-joining either side. Only (id, band, bucket)
    * flows through the join; buckets whose COMBINED size exceeds
    * `maxBucketSize` are dropped (skew guard, same contract as
    * `candidatePairs`). Output columns: (idL, idR). */
  def crossCandidatePairs(left: DataFrame, idL: String,
                          right: DataFrame, idR: String,
                          bands: Int, rowsPerBand: Int,
                          maxBucketSize: Int): DataFrame = {
    def bandedOf(df: DataFrame, id: String): DataFrame =
      banded(signatures(df, id, bands * rowsPerBand),
        "__sig", bands, rowsPerBand)
        .select(col(id), col("band"), col("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bl = bandedOf(left, idL)
    val br = bandedOf(right, idR)
    val sizes = bl.groupBy("band", "bucket").count()
      .join(br.groupBy("band", "bucket").count()
          .withColumnRenamed("count", "count_r"),
        Seq("band", "bucket"))
      .filter(col("count") + col("count_r") <= maxBucketSize)
      .select("band", "bucket")
    bl.join(sizes, Seq("band", "bucket"))
      .join(br, Seq("band", "bucket"))
      .select(idL, idR)
      .distinct()
  }

  /** Near-duplicate pairs (id_a < id_b, jaccard >= threshold).
    *
    * @param docs          (idCol, textCol) input
    * @param shingleK      words per shingle
    * @param bands × rowsPerBand = signature length, at most 32
    * @param maxBucketSize skew guard: buckets larger than this are dropped
    *                      from pairing (pathological collisions, e.g.
    *                      empty documents)
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   threshold: Double = 0.8,
                   maxBucketSize: Int = 1000): DataFrame = {
    val sh0 = shingled(docs, idCol, textCol, shingleK)
    val sh = if (!ScalePolicy.corpusScale(docs))
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    val pairs = candidatePairs(sh, idCol, bands, rowsPerBand, maxBucketSize)
    val shA = sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val shB = sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    // Verify-join strategy follows the same corpus-size signal as the
    // persist decision. SMALL corpus: NO hint — the pair side is tiny
    // at runtime and AQE broadcasts it, so the shingle table never
    // shuffles at all (the r13 unconditional hint forced SHJ and
    // shuffled the corpus twice: 0.79 s vs 0.15 s at sf0.1). LARGE
    // corpus: SHUFFLE-HASH with the slim id-pair side as build —
    // sort-merge would sort the corpus-sized shingle side on disk (the
    // r13 sf100 sweep filled 53 GB of spill exactly there). The second
    // join has no slim side (its left carries __sh_a), so it stays
    // sort-merge at scale — AQE bounds its per-task sorts and the
    // spills are transient; the irreducible cost is the ~2-3x-corpus
    // shuffle of shingle sets that exact verify implies, which a
    // cluster spreads across executor disks.
    (if (ScalePolicy.corpusScale(docs)) pairs.hint("shuffle_hash") else pairs)
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.NativeText.jaccard_sets(col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A `shuffle_hash` hint on the pair side ONLY when that side is too
    * big to broadcast. A join-strategy hint takes priority over Spark's
    * size-based broadcast selection, so hinting unconditionally (the
    * r13 plan) turned formerly map-side BROADCAST verify joins into
    * full shuffles of the corpus shingle table — q_ngram_jaccard and
    * q_containment read 3.1x / 2.6x their recorded sf0.1 floors until
    * r14 made the hint conditional. When the pair set IS broadcastable
    * the planner broadcasts it (no corpus shuffle at all); past the
    * threshold the hint keeps the join SHUFFLE-HASH with the slim pair
    * side as build, because sort-merge would sort the corpus-sized
    * shingle side on disk (the r13 sf100 53 GB spill). */
  private def hintUnlessBroadcastable(pairs: DataFrame): DataFrame =
    if (pairs.queryExecution.optimizedPlan.stats.sizeInBytes <= (8L << 20)) pairs
    else pairs.hint("shuffle_hash")

  /** Shingle-join scaffold shared by every verify-stage scorer: joins
    * the hashed shingle sets of both members of each candidate pair
    * (id_a, id_b) and emits the caller's score columns over
    * (`__sh_a`, `__sh_b`). Hash collisions at 64 bits are negligible. */
  def scorePairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String, shingleK: Int)(
                 score: (Column, Column) => Seq[Column]): DataFrame = {
    val sh0 = docs.select(col(idCol),
      TextAnalysis.hashedShingles(col(textCol), shingleK).as("__sh"))
    // both join sides read the shingle table — cache it when the corpus
    // is small (see ScalePolicy; recompute map-side at corpus scale)
    val sh = if (!ScalePolicy.corpusScale(docs))
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    hintUnlessBroadcastable(pairs)
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .select(col("id_a") +: col("id_b") +:
        score(col("__sh_a"), col("__sh_b")): _*)
  }

  /** n-gram Jaccard verify pass over an arbitrary candidate-pair set,
    * whatever blocking scheme produced it. */
  def verifyPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                  textCol: String, shingleK: Int): DataFrame =
    scorePairs(pairs, docs, idCol, textCol, shingleK)((a, b) =>
      Seq(graft.functions.NativeText.jaccard_sets(a, b).as("jaccard")))
}
