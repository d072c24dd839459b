package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting.
  *
  * Classic Charikar scheme: each token hashes to 64 bits; bit j of the
  * document fingerprint is the sign of Σ_tokens (±1 per token depending on
  * the token-hash's bit j). Hamming-close fingerprints ⇒ similar token
  * multisets.
  *
  * Token hashes are materialized ONCE per document (a projection the
  * optimizer keeps — CollapseProject refuses to inline a non-cheap
  * expression referenced 64 times), so the 64 per-bit votes traverse a
  * precomputed long array instead of re-hashing every token per bit.
  *
  * Candidate generation uses the pigeonhole blocking standard for simhash
  * dedup: split the 64-bit fingerprint into `chunks` 16-bit chunks; any
  * pair within hamming distance `chunks - 1` must agree on at least one
  * chunk, so an equi-join per chunk finds all of them — hash-partitioned
  * on the chunk value, never all-pairs.
  */
object SimHash {

  /** 64-bit hash per token — computed once, voted on 64 times. */
  def tokenHashes(tokensCol: Column): Column = transform(tokensCol, t => xxhash64(t))

  /** Per-bit vote over precomputed token hashes: +1 / -1 per token for
    * bit j, summed via a higher-order aggregate (codegen'd, no UDF). */
  private def bitVote(hashesCol: Column, j: Int): Column =
    aggregate(hashesCol, lit(0L),
      (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1L, 1L).otherwise(-1L))

  /** 64-bit simhash fingerprint from precomputed token hashes. */
  def simhashFromHashes(hashesCol: Column): Column =
    (0 until 64).map { j =>
      when(bitVote(hashesCol, j) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** 64-bit simhash fingerprint of a token array. Prefer materializing
    * `tokenHashes` in a prior projection and calling `simhashFromHashes`
    * so the hashing isn't repeated per bit. */
  def simhash(tokensCol: Column): Column = simhashFromHashes(tokenHashes(tokensCol))

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit chunk `i` (0..3) of a 64-bit fingerprint. */
  def chunk(fp: Column, i: Int): Column =
    shiftright(fp, i * 16).bitwiseAND(0xffffL)

  /** Document fingerprints as a DataFrame: a single native-expression
    * projection (one hash + vote loop per document, no explode/shuffle).
    * This is the form to use on a corpus; the Column-based `simhash`
    * remains for expression-level composition.
    *
    * @param sqlReplicable use the universal-hash fingerprint
    *   (`NativeText.simhash_univ`) that an external SQL engine can
    *   recompute exactly — for oracle checks and cross-engine dedup;
    *   default is the faster XXH64 form
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   sqlReplicable: Boolean = false): DataFrame = {
    val fp = if (sqlReplicable) graft.functions.NativeText.simhash_univ(col(textCol))
             else graft.functions.NativeText.simhash64(col(textCol))
    docs.select(col(idCol), fp.as("fp"))
  }

  /** Near-dup pairs with hamming distance <= maxHamming (must be
    * < chunks for the pigeonhole guarantee; default 3 with 4 chunks).
    *
    * @param maxBucketSize skew guard, same as MinHashLSH: a hot chunk
    *                      value (e.g. thousands of near-empty docs with
    *                      identical fingerprints) would otherwise go
    *                      quadratic in one join task
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, chunks: Int = 4,
                   maxBucketSize: Int = 1000,
                   sqlReplicable: Boolean = false): DataFrame = {
    require(maxHamming < chunks, "pigeonhole blocking needs maxHamming < chunks")
    // persisted: feeds the candidate aggregation and both hamming-join
    // sides. Unlike MinHashLSH's shingle table (8 KB/doc — adaptive
    // persist), a fingerprint row is 16 bytes: caching beats re-reading
    // and re-fingerprinting the text at every scale.
    val fps = fingerprints(docs, idCol, textCol, sqlReplicable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Candidate ids per 16-bit chunk bucket: ONE capped collect
    // aggregation + map-side native pair fan-out (the MinHashLSH
    // candidatePairs shape — replaces persist + size count + size
    // semi-join + bucket self-join, four shuffles of the exploded
    // table). Per-key state stays bounded at maxBucketSize + 1; the
    // +1 sentinel flags over-cap buckets for the same drop the size
    // filter did.
    // the chunk INDEX stays in the group key: chunk i and chunk j
    // sharing a value must not merge (same contract as the old
    // (ci, cv) self-join key)
    val banded = fps.select(col(idCol), posexplode(array(
        (0 until chunks).map(i => chunk(col("fp"), i)): _*)).as(Seq("ci", "cv")))
    val pairs = banded.groupBy("ci", "cv")
      .agg(graft.functions.TopKAggregate
        .topk_by(-col(idCol).cast("double"), col(idCol), maxBucketSize + 1)
        .as("__t"))
      .select(array_sort(expr("transform(__t, e -> e.id)")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .distinct()

    // Hamming verify: the fingerprints join back once per side — the
    // pair side is tiny at bench SFs (AQE broadcasts it; no hint), and
    // at corpus scale the slim pair side builds a SHUFFLE-HASH table so
    // the fingerprint side streams unsorted (the MinHashLSH verify-join
    // rule; 16-byte rows make even this join cheap).
    val big = ScalePolicy.corpusScale(docs)
    (if (big) pairs.hint("shuffle_hash") else pairs)
      .join(fps.select(col(idCol).as("id_a"), col("fp").as("fp_a")), Seq("id_a"))
      .join(fps.select(col(idCol).as("id_b"), col("fp").as("fp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
