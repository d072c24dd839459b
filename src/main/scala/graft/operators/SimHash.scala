package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting.
  *
  * Charikar scheme with universal per-bit hashing
  * (`NativeText.SimHashUniv`): each token gets one base hash, bit j of
  * the 63-bit document fingerprint is the sign of Σ_tokens (±1 per
  * token, by whether g_j(token) < P/2). Hamming-close fingerprints ⇒
  * similar token multisets. The fingerprint is a primitive loop per
  * document that an external SQL engine recomputes exactly
  * (queries.Lsh.dedupSimhashSql), so the registry's simhash queries are
  * checked cell-exact.
  *
  * Candidate generation uses the pigeonhole blocking standard for simhash
  * dedup: split the fingerprint into `Chunks` = 4 16-bit chunks; any
  * pair within hamming distance 3 must agree on at least one chunk, so
  * an equi-join per chunk finds all of them — hash-partitioned on the
  * chunk value, never all-pairs.
  */
object SimHash {

  /** 16-bit chunks per 64-bit fingerprint: the pigeonhole blocking
    * finds every pair within hamming distance `Chunks - 1`. */
  private val Chunks = 4

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit chunk `i` (0..3) of a 64-bit fingerprint. */
  def chunk(fp: Column, i: Int): Column =
    shiftright(fp, i * 16).bitwiseAND(0xffffL)

  /** Document fingerprints as a DataFrame: a single native-expression
    * projection (`NativeText.simhash_univ`: one hash + vote loop per
    * document, no explode/shuffle). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), graft.functions.NativeText.simhash_univ(col(textCol)).as("fp"))

  /** Near-dup pairs with hamming distance <= maxHamming (must be
    * < `Chunks` for the pigeonhole guarantee).
    *
    * @param maxBucketSize skew guard, same as MinHashLSH: a hot chunk
    *                      value (e.g. thousands of near-empty docs with
    *                      identical fingerprints) would otherwise go
    *                      quadratic in one join task
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming < Chunks, s"pigeonhole blocking needs maxHamming < $Chunks")
    // persisted: feeds the candidate aggregation and both hamming-join
    // sides. Unlike MinHashLSH's shingle table (8 KB/doc — adaptive
    // persist), a fingerprint row is 16 bytes: caching beats re-reading
    // and re-fingerprinting the text at every scale.
    val fps = fingerprints(docs, idCol, textCol)
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
        (0 until Chunks).map(i => chunk(col("fp"), i)): _*)).as(Seq("ci", "cv")))
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
