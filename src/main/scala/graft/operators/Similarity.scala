package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search.
  *
  * Two tiers, as any production ANN stack on Spark:
  *   - `bruteForceTopK`: exact baseline. The (small) query set is
  *     broadcast; one pass over the corpus computes cosine and a window
  *     ranks per query. Cost O(|Q|·|D|) but |Q| is small and the corpus
  *     pass is embarrassingly parallel — the correct exact plan at any
  *     corpus size, no shuffle of the corpus itself beyond the top-k rank.
  *   - `lshTopK`: scale path. Random-hyperplane LSH buckets both sides;
  *     probing joins only matching buckets, touching ~|D| / 2^bits of the
  *     corpus per query. Recall is tunable via bits/tables.
  *
  * Cosine is computed in double precision via higher-order functions
  * (`zip_with` + `aggregate`) — codegen'd, deterministic left-fold order.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity in double precision. Native expression (single
    * primitive loop) with the same left-fold accumulation order as the
    * declarative `dot`/`norm` composition — bit-identical results,
    * ~10× faster interpreted throughput. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeVec.cosine_sim(a, b)

  /** Per-group top-k via the native bounded-heap aggregate: O(k) memory
    * per aggregation buffer, map-side partial aggregation, heap-merge
    * combine — one shuffle, no window, no per-group sort of all rows.
    * A plain window over the raw scores would funnel ALL of a group's
    * rows through one reducer — the classic top-k scale trap.
    * Ordering: score desc, id asc (ties) — window-rank semantics.
    * (`idCol` must be integral; scores any numeric, emitted as double.) */
  def topK(scored: DataFrame, groupCol: String, idCol: String,
           scoreCol: String, k: Int): DataFrame =
    partialTopK(scored, groupCol, idCol, scoreCol, k)

  private[operators] def partialTopK(scored: DataFrame, groupCol: String,
                                     idCol: String, scoreCol: String,
                                     k: Int): DataFrame =
    scored
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKAggregate.topk_by(col(scoreCol), col(idCol), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(groupCol), col("__t.id").as(idCol),
        col("__t.score").as(scoreCol), (col("__pos") + 1).cast("int").as("rank"))

  /** Exact top-k neighbours for each query row.
    *
    * @param queries     (qIdCol, vecCol); must be small enough to broadcast
    * @param corpus      (idCol, vecCol)
    * @param excludeSelf drop corpus rows whose id equals the query id —
    *                    correct when queries are drawn FROM the corpus
    *                    (the default here); set false when query and
    *                    corpus id spaces are unrelated
    * @param roundTo     round cosine to this many decimals BEFORE ranking
    *                    (rank ties then break by id) — use when comparing
    *                    against a system that ranks on rounded scores
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qIdCol: String = "q_id", idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeSelf: Boolean = true,
                     roundTo: Option[Int] = None): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol), col(vecCol).as("__qv")))
    val joined = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .join(q) // broadcast nested loop; |Q| small by contract
    val filtered = if (excludeSelf) joined.filter(col(qIdCol) =!= col(idCol)) else joined
    val rawScore = cosine(col("__qv"), col("__cv"))
    val score = roundTo.fold(rawScore)(d => round(rawScore, d))
    val scored = filtered.select(col(qIdCol), col(idCol), score.as("cosine"))
    partialTopK(scored, qIdCol, idCol, "cosine", k)
  }

  /** Deterministic random hyperplanes: `bits` unit-free direction vectors
    * of dimension `dim`, seeded — no RNG state on executors. (Delegates
    * to the generator shared with the SQL `hyperplane_bucket`
    * registration.) */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    graft.functions.NativeVec.gaussianPlanes(bits, dim, seed)

  /** Sign-bit bucket id of a vector under the given hyperplanes. Native
    * expression: one bits×dim primitive loop per row (the declarative
    * zip_with/aggregate chain evaluates interpreted, ~bits× slower). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.NativeVec.hyperplane_bucket(vec, planes)

  /** Approximate top-k: candidates only from the query's LSH bucket(s).
    * One equi-join on the bucket key per table — at scale each probe
    * touches ~|D|/2^bits rows per table. `tables` independent seeded
    * hyperplane sets union their candidates (deduped before ranking):
    * the standard recall lever — a true neighbour is missed only if it
    * disagrees with the query in EVERY table, so recall ≈
    * 1-(1-p^bits)^tables. Queries whose buckets hold < k entries simply
    * return fewer rows.
    *
    * @param roundTo round cosine to this many decimals BEFORE ranking
    *                (rank ties then break by id) — use when comparing
    *                against a system that ranks on rounded scores */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int, dim: Int,
              qIdCol: String = "q_id", idCol: String = "vec_id",
              vecCol: String = "embedding", seed: Long = 42L,
              tables: Int = 1, roundTo: Option[Int] = None): DataFrame = {
    require(tables >= 1)
    val scoredPerTable = (0 until tables).map { t =>
      val planes = hyperplanes(bits, dim, seed + t)
      val q = broadcast(queries.select(col(qIdCol), col(vecCol).as("__qv"),
        lshBucket(col(vecCol), planes).as("__bucket")))
      val c = corpus.select(col(idCol), col(vecCol).as("__cv"),
        lshBucket(col(vecCol), planes).as("__bucket"))
      val raw = cosine(col("__qv"), col("__cv"))
      val score = roundTo.fold(raw)(d => round(raw, d))
      c.join(q, Seq("__bucket"))
        .filter(col(qIdCol) =!= col(idCol))
        .select(col(qIdCol), col(idCol), score.as("cosine"))
    }
    // score BEFORE deduping so the dedup shuffle carries only
    // (q_id, id, cosine), never the vectors; a pair colliding in several
    // tables is scored per collision (cheap, map-side) but ranked once
    val scored = scoredPerTable.reduce(_ unionAll _)
    val unique =
      if (tables == 1) scored // single bucket join can't duplicate a pair
      else scored.dropDuplicates(qIdCol, idCol)
    partialTopK(unique, qIdCol, idCol, "cosine", k)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs are
    * generated within buckets only (hash-partitioned on the bucket id),
    * then exact-cosine verified.
    *
    * @param roundTo       round cosine to this many decimals BEFORE the
    *                      threshold filter — use when an external system must
    *                      reproduce the exact pair set (last-ulp accumulation
    *                      differences would otherwise flip boundary pairs)
    * @param maxBucketSize skew guard (same contract as MinHashLSH/SimHash):
    *                      buckets larger than this are dropped before
    *                      pairing. Real embedding corpora cluster — a
    *                      mega-bucket of near-identical vectors would
    *                      otherwise go quadratic inside one join task.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double, bits: Int, dim: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   seed: Long = 42L, roundTo: Option[Int] = None,
                   maxBucketSize: Int = 10000): DataFrame = {
    val planes = hyperplanes(bits, dim, seed)
    // (id, vec, bucket) feeds the candidate aggregation and both
    // verify-join sides — persist so the scan + bucket hashing run once.
    val b = vectors.select(col(idCol), col(vecCol).as("__v"),
      lshBucket(col(vecCol), planes).as("__bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidate id-pairs per bucket: ONE capped collect aggregation +
    // map-side native pair fan-out (the MinHashLSH candidatePairs
    // shape) — the r13 form shuffled the VECTORS through a bucket-size
    // semi-join and a bucket self-join. Per-key state stays bounded at
    // maxBucketSize + 1 (skew guard unchanged: over-cap buckets drop,
    // size-1 buckets can't pair). Each vector has exactly ONE bucket,
    // so no cross-bucket duplicate pairs exist (no distinct needed —
    // same as the self-join form).
    val pairs = b.groupBy("__bucket")
      .agg(graft.functions.TopKAggregate
        .topk_by(-col(idCol).cast("double"), col(idCol), maxBucketSize + 1)
        .as("__t"))
      .select(array_sort(expr("transform(__t, e -> e.id)")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
    // Exact-cosine verify: vectors join back once per side. The pair
    // side is tiny at bench SFs (AQE broadcasts it; no hint); at corpus
    // scale the slim pair side builds a SHUFFLE-HASH table so the
    // vector side streams unsorted (the MinHashLSH verify-join rule).
    val big = ScalePolicy.corpusScale(vectors)
    val raw = cosine(col("__va"), col("__vb"))
    val score = roundTo.fold(raw)(d => round(raw, d))
    (if (big) pairs.hint("shuffle_hash") else pairs)
      .join(b.select(col(idCol).as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(b.select(col(idCol).as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), score.as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
