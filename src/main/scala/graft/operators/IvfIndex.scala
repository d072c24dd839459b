package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the scale path
  * beyond hyperplane LSH: a k-means coarse quantizer partitions the
  * corpus into `nlist` cells; a query probes only its `nprobe` closest
  * cells, touching ~nprobe/nlist of the corpus.
  *
  * Scale design: corpus-side assignment is the native `nearest_cells`
  * expression — ONE primitive loop per row, map-only, no shuffle (the
  * earlier broadcast-join + min_by form materialized |D|·nlist rows
  * and shuffled |D| for the aggregation); probing is an equi-join on
  * the cell id, hash-partitioned — a cell is the shuffle key, so a
  * 1000-executor probe moves only the probed cells. Train/assign/probe
  * are separable: at 100 TB you train on a sample, persist the
  * assignment as a bucketed table, and amortize it across queries.
  */
object IvfIndex {

  private def nearestCells(v: Column, cs: Array[Array[Double]], n: Int): Column =
    graft.functions.NativeVec.nearest_cells(v, cs, n)

  /** K-means centroids of the corpus (deterministic: fixed seed).
    *
    * @param sampleFraction train the quantizer on a seeded sample — a
    *   coarse quantizer needs cluster SHAPE, not every point, so at
    *   100 TB you train on a thin sample and amortize; quality loss is
    *   recall-tunable via nprobe. 1.0 = full corpus.
    */
  def train(corpus: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L,
            maxIter: Int = 5, sampleFraction: Double = 1.0): Array[Array[Double]] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0)
    val src =
      if (sampleFraction < 1.0) corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus
    val feat = src.select(
      array_to_vector(src(vecCol).cast("array<double>")).as("__features"))
    // random init: kmeans|| init runs several extra distributed passes
    // that dominate training time at moderate nlist; quantizer quality
    // is recall-tunable via nprobe anyway
    new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random")
      .setFeaturesCol("__features")
      .fit(feat).clusterCenters.map(_.toArray)
  }

  /** K-means trained so an EXTERNAL SQL engine can replay it exactly —
    * the trick that puts IVF behind the hash-compare oracle:
    *
    *   - systematic sample (`idCol % sampleMod == 0`) instead of an
    *     RNG sample: deterministic AND expressible as a WHERE clause;
    *   - init = the `nlist` smallest-id training vectors (id order);
    *   - Lloyd iterations where per-(cell, dim) component sums run in
    *     FIXED POINT (`floor(v·1e6)` as long): integer sums are exact
    *     and order-independent, so distributed partial aggregation and
    *     a serial SQL engine reach identical sums bit-for-bit. The mean
    *     `(s.toDouble / 1e6) / n` is then one pinned double op order.
    *   - empty cells carry their previous centroid.
    *
    * Assignment inside the loop is the map-only `nearest_cells`
    * expression (distances left-fold in double — replicable via
    * list_reduce, like the LSH oracle). The driver holds nlist×dim
    * doubles per iteration — nothing corpus-sized.
    *
    * Quantization of the TRAINING sums costs ~1e-6 per component —
    * irrelevant to a coarse quantizer (recall is nprobe-tunable) and
    * the price of a replayable gate. */
  def trainReplicable(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int = 3, sampleMod: Int = 4): Array[Array[Double]] = {
    require(nlist >= 1 && iters >= 0 && sampleMod >= 1)
    val train = corpus.filter(col(idCol) % sampleMod === 0)
    var cents: Array[Array[Double]] = train.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nlist).collect()
      // element type is float OR double depending on the corpus schema
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
    (0 until iters).foreach { _ =>
      val sums = train.select(
          element_at(nearestCells(col(vecCol), cents, 1), 1).as("cid"),
          posexplode(col(vecCol)).as(Seq("dim", "x")))
        .select(col("cid"), col("dim"),
          floor(col("x").cast("double") * 1e6).cast("long").as("fx"))
        .groupBy("cid", "dim")
        .agg(sum("fx").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone)
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / 1e6 / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** Cell assignment: nearest centroid per vector — a map-only
    * projection via `nearest_cells`, no join, no shuffle. `keep` carries
    * extra columns (e.g. the vector itself for a downstream in-cell
    * pair scan) through the same single projection. */
  def assign(vectors: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Double]], keep: Seq[String] = Nil): DataFrame =
    vectors.select(col(idCol) +: keep.map(col) :+
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cid"): _*)

  /** Per-row 64-bit content key of a vector: fold the ⌊x·1e6⌋-quantized
    * components mod the fingerprint prime (exact integer left fold —
    * acc < 2^55, acc·31 + |fx| < 2^61, no overflow on either engine),
    * then one multiplicative avalanche so the low bits taking the
    * small `% nsub` below are well mixed. Identical/quantization-equal
    * embeddings fold to the SAME key regardless of their ids — the
    * property [[subdivide]] needs. */
  private[graft] def vecHashExpr(vecCol: String): String = {
    val m = graft.operators.TextAnalysis.FingerprintMod
    val fold = s"aggregate($vecCol, CAST(0 AS BIGINT), (acc, x) -> " +
      s"pmod(acc * 31 + CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT), ${m}L))"
    graft.queries.Common.multHashExpr(s"($fold)")
  }

  /** DuckDB mirror of [[vecHashExpr]] over the oracle's `v`
    * (DOUBLE[]) column: same quantize → fold-mod-prime → avalanche.
    * DuckDB's `%` keeps the dividend's sign, so the fold re-centers
    * with `(x % m + m) % m` where Spark's pmod is already positive. */
  private def vecHashDuck(vecCol: String): String = {
    val m = graft.operators.TextAnalysis.FingerprintMod
    val fold = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform($vecCol, x -> CAST(floor(x * 1000000.0) AS BIGINT))), " +
      s"(acc, x) -> ((acc * 31 + x) % $m + $m) % $m)"
    graft.queries.Common.multHashDuck(s"($fold)")
  }

  /** Bound the in-cell pair scan: cells larger than `targetCellSize`
    * split into ⌈cellN/target⌉ sub-cells (`sub` column) keyed by the
    * engine-portable hash OF THE QUANTIZED EMBEDDING ([[vecHashExpr]])
    * — the IVF-cell analogue of MinHashLSH's mega-bucket cap. A pair
    * join keyed on (cid, sub) then does Σ cell·min(cell, target) ≤
    * N·target work — LINEAR in the corpus at fixed target — where the
    * uncapped per-cell scan grows as Σcell² (quadratic at fixed nlist:
    * the round-11 sf10 sweep measured q_knn_graph at 469 s / 2M
    * vectors before this cap). Keying by CONTENT, not id, keeps exact
    * (and quantization-equal near-) duplicates co-bucketed however the
    * split lands — SemDeDup's planted duplicates and kNN recall don't
    * degrade when a cell splits. The tradeoff is deliberate: a cell
    * holding > target copies of ONE embedding still pairs within one
    * sub-cell (duplicates must meet to be found); distinct vectors
    * disperse uniformly. Membership is a pure function of (embedding,
    * cell size), so the DuckDB oracle replays the identical split;
    * cells at or under `targetCellSize` get sub = 0 — a no-op.
    * The 16-row cell-count side broadcasts. */
  def subdivide(cells: DataFrame, vecCol: String,
                targetCellSize: Long): DataFrame = {
    val counts = cells.groupBy("cid").agg(count(lit(1)).as("__cn"))
    cells.join(broadcast(counts), Seq("cid"))
      .withColumn("sub", expr(
        s"pmod(${vecHashExpr(vecCol)}, " +
          s"(__cn + ${targetCellSize - 1}) div $targetCellSize)"))
      .drop("__cn")
  }

  /** The oracle half of [[subdivide]]: SQL CTEs splitting `asg`
    * (vec_id, v, cid) into `sbd` with the identical `sub` column. */
  def subdivideCtes(targetCellSize: Long): String =
    s"""cn AS (SELECT cid, CAST(count(*) AS BIGINT) AS cn
       |       FROM asg GROUP BY 1),
       |sbd AS (
       |  SELECT asg.*,
       |    ${vecHashDuck("asg.v")}
       |      % ((cn + ${targetCellSize - 1}) // $targetCellSize) AS sub
       |  FROM asg JOIN cn USING (cid))""".stripMargin

  /** Approximate top-k: each query probes its `nprobe` closest cells.
    *
    * @param queries        (qIdCol, vecCol) — small, broadcastable
    * @param corpus         (idCol, vecCol)
    * @param sampleFraction quantizer training sample (see [[train]]) —
    *                       ignored when `centroids` are supplied
    * @param centroids      precomputed quantizer: pass the result of a
    *                       prior [[train]] (or [[trainReplicable]]) to
    *                       amortize training across query batches (the
    *                       persisted-assignment path at scale — train
    *                       once, probe repeatedly)
    * @param roundTo        round cosine to this many decimals BEFORE
    *                       ranking (ties → id) — for comparison against
    *                       a system ranking on rounded scores
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int, nprobe: Int,
              qIdCol: String = "q_id", idCol: String = "vec_id",
              vecCol: String = "embedding", seed: Long = 42L,
              sampleFraction: Double = 1.0,
              centroids: Option[Array[Array[Double]]] = None,
              roundTo: Option[Int] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val cs = centroids.getOrElse(
      train(corpus, vecCol, nlist, seed, sampleFraction = sampleFraction))

    // map-only: cell id AND the vector in one projection — the old form
    // assigned via join+agg, then joined the corpus AGAIN for vectors
    val corpusCells = corpus.select(col(idCol), col(vecCol).as("__cv"),
      element_at(nearestCells(col(vecCol), cs, 1), 1).as("cid"))

    // nprobe closest cells per query, ordered (distance, cid) — the
    // same ranking the crossJoin+window form produced, without either
    val queryProbes = queries
      .select(col(qIdCol), col(vecCol).as("__qv"),
        explode(nearestCells(col(vecCol), cs, nprobe)).as("cid"))

    val raw = Similarity.cosine(col("__qv"), col("__cv"))
    val score = roundTo.fold(raw)(d => round(raw, d))
    val scored = broadcast(queryProbes).join(corpusCells, Seq("cid"))
      .filter(col(qIdCol) =!= col(idCol))
      .select(col(qIdCol), col(idCol), score.as("cosine"))
    Similarity.topK(scored, qIdCol, idCol, "cosine", k)
  }
}
