package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Loaders, fixtures and expressions shared by two or more query
  * families. A helper used by one family stays private in that family's
  * file; nothing here refers to a family object, so initializing any
  * family never cycles back through another. */
private[graft] object Common {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deletes `f` and everything under it. */
  private[queries] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  // paths that already have their shutdown hook
  private val scratchHooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `f`, deleted recursively at JVM exit: one shutdown hook per path
    * however many times a fixture builder asks for it. */
  private[queries] def deleteAtExit(f: java.io.File): java.io.File = {
    if (scratchHooked.add(f.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(f)))
    f
  }

  /** Scratch space for a query's fixtures: `<tmpdir>/<prefix><appId><suffix>`,
    * deleted at JVM exit. Not created here; each fixture owns its build.
    * The tmp root, not a repo-relative path (the repo may be checked out
    * anywhere; `-Djava.io.tmpdir` moves it). The application id keeps
    * concurrent runs from clobbering each other's fixtures mid-read.
    * Driver-local writes feeding a distributed read assume a shared
    * filesystem (true in local mode, where these fixtures are built). */
  private[queries] def scratchDir(s: SparkSession, prefix: String, suffix: String = ""): java.io.File =
    deleteAtExit(new java.io.File(sys.props("java.io.tmpdir"),
      prefix + s.sparkContext.applicationId + suffix))

  /** Per-scratch-path build locks: sentinel-gated fixture builds are
    * check-then-act (test _DONE, rm, rebuild), so two concurrent callers
    * sharing a SparkSession (parallel suites) could interleave and one
    * would read a half-built directory that already carries the marker.
    * One JVM-level monitor per path serializes the build. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[queries] def buildLock(path: String): Object =
    buildLocks.computeIfAbsent(path, _ => new Object)

  /** The events table: normalize `ts` to a session-TZ TimestampType
    * regardless of how the parquet files encode it. Seen encodings:
    *   - timestamp[us] (naive) → Spark reads TIMESTAMP_NTZ; cast to
    *     TIMESTAMP (identity on the stored micros — every entry point
    *     pins spark.sql.session.timeZone=UTC).
    *   - TIMESTAMP(NANOS), which Spark 4 refuses natively → read as
    *     long nanos under the legacy flag and truncate to micros with
    *     integer division (a double division would lose precision
    *     above 2^53 ns). Matches DuckDB's ns→µs truncation.
    * Schema inspection, not a session-wide conf, picks the branch, so
    * the loader is side-effect-free on the current µs-encoded data. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // The legacy TIMESTAMP(NANOS) branch is selected by probing the
    // parquet FOOTER, not by catching Spark's refusal and matching the
    // exception message — a Spark upgrade that rewords/localizes/wraps
    // the error must not silently disable the branch (round-7 ADVICE).
    if (eventsTsIsNanos(s, dir))
      // the flag must stay set for execution-time schema conversion, so
      // it is only ever touched on this branch
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Cached per-dir footer probe: does `dir/events.parquet` annotate its
    * `ts` field TIMESTAMP(NANOS)? Reads ONE footer of the first file —
    * O(KB) metadata IO, never data — and caches, so the ~90 events-family
    * queries pay it once per dir per JVM. Any probe failure (missing
    * table, exotic layout) answers false and lets the normal read path
    * surface its own error. */
  private val nanosProbe =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def eventsTsIsNanos(s: SparkSession, dir: String): Boolean =
    nanosProbe.computeIfAbsent(dir, { _ =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
        val fs = p.getFileSystem(conf)
        val first =
          if (fs.getFileStatus(p).isFile) Some(p)
          else fs.listStatus(p).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
        first.exists { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try {
            val schema = r.getFooter.getFileMetaData.getSchema
            schema.containsField("ts") && {
              val t = schema.getType(schema.getFieldIndex("ts"))
              t.isPrimitive && (t.getLogicalTypeAnnotation match {
                case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  a.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
                case _ => false
              })
            }
          } finally r.close()
        }
      } catch { case _: Throwable => false }
    }: java.util.function.Function[String, java.lang.Boolean])

  /** Ensure a minimum scan parallelism for CPU-heavy per-row work.
    * Small local fixtures arrive as ONE parquet split, which would pin
    * tokenization/hashing to a single core; at production scale inputs
    * have thousands of splits and this is a no-op (no shuffle added). */
  private[queries] def parallelize(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Deterministic phone from a customer key — the reference's `phone`
    * natural key (feeder.py:157) re-derived from the synthetic schema. */
  private[queries] def phoneOf(key: Column): Column =
    concat(lit("+7"), lpad(key.cast("string"), 10, "0"))

  private[queries] val phoneSql = (c: String) => s"'+7' || lpad(CAST($c AS VARCHAR), 10, '0')"

  /** Deterministic duplicate corpus: the documents table unioned with an
    * id-shifted copy. The synthetic table has no natural duplicates
    * (500/500 distinct), so dedup operators are exercised on a corpus
    * with exactly one known duplicate per document. */
  private[queries] def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = parallelize(s, t(s, dir, "documents").select("doc_id", "text"))
    docs.unionAll(docs.select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
  }

  private[queries] val dupCorpusSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 100000000 AS doc_id, text FROM documents)"""
      .stripMargin

  /** DuckDB k=3 word-shingle sets (distinct, as strings) for `src` rows
    * (doc_id, text) — the exact SQL mirror of
    * `TextAnalysis.hashedShingles(text, 3)`: jaccard over the 64-bit
    * hashed sets equals jaccard over these string sets (tokens contain
    * no whitespace, so the space-join is injective; 64-bit collisions
    * are negligible and verified absent at the gate scale). */
  private[queries] def shingleSetsSql(src: String): String =
    s"""SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(toks) - 2, 1) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $src)""".stripMargin

  /** The minhash oracle, restructured from truth-compare to FULL BAND
    * REPLAY (the r11 verdict's prescription for the sf1 oracle-cost
    * waivers): with the gated queries on the SQL-replicable
    * [[graft.functions.NativeText.MinHashUniv]] hash family, DuckDB
    * recomputes the ENTIRE pipeline bit-for-bit — shingle base hashes
    * (the 31-polynomial code-point fold the simhash oracle already
    * proves engine-portable), all bands·rows universal minhash slots,
    * band keys, the skew-capped bucket equi-join's candidate pairs,
    * and the exact Jaccard verify. Cost is O(corpus · signature) plus
    * Σbucket² — the same near-linear shape as the engine — where the
    * previous ALL-PAIRS truth compare was quadratic in DuckDB (timed
    * out at sf1) AND asserted a property banded LSH doesn't have: at
    * sf1 the truth holds borderline J≈0.8 pairs the 8×4 banding misses
    * with probability (1−j⁴)⁸ ≈ 1.5% — the r11 sweep's "oracle-cost"
    * waivers were masking a real recall gap, not just cost. Recall
    * vs the exact all-pairs truth is now audited WHERE IT'S A THEOREM
    * — DedupSpec compares LSH pairs against a Spark-side brute-force
    * truth on the planted corpus (j ≥ 0.87 structure ⇒ per-pair miss
    * ≤ 4e-4) — while the oracle gate checks engine parity of every
    * computed value at EVERY scale.
    *
    * Residual keying asymmetry (accepted): this replay buckets by the
    * literal band slot-string while the engine buckets by
    * xxhash64(band, slot-string) — see MinHashLSH.banded. A 64-bit
    * hash collision between distinct slot strings would merge buckets
    * engine-side only; at ~2^-64 per bucket pair this is negligible,
    * and the compact long key is what keeps the engine's candidate
    * shuffle cheap at corpus scale.
    *
    * Emits a CTE chain ending in `pairs(id_a, id_b, jaccard)`. */
  private[queries] def minhashBandPairsSql(src: String, bands: Int = 8,
                                           rowsPerBand: Int = 4, cap: Int = 1000,
                                           threshold: String = "0.8"): String = {
    val u = graft.functions.NativeText.MinHashUniv
    val mins = (0 until bands * rowsPerBand).map { i =>
      s"list_min(list_transform(hs, h -> (h * ${u.a(i)} + ${u.b(i)}) % ${u.P})) AS m$i"
    }.mkString(",\n       |    ").stripMargin
    val keys = (0 until bands).map { bi =>
      val cols = (0 until rowsPerBand).map(r => s"m${bi * rowsPerBand + r}")
      s"concat_ws(',', ${cols.mkString(", ")})"
    }.mkString("[\n       |      ", ",\n       |      ", "]").stripMargin
    s"""sh AS MATERIALIZED (
       |  ${shingleSetsSql(src)}),
       |shh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(s, t ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(t, ''),
       |        ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % ${u.P}))) AS hs
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, hs,
       |    $mins
       |  FROM shh),
       |bnd AS MATERIALIZED (
       |  SELECT doc_id, unnest(range(0, $bands)) AS band,
       |    unnest($keys) AS key
       |  FROM sig),
       |bsz AS (SELECT band, key, count(*) AS n FROM bnd GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id
       |  JOIN bsz z ON z.band = a.band AND z.key = a.key
       |  WHERE z.n BETWEEN 2 AND $cap),
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b, CAST(li AS DOUBLE) / (la + lb - li) AS jaccard
       |  FROM (
       |    SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS li,
       |      len(a.hs) AS la, len(b.hs) AS lb
       |    FROM cand c
       |    JOIN shh a ON a.doc_id = c.id_a
       |    JOIN shh b ON b.doc_id = c.id_b)
       |  WHERE CAST(li AS DOUBLE) / (la + lb - li) >= $threshold)""".stripMargin
  }

  private[queries] val dedupMinhashSql =
    s"""WITH ${minhashBandPairsSql(s"$dupCorpusSql c")}
       |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin

  /** Iteration-UNROLLED min-label propagation over a `pairs(id_a,id_b)`
    * CTE — the scalable replacement for the recursive reachability
    * closure, whose working set is O(Σ|component|²) and timed DuckDB out
    * at sf0.1 (round-7 residual; the q_kcore/q_pagerank unrolling
    * precedent). Round k: l_k(v) = least(l_{k-1}(v), min over neighbors
    * of l_{k-1}) — after R rounds every node carries the min id within R
    * hops, which is the component min whenever the distance from any
    * node to its component's min-id node is ≤ R. The planted dedup
    * corpus has components of diameter ≤ 3; R = 12 leaves 4× headroom,
    * and UNDER-convergence cannot pass silently — the driver's hash
    * compare against Spark's fixed-point ConnectedComponents would
    * mismatch. Emits CTEs `edges`, `l0`..`lR`, `cc(doc_id, cluster_id)`.
    */
  private[queries] def ccUnrolledSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT l.v, least(l.lbl, coalesce(n.m, l.lbl)) AS lbl
         |  FROM l${k - 1} l LEFT JOIN (
         |    SELECT e.v, min(l2.lbl) AS m
         |    FROM edges e JOIN l${k - 1} l2 ON l2.v = e.w
         |    GROUP BY e.v) n ON n.v = l.v)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED (
       |  SELECT id_a AS v, id_b AS w FROM pairs
       |  UNION ALL SELECT id_b AS v, id_a AS w FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM edges),
       |$steps,
       |cc AS (SELECT v AS doc_id, lbl AS cluster_id FROM l$rounds)""".stripMargin
  }

  /** Squared euclidean with NearestCells' exact left-fold accumulation. */
  private[queries] def ivfDistSql(dim: Int)(v: String, c: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($v[i] - $c[i]) * ($v[i] - $c[i]))), (a, b) -> a + b)"

  /** DuckDB replay of `IvfIndex.trainReplicable` + full-corpus cell
    * assignment — the CTE chain e → tr (vec_id%4 systematic sample) →
    * c0 (first-nlist init) → `iters` Lloyd rounds with fixed-point
    * component sums → asg (every vector's nearest final centroid).
    * Compose after WITH; shared by the IVF ANN and SemDeDup oracles so
    * the quantizer replay can't drift between them. `src` is the
    * (vec_id, embedding) relation fed to the quantizer — a table name
    * or a parenthesized subquery. */
  private[queries] def ivfAssignCtes(dim: Int, nlist: Int, iters: Int,
                                     src: String = "embeddings"): String = {
    val dist = ivfDistSql(dim) _
    def assignCte(name: String, src: String, cents: String): String =
      s"""$name AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT t.vec_id, t.v, c.cid,
         |      row_number() OVER (PARTITION BY t.vec_id
         |                         ORDER BY ${dist("t.v", "c.cvec")}, c.cid) AS rn
         |    FROM $src t CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    // fixed-point component sums → mean (s/1e6)/n in the pinned order;
    // empty cells carry the previous centroid
    def meanCte(prev: String, asg: String, out: String): String =
      s"""${out}s AS (
         |  SELECT cid, dim, sum(fx) AS s, count(*) AS n FROM (
         |    SELECT a.cid, d.i AS dim,
         |      CAST(floor(a.v[d.i + 1] * 1000000.0) AS BIGINT) AS fx
         |    FROM $asg a CROSS JOIN range(0, $dim) d(i))
         |  GROUP BY cid, dim),
         |$out AS (
         |  SELECT c.cid,
         |    list(coalesce(CAST(m.s AS DOUBLE) / 1000000.0 / m.n, c.cvec[d.i + 1])
         |         ORDER BY d.i) AS cvec
         |  FROM $prev c CROSS JOIN range(0, $dim) d(i)
         |  LEFT JOIN ${out}s m ON m.cid = c.cid AND m.dim = d.i
         |  GROUP BY c.cid)""".stripMargin
    val lloyd = (1 to iters).map { t =>
      assignCte(s"a$t", "tr", s"c${t - 1}") + ",\n" + meanCte(s"c${t - 1}", s"a$t", s"c$t")
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $src),
       |tr AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v AS cvec
       |       FROM (SELECT vec_id, v FROM tr ORDER BY vec_id LIMIT $nlist)),
       |$lloyd,
       |${assignCte("asg", "e", s"c$iters")}""".stripMargin
  }

  /** Engine-portable multiplicative hash mod the fingerprint prime —
    * `(x · A) mod M` with a full-range odd multiplier (PCG's): uniform
    * avalanche on sequential integer keys, exact on both engines
    * (DECIMAL(38,0) on Spark, HUGEINT on DuckDB). Shared by #185 KMV,
    * #204 A/B bucketing, #205 negative sampling. */
  // private[graft] so the property suite exercises the PRODUCTION
  // expression strings, not a copy that could drift
  private[graft] val HashMult = 6364136223846793005L

  private[graft] def multHashExpr(c: String): String =
    s"CAST(pmod(CAST($c AS DECIMAL(38,0)) * $HashMult, ${TextAnalysis.FingerprintMod}) AS BIGINT)"

  private[graft] def multHashDuck(c: String): String =
    s"CAST((CAST($c AS HUGEINT) * $HashMult) % ${TextAnalysis.FingerprintMod} AS BIGINT)"

  // second independent multiplier (L'Ecuyer's LCG constant) — pairs with
  // HashMult for double-hashed slot families (#347 Bloom FPR): slot
  // strides must vary PER KEY or the audit's bit set is structured
  private[graft] val HashMult2 = 2862933555777941757L

  /** `⌊ln(x)·1e6⌋` as an engine-portable SQL fragment — `x` MUST be a
    * positive integer expression (the property-tested domain). */
  private[queries] def lnQ6(x: String): String = operators.FixedPoint.lnQ(x)

  /** Engine-portable sign-split ppm division fragment: truncate-toward-
    * zero semantics on BOTH engines (Spark `div` truncates, DuckDB `//`
    * floors — they differ exactly on negative numerators). Assumes a
    * POSITIVE denominator — use [[sdivPpm2]] when the denominator can
    * go negative too. */
  private[queries] def sdivPpm(num: String, den: String, duck: Boolean): String =
    operators.FixedPoint.sdivPpm(num, den, duck)

  /** Sign-split integral division without the ppm scale (shared by
    * #376): result = trunc(num/den), identical under Spark's
    * truncating `div` and DuckDB's flooring `//` for any numerator
    * sign (denominator must be positive). */
  private[queries] def sdivDuckOrSpark(num: String, den: String, duck: Boolean): String = {
    val d = if (duck) "//" else "div"
    s"""(CASE WHEN ($num) >= 0 THEN ($num) $d ($den)
       | ELSE -((-($num)) $d ($den)) END)"""
      .stripMargin.replace("\n", " ")
  }
}
