package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Graph algorithms, most of them over the part copurchase graph
  * (`Common.copurchaseEdges`): PageRank, k-core, triangles, communities,
  * HyperANF, spatial autocorrelation. */
object Graph extends QueryFamily("graph") {
  import Common._

  /** #46 dedup cluster resolution: near-dup PAIRS → connected-component
    * CLUSTERS + canonical survivor per cluster — the step that makes a
    * dedup pair set actionable. Edges are the oracled MinHash pair set
    * (proven equal to the all-pairs truth), so DuckDB re-derives the
    * identical components with a recursive reachability closure and the
    * same min-id cluster labels. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    val pairs = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8,
      sqlReplicable = true)
    ConnectedComponents.clusters(corpus, pairs, "doc_id")
  }

  private def dedupClustersSql =
    s"""WITH pairs AS MATERIALIZED (
       |$dedupMinhashSql
       |),
       |${ccUnrolledSql(12)},
       |alldocs AS (SELECT doc_id FROM documents
       |            UNION ALL SELECT doc_id + 100000000 AS doc_id FROM documents)
       |SELECT d.doc_id,
       |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |  (d.doc_id = coalesce(c.cluster_id, d.doc_id)) AS is_canonical
       |FROM alldocs d LEFT JOIN cc c USING (doc_id)""".stripMargin

  /** #117 event transition matrix — first-order Markov statistics over
    * each user's event sequence ("what follows what?"): per-user `lead`
    * window (bounded by that user's activity — partitioned on user_id,
    * never global), then ONE hash aggregate over (from, to) pairs and a
    * per-from total via a second tiny aggregate broadcast back. Counts
    * are exact longs; the transition probability is the only double,
    * computed in the final projection. The sequence-mining complement
    * to q_funnel (fixed path) and q_sessionize (gap grouping). */
  private def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // persisted: O(types²) rows, read twice (totals + final join) — the
    // alternative recomputes the full-table window per read
    val pairs = ev
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6).as("p"))
  }

  private val transitionMatrixSql =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |m AS (
      |  SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS tot FROM m GROUP BY 1)
      |SELECT m.from_type, m.to_type, m.n,
      |  round(CAST(m.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
      |FROM m JOIN t ON m.from_type = t.from_type""".stripMargin

  /** #126 canonicalization — the KEEP decision after near-dup
    * clustering: per cluster (connected components over the MinHash-LSH
    * pair graph, reused from q_dedup_clusters) elect the best document
    * by quality (longest text, ties → lowest doc_id) and emit the
    * doc → canonical mapping every downstream consumer rewrites
    * against. The election is one `max_by` aggregate over O(cluster)
    * rows (no window over the corpus), and the canonical map — cluster-
    * count-sized — joins back co-partitioned on cluster_id. On the
    * planted exact-copy corpus quality ties and the ORIGINAL wins by
    * id — the interpretable outcome a curation pipeline wants. */
  private def canonicalPick(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    val pairs = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8,
      sqlReplicable = true)
    val cc = ConnectedComponents.clusters(corpus, pairs, "doc_id")
      .select("doc_id", "cluster_id")
    // persisted: read by the election and the final join — otherwise the
    // length-scan join re-executes per read
    val withQ = cc.join(corpus.select(col("doc_id"), length(col("text")).as("__q")),
      Seq("doc_id")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = withQ.groupBy("cluster_id")
      .agg(max_by(col("doc_id"), struct(col("__q"), -col("doc_id"))).as("canonical_id"))
    withQ.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("kept"))
  }

  private val canonicalPickSql =
    s"""WITH pairs AS MATERIALIZED (
       |$dedupMinhashSql
       |),
       |${ccUnrolledSql(12)},
       |corpus AS $dupCorpusSql,
       |m AS (
       |  SELECT c.doc_id, coalesce(cc.cluster_id, c.doc_id) AS cluster_id,
       |    CAST(length(c.text) AS INT) AS q
       |  FROM corpus c LEFT JOIN cc ON cc.doc_id = c.doc_id),
       |canon AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
       |    FROM m) WHERE rn = 1)
       |SELECT m.doc_id, c.canonical_id, m.doc_id = c.canonical_id AS kept
       |FROM m JOIN canon c ON m.cluster_id = c.cluster_id""".stripMargin

  /** #136 PageRank centrality over the event-type transition graph —
    * "which funnel stage accumulates attention?". The corpus-sized work
    * is ONE distributed pass (the q_transition_matrix edge aggregate:
    * per-user lead window, bounded per user, then a (from,to) hash
    * aggregate); the graph that comes back is O(V²) with V bounded by
    * the event-type vocabulary, so the power iteration runs on the
    * driver over broadcast-sized state (the IvfIndex-centroid pattern —
    * nothing row-scale ever leaves the executors). The iteration is
    * FIXED-POINT: rank mass is 1e9 nano-units, edge weights
    * pre-quantized to ppm (`n·1e6 div out`), every update
    * ⌊85·r·w/1e8⌋ in exact longs — order-independent and replayed
    * bit-for-bit by the oracle's ten unrolled SQL steps. Products stay
    * < 8.6e16 however big the corpus: w_ppm ≤ 1e6 by construction,
    * Σr ≤ 1e9. Dangling/floor mass decays identically on both engines.
    * For an UNBOUNDED node set (user-graph PageRank) the same integer
    * update runs as K checkpointed join+agg rounds — the
    * ConnectedComponents shape; here V is vocabulary-bounded, so that
    * machinery would shuffle ten times for a five-node graph. */
  private val PagerankIters = 10

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ed = ev
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = ed.groupBy("from_type").agg(sum("n").as("out_n"))
    // O(V²) rows, V = event-type vocabulary — bounded collect, like the
    // IVF centroid pull; the distributed aggregate above did the 100-TB
    // part. `div` keeps the ppm quantization in exact integers.
    val edges = ed.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"),
        expr("CAST(n * 1000000 AS BIGINT) div out_n").as("w_ppm"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val vCount = nodes.length.toLong
    val base = 15000000000L / (100L * vCount)
    var rank: Map[String, Long] = nodes.map(_ -> 1000000000L / vCount).toMap
    (0 until PagerankIters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (to, es) =>
        to -> es.map { case (f, _, wppm) => 85L * rank(f) * wppm / 100000000L }.sum
      }
      rank = nodes.map(n => n -> (base + in.getOrElse(n, 0L))).toMap
    }
    nodes.toSeq.map(n => (n, rank(n))).toDF("event_type", "rank_nanos")
      // division only (no rounding): both engines run the identical
      // IEEE-754 op on exact ≤1e9 integers — bit-equal doubles
      .withColumn("rank", col("rank_nanos").cast("double") / lit(1000000000.0))
  }

  private val pagerankSql: String = {
    def step(i: Int): String =
      s"""r$i AS (
         |  SELECT n.event_type, CAST((SELECT base FROM v) + coalesce(a.acc, 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.to_type AS event_type, sum(85 * p.r * e.w_ppm // 100000000) AS acc
         |    FROM r${i - 1} p JOIN e ON e.from_type = p.event_type
         |    GROUP BY 1) a USING (event_type))""".stripMargin
    s"""WITH seqd AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |ed AS (SELECT from_type, to_type, count(*) AS n
       |       FROM seqd WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, sum(n) AS out_n FROM ed GROUP BY 1),
       |e AS (SELECT ed.from_type, ed.to_type,
       |        CAST(ed.n * 1000000 // tot.out_n AS BIGINT) AS w_ppm
       |      FROM ed JOIN tot USING (from_type)),
       |nodes AS (SELECT DISTINCT from_type AS event_type FROM ed
       |          UNION SELECT DISTINCT to_type FROM ed),
       |v AS (SELECT count(*) AS v_count,
       |        CAST(15000000000 // (100 * count(*)) AS BIGINT) AS base
       |      FROM nodes),
       |r0 AS (SELECT event_type,
       |         CAST(1000000000 // (SELECT v_count FROM v) AS BIGINT) AS r
       |       FROM nodes),
       |${(1 to PagerankIters).map(step).mkString(",\n")}
       |SELECT event_type, r AS rank_nanos, CAST(r AS DOUBLE) / 1000000000.0 AS rank
       |FROM r$PagerankIters""".stripMargin
  }

  /** #151 market-basket association rules (support / confidence / lift)
    * over the order→part co-purchase fact — the affinity-mining pass
    * behind recommendations and assortment analysis. The pair join is
    * the LSH-family discipline applied to baskets: items self-join
    * CO-PARTITIONED on the order key, so per-order fan-out is bounded
    * by basket size (≤7 in this schema) — never an all-pairs across
    * orders. Item supports are O(|part|) and broadcast; the total-order
    * count is a 1-row broadcast. Lift and confidence are FIXED-POINT
    * ppm via exact integral division (DECIMAL(18,0) operands — a
    * 1e9-order corpus times 1e6 stays inside DECIMAL(38,0)), so the
    * ranking key is a total order in exact integers, and the top-20 cut
    * is TakeOrderedAndProject (per-partition top-k, k-row driver
    * merge), never a global sort. */
  private def copurchase(s: SparkSession, dir: String): DataFrame = {
    // persisted: the distinct basket fact feeds the total count, the
    // supports, AND both sides of the pair join — one lineitem scan
    val it = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOrders = it.agg(count_distinct(col("ok")).as("n_orders"))
    val sup = it.groupBy("pk").agg(count(lit(1)).as("sup"))
    // pairs generate MAP-SIDE from each basket's bounded sorted item
    // set (the copurchaseEdges r14/r15 discipline): one groupBy(ok)
    // shuffle + the native C(n,2) fan-out replaces the self-equi-join,
    // which re-shuffled the cached basket fact on `ok` on BOTH sides.
    // Same pair multiset (collect_set over the distinct fact, ascending
    // fan-out ≡ the join's a.pk < b.pk), same mega-order guard.
    val pairs = it.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .filter(size(col("ps")) <= 65536)
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("ps"))).as("e"))
      .groupBy(col("e.a").as("part_a"), col("e.b").as("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
    pairs
      .join(broadcast(sup.select(col("pk").as("part_a"), col("sup").as("sup_a"))),
        Seq("part_a"))
      .join(broadcast(sup.select(col("pk").as("part_b"), col("sup").as("sup_b"))),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_both"),
        expr("""(CAST(n_both AS DECIMAL(18,0)) * CAST(n_orders AS DECIMAL(18,0))
               |  * 1000000)
               | div (CAST(sup_a AS DECIMAL(18,0)) * CAST(sup_b AS DECIMAL(18,0)))
               |""".stripMargin.replace("\n", " ")).as("lift_ppm"),
        expr("(CAST(n_both AS DECIMAL(18,0)) * 1000000) div CAST(sup_a AS DECIMAL(18,0))")
          .as("conf_ppm"))
      .orderBy(desc("lift_ppm"), asc("part_a"), asc("part_b")).limit(20)
  }

  private val copurchaseSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM it),
      |s AS (SELECT pk, CAST(count(*) AS BIGINT) AS sup FROM it GROUP BY 1),
      |p AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_both
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT part_a, part_b, n_both,
      |  CAST((CAST(n_both AS HUGEINT) * (SELECT n_orders FROM n) * 1000000)
      |       // (CAST(sa.sup AS HUGEINT) * sb.sup) AS BIGINT) AS lift_ppm,
      |  CAST((CAST(n_both AS HUGEINT) * 1000000) // sa.sup AS BIGINT) AS conf_ppm
      |FROM p JOIN s sa ON sa.pk = p.part_a JOIN s sb ON sb.pk = p.part_b
      |ORDER BY lift_ppm DESC, part_a, part_b LIMIT 20""".stripMargin

  /** #154 triangle census of the co-purchase graph (nodes = parts,
    * edges = pairs co-purchased in ≥2 orders) — the graph-shape audit
    * behind community detection and recommendation quality. The naive
    * triangle join fans out on hub nodes (a degree-d hub spawns
    * C(d,2) wedges); the classic distributed fix is DEGREE ORDERING:
    * direct every edge from its lower-(degree,id) endpoint, so
    * out-degree is O(√E)-bounded and the wedge join shrinks ~2× here
    * and asymptotically on skewed graphs — each triangle {x<y<z}
    * counted exactly once as wedge (x→y, x→z) closed by edge y→z.
    * Total wedge count (the clustering denominator) folds from the
    * UNDIRECTED degrees as exact integers; the global clustering
    * coefficient is fixed-point ppm via integral division. The oracle
    * is the INDEPENDENT canonical id-ordered triple join — the
    * degree-ordering trick is checked against the definition. */
  /** Undirected co-purchase edges (parts co-bought in ≥2 orders),
    * ea < eb — shared by the graph-analytics family (#154, #166). */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    // pairs are generated MAP-SIDE from each order's (bounded) sorted
    // part set — one groupBy shuffle instead of shuffling the item list
    // twice through a self-equi-join; the C(n,2) fan-out per order is
    // identical either way (order size bounds it, not the corpus)
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      // mega-order guard (the bipartiteProject ≤64 discipline, scaled to
      // the order domain): one pathological order past 64k distinct
      // parts would fan out >2^31 pairs and kill the query via
      // sorted_pairs' loud overflow require. Orders are generator-
      // bounded at 7 lineitems at EVERY shipped SF (sf1/sf10/sf100 are
      // key-shifted copies that preserve per-order structure), so the
      // filter is a provable no-op on real data — it exists so a 100 TB
      // outlier degrades to a skipped order instead of a dead query.
      .filter(size(col("ps")) <= 65536)
      // native C(n,2) pair fan-out (NativeVec.SortedPairs): same pairs,
      // same order as the flatten(transform(transform(slice))) lambda
      // chain it replaces, one primitive loop instead of interpreted
      // per-element closures (the r14 bench's graph-family hot spot)
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("ps"))).as("e"))
      .select(col("e.a").as("ea"), col("e.b").as("eb"))
      .groupBy("ea", "eb").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
      .select("ea", "eb")
  }

  private def triangle(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("ea").as("v"))
      .unionAll(edges.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // direct each edge from the lower (deg, id) endpoint; carry the
    // destination's (deg, id) so the wedge join can order its two legs
    val dirEdges = edges
      .join(deg.select(col("v").as("ea"), col("deg").as("da")), Seq("ea"))
      .join(deg.select(col("v").as("eb"), col("deg").as("db")), Seq("eb"))
      .select(
        when(struct(col("da"), col("ea")) < struct(col("db"), col("eb")),
          struct(col("ea").as("src"), col("eb").as("dst"),
            col("db").as("ddeg")))
          .otherwise(struct(col("eb").as("src"), col("ea").as("dst"),
            col("da").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = dirEdges.as("e1")
      .join(dirEdges.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.ddeg"), col("e1.dst")) <
            struct(col("e2.ddeg"), col("e2.dst")))
      .select(col("e1.dst").as("wa"), col("e2.dst").as("wb"))
    val tri = wedges.join(dirEdges,
        col("wa") === col("src") && col("wb") === col("dst"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val shape = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").cast("long").as("n_edges"),
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
    shape.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * CAST(n_triangles AS DECIMAL(18,0)) * 1000000) div CAST(n_wedges AS DECIMAL(18,0))")
          .as("clustering_ppm"))
  }

  private val triangleSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |d AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
      |tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.ea = e1.ea AND e2.eb > e1.eb
      |       JOIN e e3 ON e3.ea = e1.eb AND e3.eb = e2.eb)
      |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
      |  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  CAST((3 * CAST((SELECT n_triangles FROM tri) AS HUGEINT) * 1000000)
      |       // CAST(sum(deg * (deg - 1) // 2) AS HUGEINT) AS BIGINT)
      |    AS clustering_ppm
      |FROM d""".stripMargin

  /** #166 degree assortativity of the co-purchase graph — "do hub
    * products co-sell with hubs?" (Newman's r, the structure signal
    * behind recommendation diversity). Reuses #154's edge builder; the
    * degree join is two broadcast-sized lookups (O(nodes) degrees);
    * every edge contributes its endpoint-degree pair SYMMETRIZED
    * (both orientations), which collapses Pearson to
    * r = (MΣxy−(Σx)²)/(MΣx²−(Σx)²) on exact DECIMAL(38,0) folds —
    * doubles only in the single final division, textually parallel in
    * both engines. */
  private def assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("ea").as("v"))
      .unionAll(edges.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val pairs = edges
      .join(deg.select(col("v").as("ea"), col("deg").as("da")), Seq("ea"))
      .join(deg.select(col("v").as("eb"), col("deg").as("db")), Seq("eb"))
      .select(col("da"), col("db"))
    // symmetrize MAP-SIDE: each undirected edge contributes (da,db) and
    // (db,da). A union(fwd, rev) would carry two copies of the
    // edges⋈deg⋈deg pipeline and execute the joins twice — the explode
    // duplicates rows from a single pass instead.
    pairs.select(explode(array(
        struct(col("da").as("x"), col("db").as("y")),
        struct(col("db").as("x"), col("da").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        // cast BEFORE the product: hub degrees can square past BIGINT
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        expr("""round(CAST(m * sxy - sx * sx AS DOUBLE)
               | / CAST(m * sxx - sx * sx AS DOUBLE), 6)
               |""".stripMargin.replace("\n", " ")).as("assortativity"))
  }

  private val assortativitySql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |d AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
      |pr AS (
      |  SELECT da.deg AS x, db.deg AS y
      |  FROM e JOIN d da ON da.v = e.ea JOIN d db ON db.v = e.eb
      |  UNION ALL
      |  SELECT db.deg, da.deg
      |  FROM e JOIN d da ON da.v = e.ea JOIN d db ON db.v = e.eb),
      |mm AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM pr)
      |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
      |  round(CAST(m * sxy - sx * sx AS DOUBLE)
      |        / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
      |FROM mm""".stripMargin

  /** #175 k-core decomposition (k=3, 6 unrolled peel rounds) of the
    * co-purchase graph — the cohesion audit behind "which products sit
    * in a dense co-sell cluster" (and the standard graph-sparsification
    * preprocessing step). Each round drops nodes of degree < k and
    * keeps only edges between survivors; both engines unroll the SAME
    * fixed round count (the oracle is 6 MATERIALIZED CTE generations),
    * so convergence-before-round-6 shows as repeated rows — exactly
    * comparable. The per-round frame is edges-only and SHRINKS
    * monotonically; degree counts are partial-aggregated, the survivor
    * filter is two left-semi joins (never a collected node set).
    * localCheckpoint (eager) per round — a persist alone leaves each
    * round's logical plan NESTED ~3× inside the next (e2 references e
    * twice via keep plus once directly), i.e. 3^rounds plan growth
    * that OOMs the driver during analysis; checkpointing resets the
    * plan to a leaf, exactly the ConnectedComponents.scala:45 idiom. */
  private def kcore(s: SparkSession, dir: String): DataFrame = {
    val K = 3
    val rounds = 6
    var e = copurchaseEdges(s, dir).localCheckpoint(true)
    val out = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for (r <- 1 to rounds) {
      val keep = e.select(col("ea").as("v"))
        .unionAll(e.select(col("eb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= K).select("v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nNodes = keep.count()
      val e2 = e
        .join(keep.withColumnRenamed("v", "ea"), Seq("ea"), "left_semi")
        .join(keep.withColumnRenamed("v", "eb"), Seq("eb"), "left_semi")
        .select("ea", "eb")
        .localCheckpoint(true)
      val nEdges = e2.count()
      out += ((r.toLong, nNodes, nEdges))
      e.unpersist()
      keep.unpersist()
      e = e2
    }
    e.unpersist()
    import s.implicits._
    out.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  private val kcoreSql: String = {
    val base =
      """WITH it AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.pk AS ea, b.pk AS eb
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
    val gens = (1 to 6).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT v FROM (
         |    SELECT ea AS v FROM e${r - 1} UNION ALL SELECT eb FROM e${r - 1})
         |  GROUP BY 1 HAVING count(*) >= 3),
         |e$r AS MATERIALIZED (
         |  SELECT ea, eb FROM e${r - 1}
         |  WHERE ea IN (SELECT v FROM k$r) AND eb IN (SELECT v FROM k$r))"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to 6).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM k$r) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"$base,\n$gens\n$rows"
  }

  /** #178 common-neighbor link prediction on the co-purchase graph —
    * "customers who bought these together also bought", the classic
    * collaborative-filter candidate generator (and the simplest link
    * predictor). Wedge enumeration through the shared neighbor (the
    * triangle-family join shape: fan-out bounded by per-node degree²,
    * never all-pairs), existing edges removed by ONE left-anti join,
    * candidates thresholded at ≥2 common neighbors to bound output.
    * At 100 TB the degree² fan-out is capped the usual way (top-d
    * neighbor truncation) — here the co-purchase graph is already
    * degree-bounded by order size. */
  private def linkPredict(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("ea").as("v"), col("eb").as("n"))
      .unionAll(e.select(col("eb").as("v"), col("ea").as("n")))
    adj.as("x")
      .join(adj.as("y"), col("x.n") === col("y.n") && col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
      .join(e.withColumnRenamed("ea", "a").withColumnRenamed("eb", "b"),
        Seq("a", "b"), "left_anti")
  }

  private val linkPredictSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT ea AS v, eb AS n FROM e
      |        UNION ALL SELECT eb, ea FROM e),
      |cand AS (
      |  SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS cn
      |  FROM adj x JOIN adj y ON x.n = y.n AND x.v < y.v
      |  GROUP BY 1, 2)
      |SELECT a, b, cn FROM cand
      |WHERE cn >= 2
      |  AND NOT EXISTS (SELECT 1 FROM e WHERE ea = a AND eb = b)""".stripMargin

  /** #188 local clustering coefficients — per-node triangle density on
    * the co-purchase graph, the node-level refinement of q_triangle's
    * global coefficient (community cores vs bridge nodes). Triangles
    * enumerate ONCE through the degree-ordered wedge join (out-degree
    * O(√E)-bounded — q_triangle's plan, with an inner join instead of
    * the semi so each closed wedge credits its THREE endpoints via a
    * bounded 3-element explode); per-node counts and the C(deg,2)
    * denominator fold as exact integers, coefficient in ppm. The
    * oracle recounts per-node credits from the canonical id-ordered
    * triple join — the degree-ordering trick is again checked against
    * the definition. */
  private def localClustering(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("ea").as("v"))
      .unionAll(edges.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dirEdges = edges
      .join(deg.select(col("v").as("ea"), col("deg").as("da")), Seq("ea"))
      .join(deg.select(col("v").as("eb"), col("deg").as("db")), Seq("eb"))
      .select(
        when(struct(col("da"), col("ea")) < struct(col("db"), col("eb")),
          struct(col("ea").as("src"), col("eb").as("dst"), col("db").as("ddeg")))
          .otherwise(struct(col("eb").as("src"), col("ea").as("dst"),
            col("da").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tris = dirEdges.as("e1")
      .join(dirEdges.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.ddeg"), col("e1.dst")) <
            struct(col("e2.ddeg"), col("e2.dst")))
      .select(col("e1.src").as("x"), col("e1.dst").as("wa"),
        col("e2.dst").as("wb"))
      .join(dirEdges.select(col("src").as("wa"), col("dst").as("wb")),
        Seq("wa", "wb"), "left_semi")
    val perNode = tris
      .select(explode(array(col("x"), col("wa"), col("wb"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_ppm",
        expr("(2 * n_tri * 1000000) div (deg * (deg - 1))"))
  }

  private val localClusteringSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |d AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
      |tri AS (
      |  SELECT e1.ea AS a, e1.eb AS b, e2.eb AS c
      |  FROM e e1 JOIN e e2 ON e2.ea = e1.ea AND e2.eb > e1.eb
      |       JOIN e e3 ON e3.ea = e1.eb AND e3.eb = e2.eb),
      |pn AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY 1)
      |SELECT d.v, d.deg, coalesce(pn.n_tri, 0) AS n_tri,
      |  CAST((2 * coalesce(pn.n_tri, 0) * 1000000)
      |       // (d.deg * (d.deg - 1)) AS BIGINT) AS coeff_ppm
      |FROM d LEFT JOIN pn ON d.v = pn.v
      |WHERE d.deg >= 2""".stripMargin

  // Shared DuckDB replay of copurchaseEdges (the co-purchase graph used
  // by the whole graph family): distinct basket items, same-order pairs
  // seen in >= 2 orders.
  // MATERIALIZED: the oracles below reference e two or three times and
  // DuckDB would otherwise replay the quadratic self-join per reference
  // (the round-7 minhash-replay timeout lesson).
  private val copurchaseEdgesCte: String =
    """it AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** #288 graph modularity — how well does the PART BRAND partition
    * explain the co-purchase graph's community structure? Q folds
    * EXACTLY: Q = Σ_c (4·m·e_c − d_c²) / (4m²), so each brand's
    * numerator is one integer and the whole statistic is a sign-split
    * ppm division — no per-community double terms to sum in an
    * engine-chosen order. One edges build (the shared co-purchase
    * plan), two joins to the brand dimension, O(brands) output. DECIMAL
    * (38) arithmetic: 4m² passes BIGINT only below ~1.5e9 edges. */
  private def modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bm = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val deg = edges.select(col("ea").as("v"))
      .unionAll(edges.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val dc = deg.join(bm, col("v") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_vertices"), sum("deg").as("deg_sum"))
    val ec = edges
      .join(bm.select(col("p_partkey").as("ea"), col("p_brand").as("__ba")),
        Seq("ea"))
      .join(bm.select(col("p_partkey").as("eb"), col("p_brand").as("__bb")),
        Seq("eb"))
      .filter(col("__ba") === col("__bb"))
      .groupBy(col("__ba").as("brand")).agg(count(lit(1)).as("e_within"))
    val m = edges.agg(count(lit(1)).as("__m"))
    dc.join(ec, Seq("brand"), "left")
      .withColumn("e_within", coalesce(col("e_within"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("contrib_ppm", expr(
        """CAST(CASE
          WHEN 4 * CAST(__m AS DECIMAL(38,0)) * e_within - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum >= 0
          THEN ((4 * CAST(__m AS DECIMAL(38,0)) * e_within - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum) * 1000000)
               div (4 * CAST(__m AS DECIMAL(38,0)) * __m)
          ELSE -(((CAST(deg_sum AS DECIMAL(38,0)) * deg_sum - 4 * CAST(__m AS DECIMAL(38,0)) * e_within) * 1000000)
               div (4 * CAST(__m AS DECIMAL(38,0)) * __m))
          END AS BIGINT)"""))
      .select("brand", "n_vertices", "e_within", "deg_sum", "contrib_ppm")
  }

  private lazy val modularitySql =
    s"""WITH $copurchaseEdgesCte,
       |d AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
       |dc AS (SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_vertices,
       |         CAST(sum(deg) AS BIGINT) AS deg_sum
       |       FROM d JOIN part p ON p.p_partkey = d.v GROUP BY 1),
       |ec AS (SELECT pa.p_brand AS brand, CAST(count(*) AS BIGINT) AS e_within
       |       FROM e JOIN part pa ON pa.p_partkey = e.ea
       |            JOIN part pb ON pb.p_partkey = e.eb
       |       WHERE pa.p_brand = pb.p_brand GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
       |SELECT dc.brand, dc.n_vertices, coalesce(ec.e_within, 0) AS e_within,
       |  dc.deg_sum,
       |  CAST(CASE
       |    WHEN 4 * CAST(m.m AS HUGEINT) * coalesce(ec.e_within, 0) - CAST(dc.deg_sum AS HUGEINT) * dc.deg_sum >= 0
       |    THEN ((4 * CAST(m.m AS HUGEINT) * coalesce(ec.e_within, 0) - CAST(dc.deg_sum AS HUGEINT) * dc.deg_sum) * 1000000)
       |         // (4 * CAST(m.m AS HUGEINT) * m.m)
       |    ELSE -(((CAST(dc.deg_sum AS HUGEINT) * dc.deg_sum - 4 * CAST(m.m AS HUGEINT) * coalesce(ec.e_within, 0)) * 1000000)
       |         // (4 * CAST(m.m AS HUGEINT) * m.m))
       |    END AS BIGINT) AS contrib_ppm
       |FROM dc LEFT JOIN ec ON ec.brand = dc.brand CROSS JOIN m""".stripMargin

  /** #289 bipartite projection — supplier–supplier co-supply graph
    * from the (part, supplier) bipartite fact: suppliers sharing ≥ 3
    * distinct parts, with the STANDARD hub cut (parts supplied by > 64
    * suppliers are dropped before pair generation — hubs connect
    * everyone and blow the C(n,2) fan-out; the cut is part of the
    * operator's declared semantics, the #114 domain-cap discipline).
    * Pairs generate MAP-SIDE from each part's bounded sorted supplier
    * set (the copurchaseEdges shape) — per-part fan-out ≤ C(64,2),
    * total work linear in parts. Jaccard denominators use the FULL
    * (uncut) per-supplier part counts. Top-20 under a total order. */
  private def bipartiteProject(s: SparkSession, dir: String): DataFrame = {
    // ONE groupBy(pk) collect_set replaces the old distinct + two
    // downstream groupBys: collect_set dedups (pk, sk) exactly like the
    // dropped .distinct(), and the per-supplier part counts come from
    // exploding the SAME cached per-part sets (each distinct (pk, sk)
    // appears exactly once across the sets — the explode IS the
    // distinct fact table). One shuffle of the raw 6-col projection
    // instead of two; the uncut sets keep the FULL Jaccard
    // denominators (the ≤64 hub cut applies only to the pair fan-out,
    // as declared).
    val sets = t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .groupBy("pk").agg(sort_array(collect_set(col("sk"))).as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sets.select(explode(col("ss")).as("sk"))
      .groupBy("sk").agg(count(lit(1)).as("n"))
    val pairs = sets
      .filter(size(col("ss")) <= 64)
      // native C(n,2) pair fan-out — see copurchaseEdges
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("ss"))).as("p"))
      .select(col("p.a").as("supp_a"), col("p.b").as("supp_b"))
      .groupBy("supp_a", "supp_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    pairs
      .join(broadcast(cnt.select(col("sk").as("supp_a"), col("n").as("n_a"))),
        Seq("supp_a"))
      .join(broadcast(cnt.select(col("sk").as("supp_b"), col("n").as("n_b"))),
        Seq("supp_b"))
      .withColumn("jaccard_ppm",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
      .select("supp_a", "supp_b", "n_shared", "n_a", "n_b", "jaccard_ppm")
      .orderBy(desc("n_shared"), asc("supp_a"), asc("supp_b")).limit(20)
  }

  private val bipartiteProjectSql =
    """WITH sp AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      |            FROM lineitem),
      |pd AS (SELECT pk, count(*) AS c FROM sp GROUP BY 1),
      |ok AS (SELECT sp.pk, sp.sk FROM sp JOIN pd USING (pk) WHERE pd.c <= 64),
      |pr AS (SELECT a.sk AS supp_a, b.sk AS supp_b,
      |         CAST(count(*) AS BIGINT) AS n_shared
      |       FROM ok a JOIN ok b ON a.pk = b.pk AND a.sk < b.sk
      |       GROUP BY 1, 2 HAVING count(*) >= 3),
      |cnt AS (SELECT sk, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY 1)
      |SELECT supp_a, supp_b, n_shared, ca.n AS n_a, cb.n AS n_b,
      |  CAST((n_shared * 1000000) // (ca.n + cb.n - n_shared) AS BIGINT)
      |    AS jaccard_ppm
      |FROM pr JOIN cnt ca ON ca.sk = supp_a JOIN cnt cb ON cb.sk = supp_b
      |ORDER BY n_shared DESC, supp_a, supp_b LIMIT 20""".stripMargin

  /** #290 degree distribution — the co-purchase graph's degree
    * histogram with an exact CCDF: the first thing a graph audit reads
    * (is the degree tail heavy enough for #54's skew handling, is the
    * #154 wedge bound real?). O(distinct degrees) histogram rows; the
    * CCDF prefix runs on that bounded histogram, not the vertex set. */
  private def degreeDist(s: SparkSession, dir: String): DataFrame = {
    // persisted: one edges build feeds both endpoint projections
    val edges = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("ea").as("v"))
      .unionAll(edges.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("__d"))
    val hist = deg.groupBy(col("__d").as("degree"))
      .agg(count(lit(1)).as("n_vertices"))
    val w = Window.orderBy(desc("degree"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    hist
      .withColumn("__cum", sum("n_vertices").over(w))
      .withColumn("__tot", sum("n_vertices").over(all))
      .withColumn("ccdf_ppm", expr("(__cum * 1000000) div __tot"))
      .select("degree", "n_vertices", "ccdf_ppm")
  }

  private lazy val degreeDistSql =
    s"""WITH $copurchaseEdgesCte,
       |d AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
       |h AS (SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_vertices
       |      FROM d GROUP BY 1)
       |SELECT degree, n_vertices,
       |  CAST((sum(n_vertices) OVER (ORDER BY degree DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
       |    // (sum(n_vertices) OVER ()) AS BIGINT) AS ccdf_ppm
       |FROM h""".stripMargin

  /** #356 label-propagation communities — 3 SYNCHRONOUS rounds of
    * most-frequent-neighbor-label update (Raghavan et al. 2007,
    * public; ties → min label for determinism) on the co-purchase
    * graph, reported as community sizes. Distinct from the
    * connected-components operator (#46): LPA converges to DENSE
    * cores, not mere reachability — two cliques joined by one bridge
    * edge stay two communities. Each round is one adjacency equi-join
    * + two partial-aggregated groupBys (count, then lexicographic
    * struct-min for the argmax-with-tiebreak); labels localCheckpoint
    * per round so the plan never compounds (the ConnectedComponents
    * discipline). Fixed 3 rounds ⇒ the oracle unrolls them as CTEs. */
  private def lpaCommunities(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("ea").as("v"), col("eb").as("n"))
      .unionAll(e.select(col("eb").as("v"), col("ea").as("n")))
      // pre-partitioned on the per-round join key, so the cached
      // adjacency is never re-shuffled inside the loop — only the
      // (much smaller) label table moves per round (the
      // ConnectedComponents edges discipline)
      .repartition(col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lbl = adj.select(col("v")).distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to 3) {
      lbl = adj.join(lbl.withColumnRenamed("v", "n"), Seq("n"))
        .groupBy("v", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(min(struct((col("c") * -1).as("nc"), col("lbl").as("lbl"))).as("__m"))
        .select(col("v"), col("__m.lbl").as("lbl"))
        // lazy: plan truncation without an eager job per round — see
        // hyperAnf
        .localCheckpoint(false)
    }
    lbl.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  private val lpaCommunitiesSql: String = {
    def step(i: Int): String =
      s"""l$i AS (
         |  SELECT v, lbl FROM (
         |    SELECT a.v, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY a.v
         |        ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM adj a JOIN l${i - 1} l ON l.v = a.n GROUP BY a.v, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a.pk AS ea, b.pk AS eb
       |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS MATERIALIZED (SELECT ea AS v, eb AS n FROM e
       |                     UNION ALL SELECT eb, ea FROM e),
       |l0 AS (SELECT DISTINCT v, v AS lbl FROM adj),
       |${(1 to 3).map(step).mkString(",\n")}
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l3 GROUP BY 1""".stripMargin
  }

  /** #364 bounded BFS — 3-hop reachability profile from the
    * co-purchase graph's min node (hop histogram: how much of the
    * catalog is within k recommendation steps). Frontier expansion is
    * one adjacency equi-join + one anti-join against the visited set
    * per round, both checkpointed (the ConnectedComponents plan
    * discipline); the driver never sees node rows. Fixed 3 hops ⇒ the
    * oracle unrolls the frontiers as CTEs (each guarded HAVING > 0 so
    * an exhausted frontier emits NO row on either engine). */
  private def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("ea").as("v"), col("eb").as("n"))
      .unionAll(e.select(col("eb").as("v"), col("ea").as("n")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lazy checkpoints: plan truncation without an eager job per round
    // — see hyperAnf
    var visited = adj.agg(min("v").as("v")).select(col("v"), lit(0L).as("hop"))
      .localCheckpoint(false)
    var frontier = visited.select("v")
    for (h <- 1 to 3) {
      val nw = adj.join(frontier, Seq("v")).select(col("n").as("v")).distinct()
        .join(visited.select("v"), Seq("v"), "left_anti")
        .localCheckpoint(false)
      visited = visited.unionAll(nw.select(col("v"), lit(h.toLong).as("hop")))
        .localCheckpoint(false)
      frontier = nw
    }
    visited.groupBy("hop").agg(count(lit(1)).as("n_nodes"))
  }

  private val bfsHopsSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS MATERIALIZED (SELECT ea AS v, eb AS n FROM e
      |                     UNION ALL SELECT eb, ea FROM e),
      |h0 AS (SELECT min(v) AS v FROM adj),
      |h1 AS (SELECT DISTINCT a.n AS v FROM adj a JOIN h0 ON h0.v = a.v
      |       WHERE a.n NOT IN (SELECT v FROM h0)),
      |h2 AS (SELECT DISTINCT a.n AS v FROM adj a JOIN h1 ON h1.v = a.v
      |       WHERE a.n NOT IN (SELECT v FROM h0 UNION SELECT v FROM h1)),
      |h3 AS (SELECT DISTINCT a.n AS v FROM adj a JOIN h2 ON h2.v = a.v
      |       WHERE a.n NOT IN (SELECT v FROM h0 UNION SELECT v FROM h1
      |                         UNION SELECT v FROM h2))
      |SELECT CAST(0 AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM h0 HAVING count(*) > 0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT) FROM h1
      |HAVING count(*) > 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM h2
      |HAVING count(*) > 0
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM h3
      |HAVING count(*) > 0""".stripMargin

  /** #371 Moran's I — attribute autocorrelation over the co-purchase
    * graph (#151's edges): do frequently co-bought parts have similar
    * retail prices? The graph generalization of #166 degree
    * assortativity to a NODE attribute. Deviations stay rational-free
    * by the n-scaling trick z'ᵢ = n·xᵢ − Σx (the n² factors cancel in
    * the ratio), so I = n·Σ_edges z'ₐz'ᵦ / (E·Σz'²) needs exactly one
    * signed integral division to micro — routed through the sign-split
    * sdivPpm device (Spark `div` truncates, DuckDB `//` floors; they
    * only agree on non-negative operands), all products staged through
    * DECIMAL(38). One edge join against the
    * O(nodes) attribute frame (shuffle on part key), one grouped fold
    * each side. DECIMAL(38) holds n·Σz'ₐz'ᵦ·1e6 to ~1e7 graph nodes —
    * documented SF gate. */
  private def moranI(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("ea").as("v"))
      .unionAll(e.select(col("eb").as("v"))).distinct()
    val attr = nodes.join(
        parallelize(s, t(s, dir, "part"))
          .select(col("p_partkey").as("v"),
            (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        Seq("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = attr.agg(count(lit(1)).as("__n"), sum("cents").as("__s"))
    val z = attr.crossJoin(broadcast(tot))
      .select(col("v"),
        (col("cents").cast("decimal(38,0)") * col("__n") - col("__s"))
          .as("z"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val den = z.agg(sum(col("z") * col("z")).as("__sz2"),
      count(lit(1)).as("__n"))
    val num = e.join(z.select(col("v").as("ea"), col("z").as("za")), Seq("ea"))
      .join(z.select(col("v").as("eb"), col("z").as("zb")), Seq("eb"))
      .agg(sum(col("za") * col("zb")).as("__szz"), count(lit(1)).as("__e"))
    // Σzz can be NEGATIVE (anti-correlated attributes): route through
    // the sign-split ppm division so Spark's truncating `div` and
    // DuckDB's flooring `//` agree for either sign (the sdivPpm rule)
    num.crossJoin(broadcast(den))
      .select(col("__n").as("n_nodes"), col("__e").as("n_edges"),
        expr(s"CAST(${sdivPpm(
          "CAST(__n AS DECIMAL(38,0)) * __szz",
          "CAST(__e AS DECIMAL(38,0)) * __sz2", duck = false)} AS BIGINT)")
          .as("moran_micro"))
  }

  private val moranISql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |nodes AS (SELECT DISTINCT v FROM (
      |  SELECT ea AS v FROM e UNION ALL SELECT eb FROM e)),
      |attr AS (
      |  SELECT n.v,
      |    CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM nodes n JOIN part p ON p.p_partkey = n.v),
      |tot AS (SELECT count(*) AS n, sum(cents) AS s FROM attr),
      |z AS (
      |  SELECT v, CAST(cents AS HUGEINT) * t.n - t.s AS z
      |  FROM attr, tot t),
      |den AS (SELECT sum(z * z) AS sz2, count(*) AS n FROM z),
      |num AS (
      |  SELECT sum(za.z * zb.z) AS szz, count(*) AS ne
      |  FROM e JOIN z za ON za.v = e.ea JOIN z zb ON zb.v = e.eb)
      |SELECT CAST(den.n AS BIGINT) AS n_nodes,
      |  CAST(num.ne AS BIGINT) AS n_edges,
      |  CAST(CASE WHEN (CAST(den.n AS HUGEINT) * num.szz) >= 0
      |    THEN (CAST(den.n AS HUGEINT) * num.szz * 1000000)
      |         // (CAST(num.ne AS HUGEINT) * den.sz2)
      |    ELSE -((-(CAST(den.n AS HUGEINT) * num.szz) * 1000000)
      |           // (CAST(num.ne AS HUGEINT) * den.sz2)) END AS BIGINT)
      |    AS moran_micro
      |FROM num, den""".stripMargin

  /** #384 rich-club coefficient — do high-degree parts in the
    * co-purchase graph preferentially co-occur with each other?
    * φ(k) = 2·E_{>k} / (N_{>k}(N_{>k}−1)) over the degree thresholds
    * {1,2,4,8,16} (Colizza et al. 2006, public). Degrees are one
    * grouped count; the edge side joins each edge to the two endpoint
    * degrees (equi-joins on part key) ONCE, then every threshold is a
    * conditional sum over the same joined frame — the graph is
    * scanned once, not per-k. One positive ppm division per row;
    * thresholds with N_{>k} < 2 emit no row on either engine. */
  private def richClub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("ea").as("v"))
      .unionAll(e.select(col("eb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ks = Seq(1L, 2L, 4L, 8L, 16L)
    val kdf = broadcast(ks.toDF("k"))
    val nodes = deg.crossJoin(broadcast(kdf)).filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ej = e.join(deg.select(col("v").as("ea"), col("deg").as("da")), Seq("ea"))
      .join(deg.select(col("v").as("eb"), col("deg").as("db")), Seq("eb"))
    val edges = ej.crossJoin(broadcast(kdf))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, Seq("k"), "left")
      .filter(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        expr("""(coalesce(n_edges, 0) * 2 * 1000000)
                div (n_nodes * (n_nodes - 1))""").as("phi_ppm"))
  }

  private val richClubSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT ea AS v FROM e UNION ALL SELECT eb FROM e)
      |  GROUP BY 1),
      |k(k) AS (VALUES (1), (2), (4), (8), (16)),
      |nodes AS (
      |  SELECT k.k, count(*) AS n_nodes
      |  FROM deg, k WHERE deg.deg > k.k GROUP BY 1),
      |edges AS (
      |  SELECT k.k, count(*) AS n_edges
      |  FROM e
      |  JOIN deg da ON da.v = e.ea
      |  JOIN deg db ON db.v = e.eb
      |  CROSS JOIN k
      |  WHERE da.deg > k.k AND db.deg > k.k
      |  GROUP BY 1)
      |SELECT CAST(n.k AS BIGINT) AS k, CAST(n.n_nodes AS BIGINT) AS n_nodes,
      |  CAST(coalesce(ed.n_edges, 0) AS BIGINT) AS n_edges,
      |  CAST((coalesce(ed.n_edges, 0) * 2 * 1000000)
      |       // (n.n_nodes * (n.n_nodes - 1)) AS BIGINT) AS phi_ppm
      |FROM nodes n LEFT JOIN edges ed USING (k)
      |WHERE n.n_nodes >= 2""".stripMargin

  /** #389 HyperANF-style neighborhood function — how much of the
    * co-purchase graph is within h hops of each node, for ALL nodes at
    * once (Boldi–Rosa–Vigna's HyperANF, public; #364's BFS answers it
    * for ONE seed): every node carries a k=32 KMV sketch of its
    * reachable set, and each hop is ONE adjacency join + ONE distinct
    * + ONE bounded topk_by heap aggregate (O(k) state per node — the
    * sketch-merge never materializes reachable sets). Hashes fold to a
    * 2^50 domain so the heap's double scores stay EXACT (2^55 ids
    * would lose bits past 2^53); the KMV estimate (k−1)·M div τ is one
    * integral division per node, summed exactly. Deterministic, so
    * DuckDB replays the identical sketches via
    * list_sort(list_distinct(...))[:32]. Output: per hop, nodes +
    * summed estimated reach — the neighborhood-function curve an
    * effective-diameter read comes from. */
  private def hyperAnf(s: SparkSession, dir: String): DataFrame = {
    val M = 1125899906842624L // 2^50
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("ea").as("v"), col("eb").as("n"))
      .unionAll(e.select(col("eb").as("v"), col("ea").as("n")))
      // pre-partitioned on the per-hop join key (the lpa/CC discipline):
      // the cached adjacency never re-shuffles inside the loop
      .repartition(col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select("v").distinct()
      .select(col("v"), expr(s"pmod(${multHashExpr("v")}, $M)").as("h"))
    // sk holds the CAPPED sketch as ONE ascending ARRAY per node: ≤32
    // distinct min-hashes at ALL times — capping only at estimate time
    // would let the carried state grow into the full reachable set
    // (the quadratic blowup the sketch exists to avoid). The r13 form
    // kept member ROWS and capped with distinct() + topk_by — two
    // shuffles per round; `bottomk_distinct` (bounded sorted-set
    // state) caps in ONE aggregation, and the estimates read
    // size/last-element off the array instead of re-grouping rows.
    // LAZY local checkpoints (eager=false): the plan still truncates to
    // a leaf per round (the driver-OOM guard the checkpoint exists
    // for), but materialization folds into the ONE final action instead
    // of an eager driver job per round — the sf0.1 scaling block showed
    // these loops job-count-bound (8-core ≈ 32-core), and each round's
    // blocks are computed exactly once either way (checkpoint blocks
    // cache on first touch; the estimates re-read them).
    var sk = nodes.select(col("v"), array(col("h")).as("hs"))
      .localCheckpoint(false)
    def estimate(hop: Int): DataFrame =
      sk.select(size(col("hs")).cast("long").as("__sz"),
          element_at(col("hs"), size(col("hs"))).as("__tau"))
        .select(expr(
          s"""CASE WHEN __sz < 32 THEN __sz
             | ELSE (31 * CAST($M AS BIGINT)) div __tau END"""
            .stripMargin.replace("\n", " ")).as("__est"))
        .agg(count(lit(1)).as("n_nodes"), sum("__est").as("est_reach_sum"))
        .select(lit(hop.toLong).as("hop"), col("n_nodes"),
          col("est_reach_sum"))
    var out = estimate(0)
    for (h <- 1 to 3) {
      sk = adj.join(sk.withColumnRenamed("v", "n"), Seq("n"))
          .select(col("v"), explode(col("hs")).as("h"))
          .unionAll(sk.select(col("v"), explode(col("hs")).as("h")))
        .groupBy("v")
        .agg(graft.functions.TopKAggregate.bottomk_distinct(col("h"), 32)
          .as("hs"))
        .localCheckpoint(false)
      out = out.unionAll(estimate(h))
    }
    out
  }

  private val hyperAnfSql = {
    val M = 1125899906842624L
    def est(src: String, hop: Int): String =
      s"""SELECT CAST($hop AS BIGINT) AS hop,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(CASE WHEN sz < 32 THEN sz
         |           ELSE (31 * CAST($M AS BIGINT)) // tau END) AS BIGINT)
         |    AS est_reach_sum
         |FROM (SELECT v, count(*) AS sz, max(h) AS tau
         |      FROM $src GROUP BY v)""".stripMargin
    def iter(i: Int): String =
      s"""l$i AS (
         |  SELECT v, list_sort(list_distinct(list(h)))[:32] AS sk FROM (
         |    SELECT a.v, s.h FROM adj a JOIN m${i - 1} s ON s.v = a.n
         |    UNION ALL
         |    SELECT v, h FROM m${i - 1})
         |  GROUP BY v),
         |m$i AS MATERIALIZED (SELECT v, unnest(sk) AS h FROM l$i)"""
        .stripMargin
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a.pk AS ea, b.pk AS eb
       |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS MATERIALIZED (SELECT ea AS v, eb AS n FROM e
       |                     UNION ALL SELECT eb, ea FROM e),
       |m0 AS (
       |  SELECT v, CAST((CAST(v AS HUGEINT) * ${HashMult})
       |    % ${TextAnalysis.FingerprintMod} % $M AS BIGINT) AS h
       |  FROM (SELECT DISTINCT v FROM adj)),
       |${(1 to 3).map(iter).mkString(",\n")}
       |${(0 to 3).map(i => est(s"m$i", i)).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** #426 Geary's C — the local-contiguity sibling of #371's Moran's I
    * over the same co-purchase graph and retail-price attribute:
    * C = (n−1)·Σ_edges(x_i−x_j)² ÷ (2·E·Σ(x_i−x̄)²), sensitive to
    * local differences where Moran's I measures global covariance
    * (C≈1 random, <1 positive autocorrelation). Identical z-transform
    * device (z = n·x − Σx folds mean-centering into exact integers;
    * the n² scale cancels in the ratio); both numerator and
    * denominator are sums of SQUARES — strictly non-negative, so the
    * ppm division needs no sign split. Edge squares fold in
    * DECIMAL(38)/HUGEINT. */
  private def gearysC(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("ea").as("v"))
      .unionAll(e.select(col("eb").as("v"))).distinct()
    val attr = nodes.join(
        parallelize(s, t(s, dir, "part"))
          .select(col("p_partkey").as("v"),
            (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        Seq("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = attr.agg(count(lit(1)).as("__n"), sum("cents").as("__s"))
    val z = attr.crossJoin(broadcast(tot))
      .select(col("v"),
        (col("cents").cast("decimal(38,0)") * col("__n") - col("__s"))
          .as("z"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val den = z.agg(sum(col("z") * col("z")).as("__sz2"),
      count(lit(1)).as("__n"))
    val num = e.join(z.select(col("v").as("ea"), col("z").as("za")), Seq("ea"))
      .join(z.select(col("v").as("eb"), col("z").as("zb")), Seq("eb"))
      .agg(sum((col("za") - col("zb")) * (col("za") - col("zb")))
        .as("__sd2"), count(lit(1)).as("__e"))
    num.crossJoin(broadcast(den))
      .select(col("__n").as("n_nodes"), col("__e").as("n_edges"),
        expr("""CAST(((CAST(__n AS DECIMAL(38,0)) - 1) * __sd2 * 1000000)
               | div (2 * CAST(__e AS DECIMAL(38,0)) * __sz2) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("geary_micro"))
  }

  private val gearysCSql =
    """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS ea, b.pk AS eb
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |nodes AS (SELECT DISTINCT v FROM (
      |  SELECT ea AS v FROM e UNION ALL SELECT eb FROM e)),
      |attr AS (
      |  SELECT n.v,
      |    CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM nodes n JOIN part p ON p.p_partkey = n.v),
      |tot AS (SELECT count(*) AS n, sum(cents) AS s FROM attr),
      |z AS (
      |  SELECT v, CAST(cents AS HUGEINT) * t.n - t.s AS z
      |  FROM attr, tot t),
      |den AS (SELECT sum(z * z) AS sz2, count(*) AS n FROM z),
      |num AS (
      |  SELECT sum((za.z - zb.z) * (za.z - zb.z)) AS sd2, count(*) AS ne
      |  FROM e JOIN z za ON za.v = e.ea JOIN z zb ON zb.v = e.eb)
      |SELECT CAST(den.n AS BIGINT) AS n_nodes,
      |  CAST(num.ne AS BIGINT) AS n_edges,
      |  CAST(((CAST(den.n AS HUGEINT) - 1) * num.sd2 * 1000000)
      |    // (2 * CAST(num.ne AS HUGEINT) * den.sz2) AS BIGINT)
      |    AS geary_micro
      |FROM num, den""".stripMargin

  val rows: Seq[Q] = Seq(
    Q("q_dedup_clusters", dedupClusters, dedupClustersSql),
    Q("q_transition_matrix", transitionMatrix, transitionMatrixSql),
    Q("q_canonical_pick", canonicalPick, canonicalPickSql),
    Q("q_pagerank", pagerank, pagerankSql),
    Q("q_copurchase", copurchase, copurchaseSql),
    Q("q_triangle", triangle, triangleSql),
    Q("q_assortativity", assortativity, assortativitySql),
    Q("q_kcore", kcore, kcoreSql),
    Q("q_link_predict", linkPredict, linkPredictSql),
    Q("q_local_clustering", localClustering, localClusteringSql),
    Q("q_modularity", modularity, modularitySql),
    Q("q_bipartite_project", bipartiteProject, bipartiteProjectSql),
    Q("q_degree_dist", degreeDist, degreeDistSql),
    Q("q_lpa_communities", lpaCommunities, lpaCommunitiesSql),
    Q("q_bfs_hops", bfsHops, bfsHopsSql),
    Q("q_moran_i", moranI, moranISql),
    Q("q_rich_club", richClub, richClubSql),
    Q("q_hyperanf", hyperAnf, hyperAnfSql),
    Q("q_gearys_c", gearysC, gearysCSql),
  )
}
