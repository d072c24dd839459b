package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, NativeText}
import graft.operators.{MinHashLSH, TextAnalysis}

class NativeTextSpec extends GraftSuite {
  import spark.implicits._

  test("hashed_shingles: k-grams distinct, short docs yield one shingle") {
    val out = Seq("a b c d", "a b", "a b c a b c").toDF("t")
      .select(NativeText.hashed_shingles(col("t"), 3).as("sh"))
      .as[Seq[Long]].collect()
    assert(out(0).length == 2) // "a b c", "b c d"
    assert(out(1).length == 1) // short doc
    assert(out(2).length == 3) // "a b c" (twice), "b c a", "c a b" → 3 distinct
    assert(out(0).head == out(2).head) // same shingle, same hash
  }

  test("jaccard_sets matches the declarative jaccard exactly") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 2L), Seq(1L, 2L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(5L), Seq(6L)),
    ).toDF("a", "b")
    val native = df.select(NativeText.jaccard_sets(col("a"), col("b"))).as[Double].collect()
    val decl = df.select(MinHashLSH.jaccard(col("a"), col("b"))).as[Double].collect()
    assert(native.toSeq == decl.toSeq)
    assert(native.toSeq == Seq(0.5, 1.0, 1.0, 0.0))
  }

  test("minhash_signature: identical sets get identical signatures; length respected") {
    val df = Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), Seq(9L, 10L)).toDF("h")
    val sigs = df.select(NativeText.minhash_signature_univ(col("h"), 16).as("s"))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 16))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash64 equals the declarative Column-form simhash-style invariants") {
    val df = Seq("spark shuffle join", "spark shuffle join", "other words here").toDF("t")
    val fps = df.select(NativeText.simhash_univ(col("t"))).as[Long].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("null inputs propagate as null") {
    val df = Seq[Option[String]](None, Some("a b")).toDF("t")
    val rows = df.select(NativeText.simhash_univ(col("t")).as("fp"),
      NativeText.hashed_shingles(col("t"), 2).as("sh")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(!rows(1).isNullAt(0) && !rows(1).isNullAt(1))
  }

  test("native cosine is bit-identical to the declarative dot/norm form") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b")).limit(5))
    def asD(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val declarative = (Similarity.dot(asD(col("a")), asD(col("b")))
      / (sqrt(Similarity.dot(asD(col("a")), asD(col("a"))))
        * sqrt(Similarity.dot(asD(col("b")), asD(col("b"))))))
    val rows = pairs.select(
      graft.functions.NativeVec.cosine_sim(col("a"), col("b")).as("native"),
      declarative.as("decl")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != declarative ${r.getDouble(1)}")
    }
  }

  test("functions are SQL-callable once registered") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT jaccard_sets(hashed_shingles('x y z w', 2), hashed_shingles('x y z w', 2)) AS j
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    val agg = spark.sql(
      """SELECT transform(topk_by(s, i, 2), t -> t.id) AS top
        |FROM VALUES (0.9, 1L), (0.95, 3L), (0.7, 2L) AS v(s, i)""".stripMargin)
      .as[Seq[Long]].head()
    assert(agg == Seq(3L, 1L))
  }

  test("vector + simhash_univ functions are SQL-callable and match the Column API") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c,
        |       sq_dist(array(1.0D, 2.0D), array(1.0D, 0.0D)) AS d,
        |       simhash_univ('a b c') AS fp""".stripMargin).head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 4.0)
    val colFp = Seq("a b c").toDF("t")
      .select(NativeText.simhash_univ(col("t"))).head().getLong(0)
    assert(r.getLong(2) == colFp)
    // SQL-path seeded buckets equal the programmatic hyperplane buckets
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(8)
    val planes = graft.operators.Similarity.hyperplanes(8, 64, 42L)
    val both = e.select(
      graft.functions.NativeVec.hyperplane_bucket(col("embedding"), planes).as("api"),
      expr("hyperplane_bucket(embedding, 8, 64, 42)").as("sql")).collect()
    assert(both.nonEmpty)
    both.foreach(b => assert(b.getLong(0) == b.getLong(1)))
    // nearest_cells from SQL with a literal centroid array
    val cells = spark.sql(
      """SELECT nearest_cells(array(0.9D, 0.0D),
        |  array(array(0.0D, 0.0D), array(1.0D, 0.0D), array(10.0D, 0.0D)), 2) AS c"""
        .stripMargin).head().getSeq[Int](0)
    assert(cells == Seq(1, 0))
  }

  test("adjacent_transposition equals the substring-lambda definition") {
    // the interpreted form q_fuzzy_phone evaluated per candidate pair
    val lambda = expr(
      """exists(sequence(1, length(pa) - 1), i ->
        |  substring(pa, 1, i - 1) = substring(pb, 1, i - 1)
        |  AND substring(pa, i + 2) = substring(pb, i + 2)
        |  AND substring(pa, i, 1) = substring(pb, i + 1, 1)
        |  AND substring(pa, i + 1, 1) = substring(pb, i, 1)
        |  AND substring(pa, i, 1) <> substring(pa, i + 1, 1))"""
        .stripMargin.replace("\n", " "))
    val cases = Seq(
      ("+79999999999", "+79999999999"), // equal → false
      ("+71234567890", "+72134567890"), // adjacent swap → true
      ("+71234567890", "+71234567809"), // swap at the tail → true
      ("+71234567890", "+71234567980"), // adjacent swap mid-tail → true
      ("+71234567890", "+71243567890"), // another adjacent swap → true
      ("+71234567890", "+73214567890"), // non-adjacent swap → false
      ("+71234567890", "+71234567891"), // single substitution → false
      ("+71224567890", "+71224567890"), // equal with repeat → false
      ("+7122", "+7212"),               // swap then mismatch → false
      ("ab", "ba"), ("aa", "aa"), ("abc", "abcd"), ("", ""))
      .toDF("pa", "pb")
    val rows = cases.select(col("pa"), col("pb"), lambda.as("l"),
      NativeText.adjacent_transposition(col("pa"), col("pb")).as("n")).collect()
    rows.foreach { r =>
      assert(r.getBoolean(2) == r.getBoolean(3),
        s"diverges on [${r.getString(0)}] vs [${r.getString(1)}]")
    }
  }

  test("poly_fingerprint is bit-identical to the declarative char fold") {
    import org.scalacheck.Gen
    val mod = graft.operators.TextAnalysis.FingerprintMod
    val strGen = Gen.oneOf(
      Gen.const(""),
      Gen.asciiPrintableStr.map(_.take(40)),
      Gen.listOf(Gen.oneOf("a", "é", "ß", "日", " ", "𝄞"))
        .map(_.mkString))
    val cases = (1 to 60).flatMap(i =>
      strGen.sample.map(s => (s, (i % 5).toLong * 1315423911L)))
    val df = cases.toDF("t", "seed")
    val decl = aggregate(split(col("t"), ""), col("seed"),
      (acc, ch) => pmod(acc * lit(31L) + coalesce(ascii(ch), lit(0)), lit(mod)))
    val rows = df.select(col("t"),
      decl.as("d"),
      NativeText.poly_fingerprint(col("t"), col("seed"), mod).as("n")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"fold diverges on [${r.getString(0)}]: decl=${r.getLong(1)} native=${r.getLong(2)}")
    }
    // null text → null (UnaryExpression null semantics)
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(NativeText.poly_fingerprint(col("t"), lit(0L), mod)).head()
    assert(nulls.isNullAt(0))
  }
}
