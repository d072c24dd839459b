package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the graft native
  * functions for SQL use —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)  // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * then e.g. `SELECT jaccard_sets(hashed_shingles(a, 3), hashed_shingles(b, 3))`.
  */
object GraftExtensions {
  /** All (name, builder) pairs — shared by session-build injection and
    * live-session registration. */
  private[functions] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hashed_shingles",
      "hashed_shingles(text, k) - distinct XXH64 hashes of the k-token word shingles",
      arity("hashed_shingles", 2)(args =>
        NativeText.HashedShingles(args.head, intArg(args(1), "k")))),
    ("jaccard_sets",
      "jaccard_sets(a, b) - exact Jaccard similarity of two BIGINT-array sets",
      arity("jaccard_sets", 2)(args => NativeText.JaccardSets(args.head, args(1)))),
    ("topk_by",
      "topk_by(score, id, k) - bounded top-k aggregate (array<struct<id,score>>, best first)",
      arity("topk_by", 3)(args =>
        TopKAggregate.TopKBy(args(0), args(1), intArg(args(2), "k"))
          .toAggregateExpression())),
    ("simhash_univ",
      "simhash_univ(text) - SQL-replicable universal-hash simhash fingerprint (63 bits)",
      arity("simhash_univ", 1)(args => NativeText.SimHashUnivExpr(args.head))),
    ("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double array columns",
      arity("cosine_sim", 2)(args => NativeVec.CosineSim(args.head, args(1)))),
    ("sq_dist",
      "sq_dist(a, b) - squared euclidean distance of two float/double array columns",
      arity("sq_dist", 2)(args => NativeVec.SqDist(args.head, args(1)))),
    ("hyperplane_bucket",
      "hyperplane_bucket(vec, bits, dim, seed) - sign-bit LSH bucket id under seeded Gaussian hyperplanes",
      arity("hyperplane_bucket", 4)(args =>
        NativeVec.HyperplaneBucket(args.head,
          NativeVec.gaussianPlanes(intArg(args(1), "bits"), intArg(args(2), "dim"),
            longArg(args(3), "seed")).map(_.toIndexedSeq).toIndexedSeq))),
    ("nearest_cells",
      "nearest_cells(vec, centroids, n) - ids of the n nearest centroids (array<array<double>> literal), ordered by distance",
      arity("nearest_cells", 3)(args =>
        NativeVec.NearestCells(args.head, centroidsArg(args(1)), intArg(args(2), "n")))),
  )

  /** A foldable ARRAY<ARRAY<DOUBLE>> argument (e.g. trained centroids
    * interpolated into SQL) evaluated to plain Scala at build time. */
  private def centroidsArg(e: Expression): Seq[Seq[Double]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val ok = e.foldable && (e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (!ok) throw new IllegalArgumentException(
      s"centroids must be a foldable array<array<double>> literal, got $e")
    val outer = e.eval().asInstanceOf[ArrayData]
    if (outer == null) throw new IllegalArgumentException("centroids literal must not be NULL")
    (0 until outer.numElements()).map { i =>
      val inner = outer.getArray(i)
      if (inner == null) throw new IllegalArgumentException(
        s"centroids literal must not contain NULL rows (row $i)")
      inner.toDoubleArray().toIndexedSeq
    }
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")
      f(args)
    }

  /** Register the native functions on an already-built session (temp
    * functions; for session-build-time registration use the extensions
    * class below). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** THE single extensions entry point: native SQL functions + the
  * engine's optimizer rules. Every session built through GraftSession
  * (Verify, Bench, tools.Inspect) registers this class, so the
  * correctness gate and every committed plan run with both active. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.builders

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[NativeText.type].getName, null, name, usage,
          "", "", "", "", "4.0.0", "", "built-in"),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SizePruneJaccard)
  }
}
