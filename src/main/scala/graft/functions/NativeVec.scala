package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native vector math for the similarity hot path. The declarative forms
  * (`zip_with` + `aggregate`) are interpreted lambda chains; these are
  * single primitive loops with IDENTICAL accumulation order (left fold
  * over indices, double precision), so results are bit-for-bit equal to
  * the declarative implementations they replace — the oracle compare
  * stays exact.
  *
  * (CodegenFallback is a measured decision — see the NativeText header:
  * the r15 kernel-call doGenCode experiment regressed the full bench
  * 366 → 448 s and was reverted. It ran with the 100-entry codegen
  * cache, which a full bench thrashes; the per-row boxing finding
  * stands.)
  */
object NativeVec {

  private def toDoubles(e: Expression, v: Any): Array[Double] = {
    val ad = v.asInstanceOf[ArrayData]
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType =>
        val f = ad.toFloatArray()
        val out = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
        out
      case DoubleType => ad.toDoubleArray()
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }
  }

  /** `cosine_sim(a, b)` = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))),
    * accumulated left-to-right in double — identical to the zip_with/
    * aggregate formulation. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toDoubles(left, l)
      val b = toDoubles(right, r)
      // mismatched dimensions → null, like the declarative zip_with
      // form (silent prefix-truncation would rank on garbage)
      if (a.length != b.length) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `sq_dist(a, b)` = Σ (a_i - b_i)², left-to-right in double. */
  case class SqDist(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toDoubles(left, l)
      val b = toDoubles(right, r)
      if (a.length != b.length) return null
      var acc = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `hyperplane_bucket(vec)` — sign-bit LSH bucket id: bit i set when
    * dot(vec, planes(i)) >= 0. One primitive loop over bits × dim per
    * row; the declarative formulation (`bits` zip_with/aggregate chains
    * OR-reduced) evaluates interpreted with per-element boxing and costs
    * ~bits× more per row. Planes ride as Seq (structural equality keeps
    * Catalyst plan canonicalization/CSE working); null on a
    * vector/plane dimension mismatch, like cosine_sim. */
  case class HyperplaneBucket(child: Expression, planes: Seq[Seq[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
    require(planes.isEmpty || planes.forall(_.length == planes.head.length),
      "hyperplanes must all share one dimension")
    @transient private lazy val p: Array[Array[Double]] = planes.map(_.toArray).toArray
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val v = toDoubles(child, input)
      if (p.length > 0 && p(0).length != v.length) return null
      var bucket = 0L
      var i = 0
      while (i < p.length) {
        val plane = p(i)
        var dot = 0.0
        var j = 0
        while (j < v.length) { dot += v(j) * plane(j); j += 1 }
        if (dot >= 0.0) bucket |= (1L << i)
        i += 1
      }
      bucket
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `nearest_cells(vec, centroids, n)` — ids of the `n` nearest
    * centroids by squared euclidean distance (accumulation order
    * identical to `sq_dist`), ordered (distance, id) with ties to the
    * lower id. Turns IVF cell assignment into a MAP-ONLY projection:
    * the |D|·nlist broadcast join + min_by aggregation (a full-corpus
    * shuffle) collapses to one primitive loop per row. Centroids ride
    * as Seq for Catalyst canonicalization/CSE, like HyperplaneBucket;
    * null on a dimension mismatch. */
  case class NearestCells(child: Expression, centroids: Seq[Seq[Double]], n: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
    require(n >= 1, "n must be positive")
    // a ragged centroid array would pass the first-row dimension check
    // and crash row-side — reject it at construction
    require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
      "centroids must be non-empty and all share one dimension")
    @transient private lazy val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val v = toDoubles(child, input)
      if (cs.length > 0 && cs(0).length != v.length) return null
      val m = math.min(n, cs.length)
      // bounded insertion keeps the m best (dist, id) pairs — nlist is a
      // coarse-quantizer size, no heap machinery needed
      val bestD = Array.fill(m)(Double.PositiveInfinity)
      val bestI = Array.fill(m)(Int.MaxValue)
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        var d = 0.0
        var j = 0
        while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        var k = m - 1
        if (d < bestD(k) || (d == bestD(k) && i < bestI(k))) {
          while (k > 0 && (d < bestD(k - 1) || (d == bestD(k - 1) && i < bestI(k - 1)))) {
            bestD(k) = bestD(k - 1); bestI(k) = bestI(k - 1); k -= 1
          }
          bestD(k) = d; bestI(k) = i
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(bestI)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `sorted_pairs(arr)` — every position pair (i < j) of an integral
    * array as ARRAY<STRUCT<a,b>>: the C(n,2) fan-out the co-occurrence
    * graph builders explode into edges. One primitive loop replacing the
    * interpreted `flatten(transform(.., transform(slice(..))))` lambda
    * chain, whose per-element closure dispatch + nested array/struct
    * allocation dominated the graph family's bench cost (the fan-out
    * count, order, and values are IDENTICAL: i ascending, then j —
    * callers' aggregates are unchanged). Inputs come pre-sorted and
    * deduplicated (collect_set + sort_array), so (a, b) is already the
    * canonical a < b edge orientation. */
  case class SortedPairs(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_pairs expects ARRAY<INT> or ARRAY<BIGINT>, got ${other.sql}")
    }
    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      val arr: Array[Long] =
        child.dataType.asInstanceOf[ArrayType].elementType match {
          case IntegerType =>
            val ints = ad.toIntArray()
            val out = new Array[Long](ints.length)
            var i = 0
            while (i < ints.length) { out(i) = ints(i).toLong; i += 1 }
            out
          case _ => ad.toLongArray()
        }
      val n = arr.length
      val m = n.toLong * (n - 1) / 2
      // a single group past ~92k elements would need a >2^31 pair array —
      // callers cap group sizes (bucket caps / order sizes) long before
      // this; fail loudly rather than corrupt the count
      require(m <= Int.MaxValue, s"sorted_pairs fan-out $m exceeds array limit")
      val out = new Array[Any](m.toInt)
      var k = 0
      var i = 0
      while (i < n) {
        val a = arr(i)
        var j = i + 1
        while (j < n) {
          out(k) = new GenericInternalRow(Array[Any](a, arr(j)))
          k += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `sorted_triples(arr)` — every position triple (i < j < k) of a
    * STRING array as ARRAY<STRUCT<a,b,c>>: the C(n,3) fan-out behind
    * the frequent-triple miner. One primitive loop replacing a 3-way
    * self-equi-join whose intermediate pair fan-out re-shuffles the
    * (order, brand) table twice (fan-out count, order, and values are
    * IDENTICAL to the join's b1 < b2 < b3 output when the input is
    * sorted + deduplicated, which callers guarantee via
    * sort_array(collect_set(..))). Group sizes are bounded by the
    * per-group distinct-value domain (≤ 25 brands), so the fan-out is
    * small; the require mirrors sorted_pairs' loud overflow guard. */
  case class SortedTriples(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("a", StringType, nullable = false),
        StructField("b", StringType, nullable = false),
        StructField("c", StringType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_triples expects ARRAY<STRING>, got ${other.sql}")
    }
    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      val n = ad.numElements()
      val arr = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var x = 0
      while (x < n) { arr(x) = ad.getUTF8String(x); x += 1 }
      val m = n.toLong * (n - 1) * (n - 2) / 6
      require(m <= Int.MaxValue, s"sorted_triples fan-out $m exceeds array limit")
      val out = new Array[Any](m.toInt)
      var p = 0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          var k = j + 1
          while (k < n) {
            out(p) = new GenericInternalRow(Array[Any](arr(i), arr(j), arr(k)))
            p += 1
            k += 1
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Deterministic Gaussian hyperplanes (seeded scala.util.Random —
    * spec-pinned generator, identical on every JVM). Shared by the
    * Column API (Similarity.hyperplanes) and the SQL registration, so
    * SQL `hyperplane_bucket(vec, bits, dim, seed)` buckets exactly as
    * the programmatic path. */
  def gaussianPlanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(e)
  private def exprOf(c: Column): Expression =
    org.apache.spark.sql.graftshim.GraftShim.expression(c)

  def cosine_sim(a: Column, b: Column): Column = toCol(CosineSim(exprOf(a), exprOf(b)))
  def sorted_pairs(arr: Column): Column = toCol(SortedPairs(exprOf(arr)))
  def sorted_triples(arr: Column): Column = toCol(SortedTriples(exprOf(arr)))
  def sq_dist(a: Column, b: Column): Column = toCol(SqDist(exprOf(a), exprOf(b)))
  def hyperplane_bucket(vec: Column, planes: Array[Array[Double]]): Column =
    toCol(HyperplaneBucket(exprOf(vec), planes.map(_.toIndexedSeq).toIndexedSeq))
  def nearest_cells(vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    toCol(NearestCells(exprOf(vec), centroids.map(_.toIndexedSeq).toIndexedSeq, n))
}
