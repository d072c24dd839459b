package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_by(score, id, k)` — bounded top-k as a native aggregate.
  *
  * Each aggregation buffer is a k-bounded min-heap, so memory is O(k)
  * per group regardless of group size, partial aggregation runs
  * map-side, and merge combines two heaps — top-k without a window
  * (no per-group sort of all rows, no single-reducer funnel). This is
  * the aggregate-tier complement to `Similarity.partialTopK`'s
  * declarative two-phase form.
  *
  * Output: array<struct<id, score>> ordered score desc, id asc — the
  * same order a window rank produces.
  */
object TopKAggregate {

  /** (score, id); "worse" = lower score, then larger id. The heap
    * dequeues the worst element when over capacity. */
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // lower score → "greater"
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // larger id → "greater"
    }
  }

  case class TopKBy(scoreChild: Expression, idChild: Expression, k: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {
    require(k >= 1)

    override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
      new mutable.PriorityQueue[(Double, Long)]()(worstFirst)

    // accept any numeric input (SQL literals arrive as Decimal)
    private def numToDouble(dt: DataType): Any => Double = dt match {
      case DoubleType => v => v.asInstanceOf[Double]
      case FloatType => v => v.asInstanceOf[Float].toDouble
      case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
      case IntegerType => v => v.asInstanceOf[Int].toDouble
      case LongType => v => v.asInstanceOf[Long].toDouble
      case ShortType => v => v.asInstanceOf[Short].toDouble
      case other => throw new IllegalArgumentException(s"non-numeric score type $other")
    }
    private def numToLong(dt: DataType): Any => Long = dt match {
      case LongType => v => v.asInstanceOf[Long]
      case IntegerType => v => v.asInstanceOf[Int].toLong
      case ShortType => v => v.asInstanceOf[Short].toLong
      case other => throw new IllegalArgumentException(s"non-integral id type $other")
    }
    @transient private lazy val scoreOf = numToDouble(scoreChild.dataType)
    @transient private lazy val idOf = numToLong(idChild.dataType)

    override def update(buf: mutable.PriorityQueue[(Double, Long)],
                        input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
      val s = scoreChild.eval(input)
      val i = idChild.eval(input)
      if (s != null && i != null) {
        buf.enqueue((scoreOf(s), idOf(i)))
        if (buf.size > k) buf.dequeue()
      }
      buf
    }

    override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                       other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
      other.foreach { e =>
        buf.enqueue(e)
        if (buf.size > k) buf.dequeue()
      }
      buf
    }

    override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
      // best-first: score desc, id asc
      val sorted = buf.toArray.sortWith((a, b) => worstFirst.compare(a, b) < 0)
      new GenericArrayData(sorted.map { case (s, i) =>
        InternalRow(i, s)
      }.toArray[Any])
    }

    override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(storage: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
      val in = new DataInputStream(new ByteArrayInputStream(storage))
      val n = in.readInt()
      val buf = createAggregationBuffer()
      var j = 0
      while (j < n) { buf.enqueue((in.readDouble(), in.readLong())); j += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType))), containsNull = false)
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(scoreChild, idChild)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(scoreChild = newChildren(0), idChild = newChildren(1))
    override def withNewMutableAggBufferOffset(newOffset: Int): TopKBy =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKBy =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "topk_by"
  }

  def topk_by(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(
      TopKBy(GraftShim.expression(score), GraftShim.expression(id), k)
        .toAggregateExpression())
  }

  /** `bottomk_distinct(v, k)` — the k smallest DISTINCT long values of
    * a group, as an ASCENDING array. The bounded-sketch primitive
    * behind HyperANF-style k-minimum-value state: buffer is a
    * k-capped sorted set, so memory is O(k) per group however large
    * the group, partial aggregation runs map-side, and merge unions
    * two sets under the cap. Replaces the `distinct() +
    * topk_by(-v, v, k)` pair — one shuffle instead of two, and no
    * unbounded distinct state. */
  case class BottomKDistinct(child: Expression, k: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
    require(k >= 1)

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
      // skip values past the current k-th smallest: the set never holds
      // more than k elements and most inserts are rejected O(log k)
      if (buf.size < k) { buf.add(v); () }
      else if (v < buf.last) {
        if (buf.add(v)) buf.remove(buf.last)
      }
    }

    override def update(buf: java.util.TreeSet[java.lang.Long],
                        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Long])
      buf
    }

    override def merge(buf: java.util.TreeSet[java.lang.Long],
                       other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = other.iterator()
      while (it.hasNext) add(buf, it.next())
      buf
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val out = new Array[Long](buf.size)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) out.writeLong(it.next())
      out.flush()
      bos.toByteArray
    }

    override def deserialize(storage: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val in = new DataInputStream(new ByteArrayInputStream(storage))
      val n = in.readInt()
      val buf = createAggregationBuffer()
      var j = 0
      while (j < n) { buf.add(in.readLong()); j += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
    override def withNewMutableAggBufferOffset(newOffset: Int): BottomKDistinct =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): BottomKDistinct =
      copy(inputAggBufferOffset = newOffset)
    override def prettyName: String = "bottomk_distinct"
  }

  def bottomk_distinct(v: Column, k: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(
      BottomKDistinct(GraftShim.expression(v), k).toAggregateExpression())
  }
}
