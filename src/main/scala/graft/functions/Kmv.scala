package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct sketch as a native mergeable
  * Catalyst aggregate: `kmv_bottomk(h, k)` keeps the k SMALLEST
  * DISTINCT values of a uniform BIGINT hash column per group and
  * returns them ascending.
  *
  * This is the hash-green counterpart to HLL++ for distinct counting:
  * with h uniform on [0, H), the k-th smallest observed value h_(k)
  * estimates the distinct count as D ≈ (k−1)·H / h_(k) (the classic
  * bottom-k / KMV estimator, σ ≈ 1/√(k−2)). Unlike an HLL sketch the
  * kept state is just the k order statistics of a DETERMINISTIC hash,
  * so a DuckDB oracle replays it exactly with distinct + row_number.
  *
  * Scale shape: the buffer is a k-bounded sorted set that
  * partial-aggregates map-side — each partition contributes ≤ k longs
  * per group to the shuffle regardless of input size (same law as
  * TopKByAgg), and merging buffers is the KMV sketch-union operation
  * itself: union the value sets, keep the k smallest. That is exactly
  * how per-day sketches roll up to any reporting window without
  * rescanning the fact table (agg_sketch_union).
  */
case class KmvBottomKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  override def prettyName: String = "kmv_bottomk"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be > 0")
    else if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: hash input must be BIGINT, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  /** Insert-if-smaller with dedup: the TreeSet ignores re-observed
    * values (KMV is a DISTINCT sketch), and once full only values below
    * the current k-th minimum displace it. */
  private def offer(buf: mutable.TreeSet[Long], h: Long): Unit =
    if (buf.size < k) buf += h
    else if (h < buf.last && buf.add(h)) buf.remove(buf.last)

  override def update(buf: mutable.TreeSet[Long],
      input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.TreeSet[Long],
      other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray) // TreeSet iterates ascending

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf += in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvBottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvBottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvBottomKAgg =
    copy(child = newChildren(0))
}

object KmvBottomKAgg {
  /** `kmv_bottomk(h, k)` — k must be a positive integer literal. */
  def build(exprs: Seq[Expression]): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" -> s"kmv_bottomk(h, k): $msg"))
    if (exprs.length != 2) fail(s"expects 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) if v > 0 => v
      case _ => fail("k must be a positive integer literal")
    }
    KmvBottomKAgg(exprs(0), k).toAggregateExpression()
  }
}
