package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch (top frequent items) as a native
  * mergeable Catalyst aggregate — the 100 TB answer to "what are the
  * most frequent values" without a full groupBy+sort over the column:
  * the sketch is O(k) memory per partition, partial-aggregates
  * map-side, and merges associatively on the reducer, so the query is
  * one pass + one tiny shuffle regardless of column cardinality.
  *
  * Guarantees (classic Misra-Gries, k counters over n rows):
  *  - every item with true frequency > n/k is present in the output;
  *  - for reported items, est ≤ true ≤ est + n/k.
  * When the column's distinct count ≤ k the sketch never evicts and the
  * counts are EXACT and merge-order-independent — that regime is
  * oracle-verified (agg_heavy_hitters); the eviction regime's error
  * bounds are property-tested (HeavyHitterSpec in OperatorSpec).
  *
  * TypedImperativeAggregate is the right tier: the buffer is an open
  * hash map (not expressible as a fixed-width mutable row), serialized
  * compactly only at shuffle boundaries.
  */
case class HeavyHittersAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def prettyName: String = "heavy_hitters"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("cnt", LongType))))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string column, positive literal k); " +
        s"got ${child.dataType.simpleString}, k=$k")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k => buf.update(item, 1L)
        case None =>
          // Misra-Gries decrement step: all counters down 1, drop zeros
          // (amortized O(1) per input — each decrement pays for an insert)
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (key, c) => if (c <= 0) dead += key }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    // counter-wise sum, then shrink back to k by subtracting the
    // (k+1)-th largest count (the mergeable-summaries construction:
    // error adds, bounds still est ≤ true ≤ est + n/k)
    other.foreach { case (item, c) =>
      buf.update(item, buf.getOrElse(item, 0L) + c)
    }
    if (buf.size > k) {
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - k - 1) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - cut)
      buf.foreach { case (key, c) => if (c <= 0) dead += key }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic output order: count desc, item asc
    val sorted = buf.toArray.sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, c) =>
      val b = item.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeavyHittersAgg =
    copy(child = newChildren.head)
}

object HeavyHittersAgg {
  /** Arity/foldability-checked builder: `heavy_hitters(col, k)` with k a
    * positive integer literal. */
  def build(exprs: Seq[Expression]): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"heavy_hitters(column, k): $msg"))
    if (exprs.length != 2) fail(s"expects 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) if v > 0 => v
      case _ => fail("k must be a positive integer literal")
    }
    HeavyHittersAgg(exprs.head, k).toAggregateExpression()
  }
}
