package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** 64-bit SimHash signature as a native mergeable Catalyst aggregate:
  * `simhash64(h)` folds a BIGINT token-hash column into one BIGINT per
  * group whose bit i is set iff more of the group's hashes have bit i
  * set than clear.
  *
  * The same signature in plain SQL is 64 `sum(CASE WHEN h & (1 << i)
  * <> 0 THEN 1 ELSE -1 END)` aggregate expressions plus a 64-term add:
  * 64 aggregate buffers per input row and a wide plan the optimizer
  * and codegen pay for on every build. Here the buffer is one
  * `Array[Int](64)` of bit votes — update adds ±1 per bit, merge adds
  * the two arrays, eval sets bit i iff its vote is > 0 (a tie gives 0,
  * as in the SQL form) — so the result is bit-identical to the SQL
  * form and the DuckDB oracle keeps replaying that form.
  *
  * Scale shape: the buffer is constant-size (256 bytes serialized), so
  * partial aggregation sends one vote array per group per partition
  * through the shuffle whatever the group's token count, and the
  * sort-based fallback of ObjectHashAggregate spills fixed-size rows.
  * Null inputs are skipped (the SQL form would count a null as −1 on
  * every bit; token hashes are never null). Votes are Ints: a group
  * needs over 2³¹ rows to overflow.
  */
case class SimHash64Agg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def prettyName: String = "simhash64"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: hash input must be BIGINT, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(votes: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        votes(i) += (((h >>> i) & 1L).toInt << 1) - 1 // +1 set, −1 clear
        i += 1
      }
    }
    votes
  }

  override def merge(votes: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { votes(i) += other(i); i += 1 }
    votes
  }

  override def eval(votes: Array[Int]): Any = {
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  override def serialize(votes: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(256)
    bb.asIntBuffer().put(votes)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val votes = createAggregationBuffer()
    ByteBuffer.wrap(bytes).asIntBuffer().get(votes)
    votes
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHash64Agg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHash64Agg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHash64Agg =
    copy(child = newChildren(0))
}

object SimHash64Agg {
  /** `simhash64(h)` — one BIGINT argument. */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"simhash64(h): expects 1 argument, got ${exprs.length}"))
    SimHash64Agg(exprs(0)).toAggregateExpression()
  }
}
