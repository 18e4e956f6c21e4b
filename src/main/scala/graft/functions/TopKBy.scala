package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded top-k-by-order aggregate (`topk_by(ord, payload, k)`) as a
  * native mergeable Catalyst aggregate — the scale alternative to the
  * rank-window idiom for per-group top-k.
  *
  * The window plan (win_topk_per_group) must shuffle and sort EVERY row
  * of a group to rank them, then discard all but k; this aggregate
  * keeps a k-bounded heap per group that partial-aggregates map-side,
  * so only ≤ k rows per group per partition ever cross the shuffle —
  * at 100 TB the shuffle volume drops from O(rows) to O(k · groups ·
  * partitions). Merging bounded heaps is associative and, with a
  * TOTALLY ordered `ord` (callers add a unique tiebreak), the result is
  * exactly the global top-k regardless of partitioning — which is what
  * lets win_topk_native share the window idiom's oracle.
  *
  * `ord` may be any orderable type (structs give multi-key order);
  * entries serialize as UnsafeRow bytes at shuffle boundaries only.
  */
case class TopKByAgg(
    ord: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Any, Any)]] {

  override def prettyName: String = "topk_by"
  override def children: Seq[Expression] = Seq(ord, payload)
  override def nullable: Boolean = false

  private def entryType = StructType(Seq(
    StructField("ord", ord.dataType), StructField("payload", payload.dataType)))

  override def dataType: DataType = ArrayType(entryType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0) TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be > 0")
    else TypeUtils.checkForOrderingExpr(ord.dataType, prettyName)

  @transient private lazy val ordering: Ordering[(Any, Any)] =
    Ordering.by[(Any, Any), Any](_._1)(TypeUtils.getInterpretedOrdering(ord.dataType))
  // min-heap (reverse of "largest first"): the root is the WEAKEST of
  // the k kept entries and is evicted when something larger arrives
  @transient private lazy val minFirst: Ordering[(Any, Any)] = ordering.reverse

  override def createAggregationBuffer(): mutable.PriorityQueue[(Any, Any)] =
    mutable.PriorityQueue.empty(minFirst)

  private def offer(buf: mutable.PriorityQueue[(Any, Any)], e: (Any, Any)): Unit =
    if (buf.size < k) buf.enqueue(e)
    else if (ordering.gt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }

  override def update(buf: mutable.PriorityQueue[(Any, Any)],
      input: InternalRow): mutable.PriorityQueue[(Any, Any)] = {
    val o = ord.eval(input)
    if (o != null) {
      // copy: eval results may alias reused unsafe-row buffers
      val oc = InternalRow.copyValue(o)
      val pc = InternalRow.copyValue(payload.eval(input))
      offer(buf, (oc, pc))
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Any, Any)],
      other: mutable.PriorityQueue[(Any, Any)]): mutable.PriorityQueue[(Any, Any)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Any, Any)]): Any = {
    val sorted = buf.toArray.sorted(ordering.reverse) // largest first
    new GenericArrayData(sorted.map { case (o, p) =>
      new GenericInternalRow(Array[Any](o, p)): Any
    })
  }

  @transient private lazy val entryProj = UnsafeProjection.create(entryType)

  override def serialize(buf: mutable.PriorityQueue[(Any, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (o, p) =>
      val bytes = entryProj(new GenericInternalRow(Array[Any](o, p))).getBytes
      out.writeInt(bytes.length); out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Any, Any)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      row.pointTo(b, len)
      buf.enqueue((
        InternalRow.copyValue(row.get(0, ord.dataType)),
        InternalRow.copyValue(row.get(1, payload.dataType))))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByAgg =
    copy(ord = newChildren(0), payload = newChildren(1))
}

object TopKByAgg {
  /** `topk_by(ord, payload, k)` — k must be a positive integer literal. */
  def build(exprs: Seq[Expression]): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" -> s"topk_by(ord, payload, k): $msg"))
    if (exprs.length != 3) fail(s"expects 3 arguments, got ${exprs.length}")
    val k = exprs(2) match {
      case Literal(v: Int, IntegerType) if v > 0 => v
      case _ => fail("k must be a positive integer literal")
    }
    TopKByAgg(exprs(0), exprs(1), k).toAggregateExpression()
  }
}

/** Bounded bottom-k-DISTINCT aggregate
  * (`bottomk_distinct_by(ord, payload, k)`) — the mergeable twin of
  * `topk_by` for the md5-smallest-k cap idiom
  * (`row_number() OVER (ORDER BY md5(x), x) <= k` over DISTINCT rows).
  *
  * Two differences from TopKByAgg, both load-bearing for the cap
  * semantics: it keeps the SMALLEST k entries (the md5-order cap keeps
  * the hash-smallest), and entries are DISTINCT on the (ord, payload)
  * tuple — the window idiom ranks a pre-`distinct()`ed input, and when
  * duplicates arrive here instead (so the caller can SKIP that
  * distinct's full-width shuffle) a duplicate must not occupy two of
  * the k slots. With `ord` a pure function of `payload` (md5 of it),
  * tuple-distinctness IS payload-distinctness, so the aggregate
  * replays the distinct+window selection exactly while shipping ≤ k
  * entries per group per partition across the shuffle — O(k · groups ·
  * partitions) instead of the distinct's O(distinct pairs) plus the
  * window's full per-group sort. Buffer is a k-bounded TreeSet (dedup
  * and eviction in one structure); merge is associative, and with the
  * (ord, payload) pair totally ordered the result is exactly the
  * global bottom-k regardless of partitioning.
  *
  * NULL handling (precondition): a row whose `ord` or `payload`
  * evaluates to NULL is SKIPPED by `update` — the same convention as
  * Spark's own `max_by`/`min_by` (null ordering keys are ignored).
  * This differs from the rank-window formulations this aggregate
  * replaces, which rank NULL ords LAST (Spark and DuckDB default for
  * DESC) and would still emit such rows when a group has fewer than k
  * non-null candidates. A call site whose `ord` can be NULL and that
  * needs exact window parity must `coalesce` the ord to a
  * sorts-last sentinel (e.g. `coalesce(-cos, double('Infinity'))` —
  * see SimOps `sim_cosine_topk`). NOTE the struct-ord subtlety: a
  * non-null STRUCT with a null field is NOT skipped — struct
  * comparison puts the null field FIRST ascending, silently promoting
  * the row; the sentinel coalesce is required there too.
  */
case class BottomKDistinctByAgg(
    ord: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Any, Any)]] {

  override def prettyName: String = "bottomk_distinct_by"
  override def children: Seq[Expression] = Seq(ord, payload)
  override def nullable: Boolean = false

  private def entryType = StructType(Seq(
    StructField("ord", ord.dataType), StructField("payload", payload.dataType)))

  override def dataType: DataType = ArrayType(entryType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0) TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be > 0")
    else TypeUtils.checkForOrderingExpr(ord.dataType, prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        TypeUtils.checkForOrderingExpr(payload.dataType, prettyName)
      case f => f
    }

  // (ord, payload) lexicographic — payload joins the key so the TreeSet
  // dedups exact duplicates (compare == 0) rather than colliding
  // distinct payloads that happen to share an ord
  @transient private lazy val ordering: Ordering[(Any, Any)] = {
    val oOrd = TypeUtils.getInterpretedOrdering(ord.dataType)
    val pOrd = TypeUtils.getInterpretedOrdering(payload.dataType)
    new Ordering[(Any, Any)] {
      def compare(a: (Any, Any), b: (Any, Any)): Int = {
        val c = oOrd.compare(a._1, b._1)
        if (c != 0) c else pOrd.compare(a._2, b._2)
      }
    }
  }

  override def createAggregationBuffer(): mutable.TreeSet[(Any, Any)] =
    mutable.TreeSet.empty(ordering)

  private def offer(buf: mutable.TreeSet[(Any, Any)], e: (Any, Any)): Unit = {
    if (buf.size < k) { buf.add(e); () }
    else if (ordering.lt(e, buf.last)) {
      if (buf.add(e)) { buf.remove(buf.last); () }
    }
  }

  override def update(buf: mutable.TreeSet[(Any, Any)],
      input: InternalRow): mutable.TreeSet[(Any, Any)] = {
    val o = ord.eval(input)
    val p = payload.eval(input)
    if (o != null && p != null)
      offer(buf, (InternalRow.copyValue(o), InternalRow.copyValue(p)))
    buf
  }

  override def merge(buf: mutable.TreeSet[(Any, Any)],
      other: mutable.TreeSet[(Any, Any)]): mutable.TreeSet[(Any, Any)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.TreeSet[(Any, Any)]): Any =
    new GenericArrayData(buf.toArray.map { case (o, p) =>
      new GenericInternalRow(Array[Any](o, p)): Any
    }) // TreeSet iterates ascending — smallest-first, the cap's order

  @transient private lazy val entryProj = UnsafeProjection.create(entryType)

  override def serialize(buf: mutable.TreeSet[(Any, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (o, p) =>
      val bytes = entryProj(new GenericInternalRow(Array[Any](o, p))).getBytes
      out.writeInt(bytes.length); out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Any, Any)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      row.pointTo(b, len)
      buf.add((
        InternalRow.copyValue(row.get(0, ord.dataType)),
        InternalRow.copyValue(row.get(1, payload.dataType))))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKDistinctByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKDistinctByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKDistinctByAgg =
    copy(ord = newChildren(0), payload = newChildren(1))
}

object BottomKDistinctByAgg {
  /** `bottomk_distinct_by(ord, payload, k)` — k a positive int literal. */
  def build(exprs: Seq[Expression]): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map(
          "message" -> s"bottomk_distinct_by(ord, payload, k): $msg"))
    if (exprs.length != 3) fail(s"expects 3 arguments, got ${exprs.length}")
    val k = exprs(2) match {
      case Literal(v: Int, IntegerType) if v > 0 => v
      case _ => fail("k must be a positive integer literal")
    }
    BottomKDistinctByAgg(exprs(0), exprs(1), k).toAggregateExpression()
  }
}
