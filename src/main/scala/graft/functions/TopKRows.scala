package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Bounded per-key top-k as a real aggregate function, replacing
  * sort-based `row_number().over(Window.partitionBy(key).orderBy(...))
  * <= k` in the ANN scorers.
  *
  * Why it matters at scale: the window form shuffles EVERY candidate row
  * to its key's reducer and sorts the whole partition, so a corpus-sized
  * scored-pair stream crosses the wire in full just to keep k rows per
  * query. As a `TypedImperativeAggregate`, Spark runs this with
  * map-side partial aggregation (ObjectHashAggregate): each map task
  * keeps a size-k bounded heap per key, the shuffle carries at most
  * k rows per key per map partition, and the reducer merges heaps —
  * the exchange shrinks from O(candidates) to O(keys × k × tasks).
  *
  * Ordering: field-by-field over the input struct, `desc(i)` giving
  * each field's direction, matching Spark's window defaults (ascending
  * = nulls first, descending = nulls last). The callers order by a
  * unique total order (score, then the unique neighbor id), so the kept
  * set — and the ranks derived from the output's position — are
  * bit-identical to the window form's.
  *
  * eval returns the kept rows best-first as `array<struct>`; callers
  * `posexplode` and use `pos + 1` as the rank.
  */
case class TopKRows(
    child: Expression,
    k: Int,
    desc: Seq[Boolean],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, s"k must be positive, got $k")

  private lazy val structType: StructType = child.dataType.asInstanceOf[StructType]

  private def comparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType | StringType |
        BooleanType | DateType | TimestampType | TimestampNTZType =>
      true
    case _: DecimalType => true
    case _              => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if st.length == desc.length && st.forall(f => comparable(f.dataType)) =>
      TypeCheckResult.TypeCheckSuccess
    case st: StructType if st.length != desc.length =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: desc flags (${desc.length}) must match struct arity (${st.length})"
      )
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a struct of orderable atomic fields, got ${other.simpleString}"
      )
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "topk_rows"

  /** Best-first total order over kept rows. */
  private[functions] lazy val ordering: Ordering[InternalRow] = {
    val fields = structType.fields
    (a: InternalRow, b: InternalRow) => {
      var i = 0
      var cmp = 0
      while (cmp == 0 && i < fields.length) {
        val dt = fields(i).dataType
        val an = a.isNullAt(i)
        val bn = b.isNullAt(i)
        cmp =
          if (an && bn) 0
          // window defaults: asc -> nulls first, desc -> nulls last;
          // in both cases a null sorts toward the "first kept" end on
          // asc and the "last kept" end on desc
          else if (an) { if (desc(i)) 1 else -1 }
          else if (bn) { if (desc(i)) -1 else 1 }
          else {
            // floating fields compare as SQL orders them (-0.0 = 0.0,
            // NaN = NaN above every number), matching the window sort
            val c = dt match {
              case DoubleType => SQLOrderingUtil.compareDoubles(a.getDouble(i), b.getDouble(i))
              case FloatType  => SQLOrderingUtil.compareFloats(a.getFloat(i), b.getFloat(i))
              case _          => a.get(i, dt).asInstanceOf[Comparable[Any]].compareTo(b.get(i, dt))
            }
            if (desc(i)) -c else c
          }
        i += 1
      }
      cmp
    }
  }

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k, ordering)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val v = child.eval(input)
    if (v != null) buffer.offer(v.asInstanceOf[InternalRow])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    other.foreachKept(buffer.offer)
    buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sortedBestFirst().asInstanceOf[Array[Any]])

  private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreachKept { row =>
      val u = toUnsafe(row)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val row = new UnsafeRow(structType.length)
      val arr = new Array[Byte](len)
      bb.get(arr)
      row.pointTo(arr, len)
      buf.offer(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Size-bounded keep-best heap: root is the WORST kept row, so an
  * incoming candidate only displaces it when strictly better. Rows are
  * defensively copied on admission (Spark reuses eval rows); at most k
  * copies live at any time, so memory per (key × map task) is O(k).
  */
final class TopKHeap(k: Int, bestFirst: Ordering[InternalRow]) {
  // java PriorityQueue keeps the SMALLEST at the root under its
  // comparator; "smallest" must mean "worst", i.e. the reverse of
  // best-first
  private val heap = new java.util.PriorityQueue[InternalRow](math.min(k, 16), bestFirst.reverse)

  def size: Int = heap.size()

  def offer(row: InternalRow): Unit =
    if (heap.size() < k) heap.add(row.copy())
    else if (bestFirst.compare(row, heap.peek()) < 0) {
      heap.poll()
      heap.add(row.copy())
    }

  def foreachKept(f: InternalRow => Unit): Unit = heap.forEach(r => f(r))

  def sortedBestFirst(): Array[InternalRow] = {
    val arr = heap.toArray(new Array[InternalRow](heap.size()))
    java.util.Arrays.sort(arr, bestFirst)
    arr
  }
}
