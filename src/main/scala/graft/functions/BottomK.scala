package graft.functions

import java.util.PriorityQueue
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Bounded bottom-k per group: keeps the `k` smallest values of a
  * struct column in the struct's SQL ordering (field by field,
  * ascending, nulls first) and evaluates to them as an ascending
  * `array<struct>`. Every top-k of the engine is this one aggregate:
  * a descending key rides as its negation, ties break on the next
  * field, and `inline`/`posexplode` turn the array back into rows.
  *
  * It is the scalable replacement for
  * `row_number().over(Window.partitionBy(g).orderBy(...)) <= k`: the
  * window shuffles and sorts every row of every group (a hot group
  * lands in one task), while this buffer is at most k rows at every
  * moment and combines map-side, so the shuffle carries at most k rows
  * per group per partition. A row that does not beat the current k-th
  * smallest costs one comparison.
  *
  * The buffer is a max-heap of copied rows; it serializes as one
  * `array<struct>` (the same layout the result has). Null inputs are
  * skipped; an empty group evaluates to an empty array. */
case class BottomK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[InternalRow]]
  with UnaryLike[Expression] {

  require(k > 0, "bottom_k needs k > 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bottom_k requires a struct, got ${other.simpleString}")
  }

  @transient private lazy val struct = child.dataType.asInstanceOf[StructType]
  @transient private lazy val ord: Ordering[InternalRow] =
    InterpretedOrdering.forSchema(struct.fields.map(_.dataType).toSeq)
  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](dataType))

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bottom_k"

  override def createAggregationBuffer(): PriorityQueue[InternalRow] =
    new PriorityQueue[InternalRow](ord.reverse)

  /** Adds `row` if it is among the k smallest seen so far. */
  private def offer(buf: PriorityQueue[InternalRow], row: InternalRow,
                    copyRow: Boolean): Unit =
    if (buf.size < k || ord.lt(row, buf.peek())) {
      buf.add(if (copyRow) row.copy() else row)
      if (buf.size > k) buf.poll()
    }

  override def update(buf: PriorityQueue[InternalRow], input: InternalRow)
      : PriorityQueue[InternalRow] = {
    val row = child.eval(input)
    if (row != null) offer(buf, row.asInstanceOf[InternalRow], copyRow = true)
    buf
  }

  override def merge(buf: PriorityQueue[InternalRow],
                     other: PriorityQueue[InternalRow]): PriorityQueue[InternalRow] = {
    other.forEach(r => offer(buf, r, copyRow = false))
    buf
  }

  override def eval(buf: PriorityQueue[InternalRow]): Any = {
    val rows = buf.toArray(Array.empty[InternalRow])
    java.util.Arrays.sort(rows, ord)
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: PriorityQueue[InternalRow]): Array[Byte] =
    projection(InternalRow(new GenericArrayData(buf.toArray.asInstanceOf[Array[Any]])))
      .getBytes

  override def deserialize(bytes: Array[Byte]): PriorityQueue[InternalRow] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buf = createAggregationBuffer()
    (0 until arr.numElements()).foreach(i => buf.add(arr.getStruct(i, struct.length)))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomK =
    copy(child = newChild)
}
