// Hosted under org.apache.spark.sql (private[sql] access — see
// VectorExpressions).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Running gap-fill over one group, evaluated as a window function on
  * a `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` frame whose
  * order puts the valid numbers (≥ 1) first, ascending, and then the
  * missing ones (null or < 1) in fill order. Each row evaluates to its
  * output number: a valid row keeps its own, a missing row takes the
  * lowest positive integer that is neither used by a valid row nor
  * given to an earlier missing row.
  *
  * The state is the group's sorted distinct used numbers plus a
  * cursor into them, so work and memory are bounded by the group's
  * size, never by its largest number. A valid number beyond Int range
  * fails the task rather than wrapping; rows out of that order fail it
  * too, so the function cannot be used as a plain (merging) aggregate.
  */
case class GapFillNumber(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GapFillNumber.State] with ExpectsInputTypes {

  import GapFillNumber.State

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "gap_fill_number"

  override def createAggregationBuffer(): State = new State

  override def update(s: State, input: InternalRow): State = {
    val v = child.eval(input)
    if (v != null && v.asInstanceOf[Long] >= 1L) {
      val n = v.asInstanceOf[Long]
      if (n > Int.MaxValue)
        throw new ArithmeticException(
          s"gapFillNumbers: valid number exceeds Int range: $n")
      if (s.filling || (s.size > 0 && n < s.used(s.size - 1)))
        throw new IllegalStateException("gapFillNumbers: rows must arrive " +
          "valid numbers first, ascending, then the missing ones")
      if (s.size == 0 || s.used(s.size - 1) != n) s.add(n)
      s.last = n.toInt
    } else {
      s.filling = true
      // skip past every used number ≤ the candidate; each step either
      // moves the cursor or ends the scan, so the walk is linear
      while (s.cursor < s.size && s.used(s.cursor) <= s.next) {
        if (s.used(s.cursor) == s.next) s.next += 1
        s.cursor += 1
      }
      s.last = s.next.toInt
      s.next += 1
    }
    s
  }

  override def eval(s: State): Any = s.last

  // a running window never merges, ships or restores its state
  private def windowOnly = throw new UnsupportedOperationException(
    "gap_fill_number is a running window function, not a plain aggregate")
  override def merge(s: State, other: State): State = windowOnly
  override def serialize(s: State): Array[Byte] = windowOnly
  override def deserialize(bytes: Array[Byte]): State = windowOnly

  override def withNewMutableAggBufferOffset(newOffset: Int): GapFillNumber =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GapFillNumber =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GapFillNumber =
    copy(child = newChildren(0))
}

object GapFillNumber {
  import org.apache.spark.sql.classic.ExpressionUtils

  /** One group's walk: the sorted distinct used numbers seen so far,
    * the cursor of the first one not yet passed by `next` (the lowest
    * fill candidate), and the number the last row evaluated to. */
  final class State {
    var used: Array[Long] = new Array[Long](8)
    var size = 0
    var cursor = 0
    var next = 1L
    var last = 0
    var filling = false

    def add(n: Long): Unit = {
      if (size == used.length) used = java.util.Arrays.copyOf(used, size * 2)
      used(size) = n
      size += 1
    }
  }

  /** Aggregate column over a long `number`; apply it with `.over` a
    * window ordered as the class doc says. */
  def column(number: Column): Column =
    ExpressionUtils.column(GapFillNumber(ExpressionUtils.expression(number))
      .toAggregateExpression())
}
