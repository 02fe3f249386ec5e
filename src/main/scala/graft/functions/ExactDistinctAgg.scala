package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Exact `count(DISTINCT x)` of an integral column, kept as a Roaring
  * bitmap (the RoaringBitmap jar Spark itself ships): a `RoaringBitmap`
  * for byte, short, int and date values, a `Roaring64NavigableMap` for
  * bigint, timestamp and timestamp_ntz values. `update` adds each
  * non-null value, `merge` ORs two buffers, the result is the
  * cardinality as a non-null BIGINT (0 for empty or all-null input, as
  * `count(DISTINCT)` gives).
  *
  * Spark plans `count(DISTINCT)` by expanding every row once per
  * distinct column and shuffling each task's distinct values; this
  * aggregate needs neither. Its plan is one partial aggregate per task,
  * an exchange of one serialized buffer per (task, group), and the
  * final merge.
  *
  * Two more forms carry the bitmap itself between aggregations: with
  * `toBuffer` the result is the serialized bitmap (BINARY) instead of
  * its cardinality, and with `buffersOf = Some(t)` the child is such a
  * BINARY column of bitmaps of `t` values, which `update` ORs.
  *
  * Memory: the buffer grows with the distinct count, not the row count.
  * Per 2^16-value block a dense range costs about 1 bit per value (a
  * bitmap container; a contiguous run shrinks to a few bytes once
  * `serialize` has run-optimized it), a sparse block about 2 bytes per
  * value (an array container), plus a few bytes per non-empty block;
  * 64-bit values also pay a map entry per distinct high 32 bits. Every
  * buffer of a group is merged in the one final task of that group.
  */
final case class ExactDistinctAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0,
    buffersOf: Option[DataType] = None,
    toBuffer: Boolean = false)
  extends TypedImperativeAggregate[AnyRef] {

  private def valueType: DataType = buffersOf.getOrElse(child.dataType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = if (toBuffer) BinaryType else LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ExactDistinctAgg.supports(valueType)) TypeCheckResult.TypeCheckFailure(
      s"exact distinct expects an integral, date or timestamp column, got ${valueType.sql}")
    else if (buffersOf.isDefined && child.dataType != BinaryType) TypeCheckResult.TypeCheckFailure(
      s"exact distinct over bitmaps expects a BINARY column, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // The 64-bit map runs without its cardinality cache: after `or` and
  // `deserializePortable` the 1.3.0 cache can index past its own array.
  override def createAggregationBuffer(): AnyRef = valueType match {
    case LongType | TimestampType | TimestampNTZType =>
      new Roaring64NavigableMap(/* signedLongs = */ false, /* cacheCardinalities = */ false)
    case _ => new RoaringBitmap()
  }

  override def update(buf: AnyRef, input: InternalRow): AnyRef = {
    val v = child.eval(input)
    if (v == null) buf
    else if (buffersOf.isDefined) merge(buf, deserialize(v.asInstanceOf[Array[Byte]]))
    else {
      buf match {
        case b: RoaringBitmap => b.add(v.asInstanceOf[Number].intValue)
        case b: Roaring64NavigableMap => b.addLong(v.asInstanceOf[Long])
      }
      buf
    }
  }

  override def merge(a: AnyRef, b: AnyRef): AnyRef = {
    (a, b) match {
      case (x: RoaringBitmap, y: RoaringBitmap) => x.or(y)
      case (x: Roaring64NavigableMap, y: Roaring64NavigableMap) => x.or(y)
    }
    a
  }

  override def eval(buf: AnyRef): Any =
    if (toBuffer) serialize(buf)
    else buf match {
      case b: RoaringBitmap => b.getLongCardinality
      case b: Roaring64NavigableMap => b.getLongCardinality
    }

  override def serialize(buf: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    buf match {
      case b: RoaringBitmap => b.runOptimize(); b.serialize(out)
      case b: Roaring64NavigableMap => b.runOptimize(); b.serializePortable(out)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): AnyRef = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    buf match {
      case b: RoaringBitmap => b.deserialize(in)
      case b: Roaring64NavigableMap => b.deserializePortable(in)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactDistinctAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "exact_distinct"
}

object ExactDistinctAgg {

  /** The types whose values this aggregate keeps in a bitmap. */
  def supports(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | DateType => true
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `count(DISTINCT c)` for a column of a [[supports]]ed type. */
  def apply(c: Column): Column = of(ExactDistinctAgg(GraftColumn.expression(c)))

  /** The serialized bitmap of `c`'s non-null values, for [[merge]]. */
  def partial(c: Column): Column =
    of(ExactDistinctAgg(GraftColumn.expression(c), toBuffer = true))

  /** `count(DISTINCT)` over the union of the [[partial]] bitmaps in
    * `buffers`, taken of values of type `t`.
    */
  def merge(buffers: Column, t: DataType): Column =
    of(ExactDistinctAgg(GraftColumn.expression(buffers), buffersOf = Some(t)))

  private def of(agg: ExactDistinctAgg): Column = GraftColumn.of(agg.toAggregateExpression())
}
