package graft.api

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Merge-on-read position deletes applied INSIDE the vectorized
  * columnar read (the Delta deletion-vector plan shape): a DV-bearing
  * snapshot keeps Spark's native batch parquet decode, and deletes
  * apply per ColumnarBatch — batches whose row range holds no deleted
  * position pass through with zero copying (the overwhelmingly common
  * case for point deletes), and only batches that actually contain
  * deleted rows compact their survivors into fresh on-heap vectors.
  *
  * The position key is the vectorized reader's OWN row-index column
  * (requested last in the read schema — the `_metadata.row_index`
  * mechanism): exact per-row parquet indexes filled from footer/page
  * metadata, valid even when pushed filters skip row groups or pages.
  * That is what lets the DV branch keep parquet row-group/page
  * pushdown — the previous design derived positions from a running
  * row count, which forced `filters = Nil` (a skipped row group would
  * have desynchronized the walk) and made every selective read over a
  * DV-bearing file pay a whole-file scan until maintenance purged.
  */
private[api] object TxDvColumnar {

  /** Types the compaction copy handles — the flat analytic core. A
    * del-bearing scan whose schema carries anything else (nested,
    * interval, variant) stays on the row-based branch.
    */
  def copyable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Wrap a split's batch iterator with the FILE's sorted deleted
    * positions. Incoming batches carry `schema`'s data columns plus
    * the reader-filled row-index column LAST; outgoing batches carry
    * the data columns only. Row indexes are monotonically increasing
    * across a split's surviving rows (parquet reads row groups and
    * pages in storage order), so one forward pointer over the sorted
    * delete positions serves the whole split.
    */
  def filtered(batches: Iterator[ColumnarBatch], dels: Array[Long],
               schema: StructType): Iterator[ColumnarBatch] =
    new Iterator[ColumnarBatch] {
      private val width = schema.length // data columns; row index at `width`
      private var di = 0 // next not-yet-passed delete position
      // compaction DESTINATION vectors are allocated once and reset
      // per compacted batch (the reuse contract every Spark columnar
      // reader ships: a batch is valid until the next advance) — a
      // fresh allocation per batch spends more on growth/GC than the
      // copy itself
      private var dsts: Array[OnHeapColumnVector] = _
      private var out: ColumnarBatch = _
      override def hasNext: Boolean = batches.hasNext
      override def next(): ColumnarBatch = {
        val b = batches.next()
        val n = b.numRows()
        val idx = b.column(width) // the reader's row-index vector
        // skip deletes below this batch's first surviving row (a
        // split's first batch jumps di forward once; indexes and
        // deletes are both sorted so di only advances)
        if (n > 0) {
          val lo = idx.getLong(0)
          val hi = idx.getLong(n - 1)
          while (di < dels.length && dels(di) < lo) di += 1
          if (di >= dels.length || dels(di) > hi)
            return dataOnly(b, n) // zero-copy pass (minus the index col)
        } else return dataOnly(b, 0)
        // collect surviving row ids; under page skipping indexes can
        // be non-contiguous, so each row compares against the delete
        // pointer individually (both sides sorted — one linear walk)
        val keep = new Array[Int](n)
        var k = 0
        var r = 0
        while (r < n) {
          val abs = idx.getLong(r)
          while (di < dels.length && dels(di) < abs) di += 1
          if (di < dels.length && dels(di) == abs) di += 1
          else { keep(k) = r; k += 1 }
          r += 1
        }
        if (dsts == null) {
          dsts = schema.fields.map(f =>
            new OnHeapColumnVector(math.max(n, 1), f.dataType))
          out = new ColumnarBatch(dsts.map(v => v: ColumnVector).toArray)
        } else {
          // reset + re-reserve: puts do not auto-grow row capacity,
          // and a later batch can be larger than the first
          dsts.foreach { d => d.reset(); d.reserve(n) }
        }
        compact(b, schema, keep, k, dsts)
        out.setNumRows(k)
        out
      }
      // drop the trailing row-index column without touching data
      // vectors — a fresh small wrapper per batch (the reader reuses
      // its vectors, so the wrapper cannot be cached by identity)
      private def dataOnly(b: ColumnarBatch, n: Int): ColumnarBatch = {
        val cols = new Array[ColumnVector](width)
        var i = 0
        while (i < width) { cols(i) = b.column(i); i += 1 }
        new ColumnarBatch(cols, n)
      }
    }

  /** Copy `keep(0 until k)` rows of `b` into fresh on-heap vectors —
    * only runs for batches that actually contain deletions. The type
    * dispatch resolves ONCE PER COLUMN into a monomorphic copier, not
    * per row — a per-row DataType match in the inner loop was the
    * dominant compaction cost of a DV-bearing scan.
    */
  private def compact(b: ColumnarBatch, schema: StructType,
                      keep: Array[Int], k: Int,
                      dsts: Array[OnHeapColumnVector]): Unit = {
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      val src = b.column(i)
      val dst = dsts(i)
      val copy: (Int, Int) => Unit = f.dataType match {
        case BooleanType => (j, r) => dst.putBoolean(j, src.getBoolean(r))
        case ByteType => (j, r) => dst.putByte(j, src.getByte(r))
        case ShortType => (j, r) => dst.putShort(j, src.getShort(r))
        case IntegerType | DateType => (j, r) => dst.putInt(j, src.getInt(r))
        case LongType | TimestampType | TimestampNTZType =>
          (j, r) => dst.putLong(j, src.getLong(r))
        case FloatType => (j, r) => dst.putFloat(j, src.getFloat(r))
        case DoubleType => (j, r) => dst.putDouble(j, src.getDouble(r))
        case StringType => (j, r) => {
          val s = src.getUTF8String(r)
          dst.putByteArray(j, s.getBytes); ()
        }
        case BinaryType => (j, r) => { dst.putByteArray(j, src.getBinary(r)); () }
        case d: DecimalType => (j, r) =>
          dst.putDecimal(j, src.getDecimal(r, d.precision, d.scale),
            d.precision)
        case other => throw new IllegalStateException(
          s"unreachable: $other passed the copyable() gate")
      }
      if (src.hasNull) {
        var j = 0
        while (j < k) {
          val r = keep(j)
          if (src.isNullAt(r)) dst.putNull(j) else copy(j, r)
          j += 1
        }
      } else {
        var j = 0
        while (j < k) { copy(j, keep(j)); j += 1 }
      }
      i += 1
    }
  }
}
