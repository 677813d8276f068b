package graft.sources.vortex

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The ONE chunk-building kernel shared by every producer of vortex
  * chunk data — the file writer (VortexFileWriter), the splice rewrite
  * (Splice, through [[fillFromVecs]] and [[setAt]]) and the IPC stream
  * writer (VortexIpc.Writer). Owns the per-chunk column buffers
  * (storage-domain longs / byte arrays / null flags) and the
  * per-column append kernels, so the storage domain cannot drift
  * between the file and wire forms ("same storage domain" is a
  * documented format invariant, FORMAT.md).
  *
  * Kernels are resolved ONCE at construction (the per-value dataType
  * match chain was the hot path of the whole write: a 17-column write
  * ran ~8 instanceof branches per cell; this is one monomorphic
  * virtual call per cell). Appenders close over THIS object's buffer
  * fields, which [[alloc]] replaces wholesale per chunk — fresh
  * zeroed arrays, so null slots read as 0/null downstream.
  *
  * `tsUnits(c)` selects the stored timestamp unit per column: the
  * file format stores non-"us" columns as unit-scaled longs (format
  * §ts-unit); the IPC stream always travels in µs (pass all-"us").
  */
private[vortex] final class ChunkBuffer(fields: Array[StructField], chunkRows: Int,
                                        tsUnits: Array[String],
                                        shredStructs: Boolean = false) {
  val nCols: Int = fields.length
  val fixed: Array[Boolean] = fields.map(f => PageCodec.isFixed(f.dataType))

  // top-level struct columns shred into a child-column sub-buffer
  // (StructCodec page; nested-field pruning on read). Only the FILE
  // writer opts in: the IPC wire format keeps the blob layout, and
  // sub-buffers never shred again (one level — children that are
  // themselves nested stay self-contained blobs).
  val shredded: Array[Boolean] = fields.map(f => shredStructs && (f.dataType match {
    case st: StructType => st.fields.nonEmpty && NestedCodec.supported(st)
    case _ => false
  }))
  val subBufs: Array[ChunkBuffer] = Array.tabulate(nCols) { c =>
    if (shredded(c)) {
      val st = fields(c).dataType.asInstanceOf[StructType]
      // children store µs timestamps — same domain the blob layout used
      new ChunkBuffer(st.fields, chunkRows, st.fields.map(_ => "us"))
    } else null
  }

  var longs: Array[Array[Long]] = _
  var bins: Array[Array[Array[Byte]]] = _
  var nulls: Array[Array[Boolean]] = _
  var count: Int = 0

  def alloc(): Unit = {
    longs = Array.tabulate(nCols)(i => if (fixed(i)) new Array[Long](chunkRows) else null)
    bins = Array.tabulate(nCols)(i => if (!fixed(i)) new Array[Array[Byte]](chunkRows) else null)
    nulls = Array.fill(nCols)(new Array[Boolean](chunkRows))
    count = 0
    var c = 0
    while (c < nCols) { if (subBufs(c) != null) subBufs(c).alloc(); c += 1 }
  }
  alloc()

  /** mark every column null at index i (a shredded sub-buffer row
    * whose parent struct is null) */
  private[vortex] def writeNullAt(i: Int): Unit = {
    var c = 0
    while (c < nCols) {
      nulls(c)(i) = true
      if (shredded(c)) subBufs(c).writeNullAt(i)
      c += 1
    }
  }

  /** append one row at an EXPLICIT index without advancing count (the
    * shredded-struct child path: parent row order fixes the index) */
  private[vortex] def writeAt(row: InternalRow, i: Int): Unit = {
    var c = 0
    while (c < nCols) {
      if (row.isNullAt(c)) {
        nulls(c)(i) = true
        if (shredded(c)) subBufs(c).writeNullAt(i)
      } else appenders(c).append(row, i)
      c += 1
    }
  }

  // ---- row-at-a-time kernel ------------------------------------------

  private abstract class Appender { def append(row: InternalRow, i: Int): Unit }

  private def appenderFor(c: Int): Appender = fields(c).dataType match {
    case BooleanType => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = if (r.getBoolean(c)) 1L else 0L }
    case ByteType => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r.getByte(c).toLong }
    case ShortType => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r.getShort(c).toLong }
    case IntegerType | DateType => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r.getInt(c).toLong }
    case TimestampType | TimestampNTZType =>
      if (tsUnits(c) == "us") new Appender {
        def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r.getLong(c) }
      else { val unit = tsUnits(c); new Appender {
        def append(r: InternalRow, i: Int): Unit =
          longs(c)(i) = VortexFormat.storedFromMicros(r.getLong(c), unit) } }
    case LongType => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r.getLong(c) }
    case FloatType => new Appender {
      def append(r: InternalRow, i: Int): Unit =
        longs(c)(i) = java.lang.Float.floatToIntBits(r.getFloat(c)).toLong }
    case DoubleType => new Appender {
      def append(r: InternalRow, i: Int): Unit =
        longs(c)(i) = java.lang.Double.doubleToLongBits(r.getDouble(c)) }
    // UnsafeRow fast paths (the DSv2 row writer's input): a compact
    // decimal IS the field's long; a big decimal's binary IS the
    // unscaled BigInteger bytes; a string's binary IS its UTF-8 bytes —
    // one copy out of the reused row buffer, zero wrapper allocations
    // (Decimal/BigDecimal/UTF8String per cell were the measured cost
    // of the row-fallback write path).
    case d: DecimalType if d.precision <= 18 => new Appender {
      def append(r: InternalRow, i: Int): Unit = longs(c)(i) = r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getLong(c)
        case _ => r.getDecimal(c, d.precision, d.scale).toUnscaledLong } }
    case d: DecimalType => new Appender {
      def append(r: InternalRow, i: Int): Unit = bins(c)(i) = r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getBinary(c)
        case _ => r.getDecimal(c, d.precision, d.scale)
          .toJavaBigDecimal.unscaledValue.toByteArray } }
    case StringType => new Appender {
      def append(r: InternalRow, i: Int): Unit = bins(c)(i) = r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getBinary(c)
        case _ => r.getUTF8String(c).getBytes } }
    case BinaryType => new Appender {
      def append(r: InternalRow, i: Int): Unit = bins(c)(i) = r.getBinary(c) }
    case st: StructType if shredded(c) => new Appender {
      def append(r: InternalRow, i: Int): Unit = subBufs(c).writeAt(r.getStruct(c, st.length), i) }
    case dt if NestedCodec.isNested(dt) && NestedCodec.supported(dt) => new Appender {
      def append(r: InternalRow, i: Int): Unit = bins(c)(i) = NestedCodec.serialize(r.get(c, dt), dt) }
    case other => throw new UnsupportedOperationException(s"vortex: unsupported type $other")
  }

  private val appenders: Array[Appender] = Array.tabulate(nCols)(appenderFor)

  /** Append one row; returns true when the buffer just reached
    * `chunkRows` (the caller flushes, then calls [[alloc]]). */
  def write(row: InternalRow): Boolean = {
    var c = 0
    while (c < nCols) {
      if (row.isNullAt(c)) {
        nulls(c)(count) = true
        if (shredded(c)) subBufs(c).writeNullAt(count)
      } else appenders(c).append(row, count)
      c += 1
    }
    count += 1
    count == chunkRows
  }

  // ---- columnar bulk-fill kernel -------------------------------------

  /** Copies rows [src, src+len) of a ColumnVector into the chunk
    * buffers at [dst, dst+len). Column-outer segment loops — one
    * monomorphic primitive loop per column segment instead of a
    * row-iterator step + virtual appender call per cell. Primitive
    * fills read null slots too (vector getters are safe there and the
    * codec ignores slots flagged in `nulls`); object fills must skip
    * them. */
  private abstract class BatchFill {
    def fill(vec: ColumnVector, src: Int, dst: Int, len: Int): Unit
  }

  private def batchFillFor(c: Int): BatchFill = fields(c).dataType match {
    case BooleanType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = if (!v.isNullAt(s + k) && v.getBoolean(s + k)) 1L else 0L; k += 1 } } }
    case ByteType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = v.getByte(s + k).toLong; k += 1 } } }
    case ShortType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = v.getShort(s + k).toLong; k += 1 } } }
    case IntegerType | DateType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = v.getInt(s + k).toLong; k += 1 } } }
    case TimestampType | TimestampNTZType =>
      if (tsUnits(c) == "us") new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
        val l = longs(c); var k = 0
        while (k < n) { l(d + k) = v.getLong(s + k); k += 1 } } }
      else { val unit = tsUnits(c); new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
        val l = longs(c); var k = 0
        while (k < n) {
          if (!v.isNullAt(s + k)) l(d + k) = VortexFormat.storedFromMicros(v.getLong(s + k), unit)
          k += 1 } } } }
    case LongType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = v.getLong(s + k); k += 1 } } }
    case FloatType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = java.lang.Float.floatToIntBits(v.getFloat(s + k)).toLong; k += 1 } } }
    case DoubleType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val l = longs(c); var k = 0
      while (k < n) { l(d + k) = java.lang.Double.doubleToLongBits(v.getDouble(s + k)); k += 1 } } }
    case dt: DecimalType if dt.precision <= 18 => new BatchFill {
      def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
        val l = longs(c); var k = 0
        while (k < n) {
          if (!v.isNullAt(s + k)) l(d + k) = v.getDecimal(s + k, dt.precision, dt.scale).toUnscaledLong
          k += 1 } } }
    case dt: DecimalType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val b = bins(c); var k = 0
      while (k < n) {
        if (!v.isNullAt(s + k)) b(d + k) = v.getDecimal(s + k, dt.precision, dt.scale)
          .toJavaBigDecimal.unscaledValue.toByteArray
        k += 1 } } }
    case StringType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val b = bins(c); var k = 0
      while (k < n) {
        // getBytes copies out of the (reused) batch buffer
        if (!v.isNullAt(s + k)) b(d + k) = v.getUTF8String(s + k).getBytes
        k += 1 } } }
    case BinaryType => new BatchFill { def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
      val b = bins(c); var k = 0
      while (k < n) { if (!v.isNullAt(s + k)) b(d + k) = v.getBinary(s + k); k += 1 } } }
    case st: StructType if shredded(c) => new BatchFill {
      // row-wise through the sub-buffer's append kernels: struct
      // columns are rare enough that the per-row virtual call doesn't
      // move the bulk path, and the null contract (parent null ⇒ all
      // children null) stays in ONE place (writeAt/writeNullAt)
      def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
        var k = 0
        while (k < n) {
          if (v.isNullAt(s + k)) subBufs(c).writeNullAt(d + k)
          else subBufs(c).writeAt(v.getStruct(s + k), d + k)
          k += 1 } } }
    case dt if NestedCodec.isNested(dt) && NestedCodec.supported(dt) => new BatchFill {
      def fill(v: ColumnVector, s: Int, d: Int, n: Int): Unit = {
        val b = bins(c); var k = 0
        while (k < n) {
          if (!v.isNullAt(s + k)) {
            val value: Any = dt match {
              case _: ArrayType => v.getArray(s + k)
              case _: MapType => v.getMap(s + k)
              case _: StructType => v.getStruct(s + k)
              case _ => null // unreachable: isNested gates
            }
            b(d + k) = NestedCodec.serialize(value, dt)
          }
          k += 1 } } }
    case other => throw new UnsupportedOperationException(s"vortex: unsupported type $other")
  }

  private lazy val batchFills: Array[BatchFill] = Array.tabulate(nCols)(batchFillFor)

  /** Columnar fill from DECODED page vectors (the splice kernel):
    * copies the `keep`-indexed slots of the columns `cols` into a
    * freshly allocated buffer and sets `count` to `k`. Domains mirror
    * the row appenders exactly — decoded longs are already
    * storage-domain (sign-extended float bits, unscaled decimals)
    * except timestamps, which [[VortexFileReader.decodeColumn]]
    * normalized to µs and re-scale here via the column's stored unit
    * (the same µs round trip the row path takes through the reader +
    * appender). Plain columns copy primitive slots; struct and nested
    * columns go value by value through their appenders. */
  def fillFromVecs(vecs: Array[ColVec], keep: Array[Int], k: Int, cols: Array[Int]): Unit = {
    cols.foreach { c =>
      val vec = vecs(c)
      val vn = vec.nulls; val nl = nulls(c)
      var j = 0
      if (NestedCodec.isNested(fields(c).dataType)) {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nCols)
        val one = Array(c)
        while (j < k) {
          row.update(c, VortexFileReader.value(vec, keep(j), fields(c).dataType))
          setAt(row, one, j)
          j += 1
        }
      } else {
        while (j < k) { if (vn(keep(j))) nl(j) = true; j += 1 }
        if (fixed(c)) {
          val dst = longs(c); val src = vec.longs
          val isTs = fields(c).dataType == TimestampType ||
            fields(c).dataType == TimestampNTZType
          if (isTs && tsUnits(c) != "us") {
            val u = tsUnits(c); j = 0
            while (j < k) {
              if (!vn(keep(j))) dst(j) = VortexFormat.storedFromMicros(src(keep(j)), u)
              j += 1
            }
          } else { j = 0; while (j < k) { dst(j) = src(keep(j)); j += 1 } }
        } else {
          val dst = bins(c); val src = vec.bins
          j = 0; while (j < k) { dst(j) = src(keep(j)); j += 1 }
        }
      }
    }
    count = k
  }

  /** Overwrite slot i of the columns `cols` with `row`'s values (a
    * buffer-wide row) — the splice kernel's patched rows. */
  def setAt(row: InternalRow, cols: Array[Int], i: Int): Unit = cols.foreach { c =>
    nulls(c)(i) = false
    if (shredded(c)) { val sub = subBufs(c); var s = 0; while (s < sub.nCols) { sub.nulls(s)(i) = false; s += 1 } }
    if (row.isNullAt(c)) {
      nulls(c)(i) = true
      if (shredded(c)) subBufs(c).writeNullAt(i)
    } else appenders(c).append(row, i)
  }

  /** Bulk-fill a segment of every column from a ColumnarBatch into the
    * buffers at `count` (null flags included); advances `count` by
    * `len`. Returns true when the buffer just reached `chunkRows`. */
  def fillSegment(batch: ColumnarBatch, src: Int, len: Int): Boolean = {
    var c = 0
    while (c < nCols) {
      val vec = batch.column(c)
      if (vec.hasNull) {
        val nl = nulls(c); var k = 0
        while (k < len) { if (vec.isNullAt(src + k)) nl(count + k) = true; k += 1 }
      }
      batchFills(c).fill(vec, src, count, len)
      c += 1
    }
    count += len
    count == chunkRows
  }
}
