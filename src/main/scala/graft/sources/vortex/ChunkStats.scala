package graft.sources.vortex

import org.apache.spark.sql.types._

/** The per-chunk stats passes over a [[ChunkBuffer]]'s storage-domain
  * values — exact sums, SBBF blooms, distribution sketches — shared by
  * by [[VortexFileWriter]]'s row, batch and chunk entries (the last
  * one fed by the [[Splice]] kernel), so no write path can diverge on
  * stats discipline. The parallel arrays are indexed by the BUFFER's
  * columns; a column whose flag is off is skipped. */
private[vortex] object ChunkStats {

  def sumable(f: StructField): Boolean = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType if d.precision <= 18 => true
    case _ => false
  }

  /** exact per-column sums over the buffered chunk; a long overflow
    * permanently disables the column (sumOk → false) */
  def sumPass(buf: ChunkBuffer, sums: Array[Long], sumOk: Array[Boolean]): Unit = {
    var c = 0
    while (c < buf.nCols) {
      if (sumOk(c)) {
        val l = buf.longs(c); val nl = buf.nulls(c); val count = buf.count
        var i = 0
        while (i < count && sumOk(c)) {
          if (!nl(i)) {
            try sums(c) = Math.addExact(sums(c), l(i))
            catch { case _: ArithmeticException => sumOk(c) = false }
          }
          i += 1
        }
      }
      c += 1
    }
  }

  /** SBBF accumulation over the buffered storage-domain values (float/
    * double bits sign-normalized so probe-side hashing reproduces them) */
  def bloomPass(buf: ChunkBuffer, fields: Array[StructField],
                on: Array[Boolean], builders: Array[BloomBuilder]): Unit = {
    var c = 0
    while (c < buf.nCols) {
      if (on(c)) {
        val b = builders(c); val nl = buf.nulls(c); val count = buf.count
        if (buf.fixed(c)) {
          val l = buf.longs(c); var i = 0
          fields(c).dataType match {
            case FloatType =>
              while (i < count) { if (!nl(i)) b.add(Sbbf.hashLong(Sbbf.normFloatBits(l(i)))); i += 1 }
            case DoubleType =>
              while (i < count) { if (!nl(i)) b.add(Sbbf.hashLong(Sbbf.normDoubleBits(l(i)))); i += 1 }
            case _ =>
              while (i < count) { if (!nl(i)) b.add(Sbbf.hashLong(l(i))); i += 1 }
          }
        } else {
          val bn = buf.bins(c); var i = 0
          while (i < count) { if (!nl(i)) b.add(Sbbf.hashBytes(bn(i))); i += 1 }
        }
      }
      c += 1
    }
  }

  /** distribution-sketch accumulation; the double view per type matches
    * the Spark-side CAST(col AS DOUBLE) probe exactly */
  def sketchPass(buf: ChunkBuffer, fields: Array[StructField],
                 on: Array[Boolean], sketches: Array[QuantileSketch]): Unit = {
    var c = 0
    while (c < buf.nCols) {
      if (on(c)) {
        val s = sketches(c); val l = buf.longs(c); val nl = buf.nulls(c)
        val count = buf.count; var i = 0
        fields(c).dataType match {
          case FloatType =>
            while (i < count) { if (!nl(i)) s.add(java.lang.Float.intBitsToFloat(l(i).toInt).toDouble); i += 1 }
          case DoubleType =>
            while (i < count) { if (!nl(i)) s.add(java.lang.Double.longBitsToDouble(l(i))); i += 1 }
          case _ => // integral: storage long IS the value
            while (i < count) { if (!nl(i)) s.add(l(i).toDouble); i += 1 }
        }
      }
      c += 1
    }
  }
}
