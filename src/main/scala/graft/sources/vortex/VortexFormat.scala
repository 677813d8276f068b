package graft.sources.vortex

import java.io.{DataInputStream, DataOutputStream}
import org.apache.spark.sql.types._

/** The `vortex` file container, v0.
  *
  * A logical re-design (not a byte-port) of the reference format's
  * architecture: self-describing single file = chunked per-column
  * compressed pages + per-chunk/column statistics + footer
  * (≙ vortex-file / vortex-layout / vortex-btrblocks roles, see
  * /root/reference Cargo.lock:4275-4319, 4414-4455, 4095-4119 and
  * SURVEY.md §2.9, §7 M2).
  *
  * Layout:
  * {{{
  *   [magic "VGR1"]
  *   page* ...               (chunk-major, column-minor)
  *   footer:
  *     schema DDL-JSON (len-prefixed UTF8)
  *     chunkCount: i32
  *     per chunk: rowCount i32, per column:
  *       offset i64, length i32, encoding u8, compressed u8,
  *       nullCount i32, hasStats u8, [min bytes][max bytes]
  *   [footerLength i64][magic "VGR1"]
  * }}}
  *
  * Stats min/max are stored as length-prefixed canonical byte forms
  * (same codec as page values) and used for chunk skipping against
  * pushed-down filters before any page decode — the 100 TB lever: a
  * selective filter touches footers, not data.
  */
object VortexFormat {
  val Magic: Array[Byte] = "VGR1".getBytes("UTF-8")
  val DefaultChunkRows = 65536

  /** per-column cap on a file's manifest bloom (~1% fp up to ~100k
    * distinct keys at 10 bits/key; degrades gracefully past it) */
  val DefaultBloomMaxBytes = 128 * 1024
  /** ceiling on the bytes of one InputPartition (split planning in
    * VortexScan.planInputPartitions) */
  val TargetSplitBytes: Long = 128L * 1024 * 1024

  // page encodings
  val EncPlain: Byte = 0
  val EncConstant: Byte = 1
  val EncRunEnd: Byte = 2
  val EncDict: Byte = 3
  /** frame-of-reference + bit packing for integral types (≙ the
    * vortex-fastlanes FoR/bitpack role, SURVEY.md §2.9) */
  val EncBitpack: Byte = 4
  /** sampled static-symbol-table string compression (≙ the
    * vortex-fsst role, SURVEY.md §2.9; reference Cargo.lock:4331-4344) */
  val EncFsst: Byte = 5
  /** delta + FoR-bitpack for near-sorted integral columns (timestamps,
    * monotonically assigned ids): deltas span far fewer bits than the
    * values (≙ the vortex-fastlanes delta role, SURVEY.md §2.9) */
  val EncDelta: Byte = 6
  /** decimal-scaled integer encoding for floats/doubles with an
    * exception list (≙ the vortex-alp role, reference
    * Cargo.lock:3998-4014); see AlpCodec */
  val EncAlp: Byte = 7
  /** shredded top-level struct column: struct null bitmap + one
    * independently encoded sub-page per child, skippable for
    * nested-field pruning (≙ the vortex struct-array layout role);
    * see StructCodec */
  val EncStruct: Byte = 8

  /** Per-column timestamp storage unit (reference parity: the format
    * round-trips TIMESTAMP_S/MS/µs/NS as distinct types —
    * /root/reference/test/sql/table.test:22-25, timestamp.test:28-37).
    * Spark's in-memory timestamp is always µs, so the unit lives as
    * field metadata under this key ("s" | "ms" | "us" | "ns"), rides
    * inside the footer's schema JSON, and the file stores raw longs in
    * that unit: writes convert µs → unit (ns exact, s/ms truncating —
    * the same semantics as a precision downcast), reads convert back.
    * A read → write round trip restores the original unit because the
    * metadata survives the Spark schema. */
  val TsUnitKey = "vortex.ts.unit"

  def tsUnit(f: StructField): String =
    if ((f.dataType == TimestampType || f.dataType == TimestampNTZType) &&
        f.metadata.contains(TsUnitKey)) f.metadata.getString(TsUnitKey)
    else "us"

  /** µs per stored tick for coarse units; ns is the sub-µs special case */
  def validUnit(u: String): Boolean = u == "s" || u == "ms" || u == "us" || u == "ns"

  def storedFromMicros(us: Long, unit: String): Long = unit match {
    case "us" => us
    case "ns" => Math.multiplyExact(us, 1000L)
    case "ms" => Math.floorDiv(us, 1000L)
    case "s"  => Math.floorDiv(us, 1000000L)
  }

  def microsFromStored(v: Long, unit: String): Long = unit match {
    case "us" => v
    case "ns" => Math.floorDiv(v, 1000L)
    case "ms" => Math.multiplyExact(v, 1000L)
    case "s"  => Math.multiplyExact(v, 1000000L)
  }

  def withTsUnit(f: StructField, unit: String): StructField = {
    require(validUnit(unit), s"vortex: invalid timestamp unit '$unit'")
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(TsUnitKey, unit).build())
  }

  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** full type support incl. nested (array/struct/map) */
  def supportedFull(dt: DataType): Boolean = NestedCodec.supported(dt)

  final case class ColumnChunkMeta(
      offset: Long, length: Int, encoding: Byte, compressed: Boolean,
      nullCount: Int, min: Option[Array[Byte]], max: Option[Array[Byte]])

  final case class ChunkMeta(rowCount: Int, columns: Array[ColumnChunkMeta])

  final case class Footer(schema: StructType, chunks: Array[ChunkMeta]) {
    def rowCount: Long = chunks.map(_.rowCount.toLong).sum
    /** each chunk's first stored row ordinal, then the row count */
    def chunkBase: Array[Long] = chunks.scanLeft(0L)(_ + _.rowCount)
  }

  def writeFooter(out: DataOutputStream, footer: Footer): Unit = {
    val schemaBytes = footer.schema.json.getBytes("UTF-8")
    out.writeInt(schemaBytes.length); out.write(schemaBytes)
    out.writeInt(footer.chunks.length)
    footer.chunks.foreach { c =>
      out.writeInt(c.rowCount)
      c.columns.foreach { m =>
        out.writeLong(m.offset); out.writeInt(m.length)
        out.writeByte(m.encoding); out.writeBoolean(m.compressed)
        out.writeInt(m.nullCount)
        out.writeBoolean(m.min.isDefined)
        m.min.foreach { b => out.writeInt(b.length); out.write(b) }
        m.max.foreach { b => out.writeInt(b.length); out.write(b) }
      }
    }
  }

  def readFooter(in: DataInputStream, nColsHint: Int = -1): Footer = {
    val schemaBytes = new Array[Byte](in.readInt()); in.readFully(schemaBytes)
    val schema = DataType.fromJson(new String(schemaBytes, "UTF-8")).asInstanceOf[StructType]
    val nCols = schema.fields.length
    val nChunks = in.readInt()
    val chunks = Array.fill(nChunks) {
      val rows = in.readInt()
      val cols = Array.fill(nCols) {
        val off = in.readLong(); val len = in.readInt()
        val enc = in.readByte(); val comp = in.readBoolean()
        val nulls = in.readInt()
        val hasStats = in.readBoolean()
        val (mn, mx) = if (hasStats) {
          val a = new Array[Byte](in.readInt()); in.readFully(a)
          val b = new Array[Byte](in.readInt()); in.readFully(b)
          (Some(a), Some(b))
        } else (None, None)
        ColumnChunkMeta(off, len, enc, comp, nulls, mn, mx)
      }
      ChunkMeta(rows, cols)
    }
    Footer(schema, chunks)
  }
}
