package graft.sources.vortex

import java.io.{BufferedOutputStream, ByteArrayInputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Chunked writer for one vortex file (one per write task — natural
  * parallel sharding, SURVEY.md §3.3). Buffers `chunkRows` rows per
  * column, encodes+compresses each column page, accumulates footer
  * metadata, writes footer on close.
  */
final class VortexFileWriter(path: Path, conf: Configuration, schema: StructType,
                             chunkRows: Int = VortexFormat.DefaultChunkRows,
                             bloomCols: Set[String] = Set.empty,
                             bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                             sketchCols: Set[String] = Set.empty) {
  import VortexFormat._

  private val fs = path.getFileSystem(conf)
  private val stream = fs.create(path, true)
  private val out = new BufferedOutputStream(stream, 1 << 20)
  private var pos: Long = 0
  private val fields = schema.fields
  private val nCols = fields.length
  private val fixed = fields.map(f => PageCodec.isFixed(f.dataType))
  // non-"us" entries store unit-scaled longs on disk (format §ts-unit)
  private val tsUnits = fields.map(tsUnit)
  private val chunks = ArrayBuffer[ChunkMeta]()

  out.write(Magic); pos += Magic.length

  // exact per-file column sums (integral + decimal≤18 only — float
  // sums are order-dependent so a metadata-answered SUM could differ
  // in the last ulp from a scan): accumulated row-wise, carried to the
  // commit manifest for SUM pushdown. Overflow → permanently None.
  private val sumable = fields.map(ChunkStats.sumable)
  private val sums = new Array[Long](nCols)
  private val sumOk: Array[Boolean] = sumable.clone()

  /** per-stored-column exact sums over every row written (unscaled
    * for decimals); None = unsupported type or long overflow */
  def columnSums: IndexedSeq[Option[Long]] =
    fields.indices.map(i => if (sumOk(i)) Some(sums(i)) else None)

  // opt-in per-file bloom filters (writer option "bloomFilters"):
  // hashes accumulate chunk-wise over the SAME buffered storage-domain
  // values the codec encodes (stored-unit ts longs, sign-extended
  // float bits, unscaled decimals, raw UTF-8), so probe-side hashing
  // via FilterPruning.toDomain reproduces them exactly
  private val bloomOn: Array[Boolean] =
    fields.map(f => bloomCols.contains(f.name) && Sbbf.supports(f.dataType))
  private val bloomBuilders: Array[BloomBuilder] =
    Array.tabulate(nCols)(c => if (bloomOn(c)) new BloomBuilder(bloomMaxBytes) else null)
  private var bloomResults: IndexedSeq[Option[Array[Byte]]] = _

  /** per-stored-column SBBF bytes, available after close(); None =
    * column not opted in (or unsupported type) */
  def columnBlooms: IndexedSeq[Option[Array[Byte]]] =
    if (bloomResults != null) bloomResults else fields.indices.map(_ => None)

  // opt-in per-file distribution sketches (writer option
  // "distributionSketches"): exact-count log-bucketed histograms (the
  // reference layout tier's ddsketch role — QuantileSketch.scala)
  // accumulated chunk-wise over the SAME buffered storage longs the
  // codec encodes; the double view per type matches the Spark-side
  // CAST(col AS DOUBLE) probe filter exactly (SketchPercentile).
  private val sketchOn: Array[Boolean] =
    fields.map(f => sketchCols.contains(f.name) && QuantileSketch.supports(f.dataType))
  private val sketches: Array[QuantileSketch] =
    Array.tabulate(nCols)(c => if (sketchOn(c)) QuantileSketch() else null)

  /** per-stored-column serialized QuantileSketch; None = not opted in
    * (or unsupported type) */
  def columnSketches: IndexedSeq[Option[Array[Byte]]] =
    fields.indices.map(c => if (sketchOn(c)) Some(sketches(c).toBytes) else None)

  // chunk buffers + per-column append/fill kernels live in the shared
  // ChunkBuffer (also used by the IPC stream writer — one storage
  // domain, one kernel); allocated on first row or batch, since a
  // writer fed only whole chunks ([[writeChunk]]) never needs it
  private var buf: ChunkBuffer = _
  private def rowBuf(): ChunkBuffer = {
    if (buf == null) buf = new ChunkBuffer(fields, chunkRows, tsUnits, shredStructs = true)
    buf
  }

  /** exact sums, blooms and sketches over one chunk's buffered values,
    * accumulated at flush: the same per-column value sequence (rows in
    * order) as a per-row accumulation, so results — including the
    * overflow point that permanently disables a sum — are identical */
  private def statsPass(b: ChunkBuffer): Unit = {
    ChunkStats.sumPass(b, sums, sumOk)
    ChunkStats.bloomPass(b, fields, bloomOn, bloomBuilders)
    ChunkStats.sketchPass(b, fields, sketchOn, sketches)
  }

  def write(row: InternalRow): Unit = {
    if (rowBuf().write(row)) flushChunk()
  }

  /** Bulk-copy entry: append a whole ColumnarBatch (e.g. straight from
    * the vectorized parquet reader — see VortexBulkCopy) without ever
    * materializing rows. Produces byte-identical files to the row path:
    * same chunking, encodings, footer, and exact column sums. */
  def writeBatch(batch: org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
    val b = rowBuf()
    val total = batch.numRows()
    var src = 0
    while (src < total) {
      val len = math.min(chunkRows - b.count, total - src)
      val full = b.fillSegment(batch, src, len)
      src += len
      if (full) flushChunk()
    }
  }

  private def flushChunk(): Unit = {
    if (buf == null || buf.count == 0) return
    statsPass(buf)
    emitChunk(buf.count, null, null, buf)
    buf.alloc()
  }

  // columns some chunk carried verbatim without their values
  private val blindCols = new Array[Boolean](nCols)

  /** Whether column c was [[writeChunk]]-copied without its values at
    * least once: the writer then reports no sum, bloom or sketch for
    * it — stats over part of a column's values would be wrong. */
  def blind(c: Int): Boolean = blindCols(c)

  /** Chunk-level entry (the splice rewrite, compaction): append one
    * chunk of `rows` rows. Column c is the source page `raw(c)` copied
    * verbatim — its meta `src(c)` moved to the new offset — when
    * `raw(c)` is non-null, and is encoded from `vals` otherwise. `vals`
    * (null = none) holds the chunk's values of the columns `fed`
    * marks; the stats passes run over those. A column appended without
    * its values turns [[blind]]. */
  def writeChunk(rows: Int, raw: Array[Array[Byte]], src: Array[ColumnChunkMeta],
                 vals: ChunkBuffer, fed: Array[Boolean]): Unit = {
    flushChunk()
    var c = 0
    while (c < nCols) {
      if (vals == null || !fed(c)) {
        require(raw(c) != null, s"vortex: column ${fields(c).name} has neither page nor values")
        blindCols(c) = true; sumOk(c) = false; bloomOn(c) = false; sketchOn(c) = false
      }
      c += 1
    }
    if (vals != null) statsPass(vals)
    emitChunk(rows, raw, src, vals)
  }

  /** Write one chunk's pages in column order: `raw(c)` verbatim when
    * given, else column c of `b` encoded. */
  private def emitChunk(count: Int, raw: Array[Array[Byte]], src: Array[ColumnChunkMeta],
                        b: ChunkBuffer): Unit = {
    val metas = new Array[ColumnChunkMeta](nCols)
    var c = 0
    while (c < nCols) {
      if (raw != null && raw(c) != null) {
        out.write(raw(c))
        metas(c) = src(c).copy(offset = pos)
        pos += raw(c).length
      } else {
        val enc =
          if (b.shredded(c))
            StructCodec.encode(count, b.nulls(c), b.subBufs(c),
              fields(c).dataType.asInstanceOf[StructType])
          else {
            val vec =
              if (fixed(c)) new ColVec(count, b.nulls(c), b.longs(c), null)
              else new ColVec(count, b.nulls(c), null, b.bins(c))
            PageCodec.encode(vec, fields(c).dataType)
          }
        out.write(enc.bytes)
        metas(c) = ColumnChunkMeta(pos, enc.bytes.length, enc.encoding, enc.compressed,
          enc.nullCount, enc.min, enc.max)
        pos += enc.bytes.length
      }
      c += 1
    }
    chunks += ChunkMeta(count, metas)
  }

  /** Write the footer and close the file. Returns the file's stats
    * manifest entry, built from the footer in hand, the file's exact
    * length and this writer's sums, blooms and sketches (none for a
    * [[blind]] column); its `relPath` is the caller's to set. */
  def close(): StatsManifest.FileStats = {
    flushChunk()
    if (bloomOn.exists(identity))
      bloomResults = fields.indices.map(c =>
        if (bloomOn(c)) Some(bloomBuilders(c).result()) else None)
    val footer = Footer(schema, chunks.toArray)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    writeFooter(dos, footer)
    dos.flush()
    val fb = bos.toByteArray
    out.write(fb)
    val tail = java.nio.ByteBuffer.allocate(12)
    tail.putLong(fb.length.toLong); tail.put(Magic)
    out.write(tail.array())
    out.flush(); out.close()
    val (sums, blooms, sketches) = (columnSums, columnBlooms, columnSketches)
    val base = StatsManifest.fromFooter("", pos + fb.length + 12, footer)
    base.copy(cols = base.cols.zipWithIndex.map { case (col, c) =>
      col.copy(sum = sums(c), bloom = blooms(c), sketch = sketches(c))
    })
  }

  /** Close the output without writing a footer — for a writer whose
    * caller failed; the partial file is the caller's to delete. */
  def abort(): Unit = try stream.close() catch { case _: Exception => () }
}

/** Single-slot async page prefetcher: while the consumer decodes chunk
  * i, a pool thread fetches chunk i+1's column pages — I/O overlaps
  * decode (≙ the reference scan's async I/O role). At most ONE task is
  * outstanding per reader, so the underlying stream is never touched by
  * two threads at once and memory overhead is bounded at one chunk.
  */
final class ChunkPrefetcher(in: org.apache.hadoop.fs.FSDataInputStream,
                            footer: VortexFormat.Footer,
                            chunkIdxs: Array[Int],
                            fileCols: Array[Int]) extends AutoCloseable {
  private var pos = 0
  private var pending: java.util.concurrent.Future[Array[Array[Byte]]] = _

  private def fetch(ci: Int): Array[Array[Byte]] = {
    val chunk = footer.chunks(ci)
    fileCols.map { c =>
      if (c < 0) null
      else {
        val m = chunk.columns(c)
        val buf = new Array[Byte](m.length)
        in.readFully(m.offset, buf)
        buf
      }
    }
  }

  /** (chunk index, raw pages aligned with fileCols), or null at end */
  def next(): (Int, Array[Array[Byte]]) = {
    if (pos >= chunkIdxs.length) return null
    val ci = chunkIdxs(pos); pos += 1
    val raw = if (pending != null) pending.get() else fetch(ci)
    pending =
      if (pos < chunkIdxs.length) {
        val nci = chunkIdxs(pos)
        ChunkPrefetcher.pool.submit(new java.util.concurrent.Callable[Array[Array[Byte]]] {
          override def call(): Array[Array[Byte]] = fetch(nci)
        })
      } else null
    (ci, raw)
  }

  override def close(): Unit = {
    if (pending != null) {
      try pending.get() catch { case _: Exception => }
      pending = null
    }
    in.close()
  }
}

object ChunkPrefetcher {
  /** shared daemon pool — prefetch is I/O-bound; a few threads suffice */
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {
        val t = new Thread(r, "vortex-prefetch"); t.setDaemon(true); t
      })
}

object VortexFileReader {
  import VortexFormat._

  // per-JVM footer cache (≙ the reference's moka metadata caches,
  // Cargo.lock:4285,4428): executors re-open the same files across
  // tasks; footers are small and immutable per (path,len,mtime).
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** actual (non-cache) footer fetches in this JVM — planning-path
    * observability; tests pin this to ≤1 per file */
  val footerFetches = new java.util.concurrent.atomic.AtomicLong()

  /** test hook: force cold-footer conditions */
  def clearFooterCache(): Unit = footerCache.clear()

  /** page decodes in this JVM — tests pin footer-stats-answered
    * aggregates (and trimmed limit scans) to zero / bounded decodes */
  val pageDecodes = new java.util.concurrent.atomic.AtomicLong()

  def readFooter(path: Path, conf: Configuration): Footer = {
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    val key = s"${path.toString}#${st.getLen}#${st.getModificationTime}"
    val cached = footerCache.get(key)
    if (cached != null) return cached
    footerFetches.incrementAndGet()
    val in = fs.open(path)
    try {
      val len = st.getLen
      val tail = new Array[Byte](12)
      in.readFully(len - 12, tail)
      val bb = java.nio.ByteBuffer.wrap(tail)
      val footerLen = bb.getLong()
      val magic = new Array[Byte](4); bb.get(magic)
      require(java.util.Arrays.equals(magic, Magic), s"not a vortex file: $path")
      val fb = new Array[Byte](footerLen.toInt)
      in.readFully(len - 12 - footerLen, fb)
      val footer = VortexFormat.readFooter(new DataInputStream(new ByteArrayInputStream(fb)))
      footerCache.put(key, footer)
      footer
    } finally in.close()
  }

  /** Decode one column page and normalize unit-scaled timestamp longs
    * to µs (format §ts-unit) — the single decode entry for every scan
    * path, so unit handling can't diverge between readers.
    *
    * `required` (optional) is the READ-side field under nested-schema
    * pruning: for a shredded struct page only its children decode
    * (StructCodec); for a legacy blob page the stored type is recorded
    * on the vec so [[value]] can deserialize-then-project. */
  def decodeColumn(buf: Array[Byte], m: ColumnChunkMeta, rows: Int, field: StructField,
                   required: StructField = null): ColVec = {
    pageDecodes.incrementAndGet()
    if (m.encoding == VortexFormat.EncStruct) {
      val stored = field.dataType.asInstanceOf[StructType]
      val want =
        if (required == null) stored
        else required.dataType.asInstanceOf[StructType]
      return StructCodec.decode(buf, rows, stored, want)
    }
    val vec = PageCodec.decode(buf, m.encoding, m.compressed, rows, m.nullCount, field.dataType)
    if (NestedCodec.isNested(field.dataType)) vec.blobType = field.dataType
    val u = tsUnit(field)
    if (u != "us" && vec.longs != null) {
      var i = 0
      while (i < vec.n) { vec.longs(i) = microsFromStored(vec.longs(i), u); i += 1 }
    }
    vec
  }

  /** Decode the requested columns of chunks [chunkStart, chunkEnd). */
  def readChunks(path: Path, conf: Configuration, footer: Footer,
                 chunkStart: Int, chunkEnd: Int,
                 colIndices: Array[Int]): Iterator[(Int, Array[ColVec])] = {
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    var closed = false
    new Iterator[(Int, Array[ColVec])] {
      private var ci = chunkStart
      override def hasNext: Boolean = {
        val h = ci < chunkEnd
        if (!h && !closed) { in.close(); closed = true }
        h
      }
      override def next(): (Int, Array[ColVec]) = {
        val chunk = footer.chunks(ci)
        val vecs = colIndices.map { c =>
          val m = chunk.columns(c)
          val buf = new Array[Byte](m.length)
          in.readFully(m.offset, buf)
          decodeColumn(buf, m, chunk.rowCount, footer.schema.fields(c))
        }
        ci += 1
        (chunk.rowCount, vecs)
      }
    }
  }

  /** Catalyst value from a decoded vector slot. */
  def value(vec: ColVec, i: Int, dt: DataType): Any = {
    if (vec.nulls(i)) return null
    dt match {
      case BooleanType => vec.longs(i) != 0L
      case ByteType => vec.longs(i).toByte
      case ShortType => vec.longs(i).toShort
      case IntegerType | DateType => vec.longs(i).toInt
      case LongType | TimestampType | TimestampNTZType => vec.longs(i)
      case FloatType => java.lang.Float.intBitsToFloat(vec.longs(i).toInt)
      case DoubleType => java.lang.Double.longBitsToDouble(vec.longs(i))
      case d: DecimalType if d.precision <= 18 =>
        org.apache.spark.sql.types.Decimal.createUnsafe(vec.longs(i), d.precision, d.scale)
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(new java.math.BigInteger(vec.bins(i)), d.scale), d.precision, d.scale)
      case StringType => UTF8String.fromBytes(vec.bins(i))
      case BinaryType => vec.bins(i)
      case st: StructType if vec.kids != null =>
        // shredded struct page: assemble the (pruned) row from child
        // vectors — skipped siblings were never decoded
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(st.length)
        var j = 0
        while (j < st.length) {
          row.update(j, value(vec.kids(j), i, st.fields(j).dataType))
          j += 1
        }
        row
      case dt if NestedCodec.isNested(dt) =>
        val stored = if (vec.blobType != null) vec.blobType else dt
        val v = NestedCodec.deserialize(vec.bins(i), stored)
        if (stored == dt) v else NestedProject.project(v, stored, dt)
      case other => throw new UnsupportedOperationException(s"vortex: unsupported type $other")
    }
  }
}
