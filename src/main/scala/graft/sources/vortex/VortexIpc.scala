package graft.sources.vortex

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 S8: the vortex streaming IPC byte format — a
  * footer-less, append-only serialization of chunked compressed
  * columnar data (reference counterpart: the `vortex-ipc` crate,
  * `Cargo.lock:4397-4412` — a byte-stream form of vortex arrays with
  * no SQL surface of its own).
  *
  * Where the FILE format (VortexFile/VortexFormat) is seek-oriented —
  * footer at the tail, per-chunk offsets, stats for pruning — the IPC
  * form is STREAM-oriented: self-describing header up front, then
  * length-prefixed chunk frames that a consumer decodes as they
  * arrive, no random access required. It reuses the exact same page
  * encoding tier (PageCodec: constant/run-end/dict/bitpack/delta/
  * FSST-role/ALP-role + zstd), so bytes stay compressed on the wire.
  *
  * Layout (all ints big-endian via DataOutputStream):
  * {{{
  *   "VIP1"                                      magic
  *   int schemaLen, schema JSON (UTF-8)          self-describing header
  *   repeat: int nRows (>0)                      one chunk frame
  *           per column: byte encoding, bool compressed,
  *                       int nullCount, int byteLen, bytes
  *   int -1                                      end-of-stream marker
  * }}}
  * Streams CONCATENATE: a reader that hits the end marker and finds
  * another magic with an identical schema keeps going — two producers'
  * payloads can be byte-appended without re-encoding.
  *
  * Timestamps travel as µs (Spark's native unit); the file format's
  * per-column ts-unit metadata is a storage concern and does not apply
  * on the wire. Decimals ≤18 digits travel as unscaled longs, wider as
  * big-endian unscaled bytes; nested types via NestedCodec — the same
  * storage domain as the file chunks.
  *
  * Spark surface: [[serialize]] turns a DataFrame into one IPC payload
  * per partition (`Dataset[Array[Byte]]`, a `mapPartitions` over the
  * planned `InternalRow`s — no driver collect, no shuffle), and
  * [[deserialize]] turns payloads back into a DataFrame. At cluster
  * scale this is the executor-side interchange path: feeding columnar
  * payloads to a message bus / external service / cross-job handoff
  * without parquet round trips.
  */
object VortexIpc {
  val Magic: Array[Byte] = "VIP1".getBytes("UTF-8")
  val DefaultChunkRows = 8192

  /** Structural type equality — names + types, ignoring nullability
    * and field metadata (the wire schema drops storage hints). */
  private def norm(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, norm(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
    case m: MapType => MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
    case other => other
  }
  def sameStructure(a: StructType, b: StructType): Boolean = norm(a) == norm(b)

  // ---- core stream writer --------------------------------------------

  /** Streaming IPC writer over `out`; caller closes the stream.
    * Chunk buffers + append kernels are the shared [[ChunkBuffer]]
    * (the file writer's kernel — one storage domain, one kernel);
    * timestamps travel as raw µs, so every ts unit is "us". */
  final class Writer(out: OutputStream, schema: StructType,
                     chunkRows: Int = DefaultChunkRows) {
    private val dos = new DataOutputStream(out)
    private val fields = schema.fields
    private val nCols = fields.length
    private val buf = new ChunkBuffer(fields, chunkRows, Array.fill(nCols)("us"))

    dos.write(Magic)
    private val schemaBytes = schema.json.getBytes("UTF-8")
    dos.writeInt(schemaBytes.length)
    dos.write(schemaBytes)

    def write(row: InternalRow): Unit = {
      if (buf.write(row)) flushChunk()
    }

    private def flushChunk(): Unit = {
      if (buf.count == 0) return
      val count = buf.count
      dos.writeInt(count)
      var c = 0
      while (c < nCols) {
        val vec =
          if (buf.fixed(c)) new ColVec(count, buf.nulls(c), buf.longs(c), null)
          else new ColVec(count, buf.nulls(c), null, buf.bins(c))
        val enc = PageCodec.encode(vec, fields(c).dataType)
        dos.writeByte(enc.encoding)
        dos.writeBoolean(enc.compressed)
        dos.writeInt(enc.nullCount)
        dos.writeInt(enc.bytes.length)
        dos.write(enc.bytes)
        c += 1
      }
      buf.alloc()
    }

    /** Flush the tail chunk and the end-of-stream marker (does NOT
      * close `out` — the stream may carry further concatenations). */
    def finish(): Unit = {
      flushChunk()
      dos.writeInt(-1)
      dos.flush()
    }
  }

  // ---- core stream reader --------------------------------------------

  /** Schema of an IPC payload without decoding any chunk. */
  def readSchema(bytes: Array[Byte]): StructType =
    readHeader(new DataInputStream(new ByteArrayInputStream(bytes)))

  private def readHeader(in: DataInputStream): StructType = {
    val m = new Array[Byte](Magic.length)
    in.readFully(m)
    require(java.util.Arrays.equals(m, Magic), "vortex ipc: bad magic")
    val sb = new Array[Byte](in.readInt()); in.readFully(sb)
    DataType.fromJson(new String(sb, "UTF-8")).asInstanceOf[StructType]
  }

  /** Decoded chunks of one IPC stream (including any concatenated
    * follow-on streams with an identical schema): (nRows, column
    * vectors) in arrival order. */
  def readChunks(in: InputStream): (StructType, Iterator[(Int, Array[ColVec])]) = {
    val dis = new DataInputStream(in)
    val schema = readHeader(dis)
    val fields = schema.fields
    val it = new Iterator[(Int, Array[ColVec])] {
      private var nextRows = advance()

      /** next frame's row count; handles end markers + concatenated
        * streams (magic/schema re-validated per segment) */
      private def advance(): Int = {
        var n = try dis.readInt() catch { case _: EOFException => return -2 }
        while (n == -1) {
          // end of this segment: another concatenated stream?
          val more =
            try { val s2 = readHeader(dis)
                  require(sameStructure(s2, schema),
                    "vortex ipc: concatenated stream schema mismatch")
                  true }
            catch { case _: EOFException => false }
          if (!more) return -2
          n = try dis.readInt() catch { case _: EOFException => return -2 }
        }
        n
      }

      override def hasNext: Boolean = nextRows >= 0
      override def next(): (Int, Array[ColVec]) = {
        val rows = nextRows
        val vecs = new Array[ColVec](fields.length)
        var c = 0
        while (c < fields.length) {
          val enc = dis.readByte()
          val comp = dis.readBoolean()
          val nullCount = dis.readInt()
          val buf = new Array[Byte](dis.readInt())
          dis.readFully(buf)
          vecs(c) = PageCodec.decode(buf, enc, comp, rows, nullCount, fields(c).dataType)
          c += 1
        }
        nextRows = advance()
        (rows, vecs)
      }
    }
    (schema, it)
  }

  /** One partition's rows → one self-contained IPC payload. */
  def writeRows(schema: StructType, rows: Iterator[InternalRow],
                chunkRows: Int = DefaultChunkRows): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 * 1024)
    val w = new Writer(bos, schema, chunkRows)
    while (rows.hasNext) w.write(rows.next())
    w.finish()
    bos.toByteArray
  }

  /** Decode a payload straight to INTERNAL rows — the decoder [[deserialize]]
    * runs, COLUMNAR like the file scan: each chunk frame fills
    * Spark writable column vectors through the shared [[ColVecFill]]
    * and rows surface as ColumnarBatch row VIEWS — zero per-row
    * allocation, zero per-value boxing (the prior GenericInternalRow
    * rebuild boxed every long). The views are transient: the scan that
    * consumes this RDD (RDDScanExec) copies each row through its
    * UnsafeProjection before anything downstream can buffer it — the
    * standard mutable-row source contract. */
  def readInternalRows(bytes: Array[Byte]): Iterator[InternalRow] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    import scala.jdk.CollectionConverters._
    val (schema, chunks) = readChunks(new ByteArrayInputStream(bytes))
    val fields = schema.fields
    chunks.flatMap { case (n, vecs) =>
      val vectors = new Array[ColumnVector](fields.length)
      var c = 0
      while (c < fields.length) {
        val cv = new OnHeapColumnVector(n, fields(c).dataType)
        ColVecFill.fill(cv, vecs(c), fields(c).dataType, n)
        vectors(c) = cv
        c += 1
      }
      new ColumnarBatch(vectors, n).rowIterator().asScala
    }
  }

  // ---- Spark-level surface -------------------------------------------

  /** DataFrame → IPC payloads. Runs as a `mapPartitions` over the
    * PLANNED rows (`queryExecution.toRdd`): fully distributed, no
    * shuffle, no driver materialization — each executor emits its
    * partition's compressed columnar bytes.
    *
    * `payloadRows` bounds task memory at scale: each payload holds at
    * most that many rows, emitted lazily as the input iterator drains,
    * so a 100 TB scan with huge partitions never buffers a whole
    * partition's bytes — only one bounded payload at a time. The
    * default (one payload per partition) suits small exports; since
    * payloads of the same schema concatenate byte-level, downstream
    * consumers need not care which was used. */
  def serialize(df: DataFrame, chunkRows: Int = DefaultChunkRows,
                payloadRows: Int = Int.MaxValue): Dataset[Array[Byte]] = {
    val schema = df.schema
    require(payloadRows > 0, "vortex ipc: payloadRows must be positive")
    val cap = payloadRows
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.single(writeRows(schema, Iterator.empty, chunkRows))
      else new Iterator[Array[Byte]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Array[Byte] = {
          val bos = new ByteArrayOutputStream(64 * 1024)
          val w = new Writer(bos, schema, chunkRows)
          var n = 0
          while (n < cap && rows.hasNext) { w.write(rows.next()); n += 1 }
          w.finish()
          bos.toByteArray
        }
      }
    }
    df.sparkSession.createDataset(rdd)(Encoders.BINARY)
  }

  /** IPC payloads → DataFrame with `schema`. Each payload's embedded
    * schema must match (checked per payload on the executor). Decodes
    * via [[readInternalRows]] — values stay in the Catalyst internal
    * domain end to end, symmetric with the file-scan read path. */
  def deserialize(spark: SparkSession, payloads: Dataset[Array[Byte]],
                  schema: StructType): DataFrame = {
    val expected = schema
    val rowRdd = payloads.rdd.flatMap { b =>
      val got = readSchema(b)
      require(sameStructure(got, expected),
        s"vortex ipc: payload schema $got does not match expected $expected")
      readInternalRows(b)
    }
    org.apache.spark.sql.graft.InternalRowDataFrame.create(spark, rowRdd, schema)
  }

  /** Schema-inferring variant: reads the header of the first payload
    * (one tiny driver-side action — header only, chunks untouched). */
  def deserialize(spark: SparkSession, payloads: Dataset[Array[Byte]]): DataFrame = {
    val first = payloads.limit(1).collect()
    require(first.nonEmpty, "vortex ipc: cannot infer schema from zero payloads")
    deserialize(spark, payloads, readSchema(first(0)))
  }
}
