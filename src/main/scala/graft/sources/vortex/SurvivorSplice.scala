package graft.sources.vortex

import java.io.{BufferedOutputStream, DataOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Columnar survivor rewrite for DELETE-shaped maintenance (r15
  * optimization round; guide §1.2 "per-task work" + §2.3 narrower
  * rows): rewrites a file dropping a subset of its rows — the data
  * pass behind the rewrite-tier DELETE and `foldMasks` (the
  * SurvivorSplice row of RowLevelStatement's kernel table) —
  * chunk-at-a-time on decoded
  * column vectors instead of row-at-a-time through boxed
  * reader.value()/appender calls (the measured cost of the old path:
  * 2 virtual calls + 1 box per CELL — 27 M of them for a 1.5 M-row
  * 9-column orders file).
  *
  * Shape per chunk:
  *  - decode every stored column once (the stats passes need every
  *    column's values regardless — manifest sums/blooms/sketches are
  *    EXACT, so no pass-through of stale stats is ever possible);
  *  - build the keep-index (mask ordinals + the optional drop test
  *    over the referenced columns only — pruned chunks skip the eval);
  *  - a chunk losing NO rows copies its pages byte-for-byte (metas
  *    with shifted offsets — the encode CPU is skipped; with
  *    clustered delete keys, the 100 TB layout, most chunks of a
  *    touched file take this path);
  *  - a chunk losing ALL rows writes nothing;
  *  - otherwise survivors compact into a ChunkBuffer via primitive
  *    column copies ([[ChunkBuffer.fillFromVecs]]) and re-encode.
  *
  * Equivalence to the row path: same survivors (mask-aware, predicate
  * FALSE/NULL keeps — SQL DELETE semantics), same storage domain
  * (fillFromVecs mirrors the appenders, including the µs round trip
  * for unit-scaled timestamps), same exact stats discipline
  * (ChunkStats kernels over the buffered values). The only observable
  * difference is chunk BOUNDARIES — survivors stay in their source
  * chunk instead of repacking to DefaultChunkRows — which the format
  * treats as writer freedom (compact() exists to repack).
  * SurvivorSpliceSpec pins read-back + manifest equivalence against
  * the row path.
  *
  * Applicability ([[applicable]]; RowLevelStatement falls back to the
  * row path otherwise): every stored column is a plain page type — no
  * shredded structs, no nested blobs — and every column the drop test
  * references is stored in the file (a predicate over a
  * partition-directory column falls back).
  */
private[graft] object SurvivorSplice {
  import VortexFormat._

  def applicable(footer: Footer, refs: Seq[String]): Boolean = {
    val plain = footer.schema.fields.forall { f =>
      f.dataType match {
        case _: StructType => false
        case dt if NestedCodec.isNested(dt) => false
        case _ => true
      }
    }
    val stored = footer.schema.fieldNames.toSet
    plain && refs.forall(stored.contains)
  }

  /** `droppedPred` counts the rows `drop` removed among LIVE rows
    * (what a DELETE statement reports); `droppedMask` counts
    * previously-masked rows folded away. */
  final case class Result(droppedPred: Long, droppedMask: Long,
                          entry: StatsManifest.FileStats, schemaJson: String)

  /** Rewrite `path` into `tmp`, dropping masked rows and (when `drop`
    * is non-null) the live rows of `plannedChunks` it is true for.
    * `drop` sees a `schema`-wide row holding the `refs` ordinals.
    * Returns the dropped counts and the replacement's manifest entry
    * (every column's stats recomputed exactly). */
  def rewrite(path: Path, tmp: Path, conf: Configuration, footer: Footer,
              schema: StructType, refs: Array[Int], drop: InternalRow => Boolean,
              plannedChunks: Array[Int], mask: DeletionVector.Mask,
              bloomCols: Set[String], sketchCols: Set[String],
              relPath: String): Result = {
    val fs = path.getFileSystem(conf)
    val fileFields = footer.schema.fields
    val nCols = fileFields.length
    val tsUnits = fileFields.map(tsUnit)
    val planned: java.util.BitSet = {
      val b = new java.util.BitSet(footer.chunks.length)
      if (plannedChunks != null) plannedChunks.foreach(b.set) else b.set(0, footer.chunks.length)
      b
    }
    // referenced columns: file ordinal per refs entry
    val refFileCols: Array[Int] = refs.map(t => footer.schema.fieldIndex(schema(t).name))

    // whole-file stats accumulators — the writer's discipline
    val sumable = fileFields.map(ChunkStats.sumable)
    val sums = new Array[Long](nCols)
    val sumOk: Array[Boolean] = sumable.clone()
    val bloomOn = fileFields.map(f =>
      bloomCols.contains(f.name) && Sbbf.supports(f.dataType))
    val bloomBuilders = Array.tabulate(nCols)(c =>
      if (bloomOn(c)) new BloomBuilder(VortexFormat.DefaultBloomMaxBytes) else null)
    val sketchOn = fileFields.map(f =>
      sketchCols.contains(f.name) && QuantileSketch.supports(f.dataType))
    val sketches = Array.tabulate(nCols)(c =>
      if (sketchOn(c)) QuantileSketch() else null)

    val chunkBase = footer.chunks.scanLeft(0L)(_ + _.rowCount)
    var droppedPred = 0L
    var droppedMask = 0L
    val in = fs.open(path)
    var out: BufferedOutputStream = null
    var pos: Long = 0
    val newChunks = new scala.collection.mutable.ArrayBuffer[ChunkMeta](footer.chunks.length)
    try {
      out = new BufferedOutputStream(fs.create(tmp, true), 1 << 20)
      out.write(Magic); pos += Magic.length
      val evalRow = if (drop == null) null else new GenericInternalRow(schema.length)
      var ci = 0
      while (ci < footer.chunks.length) {
        val chunk = footer.chunks(ci)
        val rows = chunk.rowCount
        val raw = new Array[Array[Byte]](nCols)
        var c = 0
        while (c < nCols) {
          val m = chunk.columns(c)
          val buf = new Array[Byte](m.length)
          in.readFully(m.offset, buf)
          raw(c) = buf
          c += 1
        }
        val vecs = new Array[ColVec](nCols)
        c = 0
        while (c < nCols) {
          vecs(c) = VortexFileReader.decodeColumn(raw(c), chunk.columns(c), rows, fileFields(c))
          c += 1
        }
        // keep index over STORED ordinals: mask drops apply everywhere,
        // predicate drops only inside planned chunks
        val keep = new Array[Int](rows)
        var k = 0
        val base = chunkBase(ci)
        val evalHere = drop != null && planned.get(ci)
        var i = 0
        while (i < rows) {
          if (mask != null && mask.isDeleted(base + i)) droppedMask += 1
          else {
            var dropped = false
            if (evalHere) {
              var j = 0
              while (j < refFileCols.length) {
                val fc = refFileCols(j)
                evalRow.update(refs(j), VortexFileReader.value(vecs(fc), i, fileFields(fc).dataType))
                j += 1
              }
              dropped = drop(evalRow)
            }
            if (dropped) droppedPred += 1 else { keep(k) = i; k += 1 }
          }
          i += 1
        }
        if (k > 0) {
          // stats passes run over the buffered survivors for EVERY
          // emitted chunk — pass-through chunks included (their stats
          // must still enter the new file's exact manifest totals)
          val buf = new ChunkBuffer(fileFields, k, tsUnits)
          buf.fillFromVecs(vecs, keep, k)
          ChunkStats.sumPass(buf, sums, sumOk)
          ChunkStats.bloomPass(buf, fileFields, bloomOn, bloomBuilders)
          ChunkStats.sketchPass(buf, fileFields, sketchOn, sketches)
          val metas = new Array[ColumnChunkMeta](nCols)
          c = 0
          while (c < nCols) {
            if (k == rows) {
              // no row dropped here: pages pass through byte-for-byte
              val m = chunk.columns(c)
              out.write(raw(c))
              metas(c) = ColumnChunkMeta(pos, m.length, m.encoding, m.compressed,
                m.nullCount, m.min, m.max)
              pos += m.length
            } else {
              val vec =
                if (buf.fixed(c)) new ColVec(k, buf.nulls(c), buf.longs(c), null)
                else new ColVec(k, buf.nulls(c), null, buf.bins(c))
              val enc = PageCodec.encode(vec, fileFields(c).dataType)
              out.write(enc.bytes)
              metas(c) = ColumnChunkMeta(pos, enc.bytes.length, enc.encoding,
                enc.compressed, enc.nullCount, enc.min, enc.max)
              pos += enc.bytes.length
            }
            c += 1
          }
          newChunks += ChunkMeta(k, metas)
        }
        ci += 1
      }
      val newFooter = Footer(footer.schema, newChunks.toArray)
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new DataOutputStream(bos)
      writeFooter(dos, newFooter)
      dos.flush()
      val fb = bos.toByteArray
      out.write(fb)
      val tail = java.nio.ByteBuffer.allocate(12)
      tail.putLong(fb.length.toLong); tail.put(Magic)
      out.write(tail.array())
      out.flush(); out.close()
    } catch { case t: Throwable =>
      if (out != null) { try out.close() catch { case _: Exception => () } }
      try fs.delete(tmp, false) catch { case _: Exception => () }
      try in.close() catch { case _: Exception => () }
      throw t
    }
    in.close()

    val newFooterRead = VortexFileReader.readFooter(tmp, conf)
    val base = StatsManifest.fromFooter(relPath, fs.getFileStatus(tmp).getLen,
      newFooterRead)
    val colIdx = fileFields.map(_.name).zipWithIndex.toMap
    val entry = base.copy(cols = base.cols.map { col =>
      val c = colIdx(col.name)
      col.copy(
        sum = if (sumOk(c)) Some(sums(c)) else None,
        bloom = if (bloomOn(c)) Some(bloomBuilders(c).result()) else None,
        sketch = if (sketchOn(c)) Some(sketches(c).toBytes) else None)
    })
    Result(droppedPred, droppedMask, entry, newFooterRead.schema.json)
  }
}
