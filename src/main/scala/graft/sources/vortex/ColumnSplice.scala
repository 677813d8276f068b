package graft.sources.vortex

import java.io.{BufferedOutputStream, DataOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType, StructType}

/** Column-splice rewrite for UPDATE-shaped maintenance (r15, VERDICT
  * r14 next #2/#3): when a statement changes a SUBSET of a file's
  * stored columns and drops no rows (no DELETE clause fires, no mask
  * folds in), the rewrite re-encodes ONLY the assigned columns and
  * passes every other column's encoded pages through byte-for-byte —
  * page metas (encoding, compression, null count, min/max) are copied
  * with adjusted offsets. Decode is equally pruned: only the columns
  * the predicate / assignment expressions reference (plus the assigned
  * ones, whose non-matching rows keep their old values) are decoded.
  *
  * What this buys at scale: a 1-column re-score of a 100-column corpus
  * file pays 1 column of encode CPU + the raw IO of the rest, instead
  * of a full decode+re-encode of every column. Measured at sf1 (orders
  * 1.5 M rows, 9 columns, 1-column SET): file_tasks 1.13 s -> see
  * BASELINE.md r15 decomposition.
  *
  * Applicability (checked by [[plan]], caller falls back to the full
  * rewrite otherwise):
  *  - no mask sidecar on the file (masked rewrites fold rows away —
  *    row count/order would change, breaking page pass-through);
  *  - row count and order preserved (UPDATE semantics — the caller
  *    guarantees no DELETE action can fire);
  *  - every referenced column is STORED in the file (a predicate over
  *    a partition directory column falls back);
  *  - the file stores every assigned column (schema-evolution guard,
  *    same as the full rewrite's).
  *
  * Stats discipline: re-encoded columns rebuild exact sums, blooms and
  * sketches from the final values (same storage-domain passes as
  * VortexFileWriter); untouched columns keep their manifest stats
  * verbatim from the pre-statement entry (byte-identical pages ⇒
  * identical stats). A missing pre-statement entry degrades those
  * columns' sum/bloom/sketch to None — planning then simply skips the
  * affected pushdowns (never wrong, only less pruned).
  */
private[graft] object ColumnSplice {
  import VortexFormat._

  /** one row's patch decision: null = keep the stored values; else an
    * InternalRow holding the new values for the CHANGED columns, in
    * [[Plan.changedFileCols]] order */
  trait RowPatch {
    def patch(target: InternalRow): InternalRow
  }

  final case class Plan(changedFileCols: Array[Int],
                        decodeFileCols: Array[Int],
                        fileToTable: Array[Int])

  /** Decide applicability and precompute the column maps.
    *
    * @param footer        the source file's footer
    * @param maskFile      the file's bound mask sidecar (null = none)
    * @param tableSchema   the statement's binding schema (eval rows are
    *                      this wide; bound ordinals index into it)
    * @param changedNames  columns whose stored values may change
    * @param neededOrdinals table ordinals the predicate/value
    *                      expressions reference (bound refs)
    */
  def plan(footer: Footer, maskFile: String, tableSchema: StructType,
           changedNames: Set[String], neededOrdinals: Set[Int]): Option[Plan] = {
    if (maskFile != null) return None
    val fileFields = footer.schema.fields
    val stored = fileFields.map(_.name).toSet
    if (!changedNames.forall(stored.contains)) return None
    // every referenced table ordinal must map to a stored column
    val tableToFile: Map[Int, Int] = fileFields.zipWithIndex.map {
      case (f, i) => tableSchema.fieldIndex(f.name) -> i
    }.toMap
    if (!neededOrdinals.forall(tableToFile.contains)) return None
    val changedFileCols = fileFields.indices
      .filter(i => changedNames.contains(fileFields(i).name)).toArray
    // decode set: referenced columns plus the changed ones (rows the
    // patch keeps verbatim re-encode their OLD values)
    val decodeSet = neededOrdinals.map(tableToFile) ++ changedFileCols
    Some(Plan(changedFileCols, decodeSet.toArray.sorted,
      fileFields.map(f => tableSchema.fieldIndex(f.name))))
  }

  final case class Result(updated: Long, entry: StatsManifest.FileStats,
                          schemaJson: String)

  /** Execute the splice rewrite of `path` into `tmp` (non-destructive).
    * Returns the number of patched rows and the new manifest entry
    * (untouched columns inherit `oldCols` stats). */
  def rewrite(path: Path, tmp: Path, conf: Configuration, footer: Footer,
              tableSchema: StructType, p: Plan, patcher: RowPatch,
              bloomCols: Set[String], sketchCols: Set[String],
              oldCols: Map[String, StatsManifest.ColStats],
              relPath: String): Result = {
    val fs = path.getFileSystem(conf)
    val fileFields = footer.schema.fields
    val nCols = fileFields.length
    val changed = p.changedFileCols
    val changedSet = changed.toSet
    val changedFields = changed.map(fileFields(_))
    val changedTsUnits = changedFields.map(tsUnit)
    val isChangedAt = Array.tabulate(nCols)(changedSet.contains)

    // stats accumulators for the re-encoded columns (the shared
    // ChunkStats passes — identical discipline to VortexFileWriter)
    val sumable = changedFields.map(ChunkStats.sumable)
    val sums = new Array[Long](changed.length)
    val sumOk: Array[Boolean] = sumable.clone()
    val bloomOn = changedFields.map(f =>
      bloomCols.contains(f.name) && Sbbf.supports(f.dataType))
    val bloomBuilders = Array.tabulate(changed.length)(j =>
      if (bloomOn(j)) new BloomBuilder(VortexFormat.DefaultBloomMaxBytes) else null)
    val sketchOn = changedFields.map(f =>
      sketchCols.contains(f.name) && QuantileSketch.supports(f.dataType))
    val sketches = Array.tabulate(changed.length)(j =>
      if (sketchOn(j)) QuantileSketch() else null)

    var updated = 0L
    val in = fs.open(path)
    // create inside the same guard as the body: if it throws, the
    // already-open input must still close (r15 review — handle leak
    // under executor retry loops on a failing filesystem)
    var out: BufferedOutputStream = null
    var pos: Long = 0
    val newChunks = new Array[ChunkMeta](footer.chunks.length)
    try {
      out = new BufferedOutputStream(fs.create(tmp, true), 1 << 20)
      out.write(Magic); pos += Magic.length
      val evalRow = new GenericInternalRow(tableSchema.length)
      var ci = 0
      while (ci < footer.chunks.length) {
        val chunk = footer.chunks(ci)
        val rows = chunk.rowCount
        // raw pages, chunk-major column-minor = sequential read
        val raw = new Array[Array[Byte]](nCols)
        var c = 0
        while (c < nCols) {
          val m = chunk.columns(c)
          val buf = new Array[Byte](m.length)
          in.readFully(m.offset, buf)
          raw(c) = buf
          c += 1
        }
        // decode only the referenced + changed columns (µs-normalized)
        val vecs = new Array[ColVec](nCols)
        p.decodeFileCols.foreach { dc =>
          vecs(dc) = VortexFileReader.decodeColumn(
            raw(dc), chunk.columns(dc), rows, fileFields(dc))
        }
        // patch pass: buffer the changed columns' FINAL values
        val miniBuf = new ChunkBuffer(changedFields, rows, changedTsUnits,
          shredStructs = true)
        val patchRowOld = new GenericInternalRow(changed.length)
        var patchedInChunk = 0
        var i = 0
        while (i < rows) {
          p.decodeFileCols.foreach { dc =>
            evalRow.update(p.fileToTable(dc),
              VortexFileReader.value(vecs(dc), i, fileFields(dc).dataType))
          }
          val patched = patcher.patch(evalRow)
          if (patched != null) {
            updated += 1
            patchedInChunk += 1
            miniBuf.write(patched)
          } else {
            var j = 0
            while (j < changed.length) {
              patchRowOld.update(j,
                VortexFileReader.value(vecs(changed(j)), i, changedFields(j).dataType))
              j += 1
            }
            miniBuf.write(patchRowOld)
          }
          i += 1
        }
        // stats passes over the buffered storage-domain values — the
        // SAME shared kernels the writer runs at flushChunk
        ChunkStats.sumPass(miniBuf, sums, sumOk)
        ChunkStats.bloomPass(miniBuf, changedFields, bloomOn, bloomBuilders)
        ChunkStats.sketchPass(miniBuf, changedFields, sketchOn, sketches)
        // write the chunk: pass-through or fresh encode, column order.
        // A chunk with ZERO patched rows passes even the "changed"
        // columns through verbatim (their values did not change —
        // re-encoding would produce the same pages at full CPU cost).
        // With clustered/z-ordered keys — the 100 TB layout — most
        // chunks of a touched file take this path; the stats passes
        // above already covered the chunk, so the manifest stays exact.
        val metas = new Array[ColumnChunkMeta](nCols)
        c = 0
        var cj = 0
        while (c < nCols) {
          if (isChangedAt(c) && patchedInChunk > 0) {
            val enc =
              if (miniBuf.shredded(cj))
                StructCodec.encode(rows, miniBuf.nulls(cj), miniBuf.subBufs(cj),
                  changedFields(cj).dataType.asInstanceOf[StructType])
              else {
                val vec =
                  if (miniBuf.fixed(cj)) new ColVec(rows, miniBuf.nulls(cj), miniBuf.longs(cj), null)
                  else new ColVec(rows, miniBuf.nulls(cj), null, miniBuf.bins(cj))
                PageCodec.encode(vec, changedFields(cj).dataType)
              }
            out.write(enc.bytes)
            metas(c) = ColumnChunkMeta(pos, enc.bytes.length, enc.encoding,
              enc.compressed, enc.nullCount, enc.min, enc.max)
            pos += enc.bytes.length
            cj += 1
          } else {
            val m = chunk.columns(c)
            out.write(raw(c))
            metas(c) = ColumnChunkMeta(pos, m.length, m.encoding, m.compressed,
              m.nullCount, m.min, m.max)
            pos += m.length
          }
          c += 1
        }
        newChunks(ci) = ChunkMeta(rows, metas)
        ci += 1
      }
      val newFooter = Footer(footer.schema, newChunks)
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

    // manifest entry: fresh stats for re-encoded columns, inherited
    // stats for pass-through columns (byte-identical pages)
    val changedIdxByName = changed.indices.map(j => changedFields(j).name -> j).toMap
    val newFooterRead = VortexFileReader.readFooter(tmp, conf)
    val base = StatsManifest.fromFooter(relPath, fs.getFileStatus(tmp).getLen,
      newFooterRead)
    val entry = base.copy(cols = base.cols.map { col =>
      changedIdxByName.get(col.name) match {
        case Some(j) => col.copy(
          sum = if (sumOk(j)) Some(sums(j)) else None,
          bloom = if (bloomOn(j)) Some(bloomBuilders(j).result()) else None,
          sketch = if (sketchOn(j)) Some(sketches(j).toBytes) else None)
        case None =>
          val old = oldCols.get(col.name)
          col.copy(sum = old.flatMap(_.sum), bloom = old.flatMap(_.bloom),
            sketch = old.flatMap(_.sketch))
      }
    })
    Result(updated, entry, newFooterRead.schema.json)
  }
}
