package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

/** The splice rewrite: the columnar kernel of every row-level rewrite
  * that drops or patches rows of a file (the Splice row of
  * RowLevelStatement's kernel table). It works chunk at a time on
  * decoded column vectors instead of boxed rows, and copies every page
  * it does not change byte for byte.
  *
  * Per chunk it reads the raw pages once and decodes the columns the
  * clauses read and assign — every column when the file loses rows,
  * since the new file's sums, blooms and sketches must stay exact. It
  * decides each live row of a planned chunk with [[RowLevelStatement.Eval]]
  * (drop, patch or keep; pruned chunks cannot match) and writes one of
  * four outputs through [[VortexFileWriter.writeChunk]]:
  *  - no row dropped or patched: every page verbatim;
  *  - rows patched, none dropped: the assigned columns re-encoded, the
  *    rest verbatim;
  *  - rows dropped: the survivors, kept and patched, re-encoded;
  *  - every row dropped: nothing.
  *
  * Stats: when the file loses no row, the columns the statement does
  * not assign are written blind and keep their pre-statement sum, bloom
  * and sketch (same pages, same values — RowLevelStatement.write);
  * otherwise the writer computes every column's stats from the values.
  *
  * Equivalence to the row path: same survivors (mask-aware, a FALSE or
  * NULL condition keeps), same storage domain (ChunkBuffer.fillFromVecs
  * mirrors the appenders, µs round trip of unit-scaled timestamps
  * included). The only observable difference is chunk BOUNDARIES —
  * survivors stay in their source chunk instead of repacking to
  * DefaultChunkRows — which the format treats as writer freedom
  * (compact() exists to repack).
  */
private[vortex] object Splice {

  /** Whether the kernel can rewrite a file with `footer`: the file
    * stores every column of `names` (what the clauses read and assign),
    * and, when it `loses` rows, every column has a plain page layout —
    * survivors re-encode every column from its decoded vectors. */
  def applicable(footer: VortexFormat.Footer, names: Seq[String], loses: Boolean): Boolean = {
    val stored = footer.schema.fieldNames.toSet
    names.forall(stored) && (!loses || footer.schema.forall(f => !NestedCodec.isNested(f.dataType)))
  }

  /** Rewrite the file at `path` into `w` (the footer's schema), running
    * `ev`'s clauses (bound over `schema`) on the live rows of the
    * `planned` chunks and dropping `mask`'s rows. `loses` says whether
    * any row leaves the file. Returns the rows patched and the live
    * rows the clauses dropped. */
  def rewrite(w: VortexFileWriter, path: Path, conf: Configuration, footer: VortexFormat.Footer,
              schema: StructType, ev: RowLevelStatement.Eval, mask: DeletionVector.Mask,
              planned: Array[Int], loses: Boolean): (Long, Long) = {
    val fields = footer.schema.fields
    val nCols = fields.length
    val tsUnits = fields.map(VortexFormat.tsUnit)
    def fileCol(t: Int): Int = footer.schema.fieldIndex(schema(t).name)
    // table ordinals the clauses read, and their file columns
    val refs = ev.spliceRefs.distinct.toArray
    val refCols = refs.map(fileCol)
    // file columns some clause assigns, in ev.changed order
    val changed = ev.changed.map(fileCol)
    val isChanged = Array.tabulate(nCols)(changed.contains)
    // columns whose values reach the writer's stats
    val fed = Array.tabulate(nCols)(loses || isChanged(_))
    val fedCols = fields.indices.filter(fed).toArray
    val decodeCols = (fedCols ++ refCols).distinct
    val projs = ev.projections(ev.changed)
    val isPlanned = new java.util.BitSet(footer.chunks.length)
    planned.foreach(isPlanned.set)
    val evalRow = new GenericInternalRow(schema.length)
    val base = footer.chunkBase
    var updated = 0L
    var deleted = 0L
    val in = path.getFileSystem(conf).open(path)
    try footer.chunks.indices.foreach { ci =>
      val chunk = footer.chunks(ci)
      val rows = chunk.rowCount
      val raw = chunk.columns.map { m =>
        val b = new Array[Byte](m.length); in.readFully(m.offset, b); b
      }
      val decide = isPlanned.get(ci)
      val vecs = new Array[ColVec](nCols)
      (if (decide) decodeCols else fedCols).foreach { c =>
        vecs(c) = VortexFileReader.decodeColumn(raw(c), chunk.columns(c), rows, fields(c))
      }
      // survivors' source slots; patched survivors' output slot and values
      val keep = new Array[Int](rows)
      var k = 0
      val patches = scala.collection.mutable.ArrayBuffer[(Int, InternalRow)]()
      var i = 0
      while (i < rows) {
        if (mask == null || !mask.isDeleted(base(ci) + i)) {
          var j = -1
          if (decide) {
            var r = 0
            while (r < refs.length) {
              evalRow.update(refs(r), VortexFileReader.value(vecs(refCols(r)), i, fields(refCols(r)).dataType))
              r += 1
            }
            j = ev.decide(evalRow)
          }
          if (j >= 0 && ev.deletes(j)) deleted += 1
          else {
            if (j >= 0) {
              val u = projs(j)(ev.input)
              val row = new GenericInternalRow(nCols)
              var x = 0
              while (x < changed.length) {
                row.update(changed(x), InternalRow.copyValue(u.get(x, fields(changed(x)).dataType)))
                x += 1
              }
              patches += ((k, row))
            }
            keep(k) = i
            k += 1
          }
        }
        i += 1
      }
      if (k > 0) {
        val vals = new ChunkBuffer(fields, k, tsUnits, shredStructs = true)
        vals.fillFromVecs(vecs, keep, k, fedCols)
        patches.foreach { case (o, row) => vals.setAt(row, changed, o) }
        // verbatim: every page when no row left or changed, the
        // unassigned ones when rows were only patched
        val pages = Array.tabulate(nCols)(c =>
          if (k == rows && (patches.isEmpty || !isChanged(c))) raw(c) else null)
        w.writeChunk(k, pages, chunk.columns, vals, fed)
      }
      updated += patches.length
    } finally in.close()
    (updated, deleted)
  }
}
