package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Which files and chunks of a listing can hold rows matching pushed
  * `sources.Filter`s — the one decision behind a scan's input
  * partitions ([[VortexScan]]), the stats-answered aggregates
  * ([[VortexStatsPushdown]], no filters) and a row-level statement's
  * candidates ([[RowLevelStatement]]). The tiers, cheapest first:
  *
  *  1. partition directories: a filter on a Hive-partition column
  *     drops whole directories, no I/O;
  *  2. buckets: an equality/IN on the bucket key hashes its literals
  *     to the only `__bucket=k` directories that can hold them;
  *  3. manifest file stats: a file whose whole range, or whose bloom,
  *     a filter excludes drops before any chunk walk;
  *  4. chunk stats: manifest-held, else the file footer (fetched in
  *     parallel) behind the schema-drift guard. Sound over a masked
  *     file too: a mask only removes rows, so min/max over-approximate.
  *
  * A manifest entry serves stats only when it describes this very file
  * (path and length) AND its own manifest recorded the table's data
  * schema, timestamp units included: a root can hold manifests written
  * against different schemas, and chunk stats are positional. Any
  * other file falls to its footer, whose chunk stats are pruned against
  * the file's own schema — under `evolution` a file may store a
  * name-compatible subset of the table's columns.
  */
object ChunkSelection {
  import VortexFormat.ChunkMeta

  /** One file the selection keeps: its partition values (layout
    * segments other than `__bucket`), its bucket id (-1: none), its
    * bound mask sidecar (null: none), its trusted manifest entry, the
    * schema its chunk metas are positionally aligned with, and the kept
    * chunks with their metas and encoded bytes. */
  final case class Selected(status: FileStatus, partCols: Array[String], partValues: Array[String],
                            bucketId: Int, maskFile: String,
                            entry: Option[StatsManifest.FileStats], schema: StructType,
                            chunks: Array[Int], metas: Array[ChunkMeta], bytes: Array[Long]) {
    def file: String = status.getPath.toString
  }

  /** The manifest entries of the dataset roots of `paths`, keyed by
    * qualified file path. An unreadable manifest covers nothing. */
  def manifestEntries(paths: Seq[String], conf: Configuration): Map[String, StatsManifest.FileStats] =
    paths.flatMap { raw =>
      try StatsManifest.rootOf(raw, conf).toSeq.flatMap { p =>
        val rootQ = p.getFileSystem(conf).makeQualified(p).toString
        StatsManifest.readAll(p, conf)._2.values.map(e => s"$rootQ/${e.relPath}" -> e)
      } catch { case _: Exception => Nil }
    }.toMap

  /** The files of `listed` (with its mask binding `maskBind`) whose
    * chunks can match `filters`, in listing order, each with its kept
    * chunks; a file keeping no chunk is left out. `tableSchema` is the
    * table's: data columns plus the partition columns the listing's
    * paths carry. `limit` (filter-free scans only) keeps a chunk prefix
    * covering at least that many rows; a masked file never counts
    * toward it, as its chunks deliver fewer rows than they hold. Throws
    * [[VortexSchemaDriftException]] for a footer that does not match
    * the table's data columns (a name-compatible subset passes under
    * `evolution`). */
  def select(listed: Seq[(FileStatus, Seq[(String, String)])],
             maskBind: Map[String, (String, Seq[String])],
             entries: Map[String, StatsManifest.FileStats], filters: Seq[Filter],
             tableSchema: StructType, bucket: Option[(String, Int)], evolution: Boolean,
             conf: Configuration, limit: Long = Long.MaxValue): Seq[Selected] = {
    val partSchema = StructType(tableSchema.fields.filter(f =>
      listed.exists(_._2.exists(_._1 == f.name))))
    // chunk metas hold DATA columns only (partition values live in the path)
    val dataSchema = StructType(
      tableSchema.fields.filterNot(f => partSchema.fieldNames.contains(f.name)))
    def bucketOf(kvs: Seq[(String, String)]): Option[Int] =
      kvs.collectFirst { case (BucketSpecFile.BucketCol, v) => v }
        .flatMap(v => scala.util.Try(v.toInt).toOption)
    // tier 1: partition directories
    val byDir = listed.filter { case (_, kvs) =>
      filters.forall(fl => PartitionedLayout.survives(fl, kvs.toMap, partSchema))
    }
    // tier 2: buckets (an unbucketed stray file stays)
    val byBucket = bucket match {
      case Some((key, n)) if filters.nonEmpty && tableSchema.fieldNames.contains(key) =>
        BucketSpecFile.allowedBuckets(filters.toArray, key, tableSchema(key).dataType, n) match {
          case Some(allowed) => byDir.filter(f => bucketOf(f._2).forall(allowed.contains))
          case None => byDir
        }
      case _ => byDir
    }
    val expected = dataSchema.fields.toSeq.map(f => (f.name, f.dataType, VortexFormat.tsUnit(f)))
    val pruners = scala.collection.mutable.Map[StructType, ChunkMeta => Boolean]()
    def prunerFor(schema: StructType) =
      pruners.getOrElseUpdate(schema, FilterPruning.pruner(filters, schema))
    val skipData = prunerFor(dataSchema)
    // tier 3: manifest file stats and blooms, from trusted entries only
    val byFile = byBucket.map { case (st, kvs) =>
      (st, kvs, entries.get(st.getPath.toString)
        .filter(m => m.len == st.getLen && m.schemaRecordedAndMatches(expected)))
    }.filter {
      case (_, _, Some(m)) if filters.nonEmpty =>
        val blooms = m.cols.collect { case c if c.bloom.isDefined => c.name -> c.bloom.get }.toMap
        !(blooms.nonEmpty && filters.exists(fl =>
          FilterPruning.bloomSkip(fl, n => blooms.get(n).flatMap(Sbbf.fromBytes), dataSchema))) &&
          m.chunks.fold(!skipData(m.toChunkMeta(dataSchema)))(
            chunks => !chunks.forall(ch => skipData(ch.toChunkMeta)))
      case _ => true
    }
    // prefetch only the footers tier 4 needs, in parallel: serial
    // round trips to an object store would dominate planning
    val footers = byFile.collect { case (st, _, e) if e.forall(_.chunks.isEmpty) => st.getPath }
    if (footers.length > 1)
      java.util.Arrays.stream(footers.toArray).parallel()
        .forEach(p => { VortexFileReader.readFooter(p, conf); () })
    // tier 4: chunk stats
    val expectedData = dataSchema.fields.toSeq.map(f => (f.name, f.dataType))
    var remaining = limit
    byFile.flatMap { case (st, kvs, entry) =>
      if (remaining <= 0L) None
      else {
        val (metas, bytes, schema) = entry.flatMap(_.chunks) match {
          case Some(chunks) => (chunks.map(_.toChunkMeta).toArray, chunks.map(_.bytes).toArray,
            dataSchema)
          case None =>
            val footer = VortexFileReader.readFooter(st.getPath, conf)
            val got = footer.schema.fields.toSeq.map(fl => (fl.name, fl.dataType))
            // a shared NAME must keep its type even under evolution:
            // silent retyping is the drift that decodes garbage
            if (got != expectedData && !(evolution && got.forall { case (n, dt) =>
                  expectedData.toMap.get(n).forall(_ == dt) }))
              throw new VortexSchemaDriftException(
                s"vortex: schema drift in ${st.getPath}: file columns ${got.mkString("[", ", ", "]")} " +
                s"do not match the table's data columns ${expectedData.mkString("[", ", ", "]")}")
            (footer.chunks, footer.chunks.map(_.columns.map(_.length.toLong).sum), footer.schema)
        }
        val mask = maskBind.get(st.getPath.toString).map(_._1).orNull
        val skip = prunerFor(schema)
        val kept = metas.indices.filter { ci =>
          val keep = remaining > 0L && !skip(metas(ci))
          if (keep && remaining != Long.MaxValue && mask == null)
            remaining = math.max(0L, remaining - metas(ci).rowCount)
          keep
        }.toArray
        val part = kvs.filter(kv => partSchema.fieldNames.contains(kv._1))
        if (kept.isEmpty) None
        else Some(Selected(st, part.map(_._1).toArray, part.map(_._2).toArray,
          bucketOf(kvs).getOrElse(-1), mask, entry, schema, kept, kept.map(metas), kept.map(bytes)))
      }
    }
  }
}
