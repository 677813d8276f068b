package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Commit-time per-file stats manifest (≙ the reference's layout-stats
  * role, vortex-layout in SURVEY.md §2.9/§4, aggregated one level up).
  *
  * Each batch commit writes ONE JSON file under `_manifests/` at the
  * dataset root holding, for every data file it committed: the
  * relative path, byte length, row count, and file-level per-column
  * null counts + min/max (aggregated from the chunk stats already in
  * the footer). Planning uses it as pruning tier 1.5, between
  * partition-directory pruning and per-chunk pruning: a pushed filter
  * that excludes a file's whole range drops the file WITHOUT fetching
  * its footer. At ~800k files on an object store that converts cold
  * planning from 800k footer round-trips into one small read per
  * commit-job plus footers for surviving files only.
  *
  * Safety: entries are validated by (relative path, file length), so a
  * rewritten file never prunes on stale stats; files absent from every
  * manifest (streaming-sink epochs, foreign writers) simply fall back
  * to the footer path; a column whose stats are unknown uses the
  * nullCount sentinel -1, which can never satisfy a skip condition.
  */
object StatsManifest {
  import VortexFormat._

  val DirName = "_manifests"

  /** Dataset root for a user-supplied path: the directory itself, or —
    * for glob patterns and plain files — the parent directory (whose
    * `_manifests/` covers the matched files). None if unresolvable. */
  def rootOf(raw: String, conf: Configuration): Option[Path] =
    try {
      val p = new Path(raw)
      val fs = p.getFileSystem(conf)
      val isDir = try fs.getFileStatus(p).isDirectory catch { case _: Exception => false }
      if (isDir) Some(p) else Option(p.getParent)
    } catch { case _: Exception => None }

  /** `sum`: exact per-file column sum (unscaled long for decimals),
    * writer-accumulated — integral/decimal≤18 only, absent on overflow
    * or for any other type. Powers SUM pushdown (VortexStatsPushdown);
    * float sums are deliberately excluded (order-dependent). */
  /** `bloom`: optional per-file SBBF over the column's non-null values
    * in their storage domain (see BloomFilter.scala), writer-built for
    * columns opted in via the "bloomFilters" writer option. Probed at
    * plan time for `=` / `IN` filters where min/max can't prune
    * (high-cardinality unsorted ids); absent → never skips. */
  /** `sketch`: optional serialized QuantileSketch (exact-count
    * log-bucketed distribution histogram — the reference layout
    * tier's ddsketch role), writer-built for columns opted in via the
    * "distributionSketches" writer option. Merged across files at
    * plan time to route exact-percentile queries to a single bounded
    * range scan (SketchPercentile); absent → full-scan fallback. */
  final case class ColStats(name: String, nulls: Long,
                            min: Option[Array[Byte]], max: Option[Array[Byte]],
                            sum: Option[Long] = None,
                            bloom: Option[Array[Byte]] = None,
                            sketch: Option[Array[Byte]] = None)

  /** Per-chunk mirror of the footer's ChunkMeta, stats only (columns
    * in file-schema order; `bytes` = encoded size of all pages, the
    * split-sizing input). Carried in the manifest since round 4 so
    * planning — chunk pruning, split assembly, LIMIT trims, stats
    * aggregates — needs NO per-file footer I/O at all: at ~800k files
    * on an object store that is the difference between one manifest
    * GET per commit job and 800k footer round trips. */
  final case class ChunkColStats(nulls: Int, min: Option[Array[Byte]], max: Option[Array[Byte]])
  final case class ChunkStats(rows: Int, bytes: Long, cols: IndexedSeq[ChunkColStats]) {
    def toChunkMeta: ChunkMeta =
      ChunkMeta(rows, cols.map(c =>
        ColumnChunkMeta(0L, 0, EncPlain, compressed = false, c.nulls, c.min, c.max)).toArray)
  }

  /** `manifestSchema`: the schema recorded by the manifest file this
    * entry came from (round-4 envelope; None for round-3 bare arrays).
    * Consumers must validate THIS schema — not some other manifest's —
    * before trusting chunk stats, since a root can legitimately hold
    * manifests written against different schemas (manually merged
    * datasets, racing first writers). */
  final case class FileStats(relPath: String, len: Long, rows: Long, cols: Seq[ColStats],
                             chunks: Option[IndexedSeq[ChunkStats]] = None,
                             manifestSchema: Option[StructType] = None) {
    /** recorded AND matching schema — required before trusting ANY of
      * the entry's stats (chunk stats misalign positionally under
      * drift; even name-matched file-level min/max are raw storage
      * bytes whose interpretation depends on the column type, so a
      * schema-less round-3 entry over a drifted file would compare
      * garbage). Schema-less entries are never used for pruning.
      * `expected` is (name, type, ts-unit) TRIPLES: two files can
      * agree on (name, type) yet store timestamps in different units,
      * and unit-blind trust would prune (or metadata-answer
      * aggregates) with the wrong scale — unit mismatches fall to the
      * footer path, whose pruning and decode use the file's own
      * schema. */
    def schemaRecordedAndMatches(expected: Seq[(String, DataType, String)]): Boolean =
      manifestSchema.exists(s =>
        s.fields.toSeq.map(f => (f.name, f.dataType, VortexFormat.tsUnit(f))) == expected)
    /** synthetic whole-file ChunkMeta aligned with `schema` for
      * FilterPruning.canSkip; unknown columns get nulls = -1 (skips
      * nothing) and no range. */
    def toChunkMeta(schema: StructType): ChunkMeta = {
      val byName = cols.map(c => c.name -> c).toMap
      val metas = schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(c) =>
            ColumnChunkMeta(0L, 0, EncPlain, compressed = false,
              math.min(c.nulls, Int.MaxValue).toInt, c.min, c.max)
          case None =>
            ColumnChunkMeta(0L, 0, EncPlain, compressed = false, -1, None, None)
        }
      }
      ChunkMeta(math.min(rows, Int.MaxValue).toInt, metas)
    }
  }

  private def statLess(a: Array[Byte], b: Array[Byte], dt: DataType): Boolean = dt match {
    case StringType =>
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    case _ => PageCodec.lessThan(PageCodec.bytesToLong(a), PageCodec.bytesToLong(b), dt)
  }

  /** aggregate a file footer down to file-level stats */
  def fromFooter(relPath: String, len: Long, footer: Footer): FileStats = {
    val fields = footer.schema.fields
    val cols = fields.indices.map { c =>
      var nulls = 0L
      var mn: Array[Byte] = null
      var mx: Array[Byte] = null
      var rangeKnown = true
      footer.chunks.foreach { ch =>
        val m = ch.columns(c)
        nulls += m.nullCount
        if (m.min.isEmpty) {
          // stats-less chunk with live rows → file range unknowable
          if (m.nullCount != ch.rowCount) rangeKnown = false
        } else {
          if (mn == null || statLess(m.min.get, mn, fields(c).dataType)) mn = m.min.get
          if (mx == null || statLess(mx, m.max.get, fields(c).dataType)) mx = m.max.get
        }
      }
      ColStats(fields(c).name, nulls,
        if (rangeKnown && mn != null) Some(mn) else None,
        if (rangeKnown && mx != null) Some(mx) else None)
    }
    val chunks = footer.chunks.toIndexedSeq.map { ch =>
      ChunkStats(ch.rowCount, ch.columns.map(_.length.toLong).sum,
        ch.columns.toIndexedSeq.map(m => ChunkColStats(m.nullCount, m.min, m.max)))
    }
    FileStats(relPath, len, footer.rowCount, cols, Some(chunks))
  }

  private def b64(a: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(a)

  def write(root: Path, conf: Configuration, jobId: String, entries: Seq[FileStats],
            schema: Option[StructType] = None): Unit = {
    if (entries.isEmpty) return
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val top = mapper.createObjectNode()
    schema.foreach(s => top.put("schema", s.json))
    val arr = top.putArray("files")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("path", e.relPath); o.put("len", e.len); o.put("rows", e.rows)
      val cs = o.putArray("cols")
      e.cols.foreach { c =>
        val co = cs.addObject()
        co.put("name", c.name); co.put("nulls", c.nulls)
        c.min.foreach(m => co.put("min", b64(m)))
        c.max.foreach(m => co.put("max", b64(m)))
        c.sum.foreach(s => co.put("sum", s))
        c.bloom.foreach(b => co.put("bloom", b64(b)))
        c.sketch.foreach(b => co.put("sketch", b64(b)))
      }
      e.chunks.foreach { chunks =>
        val ca = o.putArray("chunks")
        chunks.foreach { ch =>
          val cn = ca.addObject()
          cn.put("rows", ch.rows); cn.put("bytes", ch.bytes)
          val cc = cn.putArray("cols")
          ch.cols.foreach { c =>
            val co = cc.addObject()
            co.put("nulls", c.nulls)
            c.min.foreach(m => co.put("min", b64(m)))
            c.max.foreach(m => co.put("max", b64(m)))
          }
        }
      }
    }
    val fs = root.getFileSystem(conf)
    val p = new Path(new Path(root, DirName), s"manifest-$jobId.json")
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(top)) finally out.close()
  }

  /** one manifest file's recorded schema and entries, in file order */
  private final case class Parsed(schema: Option[StructType], entries: Seq[FileStats])

  // per-JVM cache of parsed manifest files, keyed like the footer cache
  // by (path, length, mtime): a manifest is written once and never
  // edited, and a statement plans against the same manifests several
  // times. Access-ordered, so the least recently read file drops first.
  private val ParsedKept = 4096
  private val parsedCache = new java.util.LinkedHashMap[String, Parsed](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Parsed]): Boolean =
      size() > ParsedKept
  }

  /** manifest files parsed (not served from the cache) in this JVM */
  val manifestParses = new java.util.concurrent.atomic.AtomicLong()

  private def parsed(fs: org.apache.hadoop.fs.FileSystem, st: org.apache.hadoop.fs.FileStatus): Parsed = {
    val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
    val hit = parsedCache.synchronized(parsedCache.get(key))
    if (hit != null) return hit
    manifestParses.incrementAndGet()
    val (p, complete) = parse(fs, st.getPath)
    // a failed read may be transient: only a complete parse is kept
    if (complete) parsedCache.synchronized(parsedCache.put(key, p))
    p
  }

  /** A torn or foreign manifest keeps what parsed before the fault: it
    * only loses the optimization. Also says whether the parse completed. */
  private def parse(fs: org.apache.hadoop.fs.FileSystem, path: Path): (Parsed, Boolean) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = scala.collection.mutable.ArrayBuffer[FileStats]()
    var thisSchema: Option[StructType] = None
    val in = fs.open(path)
    try {
      val node = mapper.readTree(in)
      val files = if (node.isArray) node else node.get("files")
      thisSchema =
        if (node.isArray) None
        else Option(node.get("schema")).flatMap(s =>
          try Some(DataType.fromJson(s.asText()).asInstanceOf[StructType])
          catch { case _: Exception => None })
      val it = files.elements()
      while (it.hasNext) {
        val e = it.next()
        def bin(n: com.fasterxml.jackson.databind.JsonNode, f: String): Option[Array[Byte]] =
          Option(n.get(f)).map(x => java.util.Base64.getDecoder.decode(x.asText()))
        val cit = e.get("cols").elements()
        val cols = scala.collection.mutable.ArrayBuffer[ColStats]()
        while (cit.hasNext) {
          val c = cit.next()
          cols += ColStats(c.get("name").asText(), c.get("nulls").asLong(),
            bin(c, "min"), bin(c, "max"),
            Option(c.get("sum")).map(_.asLong()),
            bin(c, "bloom"),
            bin(c, "sketch"))
        }
        val chunks = Option(e.get("chunks")).map { ca =>
          val buf = scala.collection.mutable.ArrayBuffer[ChunkStats]()
          val chit = ca.elements()
          while (chit.hasNext) {
            val ch = chit.next()
            val ccols = scala.collection.mutable.ArrayBuffer[ChunkColStats]()
            val ccit = ch.get("cols").elements()
            while (ccit.hasNext) {
              val c = ccit.next()
              ccols += ChunkColStats(c.get("nulls").asInt(), bin(c, "min"), bin(c, "max"))
            }
            buf += ChunkStats(ch.get("rows").asInt(), ch.get("bytes").asLong(),
              ccols.toIndexedSeq)
          }
          buf.toIndexedSeq
        }
        out += FileStats(e.get("path").asText(), e.get("len").asLong(),
          e.get("rows").asLong(), cols.toSeq, chunks, thisSchema)
      }
      (Parsed(thisSchema, out.toSeq), true)
    } catch {
      case _: Exception => (Parsed(thisSchema, out.toSeq), false)
    } finally in.close()
  }

  /** all manifest entries under `root` keyed by relative path — each
    * TAGGED with its own manifest's recorded schema (`manifestSchema`)
    * so consumers validate per entry, not per root — plus the first
    * recorded schema (schema-inference seed; entries whose own schema
    * drifts from the table's fall to the footer path, which throws).
    * Accepts both the round-4 object envelope and the round-3 bare
    * array (whose entries then lack chunk stats → footer fallback).
    * Each manifest file is parsed once per JVM (see `parsed`). */
  def readAll(root: Path, conf: Configuration): (Option[StructType], Map[String, FileStats]) = {
    val fs = root.getFileSystem(conf)
    val dir = new Path(root, DirName)
    if (!fs.exists(dir)) return (None, Map.empty)
    val out = scala.collection.mutable.Map[String, FileStats]()
    var schema: Option[StructType] = None
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".json")).foreach { st =>
      val p = parsed(fs, st)
      if (schema.isEmpty) schema = p.schema
      p.entries.foreach(f => out(f.relPath) = f)
    }
    (schema, out.toMap)
  }

  def read(root: Path, conf: Configuration): Map[String, FileStats] = readAll(root, conf)._2

  def delete(root: Path, conf: Configuration): Unit = {
    val fs = root.getFileSystem(conf)
    fs.delete(new Path(root, DirName), true)
  }
}
