package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Row-mask sidecars for vortex data files — the deletion-vector tier
  * (≙ the validity/selection-mask role the reference stack separates
  * into its own components: `vortex-mask` and the roaring bitmaps in
  * `vortex-scan`, reference Cargo.lock:4457-4465,4535).
  *
  * Why it exists: `VortexDelete`'s rewrite tier makes a single-row
  * point delete (the GDPR shape) rewrite the whole containing file —
  * at 100 TB that is file-size write amplification per deleted row.
  * With `deletionVectors = true` the delete instead writes a ~KB
  * sidecar naming the dead row ordinals; the scan applies the mask at
  * read time; compaction (`VortexMaintenance.foldMasks`, called by
  * `compact`) folds masks into real rewrites when the file is touched
  * anyway.
  *
  * Layout and lifecycle:
  *  - Sidecar name: `.<dataFileName>.dv-<seq>` in the same directory —
  *    dot-hidden, so data-file listings never see it. Each sidecar is
  *    IMMUTABLE once renamed in (written tmp → rename, like every
  *    vortex writer); a subsequent delete writes the UNION mask under
  *    `seq+1` and then best-effort deletes older seqs. Readers bind the
  *    highest seq present at PLAN time (the listing walk collects
  *    sidecars in the same directory pass — zero extra RPCs) and carry
  *    the exact path in the input partition, so executors read an
  *    immutable file and the per-JVM cache needs no invalidation.
  *  - Positions index STORED row ordinals of the data file (0-based,
  *    chunks concatenated in footer order) — they survive any
  *    projection, chunk pruning, or split layout.
  *  - A crash between the new seq's rename and the old seq's delete
  *    leaves both; readers pick the newest (a superset by
  *    construction). Masks of a deleted/rewritten data file are
  *    removed with it; an orphaned sidecar (data file gone) is inert —
  *    nothing binds it.
  *
  * Serialization: magic "VDV1", varint count, then delta-varint sorted
  * positions — a point delete costs a handful of bytes; a dense mask
  * of n rows costs ≤ ~n bytes. Loaded masks expand to a long-word
  * bitset (totalRows/8 bytes) for O(1) probes.
  *
  * Interactions the scan must respect (wired in VortexScan /
  * VortexStatsPushdown): footer/manifest stats become UPPER BOUNDS
  * over a masked file — min/max/bloom pruning stays sound (a mask only
  * removes rows) but stats-ANSWERED aggregates and pushed-LIMIT
  * row accounting must not trust rowCount, so both disable for masked
  * datasets. The streaming micro-batch source binds the newest sidecar
  * at micro-batch planning (VortexMicroBatchStream): a file masked
  * BEFORE it streams serves live rows only; rows masked AFTER their
  * file already streamed are not retracted (append-only stream
  * contract), and a crash-replayed batch re-reads with the newest
  * mask — fewer rows possible on replay, resurrected rows never.
  */
object DeletionVector {

  private val Magic = Array[Byte]('V', 'D', 'V', '1')

  /** Loaded mask: bitset over stored row ordinals. */
  final class Mask(val words: Array[Long], val cardinality: Long) {
    def isDeleted(pos: Long): Boolean = {
      val w = pos >>> 6 // stay in Long: (pos >>> 6).toInt overflows past 2^38
      w < words.length && (words(w.toInt) & (1L << (pos & 63))) != 0L
    }
    /** sorted set positions */
    def positions: Array[Long] = {
      val out = new Array[Long](cardinality.toInt)
      var k = 0; var w = 0
      while (w < words.length) {
        var bits = words(w)
        while (bits != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(bits)
          out(k) = (w.toLong << 6) + b; k += 1
          bits &= bits - 1
        }
        w += 1
      }
      out
    }
  }

  def fromPositions(sorted: Array[Long]): Mask = {
    if (sorted.isEmpty) return new Mask(Array.empty, 0L)
    val words = new Array[Long]((sorted.last >>> 6).toInt + 1)
    var i = 0
    while (i < sorted.length) {
      val p = sorted(i)
      words((p >>> 6).toInt) |= (1L << (p & 63))
      i += 1
    }
    new Mask(words, sorted.length.toLong)
  }

  def union(a: Mask, b: Mask): Mask = {
    val n = math.max(a.words.length, b.words.length)
    val words = new Array[Long](n)
    var i = 0
    var card = 0L
    while (i < n) {
      val w = (if (i < a.words.length) a.words(i) else 0L) |
              (if (i < b.words.length) b.words(i) else 0L)
      words(i) = w
      card += java.lang.Long.bitCount(w)
      i += 1
    }
    new Mask(words, card)
  }

  def toBytes(m: Mask): Array[Byte] = {
    val pos = m.positions
    val bos = new java.io.ByteArrayOutputStream(16 + pos.length * 2)
    bos.write(Magic)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { bos.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt)
    }
    varint(pos.length.toLong)
    var prev = 0L
    var i = 0
    while (i < pos.length) { varint(pos(i) - prev); prev = pos(i); i += 1 }
    bos.toByteArray
  }

  def fromBytes(b: Array[Byte]): Mask = {
    require(b.length >= 4 && b(0) == 'V' && b(1) == 'D' && b(2) == 'V' && b(3) == '1',
      "not a vortex deletion-vector sidecar")
    var off = 4
    def varint(): Long = {
      var v = 0L; var shift = 0
      var more = true
      while (more) {
        val x = b(off) & 0xFF; off += 1
        v |= (x & 0x7FL) << shift; shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    val n = varint().toInt
    val pos = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) { prev += varint(); pos(i) = prev; i += 1 }
    fromPositions(pos)
  }

  // ---- sidecar naming --------------------------------------------------

  private val NameRe = """^\.(.+)\.dv-(\d+)$""".r

  def maskName(dataName: String, seq: Int): String = s".$dataName.dv-$seq"

  /** (data file basename, seq) if `name` is a mask sidecar */
  def parseName(name: String): Option[(String, Int)] = name match {
    case NameRe(data, seq) => scala.util.Try(seq.toInt).toOption.map((data, _))
    case _ => None
  }

  /** data-file path -> (newest mask path, ALL mask paths for cleanup),
    * from a directory-listing's hidden-file names */
  def bind(masks: Seq[Path]): Map[String, (String, Seq[String])] =
    masks.flatMap(p => parseName(p.getName).map { case (data, seq) =>
      (new Path(p.getParent, data).toString, (seq, p))
    }).groupBy(_._1).map { case (dataPath, entries) =>
      val sorted = entries.map(_._2).sortBy(-_._1)
      dataPath -> (sorted.head._2.toString, sorted.map(_._2.toString))
    }

  /** the newest mask seq [[bind]] bound to `file`, 0 when it has none */
  def newestSeq(maskBind: Map[String, (String, Seq[String])], file: String): Int =
    maskBind.get(file).flatMap(b => parseName(new Path(b._1).getName)).fold(0)(_._2)

  // ---- I/O (masks are immutable → cache by exact path) ------------------

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Mask]()
  // bound the per-JVM cache: masks of folded/deleted files would
  // otherwise accumulate for the executor's lifetime. The reset is
  // crude (full clear past the cap) but keeps heap O(cap × mask size);
  // re-reads after a clear are one small sequential GET each.
  private val CacheCap = 4096

  /** test hook */
  def clearCache(): Unit = cache.clear()

  def read(fs: FileSystem, maskPath: Path): Mask = {
    // key carries len+mtime (the footer cache's standard), NOT path
    // alone: the sidecar-immutability invariant breaks under a
    // transaction-group ROLLBACK (r13) — the dead group's .F.dv-1 is
    // deleted and a later statement writes a fresh .F.dv-1 at the SAME
    // path with different content; a path-keyed hit then serves the
    // dead group's mask (fuzz-found r13, txn_pair kind). The stat this
    // costs was already paid below for the length.
    val st = fs.getFileStatus(maskPath)
    val key = s"${maskPath.toString}#${st.getLen}#${st.getModificationTime}"
    val cached = cache.get(key)
    if (cached != null) return cached
    val len = st.getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(maskPath)
    try in.readFully(0, buf) finally in.close()
    val m = fromBytes(buf)
    if (cache.size >= CacheCap) cache.clear()
    cache.put(key, m)
    m
  }

  def read(maskPath: Path, conf: Configuration): Mask =
    read(maskPath.getFileSystem(conf), maskPath)

  /** Write `m` to `p` (a tmp the driver commit renames to
    * `maskName(data, seq)`). */
  def write(fs: FileSystem, p: Path, m: Mask): Unit = {
    val out = fs.create(p, true)
    try out.write(toBytes(m)) finally out.close()
  }
}
