package graft.sources.vortex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Offline small-file compaction for vortex datasets — the maintenance
  * half of a streaming/appending table's lifecycle: per-epoch sink
  * files and per-task append shards accumulate until listings, footer
  * reads, and task scheduling are dominated by file COUNT rather than
  * bytes (at 100 TB, millions of 1 MB files would mean millions of
  * splits). `compact` rewrites each layout directory's small files
  * into ~targetBytes files.
  *
  * Scale design: batches are built driver-side from the listing (no
  * data read), then rewritten DISTRIBUTED — one task per output file.
  * The rewrite is a chunk-level BYTE COPY: encoded column pages move
  * verbatim (offset-rebased), so compaction never decodes, re-encodes,
  * or re-compresses — cost is pure sequential I/O. Partition and
  * `__bucket=k` layout are preserved by construction (batches never
  * cross a directory). The per-job stats manifest is extended with the
  * new files — inheriting writer-exact SUMs (exact sum of source sums)
  * and bloom filters (OR-union, when all sources share one SBBF
  * geometry) from the sources' entries, since a footer cannot
  * reproduce either; entries for absorbed files go stale harmlessly
  * (the scan consults the manifest only for files that still exist).
  *
  * Caveat (documented, inherent to a manifest-less directory format):
  * a reader listing the directory in the instant between a batch's
  * rename-in and its sources' deletes could see a row twice — run
  * compaction when the table has no concurrent readers, as with
  * Hive-style tables.
  */
object VortexMaintenance {

  /** `kernels`: the per-file kernels of the mask fold that runs first */
  final case class CompactResult(dirs: Int, batches: Int,
                                 filesAbsorbed: Int, bytesRewritten: Long,
                                 kernels: Map[String, Int] = Map.empty,
                                 phaseMs: Map[String, Long] = Map.empty)

  val DefaultVacuumTtlMs: Long = 24L * 3600 * 1000

  /** Delete stale `.…inprogress` tmp files older than `ttlMs` —
    * leftovers of crashed writers and zombie speculative attempts.
    * They are dot-hidden (invisible to every read), but on object
    * stores they accumulate storage forever with no other cleanup
    * path. The TTL guards live writers: any attempt still running
    * after the TTL has long been superseded by a retry. Returns the
    * number of files actually deleted. */
  def vacuum(spark: SparkSession, dir: String,
             ttlMs: Long = DefaultVacuumTtlMs): Int = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return 0
    val cutoff = System.currentTimeMillis() - ttlMs
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s))
    val stale = walk(root).filter(s =>
      s.getPath.getName.startsWith(".") &&
      s.getPath.getName.endsWith(".inprogress") &&
      s.getModificationTime < cutoff)
    // count only real deletions: a racing commit/vacuum may have
    // removed (or promoted) the path between listing and delete
    stale.count(s => try fs.delete(s.getPath, false) catch { case _: Exception => false })
  }

  final case class FoldResult(foldedFiles: Int, rowsDropped: Long,
                              kernels: Map[String, Int] = Map.empty)

  /** Fold deletion-vector masks into real rewrites: every masked data
    * file is rewritten without its dead rows (one distributed task per
    * file through the shared row-level pipeline, RowLevelStatement),
    * and its sidecars are removed. Called by [[compact]] first, so the
    * mask tier's read-side cost is paid only between maintenance
    * windows; also callable directly. */
  def foldMasks(spark: SparkSession, dir: String): FoldResult =
    RowLevelStatement.run(spark, dir, "foldMasks")(fold)

  /** [[foldMasks]] body — `st` holds the prologue's committed listing;
    * a crashed fold's `part-fold-` replacement is repaired there like
    * any other statement's. */
  private def fold(st: RowLevelStatement.Statement): FoldResult = {
    val targets = st.listed.map(_._1.getPath.toString)
      .filter(st.maskBind.contains).sorted
    if (targets.isEmpty) FoldResult(0, 0L)
    else {
      st.begin()
      val cands = targets.map(f => st.candidate(f,
        MaintenanceCommit.replacementName("fold", new Path(f).getName),
        maskFile = st.maskBind(f)._1))
      // no clauses: only the mask drops rows
      val outcomes = st.execute(cands, RowLevelStatement.Shape("foldMasks", null, Nil))
      st.commit(outcomes)
      FoldResult(outcomes.length, outcomes.map(_.rowsDeleted).sum,
        RowLevelStatement.kernels(outcomes))
    }
  }

  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): CompactResult =
    compactImpl(spark, dir, targetBytes, minFiles, failAfterBatchCommits = -1)

  /** `failAfterBatchCommits` is a TEST SEAM (≥0: throw after that many
    * per-batch commits), mirroring the delete/update/merge seams. */
  private[graft] def compactImpl(spark: SparkSession, dir: String,
                                 targetBytes: Long,
                                 minFiles: Int,
                                 failAfterBatchCommits: Int): CompactResult = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val rootQ = fs.makeQualified(root).toString

    // writer-vs-writer mutual exclusion (see MaintenanceLock): one
    // lease covers the fold AND the byte-copy — a statement arriving
    // between the two would otherwise see a half-folded dataset.
    // Deletion-vector masks fold into real rewrites FIRST: the chunk
    // byte-copy below moves pages verbatim and must never absorb a
    // masked file (its sidecar names the OLD file — dead rows would
    // resurrect)
    RowLevelStatement.locked(spark, dir, "compact") { ph =>
    val folded = RowLevelStatement.runLocked(spark, dir, "foldMasks", ph)(fold)
    RowLevelStatement.runLocked(spark, dir, "compact", ph) { stmt =>
    // group data files by their layout directory (partition/bucket);
    // defensive re-check: any file still masked (e.g. written by a
    // racing delete) is excluded from byte-copy batches
    val listed = stmt.listed.filterNot(f => stmt.maskBind.contains(f._1.getPath.toString))
    val byDir = listed.groupBy(_._1.getPath.getParent.toString)

    // manifest state BEFORE the rewrite: sources are deleted during
    // compaction, but their (path,len)-validated entries let the new
    // files inherit what a footer can't reproduce — writer-exact SUMs
    // (merged sum = exact sum of source sums), bloom filters (a
    // byte-copied merge's file bloom is EXACTLY the OR of its
    // sources', valid only when every source shares the same SBBF
    // geometry: the block pick depends on block count) and quantile
    // sketches (merged bucket-wise). Any source missing the stat → the
    // stat is dropped, conservatively.
    val preManifest = StatsManifest.read(root, hconf)
    val lenByPath: Map[String, Long] = listed.map { case (st, _) =>
      fs.makeQualified(st.getPath).toString -> st.getLen }.toMap

    // schema key per file: batches never mix schemas, so an EVOLVED
    // dataset (mergeSchema reads) compacts within each schema version
    // instead of failing the whole job at the executor-side schema
    // check. The key is ALWAYS the footer schema JSON — one canonical
    // domain. Mixing manifest-recorded JSON for covered files with
    // footer JSON for uncovered ones would split identical-schema
    // files into separate batches whenever the two serializations
    // differ (e.g. extra StructField metadata recorded at write time),
    // and a manifest entry that disagrees with its footer would put
    // genuinely mismatched files in ONE batch — failing the whole
    // compact job at compactBatch's executor-side require.
    // parallel footer prefetch for every small file: schemaKeyOf would
    // otherwise pay one serial driver RTT per file (same pattern as
    // planning's footer prefetch; reads land in the per-JVM cache)
    locally {
      val smallPaths = listed.map(_._1)
        .filter(_.getLen < targetBytes)
        .map(_.getPath)
      if (smallPaths.length > 1)
        java.util.Arrays.stream(smallPaths.toArray).parallel()
          .forEach(pp => { try { VortexFileReader.readFooter(pp, hconf); () }
                           catch { case _: Exception => } })
    }
    def schemaKeyOf(st: org.apache.hadoop.fs.FileStatus): String = {
      val q = fs.makeQualified(st.getPath).toString
      try VortexFileReader.readFooter(st.getPath, hconf).schema.json
      catch { case _: Exception => s"unreadable:$q" }
    }

    val batches: Seq[(Seq[String], String)] = byDir.toSeq.sortBy(_._1).flatMap { case (_, files) =>
      files.map(_._1).filter(_.getLen < targetBytes)
        .sortBy(_.getPath.getName)
        .groupBy(schemaKeyOf).toSeq.sortBy(_._1)
        .filterNot(_._1.startsWith("unreadable:"))
        .flatMap { case (sk, small) =>
          val out = scala.collection.mutable.ListBuffer[(Seq[String], String)]()
          var cur = scala.collection.mutable.ListBuffer[String]()
          var bytes = 0L
          small.foreach { st =>
            if (bytes + st.getLen > targetBytes && cur.nonEmpty) {
              if (cur.length >= minFiles) out += ((cur.toSeq, sk))
              cur = scala.collection.mutable.ListBuffer[String](); bytes = 0L
            }
            cur += st.getPath.toString; bytes += st.getLen
          }
          if (cur.length >= minFiles) out += ((cur.toSeq, sk))
          out.toSeq
        }
    }
    if (batches.isEmpty) CompactResult(byDir.size, 0, 0, 0L, folded.kernels, stmt.phaseMs)
    else {
    stmt.begin()
    val remover = stmt.remover

    val sconf = new SerializableConfiguration(hconf)
    // tasks are fully NON-DESTRUCTIVE (r12 review fix): each writes its
    // merged file as a dot-hidden tmp and returns (tmp, dstName, bytes,
    // the writer's manifest entry) — nothing renames in until the whole
    // job succeeded, so a partial job failure commits nothing (tmps are
    // vacuum litter)
    val results: Array[(String, String, Long, StatsManifest.FileStats)] = stmt.timed("tasks") {
      spark.sparkContext
        .parallelize(batches.map(_._1), batches.length)
        .map(batch => compactBatch(batch, sconf.value))
        .collect()
    }

    stmt.timed("commit") {
    // driver commit, PER BATCH under a crash marker (the random
    // part-compact names have no source pairing the deterministic-name
    // judgment could use — see MaintenanceCommit's marker contract):
    // marker → rename output in → remove absorbed sources (retiring
    // when time travel is on) → drop marker. A crash at any point
    // repairs exactly at the next statement.
    val markerJob = java.util.UUID.randomUUID().toString.take(8)
    val retireDirQ = stmt.generation.map(g =>
      fs.makeQualified(VortexCommitLog.retiredDir(root, g)).toString)
      .getOrElse("")
    def dstOf(batch: Seq[String], dstName: String) = new Path(new Path(batch.head).getParent, dstName)
    batches.zip(results).zipWithIndex.foreach {
      case (((batch, _), (tmp, dstName, _, _)), bi) =>
        if (failAfterBatchCommits >= 0 && bi >= failAfterBatchCommits)
          throw new RuntimeException(
            s"vortex compact: injected crash after $failAfterBatchCommits batch commits (test seam)")
        val dst = dstOf(batch, dstName)
        val marker = MaintenanceCommit.writeCompactMarker(fs, root,
          s"$markerJob-$bi", MaintenanceCommit.CompactCommit(
            stmt.relOf(dst), batch.map(f => stmt.relOf(new Path(f))), retireDirQ))
        if (!fs.rename(new Path(tmp), dst))
          throw new java.io.IOException(s"vortex compact: rename failed for $dst")
        batch.foreach { f =>
          if (!remover.remove(fs, new Path(f)))
            throw new java.io.IOException(s"vortex compact: failed to remove absorbed $f")
        }
        fs.delete(marker, false)
    }

    /** per column, what the compacted file of `batch` inherits from
      * its sources' entries: the exact sum, the OR-ed bloom and the
      * merged sketch — each only when every source carries it */
    def inherited(batch: Seq[String]): Map[String, StatsManifest.ColStats] = {
      val srcEntries = batch.map { f =>
        val q = fs.makeQualified(new Path(f)).toString
        preManifest.get(q.stripPrefix(rootQ).stripPrefix("/"))
          .filter(e => lenByPath.get(q).contains(e.len))
      }
      if (srcEntries.exists(_.isEmpty)) return Map.empty
      val es = srcEntries.map(_.get)
      def every[T](cn: String, stat: StatsManifest.ColStats => Option[T]): Option[Seq[T]] = {
        val vs = es.map(_.cols.find(_.name == cn).flatMap(stat))
        if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
      }
      es.head.cols.map { c =>
        val cn = c.name
        val sum = every(cn, _.sum).flatMap(ss =>
          try Some(ss.reduce(Math.addExact(_, _))) catch { case _: ArithmeticException => None })
        val bloom = every(cn, _.bloom).filter(_.map(_.length).distinct.size == 1).map { arrs =>
          val acc = arrs.head.clone()
          arrs.tail.foreach { a =>
            var i = 0
            while (i < acc.length) { acc(i) = (acc(i) | a(i)).toByte; i += 1 }
          }
          acc
        }
        // bucket-wise count addition: the merge IS the sketch of the union
        val sketch = every(cn, _.sketch.flatMap(QuantileSketch.fromBytes))
          .filter(_.map(_.prefixBits).distinct.size == 1)
          .map(_.reduce[QuantileSketch](_ merge _).toBytes)
        cn -> c.copy(sum = sum, bloom = bloom, sketch = sketch)
      }.toMap
    }
    // extend the stats manifest with the new files (tier-1.5 pruning):
    // each writer's entry — every column blind, so no sum, bloom or
    // sketch — plus what its sources' entries let it inherit
    MaintenanceCommit.writeManifests(root, hconf, "compact",
      batches.zip(results).map { case ((batch, sk), (_, dstName, _, entry)) =>
        val inh = inherited(batch)
        (sk, entry.copy(relPath = stmt.relOf(dstOf(batch, dstName)), cols = entry.cols.map(c =>
          inh.get(c.name).fold(c)(i => c.copy(sum = i.sum, bloom = i.bloom, sketch = i.sketch)))))
      })
    } // commit

    CompactResult(byDir.size, batches.length,
      batches.map(_._1.length).sum, results.map(_._3).sum, folded.kernels, stmt.phaseMs)
    } // batches.nonEmpty
    } // RowLevelStatement.runLocked
    } // RowLevelStatement.locked
  }

  /** Reclaim time-travel storage: drop commit-log generations (and
    * their retired file areas) older than the newest `keepLast`.
    * Expired generations fail loudly on read. */
  def expireVersions(spark: SparkSession, dir: String, keepLast: Int): (Int, Int) = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    // not inside a transaction group: expiry deletes exactly the
    // generations + retired files a group rollback would restore from
    require(VortexTransaction.current(fs.makeQualified(root).toString).isEmpty,
      "vortex expireVersions: not allowed inside a transaction group — " +
      "the group's rollback depends on the retained generations")
    MaintenanceLock.withLock(fs, root, "expireVersions") {
      VortexCommitLog.expire(fs, root, keepLast)
    }
  }

  /** Merge one batch into one file by chunk byte-copy; returns
    * (tmp path, destination basename, bytes copied, the writer's
    * manifest entry) — NON-DESTRUCTIVE: the driver renames in under
    * the marker protocol. Runs on an executor. */
  private def compactBatch(batch: Seq[String], conf: org.apache.hadoop.conf.Configuration)
      : (String, String, Long, StatsManifest.FileStats) = {
    val first = new Path(batch.head)
    val fs = first.getFileSystem(conf)
    val parent = first.getParent
    val id = java.util.UUID.randomUUID().toString.take(12)
    val name = s"part-compact-$id.vortex"
    val tmp = new Path(parent, s".$name.inprogress")

    val footers = batch.map(f => new Path(f) -> VortexFileReader.readFooter(new Path(f), conf))
    val schemaJson = footers.head._2.schema.json
    footers.foreach { case (p, f) =>
      require(f.schema.json == schemaJson,
        s"vortex compact: schema mismatch between ${batch.head} and $p")
    }

    val w = new VortexFileWriter(tmp, conf, footers.head._2.schema)
    var copied: Long = 0
    footers.foreach { case (p, footer) =>
      val in = fs.open(p)
      try footer.chunks.foreach { chunk =>
        val raw = chunk.columns.map { m =>
          val buf = new Array[Byte](m.length)
          in.readFully(m.offset, buf)
          copied += m.length
          buf
        }
        w.writeChunk(chunk.rowCount, raw, chunk.columns, null, null)
      } finally in.close()
    }
    val entry = w.close()

    // no rename here: the driver commits batch-by-batch under the
    // crash-marker protocol (see MaintenanceCommit's marker contract)
    (tmp.toString, name, copied, entry)
  }
}
