package graft.sources.vortex

import java.io.IOException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Job-level commit shared by the DSv2 write path (VortexBatchWrite)
  * and the columnar bulk-copy path (VortexBulkCopy): delete replaced
  * files, record the writers' manifest entries in one stats manifest,
  * maintain the bucket-spec marker. One implementation so both paths
  * produce identical dataset layouts and pruning metadata. */
object VortexCommitOps {

  def commitJob(dir: String, hconf: Configuration, jobId: String,
                messages: Seq[VortexCommit], schema: StructType,
                truncate: Boolean, preExisting: Seq[String],
                partitionCols: Seq[String],
                bucketSpec: Option[(String, Int)]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val written = messages.flatMap(_.files(dir))
      .map(f => fs.makeQualified(f).toString).toSet
    preExisting.filterNot(written.contains).foreach(f => fs.delete(new Path(f), false))
    if (truncate) StatsManifest.delete(root, hconf) // stale stats go with the data
    // pruning tier 1.5: every committed file's entry, as its writer
    // built it (footer stats, exact length, sums, blooms, sketches),
    // in one manifest per commit job (see StatsManifest)
    StatsManifest.write(root, hconf, jobId, messages.flatMap(_.entries).sortBy(_.relPath),
      Some(StructType(schema.fields.filterNot(f => partitionCols.contains(f.name)))))
    bucketSpec match {
      case Some((k, n)) => BucketSpecFile.write(root, hconf, k, n)
      case None if truncate => BucketSpecFile.delete(root, hconf)
      case None =>
    }
  }
}

/** COPY-style bulk ingest: write a DataFrame to a vortex dataset by
  * feeding the scan's ColumnarBatches straight into the chunk encoder
  * (VortexFileWriter.writeBatch) — no ColumnarToRow conversion, no
  * per-row writer calls. This is the Spark-side counterpart of the
  * reference sink being fed vectorized DataChunks by DuckDB's COPY
  * (`/root/reference/src/vortex_extension.cpp:9-15`): DSv2 DataWriters
  * only ever see InternalRow, so the vectorized hand-off needs its own
  * entry point.
  *
  * Applies only when the plan is row-conversion-only above a columnar
  * source (a bare scan, possibly with columnar-pruned projection —
  * the common shape of an ingest/convert job). Anything else — casts,
  * filters with row fallbacks, aggregates — transparently falls back
  * to the DSv2 row path with identical results and dataset layout:
  * same file format, commit protocol, stats manifest, and SUM-pushdown
  * sums (spec-asserted byte-identical files).
  *
  * Scale note: one output file per input split, driver-side rename
  * and manifest commit of the entries the tasks return — O(files)
  * driver work, like the DSv2 path; nothing here collects data.
  */
object VortexBulkCopy {

  /** The columnar child feeding the plan's final row conversion, if
    * every node above it is conversion/codegen plumbing only. */
  def columnarSource(plan: SparkPlan): Option[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => columnarSource(a.executedPlan)
    case w: WholeStageCodegenExec => columnarSource(w.child)
    case i: InputAdapter => columnarSource(i.child)
    case c: ColumnarToRowExec =>
      if (c.child.supportsColumnar) Some(c.child) else None
    case p if p.supportsColumnar => Some(p)
    case _ => None
  }

  /** True if `copy` would take the vectorized path for this frame. */
  def isColumnar(df: DataFrame): Boolean =
    columnarSource(df.queryExecution.executedPlan).isDefined

  def copy(df: DataFrame, dir: String, chunkRows: Int = VortexFormat.DefaultChunkRows,
           overwrite: Boolean = true, bloomCols: Set[String] = Set.empty): Unit = {
    // validate here so the outcome does not depend on which path the
    // plan shape selects (the DSv2 fallback throws the same errors in
    // newWriteBuilder; the columnar writer would silently skip them)
    bloomCols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"vortex: bloomFilters column $c not in schema"))
      require(Sbbf.supports(f.dataType),
        s"vortex: bloomFilters unsupported for ${f.dataType.simpleString} column $c")
    }
    columnarSource(df.queryExecution.executedPlan) match {
      case Some(colPlan) => runColumnar(df, colPlan, dir, chunkRows, overwrite, bloomCols)
      case None =>
        val w = df.write.format("vortex").option("chunkRows", chunkRows.toString)
        val wb = if (bloomCols.isEmpty) w
                 else w.option("bloomFilters", bloomCols.mkString(","))
        wb.mode(if (overwrite) "overwrite" else "append").save(dir)
    }
  }

  private def runColumnar(df: DataFrame, colPlan: SparkPlan, dir: String,
                          chunkRows: Int, overwrite: Boolean,
                          bloomCols: Set[String] = Set.empty): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val schema = df.schema
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    if (!overwrite) {
      // append into a bucketed layout would break its co-location
      // guarantees silently — same guard as the DSv2 path
      BucketSpecFile.read(root, hconf).foreach { old =>
        throw new IllegalArgumentException(
          s"vortex: dataset at $dir is bucketed by ${old._1}; bulk copy cannot append to it")
      }
    }
    val preExisting: Seq[String] =
      if (overwrite && fs.exists(root))
        PartitionedLayout.listWithPartitions(root, hconf)
          .map { case (st, _) => fs.makeQualified(st.getPath).toString }
      else Seq.empty
    if (!fs.exists(root)) fs.mkdirs(root)
    val jobId = java.util.UUID.randomUUID().toString.take(8)
    val sconf = new SerializableConfiguration(hconf)
    // Tasks only ever write their dot-hidden `.…inprogress` file and
    // return its FINAL name in the commit message — they never rename.
    // The driver promotes exactly the files claimed by returned
    // (winning) messages, so a speculative/retried attempt that
    // finishes after its sibling leaves at most an invisible tmp file,
    // never a readable duplicate — exactly-once on disk without the
    // commit coordinator (whose API is private to Spark). Driver-side
    // rename is O(files this job wrote), as is the manifest commit.
    val taskMessages = colPlan.executeColumnar().mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        // taskAttemptId in the name: a retried/speculated attempt can
        // never collide with its sibling's tmp file
        val tid = org.apache.spark.TaskContext.get().taskAttemptId()
        val name = f"part-$pid%05d-$jobId-$tid.vortex"
        val file = new Path(dir, name)
        val tmp = new Path(dir, s".$name.inprogress")
        val w = new VortexFileWriter(tmp, sconf.value, schema, chunkRows, bloomCols)
        try {
          while (it.hasNext) w.writeBatch(it.next())
          Iterator.single(VortexCommit(Seq(w.close().copy(relPath = name))))
        } catch {
          case e: Throwable =>
            try { w.close() } catch { case _: Exception => }
            try { file.getFileSystem(sconf.value).delete(tmp, false) }
            catch { case _: Exception => }
            throw e
        }
      }
    }.collect().toSeq
    // Any failure during PROMOTION must not leave visible orphans:
    // already-promoted `part-…-$jobId-…` files have no manifest entry
    // and no other cleanup path (vacuum only sweeps dot-hidden tmp
    // files), and under overwrite a reader in that window would see
    // old committed files mixed with the new ones. Best-effort demote
    // this job's visible files, then rethrow. The cleanup scope ends
    // BEFORE commitJob: once commitJob starts it may have deleted the
    // preExisting files (truncate), and deleting the new files too on
    // a late commit-metadata failure would leave the directory with
    // NEITHER generation — readers survive a missing manifest via the
    // footer fallback, so the new files must stay.
    def cleanupPromoted(): Unit =
      try {
        if (fs.exists(root))
          fs.listStatus(root)
            .filter { s =>
              val n = s.getPath.getName
              n.startsWith("part-") && n.contains(s"-$jobId-") && n.endsWith(".vortex")
            }
            .foreach(s => try { fs.delete(s.getPath, false); () }
                          catch { case _: Exception => () })
      } catch { case _: Exception => () }
    val committedMessages = try {
    // parallel promotion: object stores implement rename as COPY+DELETE
    // (one round trip per file) — serial renames would make commit
    // latency O(files · RTT) at large file counts
    val renameFailed = new java.util.concurrent.atomic.AtomicReference[String](null)
    java.util.Arrays.stream(taskMessages.flatMap(_.files(dir)).toArray).parallel().forEach { p =>
      val tmp = new Path(p.getParent, s".${p.getName}.inprogress")
      if (!p.getFileSystem(hconf).rename(tmp, p)) renameFailed.compareAndSet(null, p.toString)
    }
    if (renameFailed.get != null)
      throw new IOException(s"vortex: rename failed for ${renameFailed.get}")
    // losing attempts that completed their tmp write but weren't the
    // returned message leave dot-hidden files; sweep this job's.
    // (A zombie still mid-write re-creates its tmp after the sweep —
    // harmless: dot-prefixed names are excluded from every listing.)
    if (fs.exists(root))
      fs.listStatus(root)
        .filter { s =>
          val n = s.getPath.getName
          n.startsWith(".part-") && n.contains(s"-$jobId-") && n.endsWith(".inprogress")
        }
        .foreach(s => fs.delete(s.getPath, false))
    // empty input must still produce a readable dataset: the DSv2 row
    // path opens a DataWriter per partition and commits footer-only
    // files, so reads of its empty dataset return 0 rows — mirror that
    // with one driver-written footer-only file.
    val messages =
      if (taskMessages.exists(_.entries.nonEmpty)) taskMessages
      else {
        // same tmp-then-promote discipline as the task files: a failed
        // driver write must never leave a visible corrupt file
        val name = f"part-00000-$jobId-driver.vortex"
        val p = new Path(dir, name)
        val tmp = new Path(dir, s".$name.inprogress")
        val entry =
          try new VortexFileWriter(tmp, hconf, schema, chunkRows, bloomCols).close()
          catch { case e: Throwable =>
            try { fs.delete(tmp, false) } catch { case _: Exception => }
            throw e
          }
        if (!fs.rename(tmp, p))
          throw new IOException(s"vortex: rename failed for $p")
        Seq(VortexCommit(Seq(entry.copy(relPath = name))))
      }
    messages
    } catch { case e: Throwable => cleanupPromoted(); throw e }
    try
      VortexCommitOps.commitJob(dir, hconf, jobId, committedMessages, schema,
        truncate = overwrite, preExisting = preExisting,
        partitionCols = Seq.empty, bucketSpec = None)
    catch { case e: Throwable =>
      // commitJob's FIRST action deletes the preExisting generation.
      // If that provably never started (every old file still present —
      // trivially true for a FRESH write, where the exact old state is
      // an empty directory and restoring it means deleting the new
      // files), demoting this job's files restores the exact old state
      // — atomic overwrite for early commit failures. Once ANY old
      // file is gone the new files must STAY: readers fall back to
      // footers, and deleting them would leave NEITHER generation.
      val oldIntact = preExisting.forall(p =>
        try fs.exists(new Path(p)) catch { case _: Exception => false })
      if (oldIntact) cleanupPromoted()
      throw e
    }
  }
}
