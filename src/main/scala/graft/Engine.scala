package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade: everything a user of the reference engine
  * (read_vortex / COPY TO vortex + the DuckDB relational surface) plus
  * the training-data pipeline operators, in one import.
  *
  * {{{
  * import graft.Engine
  * val e = Engine(spark)
  * e.readVortex("/data/docs")                      // ≙ read_vortex(...)
  * e.writeVortex(df, "/data/out")                  // ≙ COPY ... (FORMAT VORTEX)
  * e.dedupExact(docs, "text")
  * e.nearDupCandidates(docs, "doc_id", "text")     // MinHash + LSH
  * e.textQuality(docs, "doc_id", "text")
  * }}}
  */
final case class Engine(spark: SparkSession) {
  import spark.implicits._

  // ---- storage (≙ the reference's whole own surface) -------------------
  def readVortex(path: String): DataFrame =
    spark.read.format("vortex").load(path)

  def writeVortex(df: DataFrame, path: String, overwrite: Boolean = true,
                  partitionBy: Seq[String] = Seq.empty,
                  timestampUnits: Map[String, String] = Map.empty): Unit = {
    var w = df.write.format("vortex").mode(if (overwrite) "overwrite" else "append")
    if (partitionBy.nonEmpty) w = w.option("partitionBy", partitionBy.mkString(","))
    if (timestampUnits.nonEmpty)
      w = w.option("timestampUnits", timestampUnits.map { case (k, u) => s"$k=$u" }.mkString(","))
    w.save(path)
  }

  /** Bulk ingest (≙ DuckDB `COPY table TO 'f.vortex'`): when the plan
    * is a bare columnar scan, feeds its ColumnarBatches straight into
    * the chunk encoder — no row conversion, no per-row writer calls;
    * otherwise identical to [[writeVortex]]. Same commit protocol,
    * layout, and stats manifest either way. */
  def copyToVortex(df: DataFrame, path: String, overwrite: Boolean = true,
                   chunkRows: Int = sources.vortex.VortexFormat.DefaultChunkRows): Unit =
    sources.vortex.VortexBulkCopy.copy(df, path, chunkRows, overwrite)

  def readVortexStream(path: String): DataFrame =
    spark.readStream.format("vortex").load(path)

  /** Compact a directory of small vortex files (e.g. streaming-sink
    * epochs) into ~128 MB files — the standard antidote to small-files
    * accumulation. Runs [[sources.vortex.VortexMaintenance.compact]]:
    * under the dataset's maintenance lease, through its commit log and
    * stats manifests, with deletion-vector masks folded first. */
  def compactVortex(path: String): sources.vortex.VortexMaintenance.CompactResult =
    sources.vortex.VortexMaintenance.compact(spark, path)

  /** Row-level `DELETE FROM <dataset> WHERE predicate` — the
    * corpus-purge / GDPR-delete primitive: only files whose stats
    * admit a match are opened, all-match files drop whole, partial
    * files rewrite their survivors through the exactly-once commit
    * (see [[sources.vortex.VortexDelete]]; SQL surface:
    * `DELETE FROM vtx.\`/path\` WHERE …` via the catalog). */
  def deleteVortex(path: String, predicate: Column): sources.vortex.VortexDelete.DeleteResult =
    sources.vortex.VortexDelete.delete(spark, path, predicate)

  /** Atomic multi-statement group over the declared vortex datasets
    * (≙ BEGIN/COMMIT, which the reference inherits from its host DB):
    * every maintenance statement and append inside `body` that touches
    * a declared dataset commits as ONE commit-log generation at the
    * group close — `DELETE FROM corpus` + `INSERT INTO tombstones`
    * either fully lands or fully disappears. A body failure rolls back
    * immediately; a process crash rolls back at the next writer. A
    * reader pinned to the pre-group generation sees the complete
    * BEFORE state mid-group. Contract bounds (plain mid-group reads,
    * out-of-band appends) in FORMAT.md and
    * [[sources.vortex.VortexTransaction]]. */
  def withTransaction[T](paths: String*)(body: => T): T =
    sources.vortex.VortexTransaction.run(spark, paths)(body)

  /** Delete stale `.…inprogress` tmp files older than `ttlMs` (crashed
    * writers, zombie speculative attempts) — invisible to reads but
    * storage-accumulating. Returns files deleted. */
  def vacuumVortex(path: String,
                   ttlMs: Long = sources.vortex.VortexMaintenance.DefaultVacuumTtlMs): Int =
    sources.vortex.VortexMaintenance.vacuum(spark, path, ttlMs)

  // ---- dedup -----------------------------------------------------------
  /** exact content dedup: keep one row per distinct value of `col` */
  def dedupExact(df: DataFrame, col: String): DataFrame = df.dropDuplicates(col)

  /** MinHash+LSH candidate pairs over whitespace tokens of `textCol` */
  def nearDupCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    queries.DedupOps.minhashCandidates(spark,
      df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")))

  /** Exact Jaccard-≥-τ near-duplicate pairs over whitespace tokens —
    * distributed prefix-filter self-join with a cost-probed block-join
    * fallback; no driver-side corpus state at any size. */
  def jaccardNearDup(df: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame =
    queries.DedupOps.jaccardDocPairs(spark,
      df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")), tau)

  /** MinHash-LSH candidates verified by exact Jaccard ≥ τ (precision 1,
    * LSH recall) — the full near-dup operation a pipeline runs. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame =
    queries.DedupOps.minhashNearDup(spark,
      df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")), tau)

  /** Incremental near-dup: which docs of `batch` duplicate (exact
    * Jaccard ≥ τ, MinHash-LSH recall) any doc of the standing
    * `corpus` — the daily-ingest shape: no corpus×corpus self-join,
    * work O(corpus + batch + matches). Returns (bid, cid, jac). */
  def dedupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String, tau: Double): DataFrame = {
    def tok(df: DataFrame) = df.select(col(idCol).cast("long").as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    queries.DedupOps.minhashNearDupAgainst(spark, tok(corpus), tok(batch), tau)
  }

  /** Build the stored corpus signature index ("hash the corpus once
    * EVER"): distinct token sets + LSH band keys persisted as vortex
    * datasets under `dir`. Probe with [[dedupAgainstIndex]]. */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
                      dir: String): Unit =
    queries.DedupOps.buildCorpusIndex(spark,
      corpus.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")), dir)

  /** Incremental index update — the daily-ingest APPEND: only
    * `newDocs` are hashed; their sets/bands land as new files, the
    * standing corpus is never re-read or re-hashed. */
  def appendDedupIndex(newDocs: DataFrame, idCol: String, textCol: String,
                       dir: String): Unit =
    queries.DedupOps.appendCorpusIndex(spark,
      newDocs.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")), dir)

  /** Probe a stored index: which docs of `batch` duplicate (exact
    * Jaccard ≥ τ, MinHash-LSH recall) any indexed corpus doc. Only the
    * batch is hashed. Returns (bid, cid, jac). */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                        dir: String, tau: Double): DataFrame =
    queries.DedupOps.minhashNearDupAgainstIndex(spark,
      spark.read.format("vortex").load(s"$dir/sets"),
      spark.read.format("vortex").load(s"$dir/bands"),
      batch.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("w")), tau)

  /** 64-bit SimHash signature per document (typed Aggregator — one
    * pass, map-side partial merge) */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val agg = new functions.SimHashAgg().toColumn
    df.select(col(idCol).cast("long"), explode(array_distinct(split(col(textCol), " "))))
      .as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2).agg(agg.name("sim64"))
      .toDF(idCol, "sim64")
  }

  /** End-to-end near-duplicate clustering: MinHash-LSH candidates,
    * verified by exact Jaccard ≥ τ, connected via 4-round min-label
    * propagation. Returns (doc_id, cluster); cluster = the lowest doc
    * id reachable within 4 hops — identical docs collapse in one.
    *
    * Fault tolerance: the labels frame is corpus-sized, so it is never
    * `localCheckpoint`ed (an unreliable lineage break — one executor
    * loss would make the job unrecoverable instead of recomputable).
    * The expensive part — the MinHash/LSH/verify PAIR pipeline — is
    * `persist(MEMORY_AND_DISK)`ed instead: the propagation rounds,
    * the convergence probe, and the final action make 6+ passes over
    * it, so an evicted block must spill to local disk rather than
    * recompute the whole MinHash/LSH/verify pipeline per pass
    * (MEMORY_ONLY would). Persist is a cache, not a lineage break — a
    * lost executor recomputes from lineage. Dataset caches live in the
    * session CacheManager until an explicit unpersist (the
    * ContextCleaner never reclaims them), so this method materializes
    * the label result eagerly and unpersists the pair cache before
    * returning. The RETURNED frame is itself cached
    * (MEMORY_AND_DISK — two longs per doc); callers keeping it beyond
    * one consumption should `unpersist()` it when done. For very
    * expensive pair pipelines, opt in to a RELIABLE checkpoint
    * (durable-storage, recomputable by re-read) with
    * `reliableCheckpoint = true` after calling
    * `spark.sparkContext.setCheckpointDir(...)`. */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String, tau: Double,
                    reliableCheckpoint: Boolean = false): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("doc_id"))
    val pairs = minhashNearDup(df, idCol, textCol, tau).select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = queries.DedupOps.labelPropagate(docs, pairs, rounds = 4)
    if (reliableCheckpoint) labels = labels.checkpoint(eager = false)
    // pointer-jumping: lbl ← lbl(lbl) three times squares the resolved
    // depth (≈32 hops) so every cluster label is its own root — the
    // invariant dedupNear's keep-the-root rule relies on. Gated on a
    // cheap convergence probe: when every label is already a root
    // (lbl(lbl) == lbl — the common case after 4 propagation rounds on
    // small-diameter duplicate cliques) the 3 self-join shuffles are
    // skipped entirely.
    val rootOf = labels.select(col("doc_id").as("lbl"), col("lbl").as("lbl2"))
    val unresolved = labels.join(rootOf, Seq("lbl"))
      .filter(col("lbl") =!= col("lbl2")).limit(1).count()
    if (unresolved > 0) {
      for (_ <- 1 to 3) {
        labels = labels
          .join(labels.select(col("doc_id").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"))
          .select(col("doc_id"), col("lbl2").as("lbl"))
      }
    }
    val out = labels.select(col("doc_id"), col("lbl").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the labels while the pair cache is hot, then drop
    // the pair cache — otherwise every call leaks a disk-backed copy
    // of the full near-dup pair set until session end
    out.count()
    pairs.unpersist(false)
    out
  }

  /** near-dup REMOVAL: keep one canonical row (lowest id) per cluster.
    * The keep-set (one long per surviving cluster) materializes while
    * the [[dedupClusters]] cache is hot, the cluster cache is released
    * here, and when the keep-set provably fits the driver (size gate —
    * the count is already in hand) it localizes into a broadcast-side
    * relation, leaving ZERO cache residue. Beyond the gate the
    * keep-set stays cached for the join (8 bytes per surviving
    * cluster) — that one entry lives until session end or
    * `spark.catalog.clearCache()`; callers can't release it through
    * the returned joined frame (non-cascading unpersist matches only
    * the exact cached plan). */
  def dedupNear(df: DataFrame, idCol: String, textCol: String, tau: Double,
                maxLocalKeep: Int = 1 << 19): DataFrame = {
    // default gate 512k rows: the localized keep-set becomes driver
    // UnsafeRows + a broadcast hash relation (~tens of MB at the
    // gate), well inside a default driver/executor — a multi-million
    // gate would trade the documented cache residue for driver OOM
    val clusters = dedupClusters(df, idCol, textCol, tau)
    val keepCol = s"__keep_$idCol"
    val keepDs = clusters
      .filter(col("doc_id") === col("cluster"))
      .select(col("doc_id").as(keepCol))
    val cnt = keepDs.count() // reads the clusters cache — one cheap pass
    if (cnt <= maxLocalKeep) {
      val ids = keepDs.as[Long].collect() // bounded by the count proof
      clusters.unpersist(false)
      val keep = spark.createDataset(ids.toSeq).toDF(keepCol)
      df.join(broadcast(keep), col(idCol).cast("long") === col(keepCol))
        .drop(keepCol)
    } else {
      val keep = keepDs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      keep.count()
      clusters.unpersist(false)
      df.join(keep, col(idCol).cast("long") === col(keepCol)).drop(keepCol)
    }
  }

  /** per-document k-function MinHash signature (typed Aggregator) */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int = 16): DataFrame = {
    val agg = new functions.MinHashAgg(k).toColumn
    df.select(col(idCol).cast("long"), explode(array_distinct(split(col(textCol), " "))))
      .as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2).agg(agg.name("sig"))
      .toDF(idCol, "sig")
  }

  // ---- similarity ------------------------------------------------------
  /** brute-force cosine top-k neighbors of `queryIds` (exact fixed-point) */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 queryIds: Set[Long], k: Int): DataFrame = {
    val ds = embeddings.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Seq[Float])]
      .map { case (id, e) =>
        val q = functions.VecFixedPoint.quantize(e)
        (id, q, functions.VecFixedPoint.dot(q, q))
      }
    val bq = spark.sparkContext.broadcast(ds.filter(t => queryIds.contains(t._1)).collect())
    val scored = ds.flatMap { case (id, q, saa) =>
      bq.value.iterator.filter(_._1 != id).map { case (qid, qq, qsaa) =>
        (qid, id, functions.VecFixedPoint.cos(functions.VecFixedPoint.dot(qq, q), qsaa, saa))
      }
    }.toDF("id_q", "id_n", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_q").orderBy(col("cos").desc, col("id_n"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF ANN with a learned coarse quantizer: fixed-point k-means over
    * the corpus (exact, reproducible under any partitioning), then each
    * query probes only its own cluster — the 100 TB path where
    * brute-force scoring is off the table. */
  def cosineTopKIvf(embeddings: DataFrame, idCol: String, vecCol: String,
                    queryIds: Set[Long], k: Int, clusters: Int = 8,
                    refinements: Int = 2): DataFrame = {
    val ds = embeddings.select(col(idCol).cast("long"), lit(0),
        col(vecCol).cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
      .map { case (id, _, e) =>
        val q = functions.VecFixedPoint.quantize(e)
        queries.SimilarityOps.QVec(id, 0, q, functions.VecFixedPoint.dot(q, q))
      }
    val assigned = queries.SimilarityOps.kmeansAssign(spark, ds, clusters, refinements)
    val bq = spark.sparkContext.broadcast(assigned.filter(t => queryIds.contains(t._1)).collect())
    val scored = assigned.flatMap { case (id, kc, q, saa) =>
      bq.value.iterator.filter(t => t._1 != id && t._2 == kc).map { t =>
        (t._1, id, functions.VecFixedPoint.cos(functions.VecFixedPoint.dot(t._3, q), t._4, saa))
      }
    }.toDF("id_q", "id_n", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_q").orderBy(col("cos").desc, col("id_n"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Build a stored IVF ANN index at `dir`: fixed-point k-means
    * centroids + the corpus assignment persisted as a vortex dataset
    * partitioned by cluster (probes plan only probed clusters'
    * directories); centroids ride as a sidecar for appends. */
  def buildAnnIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                    dir: String, clusters: Int = 8, refinements: Int = 2): Unit =
    queries.SimilarityOps.buildIvfIndex(spark,
      annVecs(embeddings, idCol, vecCol), dir, clusters, refinements)

  /** Incremental ANN-index APPEND: new vectors assign to the STORED
    * centroids (one map over the batch) and append into their
    * clusters' partitions — no re-clustering, no corpus re-read. */
  def appendAnnIndex(newEmbeddings: DataFrame, idCol: String, vecCol: String,
                     dir: String): Unit =
    queries.SimilarityOps.appendIvfIndex(spark,
      annVecs(newEmbeddings, idCol, vecCol), dir)

  /** Probe the stored ANN index with a batch of embeddings: each query
    * assigns to its stored centroid and scores ONLY that cluster's
    * partition — top-k neighbors per query id. `excludeIds` (a one-
    * column "id" frame) is removed from the candidate pool BEFORE
    * ranking — the streaming-replay guard. */
  def annSearchIndex(queryEmbeddings: DataFrame, idCol: String, vecCol: String,
                     dir: String, k: Int = 3,
                     excludeIds: Option[DataFrame] = None): DataFrame =
    queries.SimilarityOps.probeIvfIndex(spark,
      annVecs(queryEmbeddings, idCol, vecCol), dir, k, excludeIds)

  private def annVecs(df: DataFrame, idCol: String, vecCol: String)
      : Dataset[queries.SimilarityOps.QVec] =
    df.select(col(idCol).cast("long"), lit(0), col(vecCol).cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
      .map { case (id, _, e) =>
        // the fixed-point k-means kernels (CentroidSumAgg's 64+1
        // accumulator, the centroid sidecar) are 64-wide; a mismatched
        // vector must fail HERE with a named error, not as an
        // ArrayIndexOutOfBounds deep inside a task
        require(e.length == 64,
          s"ANN index requires 64-dim embeddings; id=$id has ${e.length}")
        val q = functions.VecFixedPoint.quantize(e)
        queries.SimilarityOps.QVec(id, 0, q, functions.VecFixedPoint.dot(q, q))
      }

  // ---- text analysis ---------------------------------------------------
  def textQuality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_char"),
      size(split(col(textCol), " ")).cast("long").as("n_word"),
      (regexp_count(col(textCol), lit("\\b(the|a|of|and|to)\\b")).cast("double") /
        size(split(col(textCol), " "))).as("stop_ratio"))

  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val canon = text.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
        (id, functions.Hashing.md5hex(canon))
      }.toDF(idCol, "fp")
  }

  // ---- corpus mixing / coverage (auto-dispatched scale forms) ---------

  /** Catalyst-stats smallness gate (zero jobs) — the same probe
    * ExactPercentile.computeMultiAuto dispatches on: planner row count
    * when known, plan size estimate otherwise. */
  private[graft] def statsSmall(df: DataFrame, maxRows: Long, maxBytes: Long): Boolean = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.map(_ <= BigInt(maxRows)).getOrElse(st.sizeInBytes <= BigInt(maxBytes))
  }

  /** Per-group token-budget prefix: keep each group's `ord`-ordered
    * prefix while the running sum of `value` stays ≤ `budget` (the
    * source-mixing cap of a training run). ONE entry point, two
    * execution forms, dispatched on the stats gate:
    *  - small input → the single grouped window (fewest jobs — the
    *    form the bench rows time);
    *  - large input → PrefixSum.groupedCumSum (buckets×groups
    *    parallelism; a TB-sized dominant group no longer serializes
    *    into one window task).
    * Both proven row-equal (same oracle SQL at the gate; PrefixSumSpec
    * on skewed synthetics). `value` must be integral and non-null,
    * `ord` non-null (groupedCumSum's documented contract). */
  def tokenBudget(df: DataFrame, grp: String, ord: String, value: String,
                  budget: Long, cumName: String = "cum_tok",
                  maxWindowRows: Long = 8000000L,
                  maxWindowBytes: Long = 512L << 20): DataFrame = {
    val cum =
      if (statsSmall(df, maxWindowRows, maxWindowBytes)) {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(grp).orderBy(ord)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn(cumName, sum(col(value).cast("long")).over(w))
      } else operators.PrefixSum.groupedCumSum(df, grp, ord, value, cumName)
    // both forms in the INPUT's column order (groupedCumSum reorders)
    cum.where(col(cumName) <= budget)
      .select((df.columns :+ cumName).map(col).toIndexedSeq: _*)
  }

  /** Head-coverage curve of a `(token, count)` frequency frame:
    * global rank (count desc, token asc), cumulative count, and
    * cumulative share. Same dispatch: a small vocab runs the single
    * global window; a 10M-type vocab routes through
    * PrefixSum.rankedCumSumDesc (bucketed, no one-task window). */
  def vocabCoverage(counts: DataFrame, tokCol: String, countCol: String,
                    maxWindowRows: Long = 4000000L,
                    maxWindowBytes: Long = 256L << 20): DataFrame = {
    if (statsSmall(counts, maxWindowRows, maxWindowBytes)) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(desc(countCol), asc(tokCol))
      counts
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum",
          sum(countCol).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(countCol).over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("cum_share", col("cum").cast("double") / col("total"))
        .select(col("rk"), col(tokCol), col(countCol), col("cum_share"))
    } else {
      val total = counts.agg(sum(countCol).cast("long")).as[Long].head()
      operators.PrefixSum.rankedCumSumDesc(counts, countCol, tokCol, countCol, "rk", "cum")
        .withColumn("cum_share", col("cum").cast("double") / lit(total))
        .select(col("rk"), col(tokCol), col(countCol), col("cum_share"))
    }
  }

  // ---- streaming -------------------------------------------------------
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    streaming.EventPipelines.windowedAgg(events, watermark)

  /** streaming content dedup: one surviving row per canonicalized text
    * within the watermark horizon (state = one digest per distinct doc) */
  def dedupContentStream(docs: DataFrame, textCol: String, tsCol: String,
                         watermark: String = "1 hour"): DataFrame =
    streaming.EventPipelines.dedupContent(docs, textCol, tsCol, watermark)

  def sessionize(events: Dataset[streaming.EventPipelines.Event], gapMinutes: Int = 30)
      : Dataset[streaming.EventPipelines.Session] =
    streaming.EventPipelines.sessionize(events, gapMinutes)
}
