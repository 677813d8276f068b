package graft.sources.vortex

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for the `vortex` format (SURVEY.md §7 M3/M4):
  * `spark.read.format("vortex").load(p)` ≙ the reference's
  * `read_vortex(p)` (README.md:76) and
  * `df.write.format("vortex").save(p)` ≙ `COPY ... (FORMAT VORTEX)`
  * (README.md:63-69).
  *
  * Scale design: schema + chunk index come from per-file footers
  * (driver reads footers only); one InputPartition covers a run of
  * consecutive chunks of at most ~128 MB, and a scan smaller than
  * cores × 128 MB splits by rows across every core; filters prune
  * whole chunks via footer stats before any page I/O; executors cache
  * footers per JVM.
  */
class VortexDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vortex"

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // Spark encodes multi-path loads as a JSON array string; a real
      // JSON parse keeps paths containing commas/quotes intact
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      if (node != null && node.isArray) (0 until node.size()).map(node.get(_).asText())
      else Seq.empty
    }
    single ++ multi
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    VortexDataSource.tableSchema(paths(options), VortexDataSource.listAll(paths(options), conf),
      conf, Option(options.get("mergeschema")).exists(_.toBoolean))._1
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VortexTable(schema, paths(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = true
}

/** A file in a multi-file vortex dataset declares a footer schema that
  * differs from the table schema (inferred from the first file, or
  * user-supplied) — failing planning by name beats decoding garbage. */
class VortexSchemaDriftException(msg: String) extends IllegalStateException(msg)

object VortexDataSource {
  /** Expand user paths (glob patterns, dirs incl. partitioned
    * subtrees, plain files) to data files + partition path values. */
  def listAll(raw: Seq[String], conf: org.apache.hadoop.conf.Configuration)
      : Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])] =
    listAllWithMasks(raw, conf)._1

  /** [[listAll]] plus deletion-vector binding: data-file path →
    * (newest mask sidecar path, all mask paths), collected during the
    * same directory walk (zero extra I/O — see DeletionVector). */
  def listAllWithMasks(raw: Seq[String], conf: org.apache.hadoop.conf.Configuration)
      : (Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])],
         Map[String, (String, Seq[String])]) =
    listAllWithMasks(raw, conf, consistent = true)

  /** `consistent = false` returns the RAW listing — maintenance ops
    * need it to SEE the stale pairs their pre-planning repair removes;
    * every read path takes the default consistent view. */
  def listAllWithMasks(raw: Seq[String], conf: org.apache.hadoop.conf.Configuration,
                       consistent: Boolean)
      : (Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])],
         Map[String, (String, Seq[String])]) = {
    val walked = raw.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.map(st => PartitionedLayout.listWithPartitionsMasksAndMarkers(st.getPath, conf))
    }
    val masks = DeletionVector.bind(walked.flatMap(_._2))
    val files = walked.flatMap(_._1).sortBy(_._1.getPath.toString)
    if (!consistent) return (files, masks)
    val view = consistentView(files, masks)
    val markers = walked.flatMap(_._3)
    if (markers.isEmpty) (view, masks)
    else {
      // a crashed compact's commit marker: output renamed in but the
      // absorbed sources not yet removed → BOTH live in the raw listing
      // (random part-compact names defeat the deterministic-name pair
      // test above). Apply the repair's judgment NON-destructively at
      // plan time: output present → exclude its absorbed sources;
      // output absent → nothing renamed, sources are the truth
      // (review-found r12 — plain readers on a read-mostly dataset
      // otherwise serve duplicated rows until some later maintenance
      // statement happens to run).
      val present = view.map(_._1.getPath.toString).toSet
      val excluded: Set[String] = markers.flatMap { mp =>
        val fs = mp.getFileSystem(conf)
        val root = mp.getParent
        MaintenanceCommit.readCompactMarker(fs, mp).toSeq.flatMap { c =>
          val outQ = fs.makeQualified(new Path(root, c.outRel)).toString
          if (present.contains(outQ))
            c.srcRels.map(rel => fs.makeQualified(new Path(root, rel)).toString)
          else Seq.empty
        }
      }.toSet
      (view.filterNot(g => excluded.contains(g._1.getPath.toString)), masks)
    }
  }

  private val UpdvName = "^part-updv-([0-9a-f]{16})-(\\d+)\\.vortex$".r

  /** Per-file read consistency over in-flight maintenance commits —
    * the read-side half of the deterministic-name contract. A listing
    * captured mid-commit can hold BOTH a source file and its committed
    * replacement (`part-{delete|update|merge|fold}-<md5(source)>`), or
    * an UPDATE's appended updv file whose paired mask has not renamed
    * in yet (`part-updv-<md5(source)>-<seq>` with seq beyond the
    * source's newest mask): both would serve surviving rows twice.
    * The view resolves every such pair to its BEFORE state by
    * excluding the replacement/orphan — the same judgment the
    * maintenance repair makes destructively, applied non-destructively
    * at plan time. This makes READS per-file before-or-after
    * consistent under concurrent maintenance; cross-FILE statement
    * atomicity still requires quiescing (a directory format has no
    * commit log to pin a statement boundary — documented contract). */
  def consistentView(
      files: Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])],
      maskBind: Map[String, (String, Seq[String])])
      : Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])] = {
    val prefixes = Seq("part-delete-", "part-update-", "part-merge-", "part-fold-")
    files.groupBy(_._1.getPath.getParent.toString).values.flatMap { group =>
      // md5-name hash of every file in this directory → the pair tests
      lazy val hashes: Map[String, Path] = group.map { g =>
        VortexDelete.replacementName(g._1.getPath.getName)
          .stripPrefix("part-delete-").stripSuffix(".vortex") -> g._1.getPath
      }.toMap
      def newestSeq(p: Path): Int =
        maskBind.get(p.toString).map(_._2.flatMap(m =>
          DeletionVector.parseName(new Path(m).getName).map(_._2))
          .foldLeft(0)(math.max)).getOrElse(0)
      group.filter { g =>
        val n = g._1.getPath.getName
        n match {
          case UpdvName(h, s) =>
            // orphaned append half of a crashed UPDATE: exclude
            hashes.get(h).forall(src => s.toInt <= newestSeq(src))
          case _ =>
            // replacement whose source still exists: the source's
            // delete has not committed — the pair is mid-commit (or a
            // crashed statement awaiting repair); the source is truth
            !prefixes.exists(pre => n.startsWith(pre) && n.endsWith(".vortex") && {
              val h = n.stripPrefix(pre).stripSuffix(".vortex")
              hashes.get(h).exists(_.getName != n)
            })
        }
      }
    }.toSeq.sortBy(_._1.getPath.toString)
  }

  def expand(raw: Seq[String], conf: org.apache.hadoop.conf.Configuration): Seq[Path] =
    listAll(raw, conf).map(_._1.getPath)

  /** The table schema of `listed`, the files under `raws`, and the
    * names of its partition columns — inferSchema's rules, which a
    * row-level statement applies to the listing it already holds:
    *  - the file schema is the manifest-held one (zero footer I/O;
    *    planning's drift guard still validates any file the manifest
    *    does not cover), else the first file's footer, or under
    *    `mergeSchema` the by-name union of every file's
    *    ([[mergedSchema]]);
    *  - then come the partition columns the paths carry
    *    ([[withPartitions]]);
    *  - a DELETE can legitimately empty the dataset (every file dropped
    *    whole) while the directory and its manifests remain: the table
    *    still exists with zero rows, and a later statement referencing
    *    it must resolve (fuzz-found r12) — [[manifestRecoveredSchema]].
    *    Only a dataset with neither files nor a manifest is "no files
    *    found". */
  def tableSchema(raws: Seq[String],
                  listed: Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])],
                  conf: org.apache.hadoop.conf.Configuration,
                  mergeSchema: Boolean): (StructType, Seq[String]) =
    if (listed.isEmpty)
      manifestRecoveredSchema(raws, conf).getOrElse(throw new IllegalArgumentException(
        s"vortex: no files found for ${raws.mkString(",")}"))
    else withPartitions(
      if (mergeSchema) mergedSchema(raws, listed, conf)
      else manifestSchema(raws, conf).getOrElse(
        VortexFileReader.readFooter(listed.head._1.getPath, conf).schema),
      listed)

  /** the schema the first readable stats manifest of `raws` recorded */
  private def manifestSchema(raws: Seq[String],
                             conf: org.apache.hadoop.conf.Configuration): Option[StructType] =
    raws.iterator.flatMap { raw =>
      try StatsManifest.rootOf(raw, conf).flatMap(p => StatsManifest.readAll(p, conf)._1)
      catch { case _: Exception => None }
    }.nextOption()

  /** `fileSchema` plus the partition columns whose `col=value` segments
    * `files`' paths carry and that it does not store, and the names of
    * every such partition column (`__bucket` is layout, never a column) */
  def withPartitions(fileSchema: StructType,
                     files: Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])])
      : (StructType, Seq[String]) = {
    val part = PartitionedLayout.inferPartitionSchema(files).fields
      .filter(_.name != BucketSpecFile.BucketCol)
    (StructType(fileSchema.fields ++ part.filterNot(f => fileSchema.fieldNames.contains(f.name))),
      part.map(_.name).toSeq)
  }

  /** Emptied-dataset schema recovery, shared by [[tableSchema]] and the
    * catalog's empty-generation VERSION AS OF path: file schema from the
    * stats manifests, plus PARTITION columns reconstructed from the
    * manifest entries' relative directory segments — partition columns
    * live only in paths, so dropping them would fail any later
    * reference to a partition column of the purged dataset
    * (review-found r12; the time-travel sibling dropped them,
    * review-found r13). Returns the schema and its partition columns. */
  def manifestRecoveredSchema(raws: Seq[String], conf: org.apache.hadoop.conf.Configuration)
      : Option[(StructType, Seq[String])] =
    manifestSchema(raws, conf).map { fsch =>
      val entryRels = raws.iterator.flatMap { raw =>
        try StatsManifest.rootOf(raw, conf).map(p =>
          StatsManifest.readAll(p, conf)._2.keys.toSeq).getOrElse(Seq.empty)
        catch { case _: Exception => Seq.empty }
      }.toSeq
      withPartitions(fsch, entryRels.map { rel =>
        (null, rel.split('/').dropRight(1).toSeq.filter(_.contains("=")).map { s =>
          val Array(k, v) = s.split("=", 2)
          k -> PartitionedLayout.unescape(v)
        })
      })
    }

  /** Reader-side type guard: a name matched between the read schema
    * and a file's footer must keep its exact type — defense in depth
    * behind the plan-time drift/evolution checks (a stale plan or a
    * file swapped after planning would otherwise decode garbage). */
  /** required must equal the file type — or be a nested-pruned subset
    * of it (struct children dropped by name, recursively): the read
    * schema under nestedSchemaPruning asks for exactly the accessed
    * children and the decode path honors that shape. */
  private def readCompatible(file: DataType, required: DataType): Boolean =
    (file, required) match {
      case (f: StructType, r: StructType) =>
        r.fields.forall(rf => f.fields.exists(ff =>
          ff.name == rf.name && readCompatible(ff.dataType, rf.dataType)))
      case (ArrayType(fe, _), ArrayType(re, _)) => readCompatible(fe, re)
      case (MapType(fk, fv, _), MapType(rk, rv, _)) =>
        readCompatible(fk, rk) && readCompatible(fv, rv)
      case (f, r) => f == r
    }

  def checkReadType(path: Path, fileField: StructField, required: StructField): Unit =
    if (!readCompatible(fileField.dataType, required.dataType))
      throw new VortexSchemaDriftException(
        s"vortex: column ${required.name} of $path is " +
        s"${fileField.dataType.simpleString}, read expects ${required.dataType.simpleString}")

  /** Where each `required` field of a partition's file comes from:
    * Right(file column, type-checked) or Left(constant) —
    * the partition value, or null for a column a schema-evolved file
    * lacks when `evolution` allows it (a strict read fails instead: the
    * file was swapped after planning — never silent nulls). */
  def readSlots(part: VortexInputPartition, footer: VortexFormat.Footer, required: StructType,
                evolution: Boolean): Array[Either[Any, Int]] = {
    val path = new Path(part.file)
    val partMap = part.partCols.zip(part.partValues).toMap
    required.fields.map { f =>
      footer.schema.fieldNames.indexOf(f.name) match {
        case -1 if partMap.contains(f.name) =>
          Left(PartitionedLayout.toInternal(partMap(f.name), f.dataType))
        case -1 if evolution => Left(null)
        case -1 =>
          throw new VortexSchemaDriftException(
            s"vortex: column ${f.name} absent from $path (strict read)")
        case i =>
          checkReadType(path, footer.schema.fields(i), f)
          Right(i)
      }
    }
  }

  /** Schema-evolution ("mergeSchema") inference: the by-NAME union of
    * every schema present in the dataset — manifest-recorded schemas
    * first (zero footer I/O for covered files), footers only for
    * uncovered files. Field order is first-seen; a name bound to two
    * different types anywhere in the dataset is a loud drift error
    * (evolution adds and drops columns, it never silently retypes). */
  def mergedSchema(roots: Seq[String],
                   listed: Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])],
                   conf: org.apache.hadoop.conf.Configuration): StructType = {
    // entries are trusted only with the same (path, length) validation
    // planning applies: a stale entry (file replaced out-of-band, or
    // deleted) must not shape the union — its file's footer speaks, or
    // nothing does
    val lenByPath: Map[String, Long] =
      listed.map(f => f._1.getPath.toString -> f._1.getLen).toMap
    val entrySchemas: Map[String, StructType] = roots.flatMap { raw =>
      try StatsManifest.rootOf(raw, conf).toSeq.flatMap { p =>
        val fs = p.getFileSystem(conf)
        val rootQ = fs.makeQualified(p).toString
        StatsManifest.readAll(p, conf)._2.values.flatMap { e =>
          val pth = s"$rootQ/${e.relPath}"
          e.manifestSchema match {
            case Some(s) if lenByPath.get(pth).contains(e.len) => Some(pth -> s)
            case _ => None
          }
        }.toSeq
      } catch { case _: Exception => Seq.empty }
    }.toMap
    val uncovered = listed.map(_._1.getPath)
      .filterNot(p => entrySchemas.contains(p.toString))
    // footer prefetch in parallel (per-JVM cache) — uncovered files at
    // large counts would otherwise serialize one RTT each. Prefetch
    // failures are swallowed HERE only so one flaky parallel task
    // doesn't abort its siblings; the sequential pass below re-reads
    // and fails loudly.
    if (uncovered.length > 1)
      java.util.Arrays.stream(uncovered.toArray).parallel()
        .forEach(p => try { VortexFileReader.readFooter(p, conf); () }
                      catch { case _: Exception => () })
    // iterate in LISTED-file order (listAll sorts by path), never in
    // hash-map order: the union's field order is first-seen, and a
    // nondeterministic order would permute df.columns between reads of
    // the same dataset, breaking positional consumers (INSERT SELECT *,
    // union, row.get(i))
    val schemas: Seq[StructType] =
      listed.map(_._1.getPath).map { p =>
        entrySchemas.getOrElse(p.toString, {
          // an unreadable footer must FAIL inference (after one retry
          // for transient I/O), never silently shrink the union — the
          // read would still succeed without this file's columns and
          // an added column would just vanish from results. Matches
          // Spark's parquet mergeSchema, which propagates footer
          // failures.
          try VortexFileReader.readFooter(p, conf).schema
          catch { case _: Exception =>
            try VortexFileReader.readFooter(p, conf).schema
            catch { case e: Exception =>
              throw new java.io.IOException(
                s"vortex mergeSchema: cannot read footer of $p — " +
                "failing inference rather than dropping its columns", e)
            }
          }
        })
      }.distinct
    val merged = new scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      merged.get(f.name) match {
        case None => merged(f.name) = f
        case Some(g) if g.dataType == f.dataType => // keep first (incl. ts-unit metadata)
        case Some(g) => throw new VortexSchemaDriftException(
          s"vortex mergeSchema: column ${f.name} bound to both " +
          s"${g.dataType.simpleString} and ${f.dataType.simpleString}")
      }
    })
    // a column absent from ANY schema reads as null for those files —
    // it MUST surface nullable or Catalyst constant-folds IsNull(c) to
    // false (and downstream code trusts a non-null contract the data
    // does not honor); a column present everywhere keeps the union of
    // the files' nullability
    StructType(merged.values.toSeq.map { f =>
      val everywhere = schemas.forall(_.fieldNames.contains(f.name))
      val anyNullable = schemas.exists(s =>
        s.fieldNames.contains(f.name) && s(f.name).nullable)
      f.copy(nullable = !everywhere || anyNullable)
    })
  }
}

class VortexTable(schema: StructType, paths: Seq[String],
                  tablePartitionCols: Seq[String] = Seq.empty,
                  tableBucketSpec: Option[(String, Int)] = None,
                  // SQL `VERSION AS OF n` (VortexCatalog.loadTable):
                  // every scan of this table instance pins generation n
                  pinnedVersion: Option[Int] = None)
    extends SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String =
    s"vortex ${paths.mkString(",")}" +
      pinnedVersion.map(v => s" VERSION AS OF $v").getOrElse("")

  /** dataset paths, for the SQL DML rules (plans/VortexDmlRules) */
  private[graft] def tablePaths: Seq[String] = paths

  // `DELETE FROM vtx.\`/path\` WHERE …` — Spark's DeleteFromTableExec
  // hands us the condition as source filters; VortexDelete rewrites
  // only the files whose stats say they can hold a match.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    paths.length == 1 && filters.forall(f =>
      VortexDelete.filterToColumn(f).isDefined &&
      VortexDelete.filterRefsTopLevel(f, schema))
  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(pinnedVersion.isEmpty,
      "vortex: DELETE on a VERSION AS OF read is not allowed — time-travel reads are immutable")
    require(canDeleteWhere(filters),
      s"vortex delete: untranslatable condition ${filters.mkString(", ")}")
    val cond = filters.flatMap(VortexDelete.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val spark = SparkSession.active
    // session-level tier switch for the SQL path: point deletes from
    // pure SQL can take the row-mask sidecar tier (DeletionVector)
    // instead of whole-file rewrites
    val dv = spark.conf
      .getOption("spark.graft.vortex.deletionVectors").exists(_.toBoolean)
    VortexDelete.delete(spark, paths.head, cond, deletionVectors = dv)
  }
  override def schema(): StructType = schema

  /** Discovered-or-declared bucket layout (marker file wins the tie:
    * it describes what is actually on disk). */
  lazy val bucketLayout: Option[(String, Int)] =
    (try BucketSpecFile.read(new Path(paths.head),
           SparkSession.active.sessionState.newHadoopConf())
     catch { case _: Exception => None }).orElse(tableBucketSpec)

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    (tablePartitionCols.map(Expressions.identity) ++
      bucketLayout.map { case (k, n) => Expressions.bucket(n, k) }).toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
        TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VortexScanBuilder(schema, paths,
      evolution = Option(options.get("mergeschema")).exists(_.toBoolean),
      // `.option("versionAsOf", n)` pins the scan to commit-log
      // generation n (statement-level snapshot isolation / time travel
      // — see VortexCommitLog); catalog VERSION AS OF pins the table
      versionAsOf = Option(options.get("versionasof")).map(_.toInt)
        .orElse(pinnedVersion))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      "vortex: writing to a VERSION AS OF read is not allowed — time-travel reads are immutable")
    val chunkRows = Option(info.options.get("chunkrows")).map(_.toInt)
      .getOrElse(VortexFormat.DefaultChunkRows)
    val optPartitionCols = Option(info.options.get("partitionby")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val partitionCols =
      if (optPartitionCols.nonEmpty) optPartitionCols else tablePartitionCols
    // "timestampUnits" = "col=ns,col2=s" pins per-column storage units;
    // columns already carrying unit metadata (e.g. a vortex read being
    // written back) keep it, so round trips are unit-faithful.
    val unitOpt = Option(info.options.get("timestampunits")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val Array(k, u) = kv.split("=").map(_.trim)
        require(VortexFormat.validUnit(u), s"vortex: invalid timestamp unit '$u' for $k")
        k -> u
      }.toMap
    val schema = StructType(info.schema().fields.map { f =>
      unitOpt.get(f.name).map(VortexFormat.withTsUnit(f, _)).getOrElse(f)
    })
    // "bucketBy"+"buckets": hash-bucketed layout (bucketBy role) — the
    // co-location lever for joins on NON-partition columns at 100 TB.
    // No explicit option → inherit the table/marker layout, so appends
    // into a bucketed dataset keep bucketing (explicit mismatches
    // still fail fast in VortexBatchWrite).
    val bucketSpec = Option(info.options.get("bucketby")).map { k =>
      val n = Option(info.options.get("buckets")).map(_.toInt)
        .getOrElse(throw new IllegalArgumentException("vortex: bucketBy requires buckets=N"))
      require(n > 0, s"vortex: buckets must be positive, got $n")
      require(schema.fieldNames.contains(k), s"vortex: bucketBy column $k not in schema")
      require(!partitionCols.contains(k), s"vortex: bucketBy column $k is a partition column")
      (k, n)
    }.orElse(bucketLayout.filter { case (k, _) => schema.fieldNames.contains(k) })
    // "bloomFilters" = "col1,col2": per-file SBBF blooms in the commit
    // manifest — plan-time `=`/`IN` file pruning where min/max ranges
    // are useless (high-cardinality unsorted ids). Unsupported-type
    // columns fail fast rather than silently skipping the bloom.
    val bloomCols = Option(info.options.get("bloomfilters")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"vortex: bloomFilters column $c not in schema"))
      require(!partitionCols.contains(c),
        s"vortex: bloomFilters column $c is a partition column (already pruned by path)")
      require(Sbbf.supports(f.dataType),
        s"vortex: bloomFilters unsupported for ${f.dataType.simpleString} column $c")
    }
    val bloomMaxBytes = Option(info.options.get("bloommaxbytes")).map(_.toInt)
      .getOrElse(VortexFormat.DefaultBloomMaxBytes)
    // fail at option parse, not at writer close deep inside a task,
    // after all data was already encoded (64 = the sizing floor
    // Sbbf.forNdv itself applies)
    require(bloomMaxBytes >= 64,
      s"vortex: bloomMaxBytes must be >= 64, got $bloomMaxBytes")
    // "distributionSketches" = "col1,col2": per-file exact-count
    // log-bucketed quantile sketches in the commit manifest (the
    // reference layout tier's ddsketch role — see QuantileSketch);
    // powers metadata-routed exact percentiles (SketchPercentile).
    val sketchCols = Option(info.options.get("distributionsketches")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    sketchCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"vortex: distributionSketches column $c not in schema"))
      require(!partitionCols.contains(c),
        s"vortex: distributionSketches column $c is a partition column")
      require(QuantileSketch.supports(f.dataType),
        s"vortex: distributionSketches unsupported for ${f.dataType.simpleString} column $c")
    }
    new VortexWriteBuilder(schema, paths.head, chunkRows, partitionCols, bucketSpec,
      bloomCols, bloomMaxBytes, sketchCols)
  }
}

/** Bucket layout metadata: `_vortex_bucket.json` at the dataset root
  * records (key column, bucket count, hash) so readers can verify two
  * datasets are co-bucketed before planning a shuffle-free join. The
  * bucket id itself is a derived Hive-style path partition
  * `__bucket=k`, k = pmod(murmur3_32(key, seed 42), n) — identical to
  * Spark's `pmod(hash(col), n)`, so a pre-shuffle on that expression
  * aligns task boundaries with bucket boundaries. */
object BucketSpecFile {
  val BucketCol = "__bucket"
  private val FileName = "_vortex_bucket.json"

  def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(v, dt, 42L).toInt
    ((h % n) + n) % n
  }

  /** Conservative bucket-set inference from pushed filters (top-level
    * filters are AND-ed): Some(set) = only these buckets can hold
    * matching rows; None = no constraint. Equality/IN literals hash to
    * their bucket; range predicates constrain nothing (hash layout). */
  def allowedBuckets(filters: Array[Filter], key: String,
                     dt: org.apache.spark.sql.types.DataType, n: Int): Option[Set[Int]] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst
    def one(f: Filter): Option[Set[Int]] = f match {
      case EqualTo(a, v) if a == key && v != null => Some(Set(bucketOf(convertToCatalyst(v), dt, n)))
      case EqualNullSafe(a, v) if a == key =>
        Some(Set(bucketOf(if (v == null) null else convertToCatalyst(v), dt, n)))
      case In(a, vs) if a == key =>
        Some(vs.filter(_ != null).map(v => bucketOf(convertToCatalyst(v), dt, n)).toSet)
      case IsNull(a) if a == key => Some(Set(bucketOf(null, dt, n)))
      case And(l, r) => (one(l), one(r)) match {
        case (Some(x), Some(y)) => Some(x intersect y)
        case (x, None) => x
        case (None, y) => y
      }
      case Or(l, r) => for { x <- one(l); y <- one(r) } yield x union y
      case _ => None
    }
    filters.foldLeft(None: Option[Set[Int]]) { (acc, f) =>
      (acc, one(f)) match {
        case (Some(x), Some(y)) => Some(x intersect y)
        case (x, None) => x
        case (None, y) => y
      }
    }
  }

  def write(root: Path, conf: org.apache.hadoop.conf.Configuration, key: String, n: Int): Unit = {
    val fs = root.getFileSystem(conf)
    val out = fs.create(new Path(root, FileName), true)
    try out.write(s"""{"key":"$key","buckets":$n,"hash":"murmur3_32_seed42"}"""
      .getBytes("UTF-8"))
    finally out.close()
  }

  def read(root: Path, conf: org.apache.hadoop.conf.Configuration): Option[(String, Int)] =
    try {
      val fs = root.getFileSystem(conf)
      val p = new Path(root, FileName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        Some((node.get("key").asText(), node.get("buckets").asInt()))
      }
    } catch { case _: Exception => None }

  def delete(root: Path, conf: org.apache.hadoop.conf.Configuration): Unit =
    try {
      val fs = root.getFileSystem(conf)
      fs.delete(new Path(root, FileName), false); ()
    } catch { case _: Exception => }
}

class VortexScanBuilder(schema: StructType, paths: Seq[String],
                        evolution: Boolean = false,
                        versionAsOf: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var required: StructType = schema
  private var filters: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[org.apache.spark.sql.catalyst.expressions.UnsafeRow],
    String)] = None
  private var pushedLimit: Option[Int] = None

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all filters re-evaluated by Spark post-scan; we use them only to skip chunks
  }
  override def pushedFilters(): Array[Filter] = filters
  override def pruneColumns(req: StructType): Unit = {
    // keep file-schema field order for stable decode indices — at the
    // top level AND inside structs (Spark derives req from this same
    // schema by dropping unaccessed fields, so intersecting preserves
    // its order too). Nested pruning: a struct field keeps only the
    // children req asks for; the scan then decodes only those
    // sub-pages (StructCodec) or projects blob pages (NestedProject).
    def prune(file: DataType, r: DataType): DataType = (file, r) match {
      case (f: StructType, rs: StructType) =>
        StructType(f.fields.flatMap(ff => rs.fields.find(_.name == ff.name)
          .map(rf => ff.copy(dataType = prune(ff.dataType, rf.dataType)))))
      case (ArrayType(fe, n), ArrayType(re, _)) => ArrayType(prune(fe, re), n)
      case (MapType(fk, fv, n), MapType(rk, rv, _)) =>
        MapType(prune(fk, rk), prune(fv, rv), n)
      case _ => file
    }
    val byName = req.fields.map(f => f.name -> f).toMap
    required = StructType(schema.fields.flatMap { f =>
      byName.get(f.name).map(rf => f.copy(dataType = prune(f.dataType, rf.dataType)))
    })
  }

  /** COUNT(*)/COUNT(col)/MIN/MAX with no grouping, no filters: answer
    * from chunk footer stats alone — see [[VortexStatsPushdown]]. The
    * fold is memoized so supportCompletePushDown + pushAggregation
    * (Spark calls both with the same Aggregation) costs one pass. */
  private var aggProbe: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Seq[org.apache.spark.sql.catalyst.expressions.UnsafeRow])])] = None
  private def probeAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) = {
    if (!aggProbe.exists(_._1 eq agg)) {
      val res =
        // evolution mode: files may carry schema subsets, so positional
        // footer/manifest stats can't answer aggregates — bail always.
        // versionAsOf: stats manifests describe the CURRENT file set,
        // not the pinned generation — bail.
        if (filters.nonEmpty || pushedLimit.isDefined || evolution ||
            versionAsOf.isDefined) None
        else VortexStatsPushdown.compute(agg, schema, paths,
          SparkSession.active.sessionState.newHadoopConf())
      aggProbe = Some((agg, res))
    }
    aggProbe.get._2
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    probeAgg(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    probeAgg(agg) match {
      case Some((s, rows)) =>
        pushedAgg = Some((s, rows,
          (agg.groupByExpressions.map(g => s"group:$g") ++
           agg.aggregateExpressions.map(_.toString)).mkString(", ")))
        true
      case None => false
    }

  /** LIMIT n with no filters: planInputPartitions keeps only a chunk
    * prefix covering ≥ n rows (isPartiallyPushed — Spark still applies
    * the exact limit above). With filters the surviving row count per
    * chunk is unknown, so trimming could under-produce: decline. */
  override def pushLimit(n: Int): Boolean =
    if (filters.isEmpty) { pushedLimit = Some(n); true } else false

  override def build(): Scan = pushedAgg match {
    case Some((s, rows, desc)) => new VortexStatsScan(s, rows, desc)
    case None => new VortexScan(schema, required, filters, paths, pushedLimit,
      evolution, versionAsOf)
  }
}

/** One split = consecutive surviving chunks of one file: about 1/P of
  * the scan's rows for P = defaultParallelism, at least one chunk, and
  * at most ~128 MB (VortexFormat.TargetSplitBytes); a file smaller
  * than VortexFormat.DefaultChunkRows rows is one split.
  * `partKey` (nullable) carries the typed Hive-partition values so the
  * scan can report KeyGroupedPartitioning — Spark groups splits by key
  * and storage-partitioned joins / partition-keyed aggregations run
  * with NO shuffle (the 100 TB co-location lever). */
case class VortexInputPartition(file: String, chunkIdxs: Array[Int],
                                partCols: Array[String] = Array.empty,
                                partValues: Array[String] = Array.empty,
                                partKey: org.apache.spark.sql.catalyst.InternalRow = null,
                                bucketId: Int = -1,
                                // deletion-vector sidecar bound at PLAN
                                // time (immutable file; null = no mask)
                                maskFile: String = null)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = partKey
}

class VortexScan(private[vortex] val fileSchema: StructType, required: StructType,
                 initialFilters: Array[Filter], paths: Seq[String],
                 pushedLimit: Option[Int] = None,
                 private[vortex] val evolution: Boolean = false,
                 versionAsOf: Option[Int] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  private var filters: Array[Filter] = initialFilters
  /** the filters planning prunes by: the pushed ones, then any runtime ones */
  private[vortex] def pushed: Array[Filter] = filters
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(versionAsOf.isEmpty,
      "vortex: readStream cannot pin VERSION AS OF — a stream follows the live dataset")
    new VortexMicroBatchStream(required, paths, checkpointLocation)
  }
  override def description(): String =
    s"VortexScan(files=${paths.mkString(",")}, pushed=[${filters.map(VortexScan.describe).mkString(", ")}]" +
      pushedLimit.map(n => s", pushedLimit=$n").getOrElse("") +
      versionAsOf.map(v => s", versionAsOf=$v").getOrElse("") + ")"

  /** stats of the post-pruning plan: row count + encoded bytes — lets
    * Catalyst/AQE size joins over vortex tables correctly (broadcast
    * the small side without hints). Reuses the accumulators the
    * planning pass already computed — NO footer I/O of its own. */
  override def estimateStatistics(): Statistics = {
    planInputPartitions()
    val (rows, bytes) = lastPlanTotals
    val r = rows; val b = math.max(bytes, 1L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
    }
  }

  /** Runtime filtering (dynamic partition/chunk pruning): join-derived
    * filters arrive after planning; merging them tightens directory-
    * and chunk-level pruning on the next planInputPartitions call. */
  // only columns that survive projection: Spark resolves these against
  // the scan OUTPUT (a pruned-away column would throw in DPP planning)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(runtimeFilters: Array[Filter]): Unit =
    if (runtimeFilters.nonEmpty) filters = filters ++ runtimeFilters

  /** Dataset bucket layout, read once per scan from the root marker. */
  private lazy val datasetBucket: Option[(String, Int)] =
    paths.flatMap { raw =>
      try BucketSpecFile.read(new Path(raw),
            SparkSession.active.sessionState.newHadoopConf())
      catch { case _: Exception => None }
    }.headOption

  /** Layout-aware partitioning report (needs
    * spark.sql.sources.v2.bucketing.enabled):
    *  - bucketed datasets → KeyGroupedPartitioning(bucket(n, key)):
    *    when the table is addressed through VortexCatalog (whose
    *    FunctionCatalog resolves `bucket`), joins between co-bucketed
    *    tables and aggregations on the key run with NO exchange —
    *    storage-partitioned execution on a non-partition column.
    *  - Hive-partitioned datasets → KeyGroupedPartitioning(identity…):
    *    same elision, keyed on the partition columns.
    * Everything else reports UnknownPartitioning, whose partition count
    * Spark never reads — so with SPJ off the optimizer's partitioning
    * pass does not plan the scan. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.connector.expressions.Expressions
    val spjOn =
      SparkSession.active.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    if (!spjOn) return new UnknownPartitioning(0)
    val parts = planInputPartitions().map(_.asInstanceOf[VortexInputPartition])
    val bucketGrouped = datasetBucket.isDefined && parts.nonEmpty &&
      parts.forall(p => p.bucketId >= 0 && p.partKey != null) &&
      required.fieldNames.contains(datasetBucket.get._1)
    val identityGrouped = !bucketGrouped && datasetBucket.isEmpty && spjOn &&
      parts.nonEmpty && parts.head.partCols.nonEmpty && parts.head.partKey != null &&
      parts.forall(p => p.partCols.sameElements(parts.head.partCols) && p.partKey != null) &&
      // key columns must survive projection for the keys to resolve
      parts.head.partCols.forall(c => required.fieldNames.contains(c))
    if (bucketGrouped) {
      val (key, n) = datasetBucket.get
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, key): org.apache.spark.sql.connector.expressions.Expression),
        parts.length)
    } else if (identityGrouped)
      new KeyGroupedPartitioning(
        parts.head.partCols.map(c => Expressions.identity(c):
          org.apache.spark.sql.connector.expressions.Expression),
        parts.length)
    else new UnknownPartitioning(parts.length)
  }

  /** planning is memoized per pushed-filter array: Spark calls
    * planInputPartitions from estimateStatistics, batch planning, and
    * every runtime-filter round — only `filter`, which replaces the
    * array, re-plans. Keyed by identity, so a runtime IN list of 75k
    * keys is never compared element by element. */
  private var lastPlan: (Array[Filter], Array[InputPartition]) = _
  /** (rows, encoded bytes) of the memoized plan's kept chunks */
  private var lastPlanTotals: (Long, Long) = (0L, 0L)

  override def planInputPartitions(): Array[InputPartition] = {
    if (lastPlan != null && (lastPlan._1 eq filters)) return lastPlan._2
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    // a pinned read plans from the commit-log generation's file set
    // (statement-level snapshot isolation — see VortexCommitLog);
    // otherwise the live consistent listing
    val (listed, maskBind) = versionAsOf match {
      case Some(g) =>
        require(paths.length == 1,
          "vortex: versionAsOf requires a single dataset root")
        VortexCommitLog.resolve(new Path(paths.head), conf, g)
      case None => VortexDataSource.listAllWithMasks(paths, conf)
    }
    // a pushed LIMIT (filter-free by construction) plans a chunk prefix:
    // a LIMIT 10 over a 100 TB dataset plans one split of one file
    val files = ChunkSelection.select(listed, maskBind, ChunkSelection.manifestEntries(paths, conf),
      filters.toSeq, fileSchema, datasetBucket, evolution, conf,
      limit = if (filters.isEmpty) pushedLimit.fold(Long.MaxValue)(_.toLong) else Long.MaxValue)
    val totRows = files.map(_.metas.map(_.rowCount.toLong).sum).sum
    val totBytes = files.map(_.bytes.sum).sum
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // Split planning AFTER the walk, when the kept rows are known. A
    // file holding the share r of the scan's kept rows splits into
    // ceil(r × P) contiguous chunk groups of similar row counts
    // (P = defaultParallelism), so a scan smaller than cores × 128 MB
    // still runs on every core instead of one task per file. A group
    // holds at least one chunk, and a file gets at most one group per
    // started DefaultChunkRows rows: a file smaller than one default
    // chunk is one task's worth of decoding, and splitting it only adds
    // tasks. A group also closes once it holds TargetSplitBytes, the
    // object-store-friendly ceiling. Keyed
    // (Hive-partitioned / bucketed) files keep only that ceiling while
    // storage-partitioned execution is on: their HasPartitionKey
    // contract then feeds KeyGroupedPartitioning, where duplicate keys
    // from intra-file splits would break the one-partition-per-key
    // report; with SPJ off (the default) the scan reports
    // UnknownPartitioning, so keyed files fan out too.
    val parallelism = math.max(spark.sparkContext.defaultParallelism, 1).toLong
    val spjOn =
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    files.foreach { sel =>
      import sel.{bucketId, file => f, partCols => pc, partValues => pv, maskFile => mask}
      // bucketed datasets group by bucket id (see outputPartitioning);
      // otherwise the typed Hive-partition values are the group key
      val pk =
        if (datasetBucket.isDefined && bucketId >= 0) new GenericInternalRow(Array[Any](bucketId))
        else if (pc.isEmpty) null
        else new GenericInternalRow(pc.indices.map(i =>
          PartitionedLayout.toInternal(pv(i), fileSchema(pc(i)).dataType)).toArray[Any])
      val kept = sel.chunks.indices.map(i =>
        (sel.chunks(i), sel.metas(i).rowCount.toLong, sel.bytes(i)))
      val fileRows = kept.map(_._2).sum
      val groups =
        if ((pk != null && spjOn) || fileRows == 0L) 1L
        else Seq(kept.length.toLong, (fileRows * parallelism + totRows - 1) / totRows,
          (fileRows + VortexFormat.DefaultChunkRows - 1) / VortexFormat.DefaultChunkRows).min
      var cur = scala.collection.mutable.ArrayBuffer[Int]()
      var bytes = 0L
      var rowsBefore = 0L
      var group = 0L
      kept.foreach { case (ci, rows, chunkBytes) =>
        // the group whose row range holds this chunk's midpoint
        val g = if (groups == 1L) 0L else (rowsBefore + rows / 2) * groups / fileRows
        if (cur.nonEmpty && (g != group || bytes >= VortexFormat.TargetSplitBytes)) {
          parts += VortexInputPartition(f, cur.toArray, pc, pv, pk, bucketId, mask)
          cur = scala.collection.mutable.ArrayBuffer[Int](); bytes = 0L
        }
        group = g
        cur += ci
        bytes += chunkBytes
        rowsBefore += rows
      }
      if (cur.nonEmpty) parts += VortexInputPartition(f, cur.toArray, pc, pv, pk, bucketId, mask)
    }
    val out = parts.toArray
    lastPlan = (filters, out)
    lastPlanTotals = (totRows, totBytes)
    out
  }

  // every partition reads columnar (VortexReaderFactory), so planning
  // need not build a reader factory to ask
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED

  override def createReaderFactory(): PartitionReaderFactory =
    new VortexReaderFactory(HadoopConfBroadcast(SparkSession.active), required, evolution)
}

object VortexScan {
  import org.apache.spark.sql.sources.{And, In, Not, Or}

  /** IN lists longer than this render as a count and a value range */
  private val InListShown = 10

  /** A pushed filter for the plan text. A long IN list (a join-derived
    * runtime filter can hold ~75k keys, and adaptive planning renders
    * the scan on every plan update) renders as
    * `In(col, <n values in [lo, hi]>)`. */
  def describe(f: Filter): String = f match {
    case In(a, vs) if vs.length > InListShown =>
      var lo: Any = null; var hi: Any = null
      val range = try {
        vs.foreach { v =>
          if (v != null) {
            val c = v.asInstanceOf[Comparable[Any]]
            if (lo == null || c.compareTo(lo) < 0) lo = v
            if (hi == null || c.compareTo(hi) > 0) hi = v
          }
        }
        if (lo == null) "" else s" in [$lo, $hi]"
      } catch { case _: ClassCastException => "" }
      s"In($a, <${vs.length} values$range>)"
    case And(l, r) => s"And(${describe(l)},${describe(r)})"
    case Or(l, r) => s"Or(${describe(l)},${describe(r)})"
    case Not(c) => s"Not(${describe(c)})"
    case _ => f.toString
  }
}

class VortexReaderFactory(val conf: Broadcast[SerializableConfiguration], required: StructType,
                          evolution: Boolean = false)
    extends PartitionReaderFactory {
  // The one read path: decoded pages land directly in ColumnVectors
  // (ColVec -> ColVecFill -> OnHeapColumnVector -> ColumnarBatch), and
  // Spark's ColumnarToRow + WholeStageCodegen consume them batch-wise
  // (the vectorized-execution role of SURVEY.md §4). Nested types ride
  // it too (recursive child-vector fill). Every partition is columnar
  // and the scan reports ColumnarSupportMode.SUPPORTED, so Spark never
  // asks for a row reader.
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("vortex: the scan is columnar-only")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[VortexInputPartition]
    new VortexColumnarReader(p, conf.value.value, required, evolution)
  }
}

class VortexColumnarReader(part: VortexInputPartition,
                           conf: org.apache.hadoop.conf.Configuration,
                           required: StructType,
                           evolution: Boolean = false)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch
  import org.apache.spark.sql.types._

  private val path = new Path(part.file)
  private val footer = VortexFileReader.readFooter(path, conf)
  private val slots = VortexDataSource.readSlots(part, footer, required, evolution)
  private val dts = required.fields.map(_.dataType)
  private val fs = path.getFileSystem(conf)
  private val in = fs.open(path)
  private var batch: ColumnarBatch = _

  private def constVector(n: Int, dt: DataType, v: Any): OnHeapColumnVector = {
    val cv = new OnHeapColumnVector(n, dt)
    if (v == null) { cv.putNulls(0, n); return cv }
    var i = 0
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        while (i < n) { cv.putLong(i, v.asInstanceOf[Long]); i += 1 }
      case IntegerType | DateType =>
        while (i < n) { cv.putInt(i, v.asInstanceOf[Int]); i += 1 }
      case DoubleType => while (i < n) { cv.putDouble(i, v.asInstanceOf[Double]); i += 1 }
      case StringType =>
        val b = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        while (i < n) { cv.putByteArray(i, b); i += 1 }
      case other => throw new UnsupportedOperationException(s"partition type $other")
    }
    cv
  }

  // async single-slot prefetch: see ChunkPrefetcher (I/O ∥ decode+fill)
  private val prefetchQ = new ChunkPrefetcher(in, footer, part.chunkIdxs,
    slots.map { case Right(c) => c; case Left(_) => -1 })

  // deletion-vector mask, bound at plan time; positions index stored
  // row ordinals (chunks concatenated in footer order)
  private val mask: DeletionVector.Mask =
    if (part.maskFile == null) null
    else DeletionVector.read(new Path(part.maskFile), conf)
  private val chunkBase: Array[Long] =
    if (mask == null) null
    else footer.chunkBase

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    while (true) {
      val nx = prefetchQ.next()
      if (nx == null) return false
      val (ci, raw) = nx
      val chunk = footer.chunks(ci)
      val n = chunk.rowCount
      // survivor selection under a deletion vector; null = keep all
      val keep: Array[Int] =
        if (mask == null) null
        else {
          val base = chunkBase(ci)
          val buf = new Array[Int](n)
          var k = 0; var r = 0
          while (r < n) { if (!mask.isDeleted(base + r)) { buf(k) = r; k += 1 }; r += 1 }
          if (k == n) null else java.util.Arrays.copyOf(buf, k)
        }
      if (keep == null || keep.length > 0) {
        val rows = if (keep == null) n else keep.length
        val vectors = new Array[org.apache.spark.sql.vectorized.ColumnVector](dts.length)
        var c = 0
        while (c < dts.length) {
          vectors(c) = slots(c) match {
            case Right(fc) =>
              val vec0 = VortexFileReader.decodeColumn(raw(c), chunk.columns(fc), n,
                footer.schema.fields(fc), required.fields(c))
              val vec = if (keep == null) vec0 else vec0.select(keep)
              val cv = new OnHeapColumnVector(rows, dts(c))
              ColVecFill.fill(cv, vec, dts(c), rows)
              cv
            case Left(const) => constVector(rows, dts(c), const)
          }
          c += 1
        }
        batch = new ColumnarBatch(vectors, rows)
        return true
      }
      // fully-masked chunk: fall through to the next one
    }
    false
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) batch.close()
    prefetchQ.close()
  }
}

// ---------------------------- write path ----------------------------------

class VortexWriteBuilder(schema: StructType, path: String, chunkRows: Int,
                         partitionCols: Seq[String],
                         bucketSpec: Option[(String, Int)] = None,
                         bloomCols: Set[String] = Set.empty,
                         bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                         sketchCols: Set[String] = Set.empty)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new VortexWrite(schema, path, doTruncate, chunkRows, partitionCols, bucketSpec,
      bloomCols, bloomMaxBytes, sketchCols)
}

class VortexWrite(schema: StructType, path: String, truncate: Boolean, chunkRows: Int,
                  partitionCols: Seq[String] = Seq.empty,
                  bucketSpec: Option[(String, Int)] = None,
                  bloomCols: Set[String] = Set.empty,
                  bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                  sketchCols: Set[String] = Set.empty) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

  /** Partitioned writes cluster rows by the partition columns first:
    * without this every task opens a writer for every partition value
    * it happens to see — at 1000 executors × K values that is 1000·K
    * small files per job. Clustered, each partition value lands in few
    * tasks and file count scales with data, not with parallelism.
    * Bucketed writes additionally cluster on the bucket key; with
    * requiredNumPartitions = n (and no path partitioning) Spark's hash
    * partitioning is pmod(murmur3_32(key, 42), n) — exactly the bucket
    * function — so each task receives exactly one bucket and writes
    * exactly one file, instead of every task touching every bucket. */
  override def requiredDistribution(): Distribution = {
    val cluster = partitionCols ++ bucketSpec.map(_._1)
    if (cluster.isEmpty) Distributions.unspecified()
    else Distributions.clustered(cluster.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  }
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
  override def requiredNumPartitions(): Int =
    if (partitionCols.isEmpty) bucketSpec.map(_._2).getOrElse(0) else 0

  override def toBatch: BatchWrite =
    new VortexBatchWrite(schema, path, truncate, chunkRows, partitionCols, bucketSpec,
      bloomCols, bloomMaxBytes, sketchCols)
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new VortexStreamingWrite(schema, path, chunkRows)
}

/** Streaming sink: one self-describing file per (epoch, partition) —
  * append-only micro-batch commits; the directory stays readable by
  * the batch scan at every point (files are atomic units). */
class VortexStreamingWrite(schema: StructType, dir: String, chunkRows: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
  private val hconf = SparkSession.active.sessionState.newHadoopConf()

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) fs.mkdirs(p)
    new VortexStreamingWriterFactory(schema, dir, new SerializableConfiguration(hconf), chunkRows)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(hconf)
    messages.collect { case VortexCommit(fls, _, _, _) => fls }.flatten
      .foreach(f => fs.delete(new Path(f), false))
  }
}

class VortexStreamingWriterFactory(schema: StructType, dir: String,
                                   conf: SerializableConfiguration, chunkRows: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new VortexDataWriter(schema, dir, f"e$epochId%06d", conf.value, partitionId, taskId, chunkRows)
}

class VortexBatchWrite(schema: StructType, dir: String, truncate: Boolean, chunkRows: Int,
                       partitionCols: Seq[String],
                       bucketSpec: Option[(String, Int)] = None,
                       bloomCols: Set[String] = Set.empty,
                       bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                       sketchCols: Set[String] = Set.empty) extends BatchWrite {
  private val spark = SparkSession.active
  private val hconf = spark.sessionState.newHadoopConf()
  // appending into an existing bucketed layout with a different spec
  // would silently break pruning + co-location guarantees: fail fast
  if (!truncate) {
    val existing = BucketSpecFile.read(new Path(dir), hconf)
    (existing, bucketSpec) match {
      case (Some(old), spec) if spec != Some(old) =>
        throw new IllegalArgumentException(
          s"vortex: dataset at $dir is bucketed by ${old._1} into ${old._2} buckets; " +
          s"append must use the same bucketBy/buckets options (got $spec)")
      case _ =>
    }
  }
  // unique per job: task files can never collide with files from a
  // previous job into the same directory
  private val jobId = java.util.UUID.randomUUID().toString.take(8)
  // capture pre-existing files now (fully qualified); delete on commit
  private val preExisting: Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (truncate && fs.exists(p))
      PartitionedLayout.listWithPartitions(p, hconf)
        .map { case (st, _) => fs.makeQualified(st.getPath).toString }
    else Seq.empty
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) fs.mkdirs(p)
    new VortexWriterFactory(schema, dir, jobId, new SerializableConfiguration(hconf),
      chunkRows, partitionCols, bucketSpec, bloomCols, bloomMaxBytes, sketchCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    VortexCommitOps.commitJob(dir, hconf, jobId,
      messages.collect { case m: VortexCommit => m }.toSeq, schema,
      truncate, preExisting, partitionCols, bucketSpec)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(hconf)
    messages.collect { case VortexCommit(fls, _, _, _) => fls }.flatten
      .foreach(f => fs.delete(new Path(f), false))
  }
}

/** `sums`: per created file, the writer's exact per-stored-column sums
  * (see VortexFileWriter.columnSums) — commit folds them into the
  * manifest for SUM pushdown. `blooms`: per created file, the writer's
  * per-stored-column SBBF bytes (columns opted in via "bloomFilters"),
  * folded into the manifest for plan-time point-lookup pruning. */
case class VortexCommit(files: Seq[String],
                        sums: Map[String, IndexedSeq[Option[Long]]] = Map.empty,
                        blooms: Map[String, IndexedSeq[Option[Array[Byte]]]] = Map.empty,
                        sketches: Map[String, IndexedSeq[Option[Array[Byte]]]] = Map.empty)
    extends WriterCommitMessage

class VortexWriterFactory(schema: StructType, dir: String, jobId: String,
                          conf: SerializableConfiguration,
                          chunkRows: Int, partitionCols: Seq[String],
                          bucketSpec: Option[(String, Int)] = None,
                          bloomCols: Set[String] = Set.empty,
                          bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                          sketchCols: Set[String] = Set.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (partitionCols.isEmpty && bucketSpec.isEmpty)
      new VortexDataWriter(schema, dir, jobId, conf.value, partitionId, taskId, chunkRows,
        bloomCols, bloomMaxBytes, sketchCols)
    else
      new VortexPartitionedDataWriter(schema, dir, jobId, conf.value, partitionId, taskId,
        chunkRows, partitionCols, bucketSpec, bloomCols, bloomMaxBytes, sketchCols)
}

/** Hive-style partitioned writer: one open file per partition value
  * combination seen by this task; partition columns are stored in the
  * path, not the pages. A bucket spec adds an innermost `__bucket=k`
  * path segment with k derived per row from the key column (which
  * stays stored — it is data, not layout). */
class VortexPartitionedDataWriter(schema: StructType, dir: String, jobId: String,
                                  conf: org.apache.hadoop.conf.Configuration,
                                  partitionId: Int, taskId: Long, chunkRows: Int,
                                  partitionCols: Seq[String],
                                  bucketSpec: Option[(String, Int)] = None,
                                  bloomCols: Set[String] = Set.empty,
                                  bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                                  sketchCols: Set[String] = Set.empty) extends DataWriter[InternalRow] {
  private val partIdx = partitionCols.map(schema.fieldIndex).toArray
  private val partDts = partIdx.map(schema.fields(_).dataType)
  private val storedIdx = schema.fields.indices.filterNot(partIdx.contains).toArray
  private val storedSchema = StructType(storedIdx.map(schema.fields(_)))
  private val bucketAt = bucketSpec.map { case (k, n) =>
    (schema.fieldIndex(k), schema(k).dataType, n)
  }
  private val writers = scala.collection.mutable.LinkedHashMap[String, (Path, VortexFileWriter)]()
  private val reuse = new GenericInternalRow(storedIdx.length)

  override def write(record: InternalRow): Unit = {
    val segs = partIdx.indices.map { i =>
      val v = record.get(partIdx(i), partDts(i))
      require(v != null, s"vortex: null partition value for ${partitionCols(i)}")
      s"${partitionCols(i)}=${PartitionedLayout.toPathString(v, partDts(i))}"
    } ++ bucketAt.map { case (idx, dt, n) =>
      val v = if (record.isNullAt(idx)) null else record.get(idx, dt)
      s"${BucketSpecFile.BucketCol}=${BucketSpecFile.bucketOf(v, dt, n)}"
    }
    val key = segs.mkString("/")
    val (_, w) = writers.getOrElseUpdate(key, {
      val name = f"part-$partitionId%05d-$jobId-$taskId.vortex"
      val p = new Path(new Path(dir, key), name)
      (p, new VortexFileWriter(new Path(new Path(dir, key), s".$name.inprogress"),
        conf, storedSchema, chunkRows, bloomCols, bloomMaxBytes, sketchCols))
    })
    var c = 0
    while (c < storedIdx.length) {
      reuse.update(c, record.get(storedIdx(c), storedSchema.fields(c).dataType))
      c += 1
    }
    w.write(reuse)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach { case (p, w) =>
      w.close()
      val fs = p.getFileSystem(conf)
      val tmp = new Path(p.getParent, s".${p.getName}.inprogress")
      if (!fs.rename(tmp, p)) throw new java.io.IOException(s"vortex: rename failed for $p")
    }
    VortexCommit(writers.values.map(_._1.toString).toSeq,
      writers.values.map { case (p, w) => p.toString -> w.columnSums }.toMap,
      writers.values.map { case (p, w) => p.toString -> w.columnBlooms }.toMap,
      writers.values.map { case (p, w) => p.toString -> w.columnSketches }.toMap)
  }
  override def abort(): Unit = {
    writers.values.foreach { case (p, w) =>
      try w.close() catch { case _: Exception => }
      val fs = p.getFileSystem(conf)
      fs.delete(new Path(p.getParent, s".${p.getName}.inprogress"), false)
      fs.delete(p, false)
    }
  }
  override def close(): Unit = {}
}

/** Task writer with atomic visibility: bytes land in a hidden
  * `.…inprogress` file (excluded from listings) and only become a
  * data file via rename at task commit — readers never observe a
  * partially-written file, which also makes the streaming sink's
  * per-epoch files safe to tail. */
class VortexDataWriter(schema: StructType, dir: String, jobId: String,
                       conf: org.apache.hadoop.conf.Configuration,
                       partitionId: Int, taskId: Long, chunkRows: Int,
                       bloomCols: Set[String] = Set.empty,
                       bloomMaxBytes: Int = VortexFormat.DefaultBloomMaxBytes,
                       sketchCols: Set[String] = Set.empty) extends DataWriter[InternalRow] {
  private val name = f"part-$partitionId%05d-$jobId-$taskId.vortex"
  private val file = new Path(dir, name)
  private val tmp = new Path(dir, s".$name.inprogress")
  private val writer = new VortexFileWriter(tmp, conf, schema, chunkRows, bloomCols,
    bloomMaxBytes, sketchCols)
  private var closed = false

  override def write(record: InternalRow): Unit = writer.write(record)
  override def commit(): WriterCommitMessage = {
    writer.close(); closed = true
    val fs = file.getFileSystem(conf)
    if (!fs.rename(tmp, file)) throw new java.io.IOException(s"vortex: rename failed for $file")
    VortexCommit(Seq(file.toString), Map(file.toString -> writer.columnSums),
      Map(file.toString -> writer.columnBlooms),
      Map(file.toString -> writer.columnSketches))
  }
  override def abort(): Unit = {
    if (!closed) try writer.close() catch { case _: Exception => }
    val fs = file.getFileSystem(conf)
    fs.delete(tmp, false); fs.delete(file, false)
  }
  override def close(): Unit = {}
}
