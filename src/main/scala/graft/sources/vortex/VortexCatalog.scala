package graft.sources.vortex

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-addressed catalog for vortex datasets, the hook that turns the
  * bucketed layout into shuffle-free execution. Register with
  * `spark.sql.catalog.vtx = graft.sources.vortex.VortexCatalog`, then
  * {{{ SELECT ... FROM vtx.`/data/orders` o JOIN vtx.`/data/lineitem` l ON ... }}}
  *
  * Why a catalog at all: Spark resolves a scan-reported
  * KeyGroupedPartitioning over `bucket(n, key)` only through the
  * relation's FunctionCatalog (V2ScanPartitioning → V2ExpressionUtils
  * loads the named transform function). Tables loaded via
  * `spark.read.format("vortex")` have no catalog, so bucket transforms
  * can't resolve and joins shuffle; the same dataset addressed through
  * this catalog joins a co-bucketed peer with NO exchange on either
  * side — at 100 TB the difference between a metadata match and
  * re-moving both tables. (Identity-partitioned SPJ works either way;
  * see VortexScan.outputPartitioning.)
  */
class VortexCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "vortex"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  /** `vtx.`/abs/path`` → /abs/path; multipart idents re-join on '/'. */
  private def pathOf(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val meta = TableMetaFile.read(new Path(p), conf)
    val opts = new CaseInsensitiveStringMap(Map("path" -> p).asJava)
    // files on disk win (they ARE the schema); a created-but-empty
    // table falls back to its declared metadata
    val schema =
      try new VortexDataSource().inferSchema(opts)
      catch { case e: Exception =>
        meta.map(_._1).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Seq(catalogName, ident.toString)))
      }
    new VortexTable(schema, Seq(p), meta.map(_._2).getOrElse(Seq.empty))
  }

  /** SQL `SELECT … FROM vtx.\`/path\` VERSION AS OF n` — pins every
    * scan of the loaded table to commit-log generation n (see
    * VortexCommitLog; the dataset must have been maintained with
    * `spark.graft.vortex.timeTravel=true` for old generations to stay
    * readable). Schema comes from the pinned generation's own files,
    * so a fully-rewritten (or emptied) dataset still time-travels. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    val gen = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"vortex: VERSION AS OF takes a commit-log generation number, got '$version'")
    }
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val (files, _) = VortexCommitLog.resolve(new Path(p), conf, gen)
    // an EMPTY generation is legitimate (a DELETE purged every row, or
    // genesis of an empty dataset) and must read as zero rows like the
    // DataFrame versionAsOf path — schema from the stats manifests,
    // exactly like loadTable's emptied-dataset sibling (review-found r12)
    val schema =
      if (files.nonEmpty)
        VortexDataSource.withPartitions(
          VortexFileReader.readFooter(files.head._1.getPath, conf).schema, files)._1
      else
        // manifest file schema PLUS partition columns reconstructed from
        // the entries' rel paths — same recovery as inferSchema's
        // emptied-dataset branch (review-found r13: the manifest-only
        // form dropped partition columns, failing analysis of any
        // reference to one on a partitioned dataset pinned to an empty
        // generation)
        VortexDataSource.manifestRecoveredSchema(Seq(p), conf).map(_._1)
          .getOrElse(throw new IllegalArgumentException(
            s"vortex: generation $gen of $p is empty and the dataset has " +
            "no stats manifest to recover a schema from"))
    new VortexTable(schema, Seq(p), pinnedVersion = Some(gen))
  }

  /** SQL `TIMESTAMP AS OF t` — the newest generation committed at or
    * before t (micros since epoch, per the DSv2 contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    val tsMs = timestampMicros / 1000L
    val latest = VortexCommitLog.latestGen(fs, root).getOrElse(
      throw new IllegalArgumentException(s"vortex: $p has no commit log"))
    val gen = (0 to latest).reverse.find { g =>
      try VortexCommitLog.readSnapshot(fs, root, g).ts <= tsMs
      catch { case _: Exception => false }
    }.getOrElse(throw new IllegalArgumentException(
      s"vortex: no generation of $p committed at or before timestamp $tsMs ms"))
    loadTable(ident, gen.toString)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(p)
    root.getFileSystem(conf).mkdirs(root)
    // CREATE TABLE ... PARTITIONED BY (col, bucket(8, key)) carries the
    // layout in transforms; writes through this table inherit it
    val partCols = partitions.collect {
      case t if t.name == "identity" => t.references.head.fieldNames.mkString(".")
    }.toSeq
    val bucketSpec = partitions.collectFirst {
      case t if t.name == "bucket" =>
        val col = t.references.head.fieldNames.mkString(".")
        val n = t.arguments.collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.dataType == IntegerType => lit.value.asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException("bucket transform needs an int literal"))
        (col, n)
    }
    bucketSpec.foreach { case (k, n) => BucketSpecFile.write(root, conf, k, n) }
    TableMetaFile.write(root, conf, schema, partCols)
    new VortexTable(schema, Seq(p), partCols, bucketSpec)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("vortex catalog: ALTER TABLE not supported")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "vortex catalog tables are directories; delete the path instead")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("vortex catalog: RENAME not supported")

  // ------------------------- FunctionCatalog -------------------------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) VortexBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

/** `_vortex_table.json`: declared schema + partition columns for
  * catalog-created tables, so an empty CREATEd table is loadable
  * before its first INSERT (files, once present, win). */
object TableMetaFile {
  private val FileName = "_vortex_table.json"

  def write(root: Path, conf: org.apache.hadoop.conf.Configuration,
            schema: StructType, partCols: Seq[String]): Unit = {
    val fs = root.getFileSystem(conf)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("schema", schema.json)
    val arr = node.putArray("partitionCols")
    partCols.foreach(arr.add)
    val out = fs.create(new Path(root, FileName), true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
  }

  def read(root: Path, conf: org.apache.hadoop.conf.Configuration)
      : Option[(StructType, Seq[String])] =
    try {
      val fs = root.getFileSystem(conf)
      val p = new Path(root, FileName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        val schema = DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType]
        val pcs = (0 until node.get("partitionCols").size())
          .map(node.get("partitionCols").get(_).asText())
        Some((schema, pcs))
      }
    } catch { case _: Exception => None }
}

/** The `bucket(numBuckets, col)` V2 function backing the bucket
  * transform: pmod(murmur3_32(col, seed 42), numBuckets) — bit-equal to
  * both the writer's router (BucketSpecFile.bucketOf) and Spark's own
  * `pmod(hash(col), n)`. Two scans whose TransformExpressions share
  * this function's canonicalName are co-partitioned, which is what
  * EnsureRequirements checks before eliding the exchange. */
object VortexBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): vortex hash bucket id (murmur3_32 seed 42)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 && inputType.fields(0).dataType == IntegerType,
      s"bucket expects (int numBuckets, key), got $inputType")
    new VortexBucketBound(inputType.fields(1).dataType)
  }
}

class VortexBucketBound(keyType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // canonical identity must depend only on semantics: same string for
  // any two scans over the same key type → compatible partitioning
  override def canonicalName(): String = s"vortex.bucket(${keyType.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val v = if (input.isNullAt(1)) null else input.get(1, keyType)
    BucketSpecFile.bucketOf(v, keyType, n)
  }
}
