package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{VortexDelete, VortexInputPartition, VortexMaintenance, VortexMerge,
  VortexMergeSupport, VortexUpdate}

/** The driver half of the maintenance statements: the phase times
  * every result reports, MERGE's insert-file identity, and MERGE's
  * key pushdown choosing exactly the files an `IN` of the source keys
  * plans, for every pushable key type. */
class MaintenanceDriverSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_driver").toString

  private val Phases = Seq("lock", "plan", "tasks", "commit")

  /** run `body`, then check its phases against the call's wall clock */
  private def phased[R](keys: Seq[String])(body: => R)(phaseMs: R => Map[String, Long]): R = {
    val t0 = System.nanoTime()
    val r = body
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val ph = phaseMs(r)
    assert(ph.keySet == keys.toSet, ph)
    assert(ph.values.forall(_ >= 0L), ph)
    assert(ph.values.sum <= wallMs, s"$ph sums past the call's $wallMs ms")
    r
  }

  test("every statement result reports its driver phases") {
    import spark.implicits._
    val dir = tmp()
    (0L until 4000L).map(i => (i, s"v$i", i % 10)).toDF("id", "s", "m")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    val d = phased(Phases)(VortexDelete.delete(spark, dir, col("m") === 1))(_.phaseMs)
    assert(d.rowsDeleted == 400L && d.phaseMs("tasks") > 0L, d)
    phased(Phases)(VortexDelete.delete(spark, dir, col("id") === 7L, deletionVectors = true))(
      _.phaseMs)
    phased(Phases)(VortexUpdate.update(spark, dir, Map("s" -> lit("u")), col("m") === 2))(
      _.phaseMs)
    phased(Phases)(VortexUpdate.update(spark, dir, Map("s" -> lit("w")), col("id") === 9L,
      deletionVectors = true))(_.phaseMs)
    val src = Seq((3L, "x", 3L), (9000L, "y", 0L)).toDF("id", "s", "m")
    val m = phased(Phases :+ "inserts")(VortexMerge.merge(spark, dir, src, Seq("id")))(_.phaseMs)
    assert(m.rowsUpdated == 1L && m.rowsInserted == 1L, m)
    val c = phased(Phases)(VortexMaintenance.compact(spark, dir))(_.phaseMs)
    assert(c.batches > 0, c)
    // a statement with nothing to plan still reports every phase
    val empty = tmp()
    Seq((1L, "a", 1L)).toDF("id", "s", "m").write.format("vortex").mode("overwrite").save(empty)
    VortexDelete.delete(spark, empty, lit(true))
    phased(Phases)(VortexDelete.delete(spark, empty, col("id") === 1L))(_.phaseMs)
  }

  test("sourceHash of a fixed source keeps its value, so insert file names do not move") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("d", DecimalType(12, 2))))
    val proj = UnsafeProjection.create(schema)
    val rows = Seq(
      Array[Any](1L, UTF8String.fromString("alpha"), Decimal(BigDecimal("12.34"), 12, 2)),
      Array[Any](2L, null, Decimal(BigDecimal("-0.50"), 12, 2)),
      Array[Any](3L, UTF8String.fromString("gamma"), null)
    ).map(v => proj(new GenericInternalRow(v)).copy(): InternalRow).toArray
    assert(VortexMergeSupport.sourceHash(rows, Seq("id", "clauses:upsert")) == SourceHashPin)
    // the same rows in another order name the same statement
    assert(VortexMergeSupport.sourceHash(rows.reverse, Seq("id", "clauses:upsert")) == SourceHashPin)
  }

  test("an upsert's insert file keeps its name") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", BigDecimal("1.00"))).toDF("id", "s", "d")
      .select(col("id"), col("s"), col("d").cast(DecimalType(12, 2)).as("d"))
      .write.format("vortex").mode("overwrite").save(dir)
    val src = Seq((2L, Some("b"), Some(BigDecimal("2.50"))), (3L, None, Some(BigDecimal("-3.25"))),
      (4L, Some("d"), None)).toDF("id", "s", "d")
    assert(VortexMerge.merge(spark, dir, src, Seq("id")).rowsInserted == 3L)
    val ins = new File(dir).list().filter(_.startsWith("part-merge-ins-")).toSeq
    assert(ins == Seq(s"part-merge-ins-$InsertNamePin.vortex"), ins)
  }

  // computed by the hex-per-byte implementation these names were first
  // written with
  private val SourceHashPin = "c101e246286f9fea"
  private val InsertNamePin = "d64c2b9c429c23b6"

  /** the files the pushed scan of `k IN (keys)` plans — how MERGE
    * chose its candidates with an `IN` of literals — or, with no key,
    * every file */
  private def plannedByIn(dir: String, keys: Seq[Any]): Set[String] = {
    val df = spark.read.format("vortex").load(dir)
    (if (keys.isEmpty) df else df.filter(col("k").isInCollection(keys)))
      .queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case v: VortexInputPartition => v.file }.toSet
  }

  /** a dataset of one file per group of keys, each row `(k, "v")` */
  private def files(dt: DataType, groups: Seq[Seq[Any]]): String = {
    val dir = tmp()
    val schema = StructType(Seq(StructField("k", dt), StructField("v", StringType)))
    groups.zipWithIndex.foreach { case (ks, g) =>
      spark.createDataFrame(spark.sparkContext.parallelize(
        ks.map(k => org.apache.spark.sql.Row(k, "v")), 1), schema)
        .write.format("vortex").mode(if (g == 0) "overwrite" else "append").save(dir)
    }
    dir
  }

  /** four files holding the keys `key(i)` for the even i of
    * [0, 1000), [1000, 2000), [2000, 3000) and [3000, 4000) */
  private def clustered(key: Int => Any, dt: DataType): String =
    files(dt, (0 until 4).map(f => (f * 1000 until (f + 1) * 1000 by 2).map(key)))

  /** MERGE with source keys `keys` (NULLs allowed): its candidates are
    * the files the `IN` plans, and its candidate and untouched counts
    * are the given ones */
  private def parity(dir: String, dt: DataType, keys: Seq[Any], candidates: Int,
                     untouched: Int): Unit = {
    val expected = plannedByIn(dir, keys.filter(_ != null))
    val schema = StructType(Seq(StructField("k", dt), StructField("v", StringType)))
    val src: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(
      keys.map(k => org.apache.spark.sql.Row(k, "src")), 1), schema)
    val r = VortexMerge.merge(spark, dir, src, Seq("k"))
    assert(r.candidateFiles == expected.size, (r, expected))
    assert((r.candidateFiles, r.untouchedFiles) == ((candidates, untouched)), r)
  }

  test("MERGE plans the files an IN of its keys plans, for every pushable key type") {
    // each source: one key a file holds, one inside another file's range
    // that no row holds (a candidate left untouched), one beyond every file
    parity(clustered(i => i, IntegerType), IntegerType, Seq(4, 2001, 123456), 2, 1)
    parity(clustered(i => i.toLong, LongType), LongType, Seq(4L, 2001L, 123456L), 2, 1)
    parity(clustered(i => f"k$i%05d", StringType), StringType, Seq("k00004", "k02001", "zzz"), 2, 1)
    val dec = DecimalType(12, 2)
    parity(clustered(i => new java.math.BigDecimal(i).movePointLeft(2), dec), dec,
      Seq(new java.math.BigDecimal("0.04"), new java.math.BigDecimal("20.01"),
        new java.math.BigDecimal("9999.99")), 2, 1)
    // booleans: two single-valued files and a mixed one; the scan plans
    // every file for a boolean IN
    val bools = files(BooleanType, Seq(Seq.fill(10)(true), Seq.fill(10)(false),
      (0 until 10).map(_ % 2 == 0)))
    parity(bools, BooleanType, Seq(false), 3, 1)
  }

  test("MERGE with NULL source keys plans the files of its other keys, or every file") {
    val dir = clustered(i => i.toLong, LongType)
    parity(dir, LongType, Seq(4L, null, 5000L), 1, 0)
    // no key to push: every file is a candidate and none is matched
    val all = clustered(i => i.toLong, LongType)
    parity(all, LongType, Seq(null, null), 4, 4)
  }
}
