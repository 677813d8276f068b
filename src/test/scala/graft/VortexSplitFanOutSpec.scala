package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.In
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{VortexDelete, VortexInputPartition, VortexScan}

/** Split planning fans a file's chunks out across the session's cores
  * in contiguous runs: reads stay in chunk order, deletion-vector masks
  * apply in every split, and a join-derived runtime IN list prunes and
  * renders at bounded cost. */
class VortexSplitFanOutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  /** one file of ids 0 until 200000 in ten 20000-row chunks */
  private def tenChunks(): String = {
    val dir = Files.createTempDirectory("vortex_fanout_").toString
    spark.range(0, 200000, 1, 1).selectExpr("id", "id * 2 AS v")
      .write.format("vortex").option("chunkRows", "20000").mode("append").save(dir)
    dir
  }

  private def splits(df: org.apache.spark.sql.DataFrame): Seq[VortexInputPartition] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.flatten.collect { case p: VortexInputPartition => p }

  test("a 10-chunk file plans one contiguous split per core; a small file stays whole") {
    val df = spark.read.format("vortex").load(tenChunks())
    val parts = splits(df)
    // one split per core, at most one per started 65,536 rows (4):
    // on local[4], four splits of 2-3 chunks each
    assert(parts.length == math.min(4, spark.sparkContext.defaultParallelism))
    assert(parts.length >= 2)
    assert(parts.flatMap(_.chunkIdxs) == (0 until 10))
    assert(parts.map(_.chunkIdxs.length).max - parts.map(_.chunkIdxs.length).min <= 1)
    // ten chunks of under one default chunk's rows in all: one split
    val small = Files.createTempDirectory("vortex_fanout_").toString
    spark.range(0, 50000, 1, 1).write.format("vortex").option("chunkRows", "5000")
      .mode("append").save(small)
    assert(splits(spark.read.format("vortex").load(small)).map(_.chunkIdxs.toSeq) ==
      Seq(0 until 10))
  }

  test("a scan without ORDER BY collects rows in chunk order") {
    val df = spark.read.format("vortex").load(tenChunks())
    assert(splits(df).length >= 2)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 200000L))
  }

  test("a deletion-vector-masked multi-chunk file read across splits returns the live rows") {
    val dir = tenChunks()
    VortexDelete.delete(spark, dir, col("id") % 7 === 3 || col("id").between(30000, 130000),
      deletionVectors = true)
    val df = spark.read.format("vortex").load(dir)
    val parts = splits(df)
    assert(parts.length >= 2 && parts.forall(_.maskFile != null))
    val live = (0L until 200000L).filter(id => id % 7 != 3 && (id < 30000 || id > 130000))
    assert(df.collect().map(_.getLong(0)).toSeq == live)
  }

  test("a 75k-key runtime IN prunes by sorted keys and renders in under 1 KB") {
    val dir = tenChunks()
    val schema = spark.read.format("vortex").load(dir).schema
    val scan = new VortexScan(schema, schema, Array.empty, Seq(dir))
    // keys in chunk 0 and chunk 7 only, unsorted, with duplicates
    val keys = Array.tabulate[Any](75000)(k =>
      if (k % 2 == 0) (k % 20000).toLong else 140000L + (k * 7919L) % 20000)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("id", keys)))
    val d = scan.description()
    assert(d.length < 1024, d)
    assert(d.contains("In(id, <75000 values in [0, 159999]>)"), d)
    val parts = scan.planInputPartitions()
    assert(parts.flatMap(_.asInstanceOf[VortexInputPartition].chunkIdxs).toSeq == Seq(0, 7))
    // the memo answers a repeated call without planning again
    assert(scan.planInputPartitions() eq parts)
  }
}
