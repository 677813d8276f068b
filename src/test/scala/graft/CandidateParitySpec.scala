package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{RowLevelStatement, VortexDelete, VortexInputPartition, VortexScan}

/** A row-level statement's candidates — each file with its planned
  * chunks — are exactly what the pushed-down scan of
  * `load(dir).filter(p)` plans, for every pruning tier: partition
  * directories, buckets, manifest file stats, blooms and chunk stats,
  * over masked files and NULLs. The statement gets them from the
  * listing it holds, with no query over the dataset; the scan is the
  * reference here. */
class CandidateParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** three appends of 1,000 id-sorted rows each, 100-row chunks, a bloom
    * on the unsorted `h`, NULLs in `s` and `n` (`n` has none in ids
    * [1000, 2900) and only NULLs above), then a deletion vector on every
    * file */
  private def dataset(layout: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("vortex_parity").toString
    (0 until 3).foreach { a =>
      val w = spark.range(a * 1000L, (a + 1) * 1000L, 1, 1).selectExpr("id",
        "id % 37 AS k", "concat('p', CAST(id DIV 400 % 3 AS STRING)) AS p",
        "IF(id % 13 = 0, NULL, concat('s', CAST(id % 100 AS STRING))) AS s",
        "concat('h', CAST(id * 7919 % 100003 AS STRING)) AS h",
        "IF(id >= 2900 OR (id < 1000 AND id % 9 = 0), NULL, id) AS n")
        .write.format("vortex").option("chunkRows", "100").option("bloomFilters", "h")
      layout.foldLeft(w) { case (w, (k, v)) => w.option(k, v) }
        .mode(if (a == 0) "overwrite" else "append").save(dir)
    }
    VortexDelete.delete(spark, dir, col("id") % 97L === 5L, deletionVectors = true)
    dir
  }

  private val predicates: Seq[(String, Column)] = Seq(
    "range" -> (col("id") > 500L && col("id") < 900L),
    "=" -> (col("id") === 1234L),
    "<>" -> (col("s") =!= "s5"),
    "IN above the InSet threshold" -> col("id").isin((0 until 14).map(i => 2000L + 3 * i): _*),
    "LIKE prefix" -> col("s").like("s1%"),
    "NOT" -> not(col("id") < 2500L),
    "IS NULL" -> col("n").isNull,
    "BETWEEN" -> col("id").between(100L, 200L),
    "partition column" -> (col("p") === "p1"),
    "bucket key" -> (col("k") === 7L),
    "bloom column" -> (col("h") === s"h${1234L * 7919 % 100003}"))

  /** file → planned chunks of a scan's input partitions */
  private def planned(df: DataFrame): Map[String, Seq[Int]] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case v: VortexInputPartition => v }
      .groupBy(_.file).map { case (f, ps) => f -> ps.flatMap(_.chunkIdxs).distinct.sorted.toSeq }

  /** whether `s` has planned its input partitions */
  private def hasPlanned(s: VortexScan): Boolean = {
    val f = classOf[VortexScan].getDeclaredFields.find(_.getName.endsWith("lastPlan")).get
    f.setAccessible(true)
    f.get(s) != null
  }

  /** file → planned chunks of a statement over `dir` whose table is
    * filtered by `filter`; optimization builds the scan but never
    * plans it */
  private def candidates(dir: String)(filter: DataFrame => DataFrame): Map[String, Seq[Int]] =
    RowLevelStatement.run(spark, dir, "delete") { st =>
      val filtered = filter(st.table)
      val cands = st.candidates(filtered, identity)
      assert(RowLevelStatement.scanOf(filtered).exists(s => !hasPlanned(s)))
      cands.map(c => c.file -> c.plannedChunks.toSeq).toMap
    }

  Seq("Hive-partitioned" -> Seq("partitionBy" -> "p"),
      "bucketed" -> Seq("bucketBy" -> "k", "buckets" -> "4")).foreach { case (name, layout) =>
    test(s"$name: a statement's candidates are the pushed scan's files and chunks") {
      val dir = dataset(layout: _*)
      val all = planned(spark.read.format("vortex").load(dir))
      val chunks = all.values.map(_.length).sum
      assert(all.size >= 6 && chunks > all.size, all)
      val pruned = predicates.map { case (what, p) =>
        val want = planned(spark.read.format("vortex").load(dir).filter(p))
        val got = candidates(dir)(_.filter(p))
        assert(got == want, s"$name, $what")
        what -> (got.values.map(_.length).sum < chunks)
      }.toMap
      // the dataset exercises every tier the layout has
      Seq("range", "=", "BETWEEN", "IS NULL", "bloom column",
        if (name == "bucketed") "bucket key" else "partition column")
        .foreach(what => assert(pruned(what), s"$name: $what pruned nothing"))

      // MERGE's key filter: one InSet of the source keys
      val keys = Seq(5L, 1500L, 2999L) ++ (100L until 120L)
      val want = planned(spark.read.format("vortex").load(dir).filter(col("id").isin(keys: _*)))
      val got = candidates(dir)(t => t.filter(GraftSqlBridge.column(
        InSet(t.queryExecution.analyzed.output.head, keys.toSet))))
      assert(got == want && got.size < all.size, s"$name, MERGE keys")
    }
  }
}
