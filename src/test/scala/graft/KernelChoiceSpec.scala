package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{RowLevelStatement, VortexDelete, VortexMaintenance, VortexMerge, VortexUpdate}
import graft.sources.vortex.RowLevelStatement.Kernel

/** Which per-file kernel each statement shape takes
  * (RowLevelStatement's kernel table), one row per shape, each on a
  * fresh one-file dataset (partitioned: one file per partition), with
  * the rows the statement leaves checked against a Scala model. */
class KernelChoiceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.plans.RewriteVortexDml.install(s)
    s.conf.set("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
    s
  }

  private val N = 1000L

  /** (id, v = 2 id) in one file of three chunks */
  private def plain(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("vortex_kernel").toString
    (0L until N).map(i => (i, 2 * i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").option("chunkRows", "400").mode("overwrite").save(dir)
    dir
  }

  /** [[plain]] with row 3 masked dead */
  private def masked(): String = {
    val dir = plain()
    VortexDelete.delete(spark, dir, col("id") === 3L, deletionVectors = true)
    dir
  }

  /** (id, v = 2 id, st = struct(a = id)) in one file */
  private def nested(): String = {
    val dir = Files.createTempDirectory("vortex_kernel_nested").toString
    spark.range(0, N).selectExpr("id", "id * 2 AS v", "named_struct('a', id) AS st")
      .coalesce(1).write.format("vortex").mode("overwrite").save(dir)
    dir
  }

  /** (p = "p" + id % 2, id, v = 2 id), partitioned by p */
  private def partitioned(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("vortex_kernel_part").toString
    (0L until N).map(i => (s"p${i % 2}", i, 2 * i)).toDF("p", "id", "v").coalesce(1)
      .write.format("vortex").option("partitionBy", "p").mode("overwrite").save(dir)
    dir
  }

  private def source(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  /** (shape, dataset, statement, the kernel of every candidate file,
    * the (id, v) rows the statement leaves) */
  private val shapes: Seq[(String, () => String, String => Unit, Kernel.Value, Seq[(Long, Long)])] = {
    val all = (0L until N).map(i => (i, 2 * i))
    Seq(
      ("DELETE on a plain file", () => plain(),
        d => VortexDelete.delete(spark, d, col("id") % 10L === 0L),
        Kernel.Splice, all.filter(_._1 % 10 != 0)),
      ("DELETE matching every row", () => plain(),
        d => VortexDelete.delete(spark, d, col("v") >= 0L),
        Kernel.Drop, Nil),
      ("DELETE matching no row of a candidate", () => plain(),
        d => VortexDelete.delete(spark, d, col("id") % 10L === 11L),
        Kernel.Keep, all),
      ("DELETE with deletion vectors", () => plain(),
        d => VortexDelete.delete(spark, d, col("id") < 5L, deletionVectors = true),
        Kernel.Mask, all.filter(_._1 >= 5)),
      ("UPDATE of a column subset", () => plain(),
        d => VortexUpdate.update(spark, d, Map("v" -> lit(-1L)), col("id") < 5L),
        Kernel.Splice, all.map { case (i, v) => (i, if (i < 5) -1L else v) }),
      ("UPDATE of a masked file", () => masked(),
        d => VortexUpdate.update(spark, d, Map("v" -> lit(-1L)), col("id") < 5L),
        Kernel.Splice, all.filter(_._1 != 3).map { case (i, v) => (i, if (i < 5) -1L else v) }),
      ("UPDATE with deletion vectors", () => plain(),
        d => VortexUpdate.update(spark, d, Map("v" -> lit(-1L)), col("id") < 5L,
          deletionVectors = true),
        Kernel.AppendMask, all.map { case (i, v) => (i, if (i < 5) -1L else v) }),
      ("UPDATE with deletion vectors matching every live row", () => plain(),
        d => VortexUpdate.update(spark, d, Map("v" -> lit(-1L)), col("id") >= 0L,
          deletionVectors = true),
        Kernel.Splice, all.map { case (i, _) => (i, -1L) }),
      ("upsert MERGE", () => plain(),
        d => VortexMerge.merge(spark, d, source(Seq((4L, -4L), (5000L, 1L))), Seq("id")),
        Kernel.Splice, all.map { case (i, v) => (i, if (i == 4) -4L else v) } :+ ((5000L, 1L))),
      ("MERGE with a DELETE clause", () => plain(),
        d => {
          source(Seq((4L, 0L), (6L, 0L))).createOrReplaceTempView("kernel_src")
          spark.sql(s"MERGE INTO vtx.`$d` t USING kernel_src s ON t.id = s.id " +
            "WHEN MATCHED THEN DELETE")
        },
        Kernel.Splice, all.filterNot(r => r._1 == 4 || r._1 == 6)),
      ("MERGE with UPDATE and DELETE clauses on a masked file", () => masked(),
        d => {
          source(Seq((4L, -1L), (6L, 60L))).createOrReplaceTempView("kernel_src")
          spark.sql(s"MERGE INTO vtx.`$d` t USING kernel_src s ON t.id = s.id " +
            "WHEN MATCHED AND s.v < 0 THEN DELETE WHEN MATCHED THEN UPDATE SET v = s.v")
        },
        Kernel.Splice, all.filterNot(r => r._1 == 3 || r._1 == 4)
          .map { case (i, v) => (i, if (i == 6) 60L else v) }),
      ("foldMasks", () => masked(),
        d => VortexMaintenance.foldMasks(spark, d),
        Kernel.Splice, all.filter(_._1 != 3)),
      ("DELETE on a struct layout", () => nested(),
        d => VortexDelete.delete(spark, d, col("id") % 10L === 0L),
        Kernel.Row, all.filter(_._1 % 10 != 0)),
      ("UPDATE on a masked struct-layout file", () => {
          val d = nested()
          VortexDelete.delete(spark, d, col("id") === 3L, deletionVectors = true)
          d
        },
        d => VortexUpdate.update(spark, d, Map("v" -> lit(-1L)), col("id") < 5L),
        Kernel.Row, all.filter(_._1 != 3).map { case (i, v) => (i, if (i < 5) -1L else v) }),
      ("DELETE with a partition-column predicate", () => partitioned(),
        d => VortexDelete.delete(spark, d, (col("p") === "p1" && col("id") < 10L) || col("id") < 4L),
        Kernel.Row, all.filterNot(r => (r._1 % 2 == 1 && r._1 < 10) || r._1 < 4)))
  }

  shapes.foreach { case (shape, dataset, statement, kernel, want) =>
    test(s"$shape: $kernel") {
      val dir = dataset()
      statement(dir)
      val ran = RowLevelStatement.lastOutcomes
      assert(ran.nonEmpty && ran.forall(_.kernel == kernel),
        s"$shape: ${ran.map(o => (new java.io.File(o.file).getName, o.kernel))}")
      val got = spark.read.format("vortex").load(dir).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want.sorted, shape)
    }
  }
}
