package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.CommandExecutionMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.VortexMergeCommand
import graft.sources.vortex.{RowLevelStatement, VortexDelete, VortexMerge, VortexUpdate}

/** The shared row-level statement pipeline (RowLevelStatement): a task
  * that fails after opening its tmp leaves no `.inprogress` litter and
  * no open stream on it,
  * the MERGE replace half honours the same crash seam as DELETE and
  * UPDATE, and the whole-row `merge` is the SQL
  * `UPDATE SET * / INSERT *` clause statement — same rows, same
  * MergeResult. */
class RowLevelStatementSpec extends AnyFunSuite {
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

  private def tmp(): String = Files.createTempDirectory("vortex_rowlevel").toString

  private def inprogress(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".inprogress")).toList
    finally s.close()
  }

  /** the `.inprogress` paths this JVM holds open (its /proc/self/fd links) */
  private def openInprogress(): Seq[String] = {
    val s = Files.list(Paths.get("/proc/self/fd"))
    try s.iterator().asScala.flatMap(p =>
      try Some(Files.readSymbolicLink(p).toString) catch { case _: Exception => None })
      .filter(_.contains(".inprogress")).toList
    finally s.close()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def copyDir(src: String, dst: String): Unit = {
    val s = Files.walk(Paths.get(src))
    try s.iterator().asScala.foreach { p =>
      val q = Paths.get(dst).resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** plan a SQL MERGE without running it, then run its command and
    * return the statement's counts */
  private def sqlMerge(sql: String): VortexMerge.MergeResult = {
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(sql), CommandExecutionMode.SKIP)
    qe.optimizedPlan.collectFirst { case c: VortexMergeCommand => c }
      .getOrElse(fail(s"not a vortex MERGE: ${qe.optimizedPlan}"))
      .execute(spark)
  }

  test("a task that throws after opening its tmp leaves no .inprogress file") {
    import spark.implicits._
    val dir = tmp()
    (0L until 100L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val file = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".vortex")).get.toString
    val c = RowLevelStatement.Candidate(file, Array.empty, Array.empty, null, null, 1,
      "part-x.vortex", "", Map.empty)
    val conf = spark.sessionState.newHadoopConf()
    val e1 = intercept[IllegalStateException] {
      RowLevelStatement.withTmp(c, c.dstName, conf) { t =>
        t.getFileSystem(conf).create(t).close()
        throw new IllegalStateException("boom")
      }
    }
    assert(e1.getMessage == "boom")
    val schema = spark.read.format("vortex").load(dir).schema
    intercept[IllegalStateException] {
      RowLevelStatement.write(c, c.dstName, schema, conf) { w =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(1L, 1L))
        throw new IllegalStateException("boom")
      }
    }
    assert(inprogress(dir).isEmpty, inprogress(dir))
  }

  test("a failing UPDATE leaves no tmp on the column-splice and row paths") {
    import spark.implicits._
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val dir = tmp()
    (0L until 1000L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val boom = Map("v" -> expr(
      "CASE WHEN id < 900 THEN v + 1 ELSE CAST(raise_error('boom') AS BIGINT) END"))
    // unmasked file: the column-splice rewrite
    intercept[Exception](VortexUpdate.update(spark, dir, boom, col("id") % 7L === 0L))
    assert(inprogress(dir).isEmpty, inprogress(dir))
    // masked file: the row-path rewrite folds the mask in
    VortexDelete.delete(spark, dir, col("id") === 3L, deletionVectors = true)
    intercept[Exception](VortexUpdate.update(spark, dir, boom, col("id") % 7L === 0L))
    assert(inprogress(dir).isEmpty, inprogress(dir))
    // the failed row-path writer closed its stream before the tmp went
    assert(openInprogress().isEmpty, openInprogress())
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 999L)
    assert(after.where(col("v") =!= col("id")).count() == 0L, "nothing committed")
  }

  test("MERGE replace half: a crash mid-commit re-runs to the exact rows") {
    import spark.implicits._
    val base = (0L until 4000L).map(i => (i, s"old$i"))
    // one update in each of the 4 range files + 2 inserts
    val src = Seq((5L, "new5"), (1005L, "new1005"), (2005L, "new2005"), (3005L, "new3005"),
      (9001L, "ins9001"), (9002L, "ins9002"))
    val expected = {
      val upd = src.toMap
      (base.map { case (i, s) => (i, upd.getOrElse(i, s)) } ++
        src.filter(_._1 >= 4000L)).map { case (i, s) => s"$i|$s" }.sorted
    }
    for (failAt <- 0 until 4) {
      val dir = tmp()
      base.toDF("id", "s").repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.format("vortex").mode("overwrite").save(dir)
      val crashed = intercept[Exception] {
        VortexMerge.upsert(spark, dir, src.toDF("id", "s"), Seq("id"), failAfterCommits = failAt)
      }
      assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
      val res = VortexMerge.merge(spark, dir, src.toDF("id", "s"), Seq("id"))
      assert(res.rowsInserted == 2L, s"failAt=$failAt $res")
      assert(rows(spark.read.format("vortex").load(dir)) == expected, s"failAt=$failAt")
    }
  }

  test("merge() and SQL MERGE UPDATE SET * / INSERT * agree: masked file") {
    import spark.implicits._
    val a = tmp()
    (0L until 3000L).map(i => (i, i * 2, s"r$i")).toDF("id", "v", "s")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(a)
    VortexDelete.delete(spark, a, col("id") % 10L === 3L, deletionVectors = true)
    val b = tmp()
    copyDir(a, b)
    // live updates, an update of a masked (dead) row — an insert — and new keys
    val src = Seq((4L, -4L, "u4"), (1500L, -1L, "u1500"), (13L, -13L, "dead13"),
      (7000L, 7L, "i7000")).toDF("id", "v", "s")
    src.createOrReplaceTempView("rls_src_masked")
    val viaApi = VortexMerge.merge(spark, a, src, Seq("id"))
    val viaSql = sqlMerge(
      s"""MERGE INTO vtx.`$b` t USING rls_src_masked s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // every field but the phase times, which vary run to run
    assert(viaApi.copy(phaseMs = Map.empty) == viaSql.copy(phaseMs = Map.empty))
    assert(viaApi.rowsUpdated == 2L && viaApi.rowsInserted == 2L, viaApi)
    assert(rows(spark.read.format("vortex").load(a)) ==
      rows(spark.read.format("vortex").load(b)))
  }

  test("merge() and SQL MERGE UPDATE SET * / INSERT * agree: partitioned layout") {
    import spark.implicits._
    val a = tmp()
    (0L until 300L).map(i => (s"p${i % 3}", i, i * 1.5)).toDF("p", "id", "q")
      .write.format("vortex").option("partitionBy", "p").mode("overwrite").save(a)
    val b = tmp()
    copyDir(a, b)
    // updates keep each row's partition; inserts land in two partitions
    val src = Seq(("p1", 7L, -1.0), ("p2", 8L, -2.0), ("p0", 900L, 9.0), ("p2", 902L, 9.5))
      .toDF("p", "id", "q")
    src.createOrReplaceTempView("rls_src_part")
    val viaApi = VortexMerge.merge(spark, a, src, Seq("id"))
    val viaSql = sqlMerge(
      s"""MERGE INTO vtx.`$b` t USING rls_src_part s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // every field but the phase times, which vary run to run
    assert(viaApi.copy(phaseMs = Map.empty) == viaSql.copy(phaseMs = Map.empty))
    assert(viaApi.rowsUpdated == 2L && viaApi.rowsInserted == 2L, viaApi)
    assert(rows(spark.read.format("vortex").load(a)) ==
      rows(spark.read.format("vortex").load(b)))
    assert(spark.read.format("vortex").load(b).where(col("id") === 902L)
      .select("p").head().getString(0) == "p2")
  }
}
