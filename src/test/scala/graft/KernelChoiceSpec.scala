package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
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

  /** Rows `[from, until)` of every type the row loop copies, each
    * column NULL on some rows and its type's zero on others (a
    * batch-backed row reads a NULL primitive as that zero), less the
    * columns in `drop`. */
  private def nullRows(from: Long, until: Long, drop: Set[String] = Set.empty): DataFrame =
    spark.range(from, until).selectExpr(Seq(
      "id",
      "IF(id % 7 = 0, NULL, id % 2 = 0) AS b",
      "IF(id % 7 = 1, NULL, CAST(id % 5 AS TINYINT)) AS y",
      "IF(id % 7 = 2, NULL, CAST(id % 3 AS SMALLINT)) AS s",
      "IF(id % 7 = 3, NULL, CAST(id % 4 AS INT)) AS i",
      "IF(id % 7 = 4, NULL, id % 6) AS l",
      "IF(id % 7 = 5, NULL, CAST(id % 3 AS FLOAT)) AS f",
      "IF(id % 7 = 6, NULL, CAST(id % 5 AS DOUBLE)) AS d",
      "IF(id % 5 = 0, NULL, CAST(id % 4 AS DECIMAL(10,2))) AS dec1",
      "IF(id % 5 = 1, NULL, CAST(id % 4 AS DECIMAL(30,4))) AS dec2",
      "IF(id % 5 = 2, NULL, date_add(DATE '1970-01-01', CAST(id % 3 AS INT))) AS dt",
      "IF(id % 5 = 3, NULL, timestamp_millis(id % 3 * 1000)) AS ts_ms",
      "IF(id % 5 = 4, NULL, timestamp_micros(id % 3)) AS ts_ns",
      "IF(id % 3 = 0, NULL, CAST(id % 4 AS STRING)) AS str",
      "IF(id % 3 = 1, NULL, CAST(CAST(id % 4 AS STRING) AS BINARY)) AS bin",
      "IF(id % 4 = 0, NULL, named_struct('a', IF(id % 8 = 1, NULL, id), 'b', CAST(id AS STRING))) AS st",
      "IF(id % 4 = 1, NULL, array(CAST(id AS INT), CAST(id % 3 AS INT))) AS arr")
      .filterNot(e => drop.exists(c => e.endsWith(s" AS $c"))): _*)

  /** [[nullRows]] 0 until 600 in one file of three chunks, with one
    * millisecond and one nanosecond timestamp column */
  private def withNulls(): String = {
    val dir = Files.createTempDirectory("vortex_kernel_nulls").toString
    nullRows(0, 600).coalesce(1).write.format("vortex").option("chunkRows", "200")
      .option("timestampUnits", "ts_ms=ms, ts_ns=ns").mode("overwrite").save(dir)
    dir
  }

  /** rows in id order, columns by name (a mergeSchema read orders them
    * by first sight), binary values compared by content */
  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).orderBy("id").collect().toSeq
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })

  /** Run `statement` on `dir`, check the kernel of every candidate file,
    * and compare what it leaves with Spark's evaluation (`want`) over
    * the rows before it. */
  private def against(dir: String, what: String, kernel: Kernel.Value)(statement: => Unit)
                     (want: DataFrame => DataFrame): Unit = {
    def read() = spark.read.format("vortex").option("mergeSchema", "true").load(dir)
    val before = read()
    val pre = spark.createDataFrame(spark.sparkContext.parallelize(before.collect().toSeq),
      before.schema)
    statement
    val ran = RowLevelStatement.lastOutcomes
    assert(ran.nonEmpty && ran.forall(_.kernel == kernel),
      s"$what: ${ran.map(o => (new java.io.File(o.file).getName, o.kernel))}")
    val (got, exp) = (canon(read()), canon(want(pre)))
    assert(got == exp, s"$what: ${got.length} rows, ${exp.length} expected; left only " +
      s"${got.diff(exp).take(3)}, expected only ${exp.diff(got).take(3)}")
  }

  /** UPDATE `dir` SET l = -7 WHERE `p`, planned over the mergeSchema
    * read. The public statements plan strictly and refuse a dataset
    * whose files disagree on their columns, so this runs the pipeline's
    * own steps: plan, one file task per candidate, commit. */
  private def updateEvolved(dir: String, p: Column): Unit =
    RowLevelStatement.run(spark, dir, "update") { st =>
      st.begin()
      val filtered = spark.read.format("vortex").option("mergeSchema", "true").load(dir).filter(p)
      val (schema, cond) = RowLevelStatement.where(filtered, "update")
      val assigns = schema.fields.indices.map { i =>
        if (schema(i).name == "l") Literal(-7L)
        else BoundReference(i, schema(i).dataType, schema(i).nullable)
      }
      val cands = st.candidates(filtered, VortexUpdate.replacementName)
      st.commit(st.execute(cands, RowLevelStatement.Shape("update", schema,
        Seq(RowLevelStatement.Clause(Some(cond), Some(assigns))), mustStore = Seq("l"))))
    }

  test("NULLs survive the row loop: every column type, a masked file, each row-loop kernel") {
    val dir = withNulls()
    against(dir, "masking DELETE", Kernel.Mask)(
      VortexDelete.delete(spark, dir, col("id") % 50L === 7L, deletionVectors = true))(
      _.filter(!(col("id") % 50L === 7L)))
    // masked and nested: the Row kernel
    val sets = col("b").isNull || col("s") === 0
    against(dir, "UPDATE rewrite", Kernel.Row)(
      VortexUpdate.update(spark, dir, Map("y" -> lit(9)), sets))(
      _.withColumn("y", when(sets, lit(9).cast("tinyint")).otherwise(col("y"))))
    val hit = col("l") === 0L || col("str").isNull
    against(dir, "DELETE rewrite", Kernel.Row)(
      VortexDelete.delete(spark, dir, hit))(_.filter(!coalesce(hit, lit(false))))
    against(dir, "mask-tier UPDATE", Kernel.AppendMask)(
      VortexUpdate.update(spark, dir, Map("d" -> lit(-1.0)), col("i") === 0,
        deletionVectors = true))(
      _.withColumn("d", when(col("i") === 0, lit(-1.0)).otherwise(col("d"))))
    // a schema-evolved file that lacks f: every one of its rows has f NULL
    val evo = Files.createTempDirectory("vortex_kernel_evo").toString
    nullRows(1000, 1100, Set("f")).coalesce(1).write.format("vortex")
      .option("timestampUnits", "ts_ms=ms, ts_ns=ns").mode("overwrite").save(evo)
    new java.io.File(evo).listFiles.filter(_.getName.endsWith(".vortex")).foreach(f =>
      Files.copy(f.toPath, java.nio.file.Paths.get(dir, "evo_" + f.getName)))
    val lacking = col("f").isNull && col("id") >= 1000L && col("l") =!= 5L
    against(dir, "UPDATE of a file lacking f", Kernel.Row)(updateEvolved(dir, lacking))(
      _.withColumn("l", when(lacking, lit(-7L)).otherwise(col("l"))))
  }

  test("a NULL MERGE key matches no source key 0, on the Row and Splice kernels") {
    import spark.implicits._
    Seq(("Row", true), ("Splice", false)).foreach { case (name, rowFile) =>
      val dir = Files.createTempDirectory("vortex_kernel_nullkey").toString
      val target = spark.range(0, 300).selectExpr("id", "IF(id % 5 = 1, NULL, id % 50) AS k",
        "id * 2 AS v")
      (if (rowFile) target.selectExpr("*", "named_struct('a', id) AS st") else target)
        .coalesce(1).write.format("vortex").option("chunkRows", "100")
        .mode("overwrite").save(dir)
      // a nested column and a mask: the file loses rows, so it takes Row
      if (rowFile) VortexDelete.delete(spark, dir, col("id") === 7L, deletionVectors = true)
      Seq((0L, -100L)).toDF("k", "v").createOrReplaceTempView("nullkey_src")
      against(dir, s"$name MERGE", if (rowFile) Kernel.Row else Kernel.Splice)(
        spark.sql(s"MERGE INTO vtx.`$dir` t USING nullkey_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = s.v"))(
        _.withColumn("v", when(col("k") === 0L, lit(-100L)).otherwise(col("v"))))
    }
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
