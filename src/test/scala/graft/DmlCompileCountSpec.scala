package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions
import graft.sources.vortex.{VortexDelete, VortexMerge, VortexUpdate}

/** Generated-code compiles of a maintenance statement re-run with new
  * constants, in the style of ParameterizedLiteralSpec: after a first
  * statement of a shape, each later one may compile at most the
  * recorded number of classes (`CodegenMetrics`). The bounds are what
  * the statements compiled before the per-file kernels were unified,
  * each lowered to its measured count once its site stops compiling
  * (SQL UPDATE 3 → 2); compile-free DML lowers them to 0. Each shape runs on a fresh
  * three-file dataset, so every statement rewrites one unmasked file. */
class DmlCompileCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .create()
    s.conf.set("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
    s
  }

  /** compiles allowed per statement after the first of its shape */
  private val bounds = Map(
    "delete" -> 1L, "delete_dv" -> 1L, "sql_update" -> 2L, "update_dv" -> 2L, "merge" -> 0L)

  private def table(): String = {
    val dir = Files.createTempDirectory("vortex_dml_compiles").toString
    spark.range(0, 30000).selectExpr("id", "id * 2 AS v", "concat('s', id % 97) AS s")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    dir
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** compiles of each statement `run(k)`, k = 0, 1, 2, on one fresh table */
  private def counts(run: (String, Int) => Unit): Seq[Long] = {
    val dir = table()
    (0 until 3).map { k =>
      val c0 = compiles()
      run(dir, k)
      compiles() - c0
    }
  }

  /** statement k's key range; every shape gets constants of its own,
    * so no shape reuses another's generated code */
  private def range(shape: String, k: Int): (Long, Long) = {
    val lo = k * 10000L + 1000L + bounds.keys.toSeq.sorted.indexOf(shape) * 100L
    (lo, lo + 50L)
  }

  private def check(shape: String)(run: (String, Int) => Unit): Unit = {
    val n = counts(run)
    info(s"$shape compiles per statement: ${n.mkString(", ")}")
    n.tail.foreach(c => assert(c <= bounds(shape),
      s"$shape: $c compiles for new constants (bound ${bounds(shape)}; all: $n)"))
  }

  test("DELETE, both tiers: new constants compile no more than the recorded bound") {
    Seq("delete" -> false, "delete_dv" -> true).foreach { case (shape, dv) =>
      check(shape) { (dir, k) =>
        val (lo, hi) = range(shape, k)
        VortexDelete.delete(spark, dir, col("id") >= lo && col("id") < hi, dv)
      }
    }
  }

  test("SQL UPDATE and mask-tier UPDATE: new constants compile no more than the bound") {
    check("sql_update") { (dir, k) =>
      val (lo, hi) = range("sql_update", k)
      spark.sql(s"UPDATE vtx.`$dir` SET v = v + ${k + 7} WHERE id >= $lo AND id < $hi")
    }
    check("update_dv") { (dir, k) =>
      val (lo, hi) = range("update_dv", k)
      VortexUpdate.update(spark, dir, Map("v" -> (col("v") + (k + 70))),
        col("id") >= lo && col("id") < hi, deletionVectors = true)
    }
  }

  test("MERGE: a new source compiles no more than the bound") {
    import spark.implicits._
    check("merge") { (dir, k) =>
      val (lo, _) = range("merge", k)
      val src: DataFrame = ((lo until lo + 20L).map(i => (i, -i - k, s"u$k")) ++
        (0 until 5).map(j => (100000L + k * 10 + j, 1L, s"i$k"))).toDF("id", "v", "s")
      VortexMerge.merge(spark, dir, src, Seq("id"))
    }
  }
}
