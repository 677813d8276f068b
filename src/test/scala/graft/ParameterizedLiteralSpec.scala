package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftExtensions, ParamLiteral}

/** Filter constants reach generated code through `references`, not
  * the Java source: the same query shape with a second constant
  * compiles nothing, answers exactly what an independent Scala
  * evaluation of the predicate gives, and EXPLAIN still prints the
  * constant. Covered on a shuffle-free filter (planned without adaptive
  * execution) and on an aggregate (planned adaptively), over long,
  * int, date, µs timestamp, a ms-unit vortex timestamp and double
  * (NaN and -0.0 included). */
class ParameterizedLiteralSpec extends AnyFunSuite {
  // a session of its own with the extensions; the suite's shared
  // default session (whoever built it first) stays the default
  lazy val spark: SparkSession = {
    SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .create()
  }

  private val N = 20000
  private val Day0 = java.time.LocalDate.parse("2020-01-01").toEpochDay
  private val Ts0 = java.time.LocalDateTime.parse("2020-01-01T00:00:00")
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** the table's rows, computed in Scala: (id, l, i, d, ts µs, tsm µs, x) */
  private case class R(id: Long, l: Long, i: Int, d: Long, ts: Long, tsm: Long, x: Double)
  private val rows = (0 until N).map { id =>
    R(id, id * 3L - 1000, id % 1000 - 500, Day0 + id % 400, Ts0 + id * 1000003L,
      Ts0 + id * 1500000L, id % 7 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case _ => (id % 100) / 4.0 - 10
      })
  }

  private lazy val table: String = {
    val dir = Files.createTempDirectory("vortex_param_").toString
    spark.range(0, N).selectExpr(
      "id",
      "id * 3 - 1000 AS l",
      "CAST(id % 1000 - 500 AS INT) AS i",
      "date_add(DATE '2020-01-01', CAST(id % 400 AS INT)) AS d",
      "timestamp_micros(1577836800000000 + id * 1000003) AS ts",
      "timestamp_micros(1577836800000000 + id * 1500000) AS tsm",
      "CASE id % 7 WHEN 0 THEN double('NaN') WHEN 1 THEN -0.0D WHEN 2 THEN 0.0D " +
        "ELSE (id % 100) / 4.0D - 10 END AS x")
      .repartition(1).sortWithinPartitions("id")
      .write.format("vortex").option("chunkRows", "4000")
      .option("timestampUnits", "tsm=ms").mode("append").save(dir)
    spark.read.format("vortex").load(dir).createOrReplaceTempView("pt")
    dir
  }

  private def micros(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      java.time.LocalDateTime.parse(ts.replace(' ', 'T')).getNano / 1000

  // Spark's double order: NaN equals NaN and sorts above everything,
  // -0.0 equals 0.0
  private def dEq(a: Double, b: Double) = (a.isNaN && b.isNaN) || a == b

  /** (shape with `?` for the constant, the constants' SQL, Scala predicate per constant) */
  private val shapes: Seq[(String, Seq[(String, R => Boolean)])] = Seq(
    "l > ?" -> Seq("25000" -> ((r: R) => r.l > 25000), "41000" -> ((r: R) => r.l > 41000)),
    "l BETWEEN ? AND 50000" -> Seq(
      "12000" -> ((r: R) => r.l >= 12000 && r.l <= 50000),
      "31000" -> ((r: R) => r.l >= 31000 && r.l <= 50000)),
    "i <= ?" -> Seq("-100" -> ((r: R) => r.i <= -100), "250" -> ((r: R) => r.i <= 250)),
    "i IN (?, 7, 9)" -> Seq("-3" -> ((r: R) => Set(-3, 7, 9)(r.i)),
      "400" -> ((r: R) => Set(400, 7, 9)(r.i))),
    "d = ?" -> Seq(
      "DATE '2020-02-01'" -> ((r: R) => r.d == Day0 + 31),
      "DATE '2020-06-15'" -> ((r: R) => r.d == java.time.LocalDate.parse("2020-06-15").toEpochDay)),
    "ts < ?" -> Seq(
      "TIMESTAMP '2020-01-01 01:00:00'" -> ((r: R) => r.ts < micros("2020-01-01 01:00:00")),
      "TIMESTAMP '2020-01-01 03:20:00.5'" -> ((r: R) => r.ts < micros("2020-01-01 03:20:00.5"))),
    "tsm >= ?" -> Seq(
      "TIMESTAMP '2020-01-01 02:00:00.0005'" ->
        ((r: R) => r.tsm >= micros("2020-01-01 02:00:00.0005")),
      "TIMESTAMP '2020-01-01 05:00:00'" -> ((r: R) => r.tsm >= micros("2020-01-01 05:00:00"))),
    "x = ?" -> Seq("double('NaN')" -> ((r: R) => dEq(r.x, Double.NaN)),
      "-0.0D" -> ((r: R) => dEq(r.x, -0.0))),
    "x > ?" -> Seq("-0.0D" -> ((r: R) => r.x.isNaN || r.x > 0.0),
      "2.25D" -> ((r: R) => r.x.isNaN || r.x > 2.25)))

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(sql: String): (Array[org.apache.spark.sql.Row], Long, org.apache.spark.sql.DataFrame) = {
    val c0 = compiles()
    val df = spark.sql(sql)
    val out = df.collect()
    (out, compiles() - c0, df)
  }

  test("shuffle-free filter: a second constant compiles nothing, answers are exact") {
    table
    shapes.foreach { case (shape, consts) =>
      consts.zipWithIndex.foreach { case ((c, pred), k) =>
        val sql = s"SELECT id FROM pt WHERE ${shape.replace("?", c)}"
        val (out, n, df) = run(sql)
        assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec], sql)
        assert(out.map(_.getLong(0)).sorted.toSeq == rows.filter(pred).map(_.id), sql)
        if (k == 0) assert(n > 0, s"$sql: the first constant of a new shape compiles")
        else assert(n == 0, s"$sql: $n compiles for a new constant")
      }
    }
  }

  test("aggregate (adaptive plan): a second constant compiles nothing, answers are exact") {
    table
    shapes.foreach { case (shape, consts) =>
      consts.zipWithIndex.foreach { case ((c, pred), k) =>
        val sql = s"SELECT count(*), sum(id) FROM pt WHERE ${shape.replace("?", c)} GROUP BY id % 3"
        val (out, n, df) = run(sql)
        assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec], sql)
        val want = rows.filter(pred)
        assert(out.map(_.getLong(0)).sum == want.length, sql)
        assert(out.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum == want.map(_.id).sum, sql)
        if (k > 0) assert(n == 0, s"$sql: $n compiles for a new constant")
      }
    }
  }

  test("EXPLAIN prints the constants; only comparison operands are parameterized") {
    table
    val df = spark.sql("SELECT id FROM pt WHERE l > 25000 AND i IN (-3, 7, 9) AND " +
      "x = -0.0D AND ts < TIMESTAMP '2020-01-01 01:00:00' AND id + 1 > 5")
    val plan = df.queryExecution.executedPlan
    val text = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    Seq("> 25000)", "IN (-3,7,9)", "= -0.0)", "< 2020-01-01 01:00:00)", "+ 1) > 5)")
      .foreach(s => assert(text.contains(s), s"$s missing from\n$text"))
    val filter = plan.collectFirst { case f: FilterExec => f }.get
    val params = filter.condition.collect { case p: ParamLiteral => p.value }
    assert(params.toSet == Set[Any](25000L, -3, 7, 9, -0.0, micros("2020-01-01 01:00:00"), 5L))
    // the literal `1` inside `id + 1` is not a comparison operand
    assert(filter.condition.exists {
      case org.apache.spark.sql.catalyst.expressions.Literal(1L, _) => true
      case _ => false
    })
  }
}
