package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBusDrain
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bench's row selection, its per-row measure step and the two report
  * lines: a failing row is an error and never a time or a counter
  * entry, a failed retry keeps the valid time, and the best rep's job
  * group carries its execution counters into the full line. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private lazy val listener = {
    val l = new Bench.CounterListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private val unpaced = Bench.Policy(reps = 2, paceMs = 0, paceScale = 1.0, settle = () => ())
  private val json = new ObjectMapper()

  test("selectRows: unset runs every row; a named subset runs in suite order") {
    val all = Seq("b_row", "a_row", "c_row")
    assert(Bench.selectRows(all, None) == Right(all))
    assert(Bench.selectRows(all, Some(" c_row, b_row ,")) == Right(Seq("b_row", "c_row")))
  }

  test("selectRows: an empty list or an unknown row is an error naming the rows") {
    val all = Seq("a_row", "b_row")
    assert(Bench.selectRows(all, Some("")).isLeft)
    assert(Bench.selectRows(all, Some(" , ")).isLeft)
    val Left(msg) = Bench.selectRows(all, Some("a_row,zz_row,yy_row")): @unchecked
    assert(msg.contains("yy_row,zz_row") && !msg.contains("a_row"))
  }

  test("a failing row lands in errors only, with its message JSON-escaped") {
    listener
    val good = Bench.measure(spark, "ok_row", () =>
      Bench.force(spark.range(0, 1000, 1, 2).groupBy(col("id") % 7).count()), unpaced, None)
    val text = "bad \"quote\" back\\slash\nnew\tline"
    val bad = Bench.measure(spark, "bad_row", () => {
      Bench.force(spark.range(10).toDF())
      throw new IllegalStateException(text)
    }, unpaced, None)
    ListenerBusDrain(spark.sparkContext)
    val (full, compact) = Bench.report(Seq("ok_row" -> good, "bad_row" -> bad),
      listener(_), 2, 2, 0L, "sf_test")
    val j = json.readTree(full)
    assert(j.get("queries").has("ok_row") && !j.get("queries").has("bad_row"))
    assert(j.get("errors").get("bad_row").asText ==
      "IllegalStateException: bad \"quote\" back\\slash new line")
    // the failed row's reps ran jobs, but only valid rows report counters
    assert(listener("bad_row#0").exists(_.jobs >= 1))
    assert(!j.get("counters").has("bad_row"))
    val c = j.get("counters").get("ok_row")
    assert(c.get("jobs").asLong >= 1 && c.get("stages").asLong >= 2 && c.get("tasks").asLong >= 2)
    assert(c.get("shuffle_write").asLong > 0 && c.get("shuffle_read").asLong > 0)
    assert(listener(good.bestGroup).map(_.json).contains(c.toString))
    assert(j.get("value").asDouble == BigDecimal(good.best).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    val cj = json.readTree(compact)
    assert(cj.get("errors").has("bad_row") && cj.get("queries").has("ok_row"))
    assert(compact.length <= 1850)
  }

  test("a failed retry does not overwrite a valid time") {
    var calls = 0
    val run = () => {
      calls += 1
      if (calls > 2) throw new RuntimeException("retry failed")
      Thread.sleep(300)
    }
    // a recorded median far below the measured time forces the two
    // bounded median-rule retries; both fail
    val m = Bench.measure(spark, "retry_row", run, unpaced.copy(paceMs = 1), Some(0.01))
    assert(calls == 4)
    assert(m.err.isEmpty && !m.retried)
    assert(m.best >= 0.3 && m.best == m.rawBest)
    val j = json.readTree(Bench.report(Seq("retry_row" -> m), _ => None, 2, 2, 0L, "sf_test")._1)
    assert(j.get("queries").get("retry_row").asDouble >= 0.3)
    assert(j.get("errors").size == 0)
  }
}
