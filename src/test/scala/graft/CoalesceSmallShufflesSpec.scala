package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graft.ListenerBusDrain
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions

/** `CoalesceSmallShuffles`: a shuffle over one partition's worth of
  * rows becomes an in-task coalesce under adaptive execution. Job
  * counts on a small key-clustered multi-chunk table, the guards (an
  * empty input, joins, user repartitions, writes, adaptive execution
  * off, streaming) and exact equality of results with adaptive
  * execution on and off. */
class CoalesceSmallShufflesSpec extends AnyFunSuite {
  // a session of its own with the extensions; the suite's shared
  // default session (whoever built it first) stays the default
  lazy val spark: SparkSession = {
    SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
      .withExtensions(new GraftExtensions)
      .create()
  }

  private val N = 20000

  /** four files of five 1,000-row chunks each, clustered on `id` */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("vortex_small_shuffle_").toString
    spark.range(0, N).repartitionByRange(4, col("id")).selectExpr(
      "id",
      "CAST(id % 3 AS STRING) AS k",
      "CAST(id % 7 AS INT) AS g",
      "(id % 1000) / 7.0D + id * 1e-3D AS x")
      .write.format("vortex").option("chunkRows", "1000").mode("overwrite").save(d)
    spark.read.format("vortex").load(d).createOrReplaceTempView("t")
    // a second table for the join shapes: one row per 10 keys
    val d2 = Files.createTempDirectory("vortex_small_shuffle_dim_").toString
    spark.range(0, N, 10).repartition(1).selectExpr("id AS o", "CAST(id % 5 AS STRING) AS p")
      .write.format("vortex").option("chunkRows", "500").mode("overwrite").save(d2)
    spark.read.format("vortex").load(d2).createOrReplaceTempView("d")
    d
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** rows and the number of jobs the collect ran */
  private def jobsOf(df: DataFrame): (Array[Row], Int) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val rows = df.collect()
      ListenerBusDrain(spark.sparkContext)
      (rows, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case other => other.withNewChildren(other.children.map(finalPlan))
  }

  /** every node of the executed plan, query stages and adaptive plans included */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case n => Seq(n)
  }.toSeq

  private def shuffles(p: SparkPlan) = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
  private def coalesces(p: SparkPlan) = nodes(p).count(_.isInstanceOf[CoalesceExec])

  private val point = "SELECT id, g, x FROM t WHERE id = 12345 ORDER BY g"
  private val grouped = "SELECT k, sum(x), count(*) FROM t GROUP BY k ORDER BY k"
  private val oneSplit = "SELECT count(*), sum(x) FROM t WHERE id BETWEEN 4100 AND 4200"

  test("a point lookup with ORDER BY runs one job and no shuffle") {
    dir
    val df = spark.sql(point)
    val (rows, jobs) = jobsOf(df)
    assert(rows.toSeq == Seq(Row(12345L, (12345 % 7).toInt, (12345 % 1000) / 7.0 + 12345 * 1e-3)))
    assert(jobs == 1, s"$jobs jobs")
    assert(shuffles(df.queryExecution.executedPlan) == 0)
  }

  test("a grouped aggregate with ORDER BY runs two jobs: no sampling job, no extra stage") {
    dir
    val df = spark.sql(grouped)
    val (rows, jobs) = jobsOf(df)
    assert(rows.map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    assert(rows.map(_.getLong(2)).sum == N)
    assert(jobs == 2, s"$jobs jobs")
    val plan = df.queryExecution.executedPlan
    assert(shuffles(plan) == 1 && coalesces(plan) == 1, finalPlan(plan).treeString)
  }

  /** the number of tasks in the result stage of the last job `df` runs */
  private def finalTasksOf(df: DataFrame): Int = {
    @volatile var last = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        last = e.stageInfos.maxBy(_.stageId).numTasks
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      df.collect()
      ListenerBusDrain(spark.sparkContext)
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a grouped aggregate whose partitions adaptive coalescing keeps apart keeps its exchange") {
    dir
    // every shuffle partition is at or above the target size, so adaptive
    // coalescing leaves all four of them: the input is not one partition's worth
    withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      val df = spark.sql("SELECT id % 200 AS b, count(*) FROM t GROUP BY id % 200 ORDER BY b")
      val tasks = finalTasksOf(df)
      val plan = df.queryExecution.executedPlan
      assert(coalesces(plan) == 0 && shuffles(plan) == 2, finalPlan(plan).treeString)
      assert(tasks > 1, s"$tasks final tasks")
      val rows = df.collect()
      assert(rows.map(_.getLong(0)).toSeq == (0L until 200L))
      assert(rows.map(_.getLong(1)).sum == N)
    }
  }

  test("an ungrouped aggregate over a one-split scan runs one job") {
    dir
    val df = spark.sql(oneSplit)
    val (rows, jobs) = jobsOf(df)
    assert(rows.head.getLong(0) == 101)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("an ungrouped aggregate over a scan pruned to zero partitions returns one row") {
    dir
    val df = spark.sql("SELECT count(*), sum(x) FROM t WHERE id < 0")
    val (rows, jobs) = jobsOf(df)
    assert(rows.toSeq == Seq(Row(0L, null)))
    assert(jobs <= 1)
  }

  test("a sort-merge join over small inputs keeps both exchanges") {
    dir
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        "SELECT p, count(*) FROM t JOIN d ON t.id = d.o GROUP BY p ORDER BY p")
      val rows = df.collect()
      assert(rows.map(_.getLong(1)).sum == N / 10)
      val fin = finalPlan(df.queryExecution.executedPlan)
      val join = nodes(fin).collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.getOrElse(fail(fin.treeString))
      assert(join.children.forall(c => nodes(c).exists(_.isInstanceOf[ShuffleQueryStageExec])),
        fin.treeString)
    }
  }

  test("df.repartition(n) keeps its n partitions") {
    dir
    val df = spark.table("t").where("id < 50").repartition(3)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 50)
    val ordered = spark.table("t").where("id < 50").orderBy("g").repartition(3)
    assert(ordered.rdd.getNumPartitions == 3)
  }

  /** the executed plans of what `body` runs, as the listener reports them */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toSeq)
  }

  test("INSERT and df.write plans are unchanged") {
    dir
    val select = "SELECT id, g, x FROM t WHERE id BETWEEN 4100 AND 4200 ORDER BY g"
    // the same query as a read loses its range exchange ...
    val read = spark.sql(select)
    read.collect()
    assert(shuffles(read.queryExecution.executedPlan) == 0)
    // ... but not under a write
    val out = Files.createTempDirectory("vortex_small_shuffle_out_").toString
    spark.sql(select).write.format("vortex").mode("overwrite").save(out)
    val plans = executedPlans {
      spark.sql(select).write.format("vortex").mode("append").save(out)
      spark.sql(s"INSERT INTO vtx.`$out` $select")
    }
    assert(plans.length == 2)
    plans.foreach { p =>
      assert(shuffles(p) == 1 && coalesces(p) == 0, p.treeString)
    }
    assert(spark.read.format("vortex").load(out).count() == 3 * 101)
  }

  test("with adaptive execution off the plan is unchanged") {
    dir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      Seq(point, grouped, oneSplit).foreach { q =>
        val df = spark.sql(q)
        df.collect()
        val p = df.queryExecution.executedPlan
        assert(coalesces(p) == 0 && shuffles(p) > 0, p.treeString)
      }
    }
  }

  test("streaming plans are unchanged") {
    dir
    val q = spark.readStream.format("vortex").load(dir)
      .where("id < 100").groupBy("k").count()
      .writeStream.format("memory").queryName("small_shuffle_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(coalesces(p) == 0 && shuffles(p) == 1, p.treeString)
      assert(spark.table("small_shuffle_stream").collect().map(_.getLong(1)).sum == 100)
    } finally q.stop()
  }

  test("results are identical, doubles exactly, with adaptive execution on and off") {
    dir
    val shapes = Seq(
      grouped,
      "SELECT sum(x * g), count(*) FROM t WHERE g BETWEEN 2 AND 4 AND id >= 3000",
      point,
      oneSplit,
      "SELECT p, count(*), sum(x * (1 - g / 10.0D)) FROM t JOIN d ON t.id = d.o " +
        "WHERE d.o < 15000 GROUP BY p ORDER BY p",
      "SELECT id, x FROM t WHERE id BETWEEN 9000 AND 9400 ORDER BY x DESC, id",
      "SELECT count(*), min(id), max(id) FROM t",
      "SELECT g, sum(x) OVER (PARTITION BY g ORDER BY id) AS c FROM t " +
        "WHERE id BETWEEN 4100 AND 4300 ORDER BY g, c",
      "SELECT count(*), sum(x) FROM t WHERE id < 0")
    shapes.foreach { q =>
      val on = spark.sql(q).collect().toSeq
      val off = withConf("spark.sql.adaptive.enabled" -> "false")(spark.sql(q).collect().toSeq)
      assert(on.nonEmpty, q)
      // Row equality compares doubles with ==: exact, bit for bit up to -0.0
      assert(on == off, q)
      on.zip(off).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach {
          case (x: Double, y: Double) =>
            assert(java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y), q)
          case _ =>
        }
      }
    }
  }
}
