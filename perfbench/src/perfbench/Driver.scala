package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.Engine
import graft.sources.vortex._

/** Benchmark driver: one process, one closed-loop client. It reads the
  * plan written by run.py, sets the workload up, runs operations until
  * the measuring time is over, and writes every operation's latency,
  * answer and (traced) counters to `result.json`. Result checks happen
  * after each operation's clock has stopped. */
object Driver {

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val out = plan.get("out").asText()
    val threads = plan.get("threads").asInt()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("work").asText() + "/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, plan)
    ctx.setup("session_s") = (System.nanoTime() - t0) / 1e9
    val work: Work = plan.get("workload").asText() match {
      case "scan" => new ScanWork(ctx)
      case "ingest_maintain" => new IngestWork(ctx)
    }
    try {
      work.setup()
      ctx.setup("setup_done_epoch_s") = System.currentTimeMillis() / 1000.0
      ctx.measure(work)
      ctx.finish(work)
      Option(plan.get("dedup_pass")).filter(_ => ctx.traced).foreach(cfg => new DedupPass(ctx, cfg).run())
    } finally {
      ctx.write(out)
      spark.stop()
    }
  }
}

/** Task counters of every finished task, summed; registered only for the
  * traced phase. */
final class TaskCounters extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs =
    new AtomicLong()
  val peakMem = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "executor_run_ms" -> runMs.get, "executor_cpu_ns" -> cpuNs.get,
    "shuffle_read_bytes" -> shuffleRead.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "spill_bytes" -> spill.get, "gc_ms" -> gcMs.get,
    "pages_decoded" -> VortexFileReader.pageDecodes.get,
    "footer_fetches" -> VortexFileReader.footerFetches.get)
}

final case class Span(op: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans around the calls into each layer, kept in memory. Off until the
  * traced phase starts. */
final class Tracer {
  var on = false
  var opId = -1
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(opId, id, parent, name, s, System.nanoTime())
      }
    }
}

/** One timed operation and what is known about it afterwards. */
final class Op(val seq: Int, val kind: String, val typ: String, val group: Int, val phase: Int) {
  var ms = 0.0
  var ok = true
  var err: String = null
  var answer: Any = null
  val counters = mutable.LinkedHashMap[String, Any]()

  def toMap: Map[String, Any] = Map("seq" -> seq, "kind" -> kind, "type" -> typ,
    "group" -> group, "phase" -> phase, "ms" -> ms, "ok" -> ok, "err" -> err,
    "answer" -> answer, "counters" -> counters)
}

trait Work {
  /** datasets whose bytes and pages the end-of-run passes read */
  def datasets: Seq[String]
  def setup(): Unit
  /** runs group `g` (a query round or three maintenance cycles); false
    * when the plan holds no more groups */
  def runGroup(g: Int): Boolean
  def finish(): Unit = ()
}

final class Ctx(val spark: SparkSession, val plan: JsonNode) {
  val tracer = new Tracer
  var counters: TaskCounters = null
  /** -1 while warming up; 0 untraced, 1 traced, 2 the dedup pass */
  var phase = -1
  /** directories whose written bytes and files traced operations count */
  var watch: Seq[String] = Nil
  val ops = ArrayBuffer[Op]()
  val setup = mutable.LinkedHashMap[String, Any]()
  val info = mutable.LinkedHashMap[String, Any]()
  val phases = ArrayBuffer[Map[String, Any]]()
  val work: String = plan.get("work").asText()
  val hconf = spark.sparkContext.hadoopConfiguration
  val reps: Int = plan.get("setup_reps").asInt()

  def str(n: JsonNode, k: String): String = n.get(k).asText()

  /** Runs `once(rep)` `reps` times and records each duration; the last
    * repetition's state is the one the workload uses. */
  def repeated(name: String)(once: Int => Unit): Unit = {
    val ts = (0 until reps).map { r =>
      val t = System.nanoTime(); once(r); (System.nanoTime() - t) / 1e9
    }
    setup(name) = ts
  }

  def timed(name: String)(body: => Unit): Unit = {
    val t = System.nanoTime(); body; setup(name) = (System.nanoTime() - t) / 1e9
  }

  /** Times `body` as one operation. The post-processing `after` runs with
    * the clock stopped and may fill in the answer or mark a failure. */
  def op[T](kind: String, typ: String, group: Int)(body: => T)(after: (Op, T) => Unit): Op = {
    val o = new Op(ops.length, kind, typ, group, phase)
    tracer.opId = o.seq
    val disk = if (counters != null) Ctx.sizes(watch) else null
    val before = if (counters != null) { drain(); counters.peakMem.set(0); counters.snapshot() } else null
    val t = System.nanoTime()
    val res: Option[T] =
      try Some(tracer("op")(body))
      catch { case e: Throwable => o.ok = false; o.err = e.toString.take(2000); None }
    o.ms = (System.nanoTime() - t) / 1e6
    if (before != null) {
      drain()
      val now = counters.snapshot()
      now.foreach { case (k, v) => o.counters(k) = v - before(k) }
      o.counters("peak_execution_memory") = counters.peakMem.get
      val written = Ctx.sizes(watch).filter { case (f, n) => !disk.get(f).contains(n) }
      o.counters("bytes_written") = written.values.sum
      o.counters("files_written") = written.keys.count(_.endsWith(".vortex"))
    }
    res.foreach { r =>
      try after(o, r)
      catch { case e: Throwable => o.ok = false; o.err = "check: " + e.toString.take(2000) }
    }
    ops += o
    o
  }

  def drain(): Unit = BusDrain(spark.sparkContext)

  private var pausedNs = 0L

  /** Work inside the measuring loop that is not part of the workload;
    * its time is left out of the phase's elapsed time. */
  def paused(body: => Unit): Unit = {
    val t = System.nanoTime(); body; pausedNs += System.nanoTime() - t
  }

  def traced: Boolean = counters != null

  /** Closed loop: groups run back to back until the measuring time is
    * over and enough operations have completed. A traced run splits the
    * time into an untraced phase, then a traced one of the same length. */
  def measure(w: Work): Unit = {
    val minOps = plan.get("min_ops").asInt()
    var g = 0
    val nPhases = if (plan.get("trace").asBoolean()) 2 else 1
    val seconds = plan.get("seconds").asDouble() / nPhases
    val cap = plan.get("max_seconds").asDouble() / nPhases
    for (p <- 0 until nPhases) {
      phase = p
      if (p == 1) {
        counters = new TaskCounters
        spark.sparkContext.addSparkListener(counters)
        tracer.on = true
      }
      val start = ops.length
      val t = System.nanoTime()
      pausedNs = 0L
      def el = (System.nanoTime() - t - pausedNs) / 1e9
      var more = true
      while (more && (el < seconds || ops.length - start < minOps) && el < cap) {
        more = w.runGroup(g)
        if (more) g += 1
      }
      phases += Map("phase" -> p, "seconds" -> el, "ops" -> (ops.length - start),
        "exhausted" -> !more)
    }
  }

  def finish(w: Work): Unit = {
    val t = System.nanoTime()
    w.finish()
    info("peak_rss_kb") = Ctx.vmHwmKb()
    if (!info.contains("stored_bytes")) recordStored(w.datasets)
    if (traced) info("codec") = Codec.pass(this, w.datasets, plan.get("codec_passes").asInt())
    info("finish_s") = (System.nanoTime() - t) / 1e9
  }

  /** data files of the dataset's current version, as a read sees them */
  def liveFiles(dir: String): Seq[String] =
    VortexDataSource.listAll(Seq(dir), hconf).map(_._1.getPath.toString)

  def footer(file: String): VortexFormat.Footer =
    VortexFileReader.readFooter(new Path(file), hconf)

  def recordStored(dirs: Seq[String]): Unit = {
    val (stored, parquet) = storedBytes(dirs)
    info("stored_bytes") = stored
    info("parquet_bytes_same_rows") = parquet
  }

  /** vortex bytes on disk against the parquet bytes of the same live rows
    * (Spark's default parquet writer, snappy); checksum sidecars are left
    * out on both sides */
  def storedBytes(dirs: Seq[String]): (Long, Long) = {
    var pq = 0L
    dirs.zipWithIndex.foreach { case (d, i) =>
      val tmp = s"$work/parquet_same_rows_$i"
      spark.read.format("vortex").load(d).write.mode("overwrite").parquet(tmp)
      pq += Ctx.sizes(Seq(tmp)).collect { case (f, n) if f.endsWith(".parquet") => n }.sum
      Ctx.delete(new File(tmp))
    }
    (Ctx.sizes(dirs).values.sum, pq)
  }

  def write(out: String): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val spansOut = new PrintWriter(s"$out.spans.jsonl")
    try tracer.spans.foreach { s =>
      spansOut.println(json.writeValueAsString(Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally spansOut.close()
    json.writeValue(new File(out), Map("setup" -> setup, "phases" -> phases, "info" -> info,
      "ops" -> ops.map(_.toMap)))
  }
}

object Ctx {
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def files(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(files) else Seq(dir)

  /** size of every data file under `dirs`, checksum sidecars left out */
  def sizes(dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap(d => files(new File(d))).filter(f => f.isFile && !f.getName.endsWith(".crc"))
      .map(f => f.getPath -> f.length).toMap

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Physical scan nodes of an executed plan, through adaptive stages. */
  def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** Decode every page of the datasets through the reader, and encode the
  * decoded columns again through PageCodec: MB/s overall and per page
  * encoding. The median of `passes` passes is reported. */
object Codec {
  val names = Map[Byte, String](
    VortexFormat.EncPlain -> "plain", VortexFormat.EncConstant -> "constant",
    VortexFormat.EncRunEnd -> "runend", VortexFormat.EncDict -> "dict",
    VortexFormat.EncBitpack -> "bitpack", VortexFormat.EncFsst -> "fsst",
    VortexFormat.EncDelta -> "delta", VortexFormat.EncAlp -> "alp",
    VortexFormat.EncStruct -> "struct")

  private def logicalBytes(v: ColVec, dt: org.apache.spark.sql.types.DataType): Long =
    if (v.isFixed) v.n.toLong * PageCodec.width(dt)
    else if (v.bins != null) v.bins.iterator.map(b => if (b == null) 0L else b.length.toLong).sum
    else 0L

  def pass(ctx: Ctx, dirs: Seq[String], passes: Int): Map[String, Any] = {
    val files = dirs.flatMap(ctx.liveFiles)
    val runs = (0 until passes).map(_ => once(ctx, files))
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val encs = runs.head._2.keys.toSeq.sorted
    Map(
      "decoded_bytes" -> runs.head._1("decoded"),
      "stored_bytes" -> runs.head._1("stored"),
      "read_chunks_mb_per_s" -> med(runs.map(r => r._1("decoded") / 1e6 / (r._1("read_ns") / 1e9))),
      "decode_mb_per_s" -> med(runs.map(r => r._1("decoded") / 1e6 / (r._1("dec_ns") / 1e9))),
      "encode_mb_per_s" -> med(runs.map(r => r._1("decoded") / 1e6 / (r._1("enc_ns") / 1e9))),
      "encoded_bytes" -> runs.head._1("encoded"),
      "by_encoding" -> encs.map { e =>
        val h = runs.head._2(e)
        e -> Map("pages" -> h("pages"), "decoded_bytes" -> h("decoded"),
          "stored_bytes" -> h("stored"),
          "decode_mb_per_s" -> med(runs.map(r => r._2(e)("decoded") / 1e6 / (r._2(e)("dec_ns") / 1e9))),
          "encode_mb_per_s" -> med(runs.map(r => r._2(e)("decoded") / 1e6 / (r._2(e)("enc_ns") / 1e9))))
      }.toMap)
  }

  private def once(ctx: Ctx, files: Seq[String])
      : (Map[String, Double], Map[String, Map[String, Double]]) = {
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    val per = mutable.Map[String, mutable.Map[String, Double]]()
    files.foreach { f =>
      val path = new Path(f)
      val footer = ctx.footer(f)
      val cols = footer.schema.fields.indices.toArray
      val t = System.nanoTime()
      VortexFileReader.readChunks(path, ctx.hconf, footer, 0, footer.chunks.length, cols)
        .foreach(_ => ())
      tot("read_ns") += System.nanoTime() - t
      val in = path.getFileSystem(ctx.hconf).open(path)
      try footer.chunks.foreach { ch =>
        cols.foreach { c =>
          val m = ch.columns(c)
          val field = footer.schema.fields(c)
          if (m.encoding != VortexFormat.EncStruct) {
            val buf = new Array[Byte](m.length)
            in.readFully(m.offset, buf)
            val t0 = System.nanoTime()
            val vec = VortexFileReader.decodeColumn(buf, m, ch.rowCount, field)
            val t1 = System.nanoTime()
            val bytes = logicalBytes(vec, field.dataType)
            val enc = PageCodec.encode(vec, field.dataType)
            val t2 = System.nanoTime()
            val h = per.getOrElseUpdate(names.getOrElse(m.encoding, s"enc${m.encoding}"),
              mutable.Map[String, Double]().withDefaultValue(0.0))
            Seq(h, tot).foreach { a =>
              a("pages") += 1; a("decoded") += bytes; a("stored") += m.length
              a("dec_ns") += t1 - t0; a("enc_ns") += t2 - t1; a("encoded") += enc.bytes.length
            }
          }
        }
      } finally in.close()
    }
    (tot.toMap, per.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

/** Read-only analytic mix over bulk-copied, key-clustered tables. */
final class ScanWork(ctx: Ctx) extends Work {
  import ctx.spark
  private val inputs = ctx.plan.get("inputs")
  private val rounds = ctx.plan.get("rounds")
  private val tables = Seq("orders", "lineitem")
  private var dirs = Map.empty[String, String]
  private var chunksTotal = Map.empty[String, Long]
  def datasets: Seq[String] = tables.map(dirs)

  def setup(): Unit = {
    ctx.repeated("materialize_s") { r =>
      if (r > 0) Ctx.delete(new File(s"${ctx.work}/scan_r${r - 1}"))
      dirs = tables.map { t =>
        val d = s"${ctx.work}/scan_r$r/$t"
        VortexBulkCopy.copy(spark.read.parquet(ctx.str(inputs, t)), d)
        t -> d
      }.toMap
    }
    spark.read.format("vortex").load(dirs("lineitem")).createOrReplaceTempView("lineitem")
    chunksTotal = dirs.map { case (t, d) =>
      t -> ctx.liveFiles(d).map(f => ctx.footer(f).chunks.length.toLong).sum
    }
    ctx.info("files") = dirs.map { case (t, d) => t -> ctx.liveFiles(d).length }
    ctx.info("chunks") = chunksTotal
    // round 0 warms every query shape; the measured rounds start over.
    // Unlike ingest's warm-up it runs once (README, Set-up)
    ctx.timed("warmup_s") { runGroup(0) }
  }

  def sql(q: JsonNode): String =
    q.get("sql").asText().replace("{lineitem}", "lineitem")
      .replace("{orders}", s"vtx.`${dirs("orders")}`")

  def runGroup(g: Int): Boolean = {
    if (g >= rounds.size()) return false
    rounds.get(g).elements().asScala.foreach { q =>
      ctx.op(q.get("kind").asText(), "read", g) {
        val df = ctx.tracer("scan.plan") {
          val df = spark.sql(sql(q)); df.queryExecution.executedPlan; df
        }
        (df, ctx.tracer("scan.exec")(df.collect()))
      } { case (o, (df, rows)) =>
        o.answer = if (q.get("digest").asBoolean()) ScanWork.digest(rows) else rows.toSeq.map(_.toSeq)
        if (ctx.traced) {
          val parts = Ctx.scans(df.queryExecution.executedPlan).flatMap(_.inputPartitions)
            .collect { case p: VortexInputPartition => p }
          o.counters("chunks_planned") = parts.map(_.chunkIdxs.length.toLong).sum
          o.counters("chunks_total") =
            q.get("tables").elements().asScala.map(t => chunksTotal(t.asText())).sum
          o.counters("rows_decoded") = parts.map { p =>
            val f = ctx.footer(p.file); p.chunkIdxs.map(f.chunks(_).rowCount.toLong).sum
          }.sum
          o.counters("rows_returned") = rows.length.toLong
        }
      }
    }
    true
  }
}

object ScanWork {
  /** count, position-weighted key sum (wraps like int64) and value sum:
    * any reordering, loss or change of rows changes it */
  def digest(rows: Array[Row]): Seq[Any] = {
    var w = 0L
    var s = 0.0
    rows.indices.foreach { i =>
      w += (i + 1).toLong * rows(i).getLong(0) + rows(i).getLong(1)
      s += rows(i).getDouble(2)
    }
    Seq(Seq[Any](rows.length.toLong, w, s))
  }
}

/** Lifecycle of one orders-shaped table: append, two DELETE tiers,
  * UPDATE through SQL, mask-tier UPDATE through the API, MERGE upsert,
  * periodic compaction, check read. */
final class IngestWork(ctx: Ctx) extends Work {
  import ctx.spark
  private val cycles = ctx.plan.get("cycles")
  private val compactEvery = ctx.plan.get("compact_every").asInt()
  private var dir = ""
  def datasets: Seq[String] = Seq(dir)

  def setup(): Unit = {
    ctx.repeated("materialize_s") { r =>
      dir = s"${ctx.work}/orders_r$r"
      VortexBulkCopy.copy(spark.read.parquet(ctx.str(ctx.plan, "base")), dir)
    }
    (0 until ctx.reps - 1).foreach(r => Ctx.delete(new File(s"${ctx.work}/orders_r$r")))
    // the first group's cycles run on a separate copy first, one timed
    // repetition each; there are as many repetitions as cycles in a
    // group, so the last one compacts and every statement path is warm
    val measured = dir
    dir = s"${ctx.work}/orders_warm"
    VortexBulkCopy.copy(spark.read.parquet(ctx.str(ctx.plan, "base")), dir)
    ctx.repeated("warmup_s")(runCycle)
    Ctx.delete(new File(dir))
    dir = measured
    ctx.watch = Seq(dir)
  }

  private def stmt[T](kind: String, typ: String, g: Int, span: String)(body: => T)(
      answer: T => Any): Unit = {
    val live = if (ctx.traced) ctx.liveFiles(dir).length else 0
    ctx.op(kind, typ, g)(ctx.tracer(span)(body)) { (o, r) =>
      o.answer = answer(r)
      if (ctx.traced) {
        o.counters("live_files_before") = live
        o.counters("result") = r match {
          case p: Product if p.productArity > 0 =>
            p.productElementNames.zip(p.productIterator).toMap
          case _ => Map.empty[String, Any]
        }
      }
    }
  }

  /** A group is `compactEvery` cycles, the last one compacting, so every
    * run ends right after a compaction. Operations carry their cycle. */
  def runGroup(g: Int): Boolean = {
    if ((g + 1) * compactEvery > cycles.size()) return false
    (g * compactEvery until (g + 1) * compactEvery).foreach(runCycle)
    // the stored size is taken at one point of the lifecycle, so it does
    // not depend on how many cycles a run gets through
    if (g == 0) ctx.paused(ctx.recordStored(datasets))
    true
  }

  private def runCycle(g: Int): Unit = {
    val c = cycles.get(g)
    stmt("append", "write", g, "write.copy") {
      VortexBulkCopy.copy(spark.read.parquet(ctx.str(c, "append")), dir, overwrite = false)
    }(_ => null)
    stmt("delete_dv", "dml", g, "maint.delete_dv") {
      VortexDelete.delete(spark, dir, expr(ctx.str(c, "delete_dv")), deletionVectors = true)
    }(r => r.rowsDeleted)
    stmt("delete", "dml", g, "maint.delete") {
      VortexDelete.delete(spark, dir, expr(ctx.str(c, "delete")))
    }(r => r.rowsDeleted)
    stmt("update", "dml", g, "maint.update") {
      spark.sql(s"UPDATE vtx.`$dir` SET o_totalprice = o_totalprice + 1.0, " +
        s"o_orderstatus = 'U' WHERE ${ctx.str(c, "update_where")}").collect()
    }(_ => null)
    stmt("update_dv", "dml", g, "maint.update_dv") {
      VortexUpdate.update(spark, dir, Map("o_totalprice" -> (col("o_totalprice") + 2.0),
        "o_orderstatus" -> lit("V")), expr(ctx.str(c, "update_dv_where")), deletionVectors = true)
    }(r => r.rowsUpdated)
    stmt("merge", "dml", g, "maint.merge") {
      VortexMerge.merge(spark, dir, spark.read.parquet(ctx.str(c, "merge")), Seq("o_orderkey"))
    }(r => Seq(r.rowsUpdated, r.rowsInserted))
    if (c.get("compact").asBoolean())
      stmt("compact", "dml", g, "maint.compact")(VortexMaintenance.compact(spark, dir))(_ => null)
    stmt("verify_read", "read", g, "scan.exec") {
      spark.read.format("vortex").load(dir).agg(count(lit(1)), sum("o_orderkey"),
        sum("o_custkey"), sum("o_totalprice"),
        sum(when(col("o_orderstatus") === "U", 1).otherwise(0)),
        sum(when(col("o_orderstatus") === "V", 1).otherwise(0))).collect()
    }(rows => rows.toSeq.map(_.toSeq))
  }

  override def finish(): Unit =
    ctx.info("live_files") = ctx.liveFiles(dir).length
}

/** The dedup layer, measured from outside after the traced phase:
  * incremental near-duplicate ingest against a stored corpus index.
  * `cfg` holds the corpus, the batches and tau. The index build and the
  * first batch, which warms every call path, run untraced; every
  * further batch runs once, traced, as phase 2. */
final class DedupPass(ctx: Ctx, cfg: JsonNode) {
  import ctx.spark
  private val batches = cfg.get("batches")
  private val tau = cfg.get("tau").asDouble()
  private val engine = Engine(spark)
  private val index = s"${ctx.work}/dedup_index"
  // exact token sets of every indexed document, for the result checks
  private val indexed = mutable.HashMap[Long, Set[String]]()
  private val datasets = Seq(s"$index/sets", s"$index/bands")

  private def tokens(path: String): Map[Long, Set[String]] =
    spark.read.parquet(path).collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap

  def run(): Unit = {
    ctx.phase = -1
    ctx.tracer.on = false
    val corpus = ctx.str(cfg, "corpus")
    ctx.timed("dedup_pass.materialize_s") {
      engine.buildDedupIndex(spark.read.parquet(corpus), "doc_id", "text", index)
    }
    indexed ++= tokens(corpus)
    ctx.watch = datasets
    ctx.timed("dedup_pass.warmup_s")(runBatch(0))
    ctx.tracer.on = true
    ctx.phase = 2
    (1 until batches.size()).foreach(runBatch)
    ctx.info("dedup_pass.index_files") = datasets.map(d => ctx.liveFiles(d).length).sum
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  /** every reported pair has exact Jaccard >= tau and the reported
    * score; returns the problems found */
  private def checkPairs(rows: Array[Row], left: Map[Long, Set[String]],
                         right: Long => Option[Set[String]]): Seq[String] =
    rows.toSeq.flatMap { r =>
      val (a, b, jac) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      (left.get(a), right(b)) match {
        case (Some(x), Some(y)) =>
          val j = jaccard(x, y)
          if (j < tau - 1e-12 || math.abs(j - jac) > 1e-9) Some(s"pair ($a,$b) jac $jac exact $j")
          else None
        case _ => Some(s"pair ($a,$b) names an unknown document")
      }
    }

  private def runBatch(g: Int): Unit = {
    val b = batches.get(g)
    val path = ctx.str(b, "path")
    val docs = tokens(path)
    val planted = b.get("planted").elements().asScala.map(p =>
      (p.get(0).asLong(), p.get(1).asLong(), p.get(2).asText())).toSeq
    def batchDf = spark.read.parquet(path)
    def fail(o: Op, problems: Seq[String]): Unit =
      if (problems.nonEmpty) { o.ok = false; o.err = problems.take(5).mkString("; ") }

    var selfPairs = Array.empty[Row]
    ctx.op("self_dedup", "dedup", g) {
      ctx.tracer("dedup.self")(engine.minhashNearDup(batchDf, "doc_id", "text", tau).collect())
    } { (o, rows) =>
      selfPairs = rows
      o.answer = rows.length
      val found = rows.map(r => Set(r.getLong(0), r.getLong(1))).toSet
      fail(o, checkPairs(rows, docs, docs.get) ++ planted.collect {
        case (x, y, "self") if !found(Set(x, y)) => s"planted pair ($x,$y) missed"
      })
      if (ctx.traced)
        o.counters("candidates") = engine.nearDupCandidates(batchDf, "doc_id", "text").count()
    }
    var probePairs = Array.empty[Row]
    ctx.op("probe", "dedup", g) {
      ctx.tracer("dedup.probe") {
        val m = engine.dedupAgainstIndex(batchDf, "doc_id", "text", index, tau)
        val rows = m.collect()
        m.unpersist(false)
        rows
      }
    } { (o, rows) =>
      probePairs = rows
      o.answer = rows.length
      val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      fail(o, checkPairs(rows, docs, indexed.get) ++ planted.collect {
        case (x, y, "index") if !found((x, y)) => s"planted pair ($x,$y) missed"
      })
    }
    // survivors: no match in the index, and not the later copy of a pair
    val dropped = probePairs.map(_.getLong(0)).toSet ++
      selfPairs.map(r => math.max(r.getLong(0), r.getLong(1)))
    val keep = docs.keySet -- dropped
    ctx.op("index_append", "write", g) {
      ctx.tracer("dedup.index_append") {
        engine.appendDedupIndex(batchDf.filter(col("doc_id").isin(keep.toSeq: _*)),
          "doc_id", "text", index)
      }
    } { (o, _) =>
      o.answer = keep.size
      indexed ++= docs.filter { case (id, _) => keep(id) }
    }
  }
}
