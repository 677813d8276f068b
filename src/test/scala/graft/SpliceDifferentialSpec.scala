package graft

import java.nio.file.Files
import java.time.LocalDateTime
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{RowLevelStatement, StatsManifest, VortexDelete, VortexFileReader, VortexFileWriter, VortexUpdate}
import graft.sources.vortex.RowLevelStatement.Kernel

/** Differential test of the splice kernel (graft.sources.vortex.Splice):
  * seeded random mixes of DELETE, UPDATE, MERGE (DELETE and UPDATE
  * clauses) and deletion-vector DELETE over two masked multi-chunk
  * files with nulls, strings, decimals and ms/ns-unit timestamps. After
  * every statement the rows read back must equal a Scala model, and
  * every live file's manifest sums, blooms and sketches must equal what
  * a fresh VortexFileWriter computes over the file's stored rows. */
class SpliceDifferentialSpec extends AnyFunSuite {
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

  private def conf = spark.sessionState.newHadoopConf()

  /** one model row; `ms` and `ns` are the ms- and ns-unit timestamps */
  private case class R(id: Long, v: Option[Long], s: Option[String], d: Option[BigDecimal],
                       ms: Option[LocalDateTime], ns: Option[LocalDateTime])

  private val N = 3000L
  private val t0 = LocalDateTime.of(2026, 1, 1, 0, 0)

  private def initial: Seq[R] = (0L until N).map { i =>
    R(i, if (i % 11 == 0) None else Some(i * 3 - 500),
      if (i % 7 == 0) None else Some(s"k-${i % 9}"),
      if (i % 5 == 0) None else Some(BigDecimal(i % 977) + BigDecimal(i % 89) / 100),
      if (i % 13 == 0) None else Some(t0.plusSeconds(i).plusNanos((i % 1000) * 1000000L)),
      Some(t0.plusNanos(i * 1001000L)))
  }

  private def dataset(): String = {
    val dir = Files.createTempDirectory("vortex_splice_diff").toString
    val rows = initial.map(r => Row(r.id, r.v.map(Long.box).orNull, r.s.orNull,
      r.d.map(_.bigDecimal).orNull, r.ms.orNull, r.ns.orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schemaOf)
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format("vortex").option("chunkRows", "400")
      .option("timestampUnits", "ms=ms,ns=ns")
      .option("bloomFilters", "id,s").option("distributionSketches", "v")
      .mode("overwrite").save(dir)
    dir
  }

  private def schemaOf = new org.apache.spark.sql.types.StructType()
    .add("id", "long", nullable = false).add("v", "long").add("s", "string")
    .add("d", "decimal(12,2)").add("ms", "timestamp_ntz").add("ns", "timestamp_ntz")

  private def read(dir: String): Seq[R] =
    spark.read.format("vortex").load(dir).collect().toSeq.map { r =>
      def opt[T](i: Int)(f: => T): Option[T] = if (r.isNullAt(i)) None else Some(f)
      R(r.getLong(0), opt(1)(r.getLong(1)), opt(2)(r.getString(2)),
        opt(3)(BigDecimal(r.getDecimal(3))), opt(4)(r.getAs[LocalDateTime](4)),
        opt(5)(r.getAs[LocalDateTime](5)))
    }.sortBy(_.id)

  /** a random predicate as SQL, with its model */
  private def pred(rng: scala.util.Random): (String, R => Boolean) = rng.nextInt(4) match {
    case 0 =>
      val m = 3 + rng.nextInt(11); val k = rng.nextInt(m)
      (s"id % $m = $k", r => r.id % m == k)
    case 1 =>
      val a = rng.nextInt(N.toInt); val b = a + rng.nextInt(600)
      (s"id BETWEEN $a AND $b", r => r.id >= a && r.id <= b)
    case 2 =>
      val x = rng.nextInt(9000) - 500
      (s"v > $x OR v IS NULL AND id % 2 = 0", r => r.v.exists(_ > x) || r.v.isEmpty && r.id % 2 == 0)
    case _ =>
      val k = rng.nextInt(9)
      (s"s LIKE 'k-$k%'", r => r.s.exists(_.startsWith(s"k-$k")))
  }

  /** random UPDATE assignments as (column, SQL), with their model */
  private def sets(rng: scala.util.Random): (Seq[(String, String)], R => R) = {
    val all: Seq[(String, String, R => R)] = Seq(
      ("v", "v + 7", r => r.copy(v = r.v.map(_ + 7))),
      ("s", "concat(s, 'x')", r => r.copy(s = r.s.map(_ + "x"))),
      ("d", "d + 1.25", r => r.copy(d = r.d.map(_ + BigDecimal("1.25")))),
      ("ms", "timestampadd(SECOND, 1, ms)", r => r.copy(ms = r.ms.map(_.plusSeconds(1)))),
      ("ns", "timestampadd(MICROSECOND, 3, ns)", r => r.copy(ns = r.ns.map(_.plusNanos(3000)))))
    val picked = rng.shuffle(all).take(1 + rng.nextInt(2))
    (picked.map(p => (p._1, p._2)), picked.map(_._3).reduce(_ andThen _))
  }

  /** every live file's manifest sums, blooms and sketches against a
    * fresh writer's over the file's stored rows */
  private def checkStats(dir: String, what: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val live = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("."))
    val manifest = StatsManifest.read(root, conf)
    live.foreach { p =>
      val entry = manifest.getOrElse(p.getName, fail(s"$what: no manifest entry for ${p.getName}"))
      val footer = VortexFileReader.readFooter(p, conf)
      val fields = footer.schema.fields
      val ref = new Path(Files.createTempDirectory("vortex_splice_ref").toString, "ref.vortex")
      val w = new VortexFileWriter(ref, conf, footer.schema,
        bloomCols = Set("id", "s"), sketchCols = Set("v"))
      VortexFileReader.readChunks(p, conf, footer, 0, footer.chunks.length, fields.indices.toArray)
        .foreach { case (n, vecs) =>
          (0 until n).foreach { i =>
            w.write(new GenericInternalRow(fields.indices.map(c =>
              VortexFileReader.value(vecs(c), i, fields(c).dataType)).toArray[Any]))
          }
        }
      w.close()
      fields.indices.foreach { c =>
        val got = entry.cols.find(_.name == fields(c).name).get
        val at = s"$what: ${p.getName} column ${fields(c).name}"
        assert(got.sum == w.columnSums(c), s"$at sum")
        assert(got.bloom.map(_.toSeq) == w.columnBlooms(c).map(_.toSeq), s"$at bloom")
        assert(got.sketch.map(_.toSeq) == w.columnSketches(c).map(_.toSeq), s"$at sketch")
      }
    }
  }

  Seq(11, 12, 13, 14).foreach { seed =>
    test(s"random DELETE/UPDATE/MERGE mixes over masked files match the model (seed $seed)") {
      val rng = new scala.util.Random(seed)
      val dir = dataset()
      var model = initial
      var spliced = 0
      def mask(): Unit = {
        val (sql, p) = pred(rng)
        VortexDelete.delete(spark, dir, expr(sql), deletionVectors = true)
        model = model.filterNot(p)
      }
      mask()
      (1 to 6).foreach { step =>
        val what = rng.nextInt(4) match {
          case 0 =>
            val (sql, p) = pred(rng)
            VortexDelete.delete(spark, dir, expr(sql))
            model = model.filterNot(p)
            s"DELETE WHERE $sql"
          case 1 =>
            val (sql, p) = pred(rng)
            val (assigns, f) = sets(rng)
            VortexUpdate.update(spark, dir, assigns.map { case (c, e) => c -> expr(e) }.toMap, expr(sql))
            model = model.map(r => if (p(r)) f(r) else r)
            s"UPDATE SET $assigns WHERE $sql"
          case 2 =>
            // source keys: some live, some dead or absent; v < 0 deletes
            val src = rng.shuffle((0L until N + 50).toList).take(40)
              .map(id => (id, (rng.nextInt(200) - 60).toLong))
            import spark.implicits._
            src.toDF("id", "sv").createOrReplaceTempView("splice_src")
            val updateFirst = rng.nextBoolean()
            val del = "WHEN MATCHED AND src.sv < 0 THEN DELETE"
            val upd = "WHEN MATCHED AND src.sv < 100 THEN UPDATE SET v = src.sv, s = 'm'"
            spark.sql(s"MERGE INTO vtx.`$dir` t USING splice_src src ON t.id = src.id " +
              (if (updateFirst) s"$upd $del" else s"$del $upd"))
            val byId = src.toMap
            model = model.flatMap { r =>
              byId.get(r.id) match {
                case Some(sv) if updateFirst && sv < 100 => Some(r.copy(v = Some(sv), s = Some("m")))
                case Some(sv) if sv < 0 => None
                case Some(sv) if sv < 100 => Some(r.copy(v = Some(sv), s = Some("m")))
                case _ => Some(r)
              }
            }
            s"MERGE ${if (updateFirst) "UPDATE, DELETE" else "DELETE, UPDATE"}"
          case _ =>
            mask()
            "DELETE with deletion vectors"
        }
        val ran = RowLevelStatement.lastOutcomes.map(_.kernel)
        assert(ran.forall(Set(Kernel.Keep, Kernel.Drop, Kernel.Mask, Kernel.Splice)), s"$what: $ran")
        spliced += ran.count(_ == Kernel.Splice)
        assert(read(dir) == model.sortBy(_.id), s"step $step: $what")
        checkStats(dir, s"step $step: $what")
      }
      assert(spliced > 0, "the splice kernel ran")
    }
  }
}
