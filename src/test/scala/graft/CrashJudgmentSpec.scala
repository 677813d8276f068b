package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{MaintenanceCommit, VortexDataSource, VortexDelete, VortexUpdate}

/** The one crash judgment (`MaintenanceCommit.uncommitted`): what a
  * read hides is exactly what the next statement's prologue repairs,
  * so the repair never changes what a reader sees; a statement whose
  * repair cannot delete a stale file never plans around it; and a
  * statement prologue lists the dataset once. */
class CrashJudgmentSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.s3mock.impl", classOf[S3SemanticsFs].getName)
    s.sparkContext.hadoopConfiguration.set("fs.faildel.impl", classOf[FailOnceDeleteFs].getName)
    s
  }

  private def tmp(): String = Files.createTempDirectory("vortex_judgment").toString
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fs(dir: String) = new Path(dir).getFileSystem(hconf)

  private def rows(dir: String): Seq[Row] =
    spark.read.format("vortex").load(dir).orderBy("id").collect().toSeq

  /** the data files under `dir`, recursively */
  private def dataFiles(dir: String): Seq[Path] = {
    val f = fs(dir)
    def walk(p: Path): Seq[Path] = f.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".vortex")) Seq(s.getPath) else Nil
    }
    walk(new Path(dir)).sortBy(_.toString)
  }

  private def copy(dir: String, src: Path, dst: Path): Unit =
    assert(FileUtil.copy(fs(dir), src, fs(dir), dst, false, hconf))

  /** `stage` fabricates one crash state in a fresh dataset of 600 rows
    * (`partitioned`: under `p=0`/`p=1`) once `setup` ran on it: the
    * rows a reader sees with the crash on disk, and after the next
    * statement repaired it, are the rows before the crash, and the
    * judgment then finds nothing. Returns the dataset. */
  private def invisible(partitioned: Boolean, setup: String => Unit = _ => ())
                       (stage: String => Unit): String = {
    val dir = tmp()
    val df = spark.range(0, 600).selectExpr("id", "id * 3 AS v", "CAST(id % 2 AS LONG) AS p")
    (if (partitioned) df.repartition(1).write.option("partitionBy", "p")
     else df.repartitionByRange(2, col("id")).write)
      .format("vortex").mode("overwrite").save(dir)
    setup(dir)
    val before = rows(dir)
    stage(dir)
    assert(rows(dir) == before, "a reader saw the crash")
    assert(VortexDelete.delete(spark, dir, col("id") < 0L).rowsDeleted == 0L)
    assert(rows(dir) == before, "the repair changed what a reader sees")
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty)
    dir
  }

  for (kind <- Seq("delete", "update", "merge", "fold"); partitioned <- Seq(false, true))
    test(s"repair is invisible to readers: stale part-$kind- replacement" +
      (if (partitioned) ", partitioned" else "")) {
      var stale: Path = null
      val dir = invisible(partitioned) { dir =>
        val src = dataFiles(dir).head
        stale = new Path(src.getParent, MaintenanceCommit.replacementName(kind, src.getName))
        copy(dir, src, stale)
        assert(CrashJudgmentSpec.uncommitted(spark, dir).stale == Seq(stale))
      }
      assert(!fs(dir).exists(stale))
    }

  test("repair is invisible to readers: orphaned and committed updv appends") {
    var orphan: Path = null
    val dir = invisible(partitioned = false) { dir =>
      val src = dataFiles(dir).head
      orphan = new Path(src.getParent, VortexUpdate.appendName(src.getName, 1))
      copy(dir, src, orphan)
      assert(CrashJudgmentSpec.uncommitted(spark, dir).orphans == Seq(orphan))
    }
    assert(!fs(dir).exists(orphan))
    // a committed append (its mask renamed in) is live data: never hidden
    invisible(partitioned = false, setup = dir =>
      VortexUpdate.update(spark, dir, Map("v" -> lit(-1L)), col("id") < 10L,
        deletionVectors = true)) { dir =>
      assert(dataFiles(dir).exists(_.getName.startsWith("part-updv-")))
      assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty)
    }
  }

  test("repair is invisible to readers: compact markers with output present, absent, torn") {
    val out = "part-compact-crashed.vortex"
    def marker(dir: String, srcs: Seq[Path], present: Boolean): Unit = {
      val root = new Path(dir)
      if (present) copy(dir, srcs.head, new Path(root, out))
      MaintenanceCommit.writeCompactMarker(fs(dir), root, "t1",
        MaintenanceCommit.CompactCommit(out, srcs.map(_.getName), ""))
    }
    // output present: the output is the truth, its absorbed source goes
    var absorbed: Path = null
    val d1 = invisible(partitioned = false) { dir =>
      absorbed = dataFiles(dir).head
      marker(dir, Seq(absorbed), present = true)
      val u = CrashJudgmentSpec.uncommitted(spark, dir)
      assert(u.markers.map(_.absorbed) == Seq(Seq(absorbed)))
    }
    assert(!fs(d1).exists(absorbed) && fs(d1).exists(new Path(d1, out)))
    // output absent: nothing renamed in, the sources are the truth
    val d2 = invisible(partitioned = false) { dir =>
      marker(dir, dataFiles(dir).take(1), present = false)
      assert(CrashJudgmentSpec.uncommitted(spark, dir).hidden.isEmpty)
    }
    assert(dataFiles(d2).length == 2)
    // torn marker bytes: hides nothing, and the repair drops it
    invisible(partitioned = false) { dir =>
      val o = fs(dir).create(new Path(dir, ".compact-commit-torn.json"), true)
      o.write("""{"out":"part-compact-""".getBytes("UTF-8")); o.close()
      val u = CrashJudgmentSpec.uncommitted(spark, dir)
      assert(u.markers.length == 1 && u.markers.head.commit.isEmpty && u.hidden.isEmpty)
    }
  }

  test("a statement never plans a file the repair judged stale") {
    val dir = s"faildel://host${tmp()}/t"
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val src = dataFiles(dir).head
    // a DELETE's crash window: its replacement renamed in, the source's
    // removal lost
    val stale = new Path(src.getParent, VortexDelete.replacementName(src.getName))
    copy(dir, src, stale)
    // the store fails the repair's delete of the stale replacement once
    FailOnceDeleteFs.failName = stale.getName
    val first = scala.util.Try(
      VortexUpdate.update(spark, dir, Map("v" -> lit(-1L)), col("id") < 10L))
    FailOnceDeleteFs.failName = null
    def check(updated: Long): Unit = {
      val back = spark.read.format("vortex").load(dir)
      assert(back.count() == 1000L, "a row was served twice")
      assert(back.select("id").distinct().count() == 1000L)
      assert(back.where(col("v") === -1L).count() == updated)
    }
    check(if (first.isSuccess) 10L else 0L)
    // the next statement repairs and converges
    VortexUpdate.update(spark, dir, Map("v" -> lit(-1L)), col("id") < 10L)
    check(10L)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty)
  }

  test("a DELETE prologue lists an s3-semantics store once") {
    val dir = s"s3mock://bucket${tmp()}/t"
    spark.range(0, 4000).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(4, col("id"))
      .write.format("vortex").mode("overwrite").save(dir)
    S3SemanticsFs.reset()
    val res = VortexDelete.delete(spark, dir, col("id") % 100L === 0L)
    assert(res.rowsDeleted == 40L && res.rewrittenFiles == 4, res)
    // one walk of the root serves the judgment and the planning
    assert(S3SemanticsFs.lists.get() == CrashJudgmentSpec.DeleteLists, S3SemanticsFs.snapshot)
  }
}

object CrashJudgmentSpec {
  /** LISTs a flat 4-file DELETE makes on `s3mock://`, the one dataset
    * walk included; a separate root LIST for compact markers made it 5 */
  val DeleteLists = 4L

  /** the crash judgment over `dir`'s raw walk */
  def uncommitted(spark: SparkSession, dir: String): MaintenanceCommit.Uncommitted =
    VortexDataSource.walk(Seq(dir), spark.sessionState.newHadoopConf())._3
}

/** A local store under `faildel://` whose `delete` of the file named
  * `FailOnceDeleteFs.failName` returns false once, deleting nothing —
  * a transient object-store delete failure. */
object FailOnceDeleteFs {
  @volatile var failName: String = null
}

class FailOnceDeleteFs extends RawLocalFileSystem {
  private var uri: URI = _
  override def initialize(name: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    uri = URI.create(name.getScheme + "://" + Option(name.getAuthority).getOrElse("host"))
  }
  override def getUri: URI = if (uri == null) URI.create("faildel:///") else uri
  override def getScheme: String = "faildel"
  override def pathToFile(path: Path): java.io.File = new java.io.File(path.toUri.getPath)
  override def delete(f: Path, recursive: Boolean): Boolean =
    FailOnceDeleteFs.synchronized {
      if (f.getName == FailOnceDeleteFs.failName) { FailOnceDeleteFs.failName = null; false }
      else super.delete(f, recursive)
    }
}
