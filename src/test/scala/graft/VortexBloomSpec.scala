package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{BloomBuilder, Sbbf, StatsManifest, VortexDataSource, VortexFileReader,
  VortexInputPartition, VortexMaintenance, VortexMerge}

/** Manifest bloom filters: plan-time `=`/`IN` file pruning on
  * high-cardinality unsorted columns where min/max ranges never prune
  * (every file spans the whole domain). At 100 TB this is the lookup
  * path: one manifest read instead of a full scan.
  */
class VortexBloomSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("sbbf: no false negatives, bounded false positives") {
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(20000)(rnd.nextLong())
    val b = new BloomBuilder(maxBytes = 1 << 20)
    keys.foreach(k => b.add(Sbbf.hashLong(k)))
    val f = Sbbf.fromBytes(b.result()).get
    keys.foreach(k => assert(f.mightContain(Sbbf.hashLong(k)), s"false negative for $k"))
    val probes = Array.fill(20000)(rnd.nextLong()).filterNot(keys.contains)
    val fp = probes.count(k => f.mightContain(Sbbf.hashLong(k)))
    assert(fp < probes.length * 0.05, s"fp rate ${fp.toDouble / probes.length}")
  }

  test("absent-key lookup prunes every file at plan time, present key survives") {
    val dir = Files.createTempDirectory("vortex_bloom_").toString
    // ids are random longs: every file spans ~the whole domain, so
    // range stats can never prune — only the bloom can
    spark.range(0, 40000)
      .select(expr("xxhash64(id)").as("id"),
              expr("concat('doc-', xxhash64(id))").as("name"),
              (col("id") % 100).as("v"))
      .repartition(4)
      .write.format("vortex").option("bloomFilters", "id,name")
      .mode("overwrite").save(dir)
    val present = spark.read.format("vortex").load(dir).select("id", "name").head()

    val reads = spark.read.format("vortex").load(dir)
    val decodesBefore = VortexFileReader.pageDecodes.get()
    // key absent from every file: bloom drops all files, zero pages read
    assert(reads.filter(col("id") === 123456789L).count() == 0)
    assert(reads.filter(col("name") === "no-such-doc").count() == 0)
    assert(reads.filter(col("id").isin(1L, 2L, 3L)).count() == 0)
    // And/Or composition stays conservative in the right direction
    assert(reads.filter(col("id") === 123456789L && col("v") >= 0).count() == 0)
    assert(VortexFileReader.pageDecodes.get() == decodesBefore,
      "absent-key lookups must decode zero pages")
    // present key: bloom keeps its file; values come back intact
    val hit = reads.filter(col("id") === present.getLong(0))
    assert(hit.count() == 1)
    assert(hit.head().getAs[String]("name") == present.getString(1))
    // mixed IN: one present element keeps the file set non-empty
    assert(reads.filter(col("id").isin(present.getLong(0), 123456789L)).count() == 1)
  }

  test("blooms survive append commits and respect storage domains") {
    val dir = Files.createTempDirectory("vortex_bloom_ap_").toString
    def part(lo: Int, hi: Int) =
      spark.range(lo, hi).select(
        expr("cast(id as double)").as("d"),
        expr("cast(cast(id as string) as decimal(12,2))").as("dec"),
        expr("timestamp_micros(id * 1000000)").as("ts"))
    part(0, 5000).write.format("vortex")
      .option("bloomFilters", "d,dec,ts").mode("overwrite").save(dir)
    part(5000, 10000).write.format("vortex")
      .option("bloomFilters", "d,dec,ts").mode("append").save(dir)
    val df = spark.read.format("vortex").load(dir)
    val decodesBefore = VortexFileReader.pageDecodes.get()
    // probes are IN-RANGE but absent: min/max cannot prune these —
    // only the bloom can (values are integral doubles / .00 decimals /
    // whole-second timestamps; the probes sit between them)
    assert(df.filter(col("d") === 1234.5).count() == 0)
    assert(df.filter(col("dec") === expr("cast(1234.56 as decimal(12,2))")).count() == 0)
    assert(df.filter(col("ts") === expr("timestamp_micros(1234000001)")).count() == 0)
    assert(VortexFileReader.pageDecodes.get() == decodesBefore,
      "in-range absent probes must prune via bloom, zero pages decoded")
    // both commits' rows stay reachable through their own blooms
    assert(df.filter(col("d") === 4999.0).count() == 1)
    assert(df.filter(col("d") === 5000.0).count() == 1)
    assert(df.filter(col("dec") === expr("cast(7500.00 as decimal(12,2))")).count() == 1)
    // -0.0 probes must not skip files holding 0.0 (SQL: -0.0 = 0.0)
    assert(df.filter(col("d") === lit(-0.0)).count() == 1)
  }

  test("no false negatives end-to-end for every supported bloom type") {
    // the correctness hazard of a bloom is a write/probe DOMAIN
    // mismatch (a present key hashing differently on the two sides →
    // its file wrongly pruned). Probe a present key per type; each
    // must come back through its bloom-covered file.
    val dir = Files.createTempDirectory("vortex_bloom_types_").toString
    spark.range(0, 3000).select(
      expr("cast(id % 120 as tinyint)").as("c_byte"),
      expr("cast(id % 30000 as smallint)").as("c_short"),
      expr("cast(id as int)").as("c_int"),
      expr("cast(id as bigint)").as("c_long"),
      expr("cast(id as float)").as("c_float"),
      expr("cast(id as double)").as("c_double"),
      expr("date_add(date'2024-01-01', cast(id % 365 as int))").as("c_date"),
      expr("timestamp_micros(id * 1000000)").as("c_ts"),
      expr("cast(cast(id as string) as decimal(10,2))").as("c_dec"),
      expr("concat('s', id)").as("c_str"),
      expr("cast(concat('b', id) as binary)").as("c_bin"))
      .repartition(3)
      .write.format("vortex")
      .option("bloomFilters",
        "c_byte,c_short,c_int,c_long,c_float,c_double,c_date,c_ts,c_dec,c_str,c_bin")
      .mode("overwrite").save(dir)
    val df = spark.read.format("vortex").load(dir)
    assert(df.filter(col("c_byte") === expr("cast(77 as tinyint)")).count() == 25)
    assert(df.filter(col("c_short") === expr("cast(1234 as smallint)")).count() == 1)
    assert(df.filter(col("c_int") === 1234).count() == 1)
    assert(df.filter(col("c_long") === 1234L).count() == 1)
    assert(df.filter(col("c_float") === expr("cast(1234 as float)")).count() == 1)
    assert(df.filter(col("c_double") === 1234.0).count() == 1)
    assert(df.filter(col("c_date") === expr("date'2024-01-11'")).count() ==
      3000 / 365 + (if (10 < 3000 % 365) 1 else 0))
    assert(df.filter(col("c_ts") === expr("timestamp_micros(1234000000)")).count() == 1)
    assert(df.filter(col("c_dec") === expr("cast(1234.00 as decimal(10,2))")).count() == 1)
    assert(df.filter(col("c_str") === "s1234").count() == 1)
    assert(df.filter(col("c_bin") === expr("cast('b1234' as binary)")).count() == 1)
  }

  test("unsupported bloom column fails fast; partition column rejected") {
    val dir = Files.createTempDirectory("vortex_bloom_bad_").toString
    val df = spark.range(0, 10).select(col("id"), array(col("id")).as("arr"),
      (col("id") % 2).as("p"))
    intercept[IllegalArgumentException] {
      df.write.format("vortex").option("bloomFilters", "arr").mode("overwrite").save(dir)
    }
    intercept[IllegalArgumentException] {
      df.write.format("vortex").option("bloomFilters", "nope").mode("overwrite").save(dir)
    }
    intercept[IllegalArgumentException] {
      df.write.format("vortex").option("partitionBy", "p")
        .option("bloomFilters", "p").mode("overwrite").save(dir)
    }
  }

  /** names of the files a query's scan plans */
  private def plannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case v: VortexInputPartition => new Path(v.file).getName }
      .toSet

  test("a MERGE insert keeps the bloom opt-in through a compaction") {
    val dir = Files.createTempDirectory("vortex_bloom_merge_").toString
    // keys are hashes: every file's range spans ~the whole domain, so
    // only a bloom prunes. One large file the compaction leaves alone,
    // two small ones it absorbs
    def keys(lo: Long, hi: Long, files: Int) =
      spark.range(lo, hi).select(expr("xxhash64(id)").as("k"), col("id").as("v")).repartition(files)
    keys(0, 20000, 1).write.format("vortex").option("bloomFilters", "k").mode("overwrite").save(dir)
    keys(20000, 20080, 2).write.format("vortex").option("bloomFilters", "k").mode("append").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val large = VortexDataSource.listAll(Seq(dir), conf).map(_._1).maxBy(_.getLen)
    // ten new keys near 0, inside every file's range
    val src = spark.range(1, 11).selectExpr("id AS k", "-1L AS v")
    assert(VortexMerge.merge(spark, dir, src, Seq("k")).rowsInserted == 10)
    val res = VortexMaintenance.compact(spark, dir, targetBytes = 50000)
    assert(res.filesAbsorbed == 3 && res.batches == 1, res)
    val files = VortexDataSource.listAll(Seq(dir), conf).map(_._1)
    val compacted = files.find(_.getPath.getName.startsWith("part-compact-")).get
    val entry = StatsManifest.read(new Path(dir), conf)(compacted.getPath.getName)
    assert(entry.len == compacted.getLen)
    assert(entry.cols.find(_.name == "k").get.bloom.isDefined,
      "the compacted file lost the bloom of its MERGE-inserted source")
    val df = spark.read.format("vortex").load(dir)
    // an inserted key: the large file's bloom prunes it
    val ins = df.filter(col("k") === 5L)
    assert(plannedFiles(ins) == Set(compacted.getPath.getName))
    assert(ins.count() == 1)
    // a key of the large file only: the compacted file's bloom prunes it
    val key7 = spark.range(7, 8).select(expr("xxhash64(id)")).head().getLong(0)
    val old = df.filter(col("k") === key7)
    assert(plannedFiles(old) == Set(large.getPath.getName))
    assert(old.count() == 1)
  }
}
