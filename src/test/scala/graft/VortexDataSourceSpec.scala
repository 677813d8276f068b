package graft

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's own SQL test corpus to the Spark vortex
  * DataSource (SURVEY.md §5): sequence.test (smoke round trip),
  * nulls.test (NULL round trip incl. all-null columns), table.test
  * (17-type matrix), table.test_slow (40k multi-chunk), timestamp.test
  * (filter over scan) — plus pushdown/pruning and glob coverage.
  */
class VortexDataSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("vortex_test_").toString

  test("sequence round trip (≙ reference sequence.test:9-21)") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 5).write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.orderBy("id").as[Long].collect().toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("17-type matrix round trip (≙ reference table.test:8-53)") {
    val dir = tmp()
    val df = spark.range(0, 100).selectExpr(
      "CAST(id % 2 = 0 AS BOOLEAN) AS c_bool",
      "CAST(id AS TINYINT) AS c_byte",
      "CAST(id * 100 AS SMALLINT) AS c_short",
      "CAST(id * 100000 AS INT) AS c_int",
      "CAST(id * 10000000000 AS BIGINT) AS c_long",
      "CAST(id AS DECIMAL(20,0)) AS c_ubigint",  // UBIGINT mapping (SURVEY §1.3)
      "CAST(id AS FLOAT) / 3.0f AS c_float",
      "CAST(id AS DOUBLE) / 7.0 AS c_double",
      "CAST(id AS DECIMAL(10,2)) / 4 AS c_dec",
      "CAST(id AS DECIMAL(38,6)) * 12345678901234567890 AS c_bigdec",
      "concat('Value ', id) AS c_str",
      "CAST(date_add(DATE '2020-01-01', CAST(id AS INT)) AS DATE) AS c_date",
      "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP_NTZ '2020-01-01 00:00:00') AS c_ts_ntz",
      "CAST(timestampadd(SECOND, CAST(id AS INT), TIMESTAMP '2020-01-01 00:00:00') AS TIMESTAMP) AS c_ts",
      "CAST(concat('blob', id) AS BINARY) AS c_bin",
      "md5(CAST(id AS STRING)) AS c_md5",
      "CAST(id AS STRING) AS c_key")
    df.write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.schema == df.schema)
    val a = df.orderBy("c_key").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x })
    val b = back.orderBy("c_key").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x })
    assert(a.toSeq == b.toSeq)
  }

  test("NULL round trip incl. all-null columns (≙ reference nulls.test:9-37)") {
    val dir = tmp()
    val df = spark.range(0, 20).selectExpr(
      "CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS a",
      "CASE WHEN id % 2 = 0 THEN NULL ELSE concat('s', id) END AS s",
      "CAST(NULL AS INT) AS all_null",
      "CAST(NULL AS STRING) AS all_null_s",
      "id AS k")
    df.write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
    assert(back.filter("a IS NULL").count() == 7)
    assert(back.filter("all_null IS NOT NULL").count() == 0)
  }

  test("multi-chunk 40k-row round trip (≙ reference table.test_slow:50)") {
    val dir = tmp()
    val df = spark.range(0, 40000).repartition(1).selectExpr(
      "id", "concat('Value ', id) AS s", "CAST(id AS DOUBLE) / 3.0 AS d")
    // small chunk size via a direct writer to force many chunks
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val path = new org.apache.hadoop.fs.Path(dir, "f.vortex")
    val w = new graft.sources.vortex.VortexFileWriter(
      path, spark.sessionState.newHadoopConf(), df.schema, chunkRows = 1000)
    rows.foreach(w.write); w.close()
    val back = spark.read.format("vortex").load(dir)
    assert(back.count() == 40000)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 40000L).sum)
    val footer = graft.sources.vortex.VortexFileReader.readFooter(
      path, spark.sessionState.newHadoopConf())
    assert(footer.chunks.length == 40)
  }

  test("filter over scan + chunk pruning (≙ reference timestamp.test:38-47)") {
    val dir = tmp()
    // sorted ids → chunk stats partition the range → pruning provable
    val df = spark.range(0, 100000).repartition(1).orderBy("id")
      .selectExpr("id", "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00') AS ts")
    val path = new org.apache.hadoop.fs.Path(dir, "f.vortex")
    val w = new graft.sources.vortex.VortexFileWriter(
      path, spark.sessionState.newHadoopConf(), df.schema, chunkRows = 10000)
    df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write); w.close()

    val back = spark.read.format("vortex").load(dir)
    assert(back.filter("id >= 95000").count() == 5000)
    assert(back.filter("ts > TIMESTAMP_NTZ '2024-01-02 00:00:00'").count() == 100000 - 86400 - 1)

    // prove pruning: scan with id >= 95000 must plan only 1 of 10 chunks
    val scan = new graft.sources.vortex.VortexScan(
      df.schema, df.schema,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 95000L)),
      Seq(dir))
    val parts = scan.planInputPartitions()
    val planned = parts.map(_.asInstanceOf[graft.sources.vortex.VortexInputPartition].chunkIdxs.length).sum
    assert(planned == 1, s"expected 1 surviving chunk, got $planned")
  }

  test("multi-file write + glob read (≙ reference README.md:79)") {
    val dir = tmp()
    spark.range(0, 1000).repartition(4).write.format("vortex").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).count(_.getPath.getName.endsWith(".vortex")) == 4)
    assert(spark.read.format("vortex").load(dir).count() == 1000)
    assert(spark.read.format("vortex").load(s"$dir/*.vortex")
      .agg(sum("id")).head().getLong(0) == (0L until 1000L).sum)
  }

  test("overwrite mode truncates previous files") {
    val dir = tmp()
    spark.range(0, 100).write.format("vortex").mode("append").save(dir)
    spark.range(0, 50).write.format("vortex").mode("overwrite").save(dir)
    assert(spark.read.format("vortex").load(dir).count() == 50)
  }

  test("column pruning reads only required columns") {
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "concat('x', id) AS s", "id * 2 AS y")
      .write.format("vortex").mode("append").save(dir)
    val df = spark.read.format("vortex").load(dir).select("y")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.agg(sum("y")).head().getLong(0) == (0L until 1000L).map(_ * 2).sum)
    assert(plan.contains("ReadSchema") || df.schema.fieldNames.sameElements(Array("y")))
  }

  test("FoR bitpack encoding: chosen for narrow-range ints, round trips") {
    val dir = tmp()
    val df = spark.range(0, 50000).repartition(1).selectExpr(
      "id",                                   // sequential: 16-17 bits vs 64
      "CAST(id % 100 - 50 AS INT) AS small",  // negatives, 7 bits vs 32
      "id * 1000000 + 123 AS wide")
    df.write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val f = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".vortex")).get
    val footer = graft.sources.vortex.VortexFileReader.readFooter(f, spark.sessionState.newHadoopConf())
    val encs = footer.chunks(0).columns.map(_.encoding)
    // sequential ids: constant delta (1 bit) now beats FoR (17 bits)
    assert(encs(0) == graft.sources.vortex.VortexFormat.EncDelta, s"id enc=${encs(0)}")
    // cyclic small ints: delta range (~100) ties FoR's 7 bits and FoR's
    // smaller header wins the size comparison
    assert(encs(1) == graft.sources.vortex.VortexFormat.EncBitpack, s"small enc=${encs(1)}")
  }

  test("nested types: array/struct/map round trip (incl. embeddings table)") {
    val dir = tmp()
    val df = spark.range(0, 500).selectExpr(
      "id",
      "array(CAST(id AS FLOAT), CAST(id AS FLOAT) / 3.0f, NULL) AS arr_f",
      "named_struct('a', id, 'b', concat('s', id), 'c', array(id, id + 1)) AS st",
      "map(concat('k', id % 3), id, 'fixed', id * 2) AS mp",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE array(concat('x', id)) END AS arr_s")
    df.write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.schema == df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)

    // the real embeddings table (list<float>)
    val dir2 = tmp()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.format("vortex").mode("append").save(dir2)
    val eback = spark.read.format("vortex").load(dir2)
    assert(eback.orderBy("vec_id").collect().toSeq == emb.orderBy("vec_id").collect().toSeq)
  }

  test("nested columns ride the columnar batch path (no row-reader fallback)") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    spark.range(0, 2000).selectExpr(
      "id", "CAST(id AS DOUBLE) AS flat",
      "array(CAST(id AS DOUBLE), CAST(id+1 AS DOUBLE)) AS vec",
      "named_struct('a', id % 7, 'b', concat('v', id)) AS st",
      "map(concat('k', id % 3), array(id, id * 2)) AS mp")
      .write.format("vortex").mode("overwrite").save(dir)
    val back = spark.read.format("vortex").load(dir)
    // plan proof: the scan is consumed through ColumnarToRow, meaning
    // supportColumnarReads held with nested columns required
    val plan = back.select("id", "vec", "st", "mp")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // value proof through every nested shape incl. nulls + map-of-array
    val r = back.selectExpr(
        "id", "flat", "element_at(vec, 2) AS v2", "st.a AS sa", "st.b AS sb",
        "element_at(mp, concat('k', id % 3))[1] AS m1")
      .orderBy("id").collect()
    assert(r.length == 2000)
    assert(r(5).getDouble(2) == 6.0 && r(5).getLong(3) == 5 % 7)
    assert(r(7).getString(4) == "v7" && r(7).getLong(5) == 14L)
  }

  test("partitioned layout: write partitionBy, read back, prune directories") {
    val dir = tmp()
    val df = spark.range(0, 10000).selectExpr(
      "id", "CAST(id % 4 AS BIGINT) AS bucket",
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity",
      "CAST(id AS DOUBLE) / 3.0 AS v")
    df.write.format("vortex").option("partitionBy", "bucket,parity")
      .mode("append").save(dir)
    // layout: bucket=N/parity=S dirs
    assert(new java.io.File(s"$dir/bucket=0/parity=even").exists())
    val back = spark.read.format("vortex").load(dir)
    assert(back.schema.fieldNames.toSet == df.schema.fieldNames.toSet)
    assert(back.count() == 10000)
    // values identical (partition cols re-attached with inferred types)
    val a = df.selectExpr("id", "bucket", "parity", "v").orderBy("id").collect().toSeq
    val b = back.selectExpr("id", "bucket", "parity", "v").orderBy("id").collect().toSeq
    assert(a == b)
    // directory pruning: filter on partition col plans only matching dirs
    val scan = new graft.sources.vortex.VortexScan(
      back.schema, back.schema,
      Array(org.apache.spark.sql.sources.EqualTo("bucket", 2L),
            org.apache.spark.sql.sources.EqualTo("parity", "even")),
      Seq(dir))
    val files = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.vortex.VortexInputPartition].file).distinct
    assert(files.nonEmpty && files.forall(f => f.contains("bucket=2") && f.contains("parity=even")), files.toSeq.toString)
    // and the filtered read is correct
    assert(back.filter("bucket = 2 AND parity = 'even'").count() ==
      df.filter("bucket = 2 AND parity = 'even'").count())
  }

  test("split planning: chunks group into bounded-size input partitions") {
    import graft.sources.vortex.{VortexFileWriter, VortexFileReader, VortexScan, VortexInputPartition, VortexFormat}
    val dir = tmp()
    // incompressible data → real page bytes; small chunks → many chunks
    val df = spark.range(0, 200000).repartition(1)
      .selectExpr("id", "md5(CAST(id AS STRING)) AS h1", "md5(CAST(id + 7 AS STRING)) AS h2")
    val path = new org.apache.hadoop.fs.Path(dir, "f.vortex")
    val w = new VortexFileWriter(path, spark.sessionState.newHadoopConf(), df.schema, chunkRows = 5000)
    df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write); w.close()
    val footer = VortexFileReader.readFooter(path, spark.sessionState.newHadoopConf())
    assert(footer.chunks.length == 40)
    val totalBytes = footer.chunks.flatMap(_.columns.map(_.length.toLong)).sum
    // force small split target via a scan on a synthetic threshold:
    // (TargetSplitBytes is fixed; verify grouping math instead)
    val scan = new VortexScan(df.schema, df.schema, Array.empty, Seq(dir))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[VortexInputPartition])
    // all chunks planned exactly once, order preserved per file
    assert(parts.flatMap(_.chunkIdxs).sorted.toSeq == (0 until 40))
    assert(totalBytes < VortexFormat.TargetSplitBytes)  // under the byte ceiling
    // 200k rows in 40 equal chunks: one split per core, at most one per
    // started 65,536 rows — four 10-chunk splits on this local[4] session
    assert(parts.length == math.min(4, spark.sparkContext.defaultParallelism))
  }

  test("encodings: constant, RLE, dict survive round trip") {
    val dir = tmp()
    val df = spark.range(0, 10000).repartition(1).selectExpr(
      "42 AS const_i",                          // constant
      "'same' AS const_s",                      // constant string
      "CAST(id DIV 1000 AS INT) AS rle_i",      // long runs
      "CASE WHEN id % 3 = 0 THEN 'aa' WHEN id % 3 = 1 THEN 'bb' ELSE 'cc' END AS dict_s",
      "id AS k")
    df.write.format("vortex").mode("append").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }
}
