package graft

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.VortexIpc

/** SURVEY.md §2.1 S8: the vortex IPC stream (≙ reference `vortex-ipc`
  * crate, Cargo.lock:4397-4412 — serialization only, no SQL surface).
  * Asserts the wire contract: self-describing header, full type-matrix
  * round trip incl. NULLs and nested, multi-chunk framing, byte-level
  * stream concatenation, schema-mismatch rejection, and the
  * distributed serialize/deserialize surface (one payload per
  * partition, no shuffle).
  */
class VortexIpcSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def typed(n: Int) = spark.range(0, n).selectExpr(
    "CAST(id % 2 = 0 AS BOOLEAN) AS c_bool",
    "CAST(id % 100 AS TINYINT) AS c_byte",
    "CAST((id % 320) * 100 AS SMALLINT) AS c_short",
    "CAST(id * 100000 AS INT) AS c_int",
    "CAST(id * 10000000000 AS BIGINT) AS c_long",
    "CAST(id AS DECIMAL(20,0)) AS c_ubigint",
    "CAST(id AS FLOAT) / 3.0f AS c_float",
    "CAST(id AS DOUBLE) / 7.0 AS c_double",
    "CAST(id AS DECIMAL(10,2)) / 4 AS c_dec",
    "CAST(id AS DECIMAL(38,6)) * 12345678901234567890 AS c_bigdec",
    "IF(id % 7 = 0, NULL, concat('Value ', id)) AS c_str",
    "CAST(date_add(DATE '2020-01-01', CAST(id AS INT)) AS DATE) AS c_date",
    "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP_NTZ '2020-01-01 00:00:00') AS c_ts_ntz",
    "CAST(timestampadd(SECOND, CAST(id AS INT), TIMESTAMP '2020-01-01 00:00:00') AS TIMESTAMP) AS c_ts",
    "CAST(concat('blob', id) AS BINARY) AS c_bin",
    "IF(id % 5 = 0, NULL, CAST(id AS DOUBLE)) AS c_nullable",
    "CAST(id AS STRING) AS c_key")

  /** a payload's rows through the production decoder
    * ([[VortexIpc.readInternalRows]], the one `deserialize` runs), each
    * batch-row view copied out to an external Row with its schema */
  private def readBack(bytes: Array[Byte]): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(VortexIpc.readSchema(bytes))
    VortexIpc.readInternalRows(bytes).map(r => toRow(r).asInstanceOf[Row]).toArray
  }

  private def dump(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case x => x })

  test("type-matrix round trip through one IPC payload (incl. NULLs)") {
    val df = typed(100)
    val bytes = VortexIpc.serialize(df.coalesce(1)).collect()
    assert(bytes.length == 1)
    assert(VortexIpc.sameStructure(VortexIpc.readSchema(bytes(0)), df.schema),
      "payload header must carry the producing schema")
    val back = readBack(bytes(0))
    assert(dump(back.sortBy(_.getAs[String]("c_key"))) ==
      dump(df.orderBy("c_key").collect()))
  }

  test("multi-chunk framing: small chunkRows produce identical rows") {
    val df = typed(1000)
    val one = VortexIpc.serialize(df.coalesce(1), chunkRows = 64).collect()(0)
    val big = VortexIpc.serialize(df.coalesce(1), chunkRows = 100000).collect()(0)
    assert(one.length != big.length || one.toSeq != big.toSeq,
      "64-row chunking must change the framing")
    val a = readBack(one).sortBy(_.getAs[String]("c_key"))
    val b = readBack(big).sortBy(_.getAs[String]("c_key"))
    assert(dump(a) == dump(b))
  }

  test("byte-level concatenation of two streams reads as one") {
    val df = typed(60)
    val p1 = VortexIpc.serialize(df.filter(col("c_int") < 3000000).coalesce(1)).collect()(0)
    val p2 = VortexIpc.serialize(df.filter(col("c_int") >= 3000000).coalesce(1)).collect()(0)
    val bos = new ByteArrayOutputStream()
    bos.write(p1); bos.write(p2)
    val all = readBack(bos.toByteArray)
    assert(all.length == 60)
    assert(dump(all.sortBy(_.getAs[String]("c_key"))) ==
      dump(df.orderBy("c_key").collect()))
  }

  test("concatenated stream with a different schema is rejected") {
    val p1 = VortexIpc.serialize(spark.range(5).selectExpr("id AS a").coalesce(1)).collect()(0)
    val p2 = VortexIpc.serialize(spark.range(5).selectExpr("CAST(id AS STRING) AS a").coalesce(1)).collect()(0)
    val bos = new ByteArrayOutputStream()
    bos.write(p1); bos.write(p2)
    val ex = intercept[Exception] { readBack(bos.toByteArray).length }
    assert(ex.getMessage.contains("schema mismatch"))
  }

  test("nested array column rides the stream") {
    val df = spark.range(0, 50).selectExpr(
      "id", "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS emb",
      "IF(id % 3 = 0, NULL, array(id, id*2)) AS longs")
    val bytes = VortexIpc.serialize(df.coalesce(1)).collect()(0)
    val back = readBack(bytes).sortBy(_.getAs[Long]("id"))
    val exp = df.orderBy("id").collect()
    assert(back.toSeq.map(_.toSeq) == exp.toSeq.map(_.toSeq))
  }

  test("distributed round trip: one payload per partition, values intact") {
    val df = typed(997).repartition(5)
    val payloads = VortexIpc.serialize(df)
    assert(payloads.rdd.getNumPartitions == 5)
    val counts = payloads.collect().map(b => VortexIpc.readInternalRows(b).length)
    assert(counts.sum == 997, "every partition's rows must land in its payload")
    val back = VortexIpc.deserialize(spark, payloads, df.schema)
    assert(back.count() == 997)
    // schema-inferring variant agrees
    val inferred = VortexIpc.deserialize(spark, payloads)
    assert(VortexIpc.sameStructure(inferred.schema, df.schema))
    val agg = back.agg(
      sum(col("c_long")).as("s"), count(lit(1)).as("n"),
      sum(length(col("c_str"))).as("ls")).collect()(0)
    val expAgg = df.agg(
      sum(col("c_long")).as("s"), count(lit(1)).as("n"),
      sum(length(col("c_str"))).as("ls")).collect()(0)
    assert(agg == expAgg)
  }

  test("empty partitions and zero-row frames round trip") {
    val df = typed(3).repartition(8)  // most partitions empty
    val payloads = VortexIpc.serialize(df)
    assert(payloads.collect().length == 8)
    assert(VortexIpc.deserialize(spark, payloads, df.schema).count() == 3)
  }

  test("payloadRows bounds payload size; values survive the split") {
    val df = typed(997).repartition(5)
    val payloads = VortexIpc.serialize(df, payloadRows = 100)
    val sizes = payloads.collect().map(b => VortexIpc.readInternalRows(b).length)
    assert(sizes.forall(_ <= 100), "no payload may exceed the row cap")
    assert(sizes.sum == 997)
    assert(sizes.length >= 10, "5 partitions of ~200 rows must split at cap 100")
    val back = VortexIpc.deserialize(spark, payloads, df.schema)
    val agg = back.agg(sum(col("c_long")), sum(length(col("c_str")))).collect()(0)
    val exp = df.agg(sum(col("c_long")), sum(length(col("c_str")))).collect()(0)
    assert(agg == exp)
  }

  test("deserialize rejects payloads whose schema does not match") {
    val p = VortexIpc.serialize(spark.range(5).selectExpr("id AS a"))
    val wrong = StructType(Seq(StructField("a", StringType)))
    val ex = intercept[Exception] {
      VortexIpc.deserialize(spark, p, wrong).count()
    }
    assert(ex.getMessage.contains("does not match"))
  }
}
