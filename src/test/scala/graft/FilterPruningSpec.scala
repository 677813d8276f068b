package graft

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{ColVec, PageCodec, VortexFormat}

/** Unit coverage for stats-based chunk skipping: every operator shape,
  * boundary inclusivity, null-count logic, And/Or composition, and the
  * never-skip fallback for unknown shapes.
  */
class FilterPruningSpec extends AnyFunSuite {
  import graft.sources.vortex.FilterPruning.canSkip

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("s", StringType),
    StructField("d", DoubleType)))

  /** chunk with x∈[10,20], s∈["bb","dd"], d∈[1.5,2.5], given null counts */
  private def chunk(xNulls: Int = 0, rows: Int = 100): VortexFormat.ChunkMeta = {
    def enc(vals: Array[Long], dt: DataType, nulls: Int): VortexFormat.ColumnChunkMeta = {
      val nullFlags = Array.tabulate(vals.length)(_ < nulls)
      val e = PageCodec.encode(new ColVec(vals.length, nullFlags, vals.clone(), null), dt)
      VortexFormat.ColumnChunkMeta(0, 0, e.encoding, e.compressed, e.nullCount, e.min, e.max)
    }
    def encS(vals: Array[String]): VortexFormat.ColumnChunkMeta = {
      val e = PageCodec.encode(new ColVec(vals.length, new Array[Boolean](vals.length),
        null, vals.map(_.getBytes("UTF-8"))), StringType)
      VortexFormat.ColumnChunkMeta(0, 0, e.encoding, e.compressed, e.nullCount, e.min, e.max)
    }
    val xs = Array.tabulate(rows)(i => 10L + (i % 11))
    val ds = Array.tabulate(rows)(i => java.lang.Double.doubleToLongBits(1.5 + (i % 2) * 1.0))
    VortexFormat.ChunkMeta(rows, Array(
      enc(xs, LongType, xNulls), encS(Array("bb", "cc", "dd")), enc(ds, DoubleType, 0)))
  }

  test("range operators with boundary inclusivity") {
    val c = chunk()
    assert(canSkip(EqualTo("x", 9L), c, schema))
    assert(!canSkip(EqualTo("x", 10L), c, schema))
    assert(!canSkip(EqualTo("x", 20L), c, schema))
    assert(canSkip(EqualTo("x", 21L), c, schema))
    assert(canSkip(GreaterThan("x", 20L), c, schema))      // max == v → skip
    assert(!canSkip(GreaterThanOrEqual("x", 20L), c, schema))
    assert(canSkip(GreaterThanOrEqual("x", 21L), c, schema))
    assert(canSkip(LessThan("x", 10L), c, schema))
    assert(!canSkip(LessThanOrEqual("x", 10L), c, schema))
    assert(canSkip(LessThanOrEqual("x", 9L), c, schema))
    assert(canSkip(In("x", Array(1L, 5L, 9L)), c, schema))
    assert(!canSkip(In("x", Array(1L, 15L)), c, schema))
  }

  test("string and double domains") {
    val c = chunk()
    assert(canSkip(EqualTo("s", "aa"), c, schema))
    assert(!canSkip(EqualTo("s", "cc"), c, schema))
    assert(canSkip(GreaterThan("s", "dd"), c, schema))
    assert(canSkip(EqualTo("d", 3.0), c, schema))
    assert(!canSkip(EqualTo("d", 2.0), c, schema))
  }

  test("null-count based skipping") {
    assert(canSkip(IsNull("x"), chunk(xNulls = 0), schema))
    assert(!canSkip(IsNull("x"), chunk(xNulls = 5), schema))
    assert(canSkip(IsNotNull("x"), chunk(xNulls = 100), schema))
    assert(!canSkip(IsNotNull("x"), chunk(xNulls = 99), schema))
  }

  test("And/Or composition and conservative fallbacks") {
    val c = chunk()
    assert(canSkip(And(EqualTo("x", 9L), EqualTo("s", "cc")), c, schema))
    assert(!canSkip(Or(EqualTo("x", 9L), EqualTo("s", "cc")), c, schema))
    assert(canSkip(Or(EqualTo("x", 9L), EqualTo("s", "aa")), c, schema))
    // unknown column (e.g. a partition col) or unknown shape → never skip
    assert(!canSkip(EqualTo("nope", 1L), c, schema))
    assert(!canSkip(StringContains("s", "c"), c, schema))
  }

  test("IN: the sorted-key path answers exactly as the per-value path") {
    import graft.sources.vortex.FilterPruning
    val rnd = new scala.util.Random(20261017L)
    val t0 = 1577836800000000L // 2020-01-01 in µs
    val sch = StructType(Seq(
      StructField("b", ByteType), StructField("i", IntegerType), StructField("l", LongType),
      StructField("dt", DateType), StructField("tu", TimestampType),
      VortexFormat.withTsUnit(StructField("tm", TimestampType), "ms"),
      VortexFormat.withTsUnit(StructField("tn", TimestampType), "ns"),
      StructField("db", DoubleType), StructField("s", StringType),
      StructField("dec", DecimalType(10, 2))))
    def instant(us: Long) = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
    // per column: the stored long of key k, and an IN value near key k
    // (sometimes between stored keys, so it has no exact key)
    val stored: Array[Int => Long] = Array(
      k => k, k => k, k => k * 1000L, k => 18000L + k, k => t0 + k * 1000L,
      k => (t0 + k * 1000L) / 1000L, k => (t0 + k * 1000L) * 1000L,
      k => java.lang.Double.doubleToLongBits(k / 2.0), _ => 0L, k => k * 100L)
    val value: Array[Int => Any] = Array(
      k => k.toByte, k => k, k => k * 1000L + (if (rnd.nextInt(4) == 0) 1 else 0),
      k => java.time.LocalDate.ofEpochDay(18000L + k),
      k => instant(t0 + k * 1000L + (if (rnd.nextInt(4) == 0) 7 else 0)),
      k => instant(t0 + k * 1000L + (if (rnd.nextInt(4) == 0) 500 else 0)),
      k => instant(t0 + k * 1000L),
      k => k / 2.0, k => f"v$k%03d", k => new java.math.BigDecimal(k))
    val outcomes = scala.collection.mutable.Set[(Int, Boolean)]()
    var sortedPath = 0
    (0 until 4000).foreach { _ =>
      val base = rnd.nextInt(60); val width = 1 + rnd.nextInt(12); val rows = 8
      val columns = sch.fields.indices.map { c =>
        val ks = Array.fill(rows)(base + rnd.nextInt(width))
        val nulls = Array.fill(rows)(rnd.nextInt(10) == 0)
        val e = if (c == 8) PageCodec.encode(new ColVec(rows, nulls, null,
                  ks.map(k => f"v$k%03d".getBytes("UTF-8"))), StringType)
                else PageCodec.encode(new ColVec(rows, nulls, ks.map(stored(c)), null),
                  sch.fields(c).dataType)
        VortexFormat.ColumnChunkMeta(0, 0, e.encoding, e.compressed, e.nullCount, e.min, e.max)
      }.toArray
      val chunk = VortexFormat.ChunkMeta(rows, columns)
      val c = rnd.nextInt(sch.length)
      val name = sch.fields(c).name
      val vs = Array.fill[Any](1 + rnd.nextInt(8))(
        if (rnd.nextInt(20) == 0) null else value(c)(rnd.nextInt(80) - 10))
      val in = In(name, vs)
      val perValue = vs.forall(v => canSkip(EqualTo(name, v), chunk, sch))
      assert(canSkip(in, chunk, sch) == perValue, s"$in on $name")
      assert(FilterPruning.pruner(Seq(in), sch)(chunk) == perValue, s"$in on $name")
      if (FilterPruning.inKeys(in, sch).isDefined) sortedPath += 1
      outcomes += ((c, perValue))
    }
    // both answers occur on every key-domain column, and the sorted
    // path served most of their lists
    (0 to 4).foreach(c => assert(outcomes((c, true)) && outcomes((c, false)), sch.fields(c).name))
    assert(sortedPath > 1000)
  }

  test("IN: sorted keys exist only for exact, non-null keys on key-domain µs columns") {
    import graft.sources.vortex.FilterPruning.inKeys
    val sch = StructType(Seq(StructField("l", LongType), StructField("db", DoubleType),
      VortexFormat.withTsUnit(StructField("tm", TimestampType), "ms"),
      StructField("tu", TimestampType)))
    assert(inKeys(In("l", Array(5L, 1L, 5L, 3)), sch).map(_.toSeq) == Some(Seq(1L, 3L, 5L, 5L)))
    assert(inKeys(In("l", Array(5L, null)), sch).isEmpty)
    assert(inKeys(In("db", Array(1.0)), sch).isEmpty)
    assert(inKeys(In("tm", Array(java.time.Instant.EPOCH)), sch).isEmpty)
    assert(inKeys(In("tu", Array(java.time.Instant.ofEpochSecond(1))), sch)
      .map(_.toSeq) == Some(Seq(1000000L)))
    assert(inKeys(In("nope", Array(1L)), sch).isEmpty)
  }
}
