package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Footer-stats aggregate pushdown (≙ the engine capability the
  * reference inherits from DuckDB: `count(*)` over a scan answers from
  * table-function cardinality without materializing rows — pin
  * `/root/reference/.github/workflows/MainDistributionPipeline.yml:17-23`).
  *
  * Every chunk footer already carries rowCount and per-column
  * nullCount/min/max (FORMAT.md), so COUNT(*) / COUNT(col) /
  * MIN(col) / MAX(col) with no GROUP BY and no filters resolve
  * entirely from footers — zero page decodes, a driver-side fold over
  * metadata the planner reads anyway. At 100 TB that turns a
  * full-table count from a cluster job into a metadata pass.
  *
  * Conservative bails (→ normal scan): grouped aggregates, DISTINCT,
  * any unsupported function, min/max over a column whose chunk stats
  * are absent for a non-all-null chunk (NaN-poisoned float chunks,
  * boolean/binary/deep-decimal columns — PageCodec writes no stats
  * there), min/max over partition-path columns, or schema drift.
  */
object VortexStatsPushdown {
  private sealed trait Spec
  private case object CountStarSpec extends Spec
  private case class CountColSpec(col: String) extends Spec
  private case class MinMaxSpec(col: String, isMin: Boolean) extends Spec
  private case class SumSpec(col: String) extends Spec

  /** SUM is exact-only: integral + decimal≤18 (what the writer
    * accumulates); float sums are order-dependent and excluded */
  private def sumDomain(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** long-domain stat types (PageCodec writes an 8-byte little-endian
    * long whose ordering PageCodec.lessThan knows) */
  private def longDomain(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  def compute(agg: Aggregation, fileSchema: StructType, paths: Seq[String],
              conf: Configuration): Option[(StructType, Seq[UnsafeRow])] = {
    val specs: Seq[Spec] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CountStarSpec
      case c: Count if !c.isDistinct =>
        colName(c.column) match { case Some(n) => CountColSpec(n); case None => return None }
      case m: Min =>
        colName(m.column) match { case Some(n) => MinMaxSpec(n, isMin = true); case None => return None }
      case m: Max =>
        colName(m.column) match { case Some(n) => MinMaxSpec(n, isMin = false); case None => return None }
      case s: Sum if !s.isDistinct =>
        colName(s.column) match { case Some(n) => SumSpec(n); case None => return None }
      case _ => return None
    }
    // GROUP BY is supported exactly when every grouping column is a
    // partition-path column: groups are directory subtrees, so each
    // group aggregates its own file subset from metadata alone —
    // partition-keyed aggregation over 100 TB without touching a page
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map(e =>
      colName(e).getOrElse(return None))

    val (listed, maskBind) = VortexDataSource.listAllWithMasks(paths, conf)
    // a deletion-vector mask makes footer/manifest rowCounts and stats
    // UPPER BOUNDS, not answers — stats-answered aggregates must fall
    // back to the (mask-applying) scan for any masked file
    if (listed.exists(f => maskBind.contains(f._1.getPath.toString))) return None
    val partCols: Set[String] =
      listed.flatMap(_._2.map(_._1)).toSet - BucketSpecFile.BucketCol
    if (!groupCols.forall(partCols.contains)) return None
    // every file must carry a value for every grouping column
    if (groupCols.nonEmpty &&
        !listed.forall { case (_, kvs) => groupCols.forall(g => kvs.exists(_._1 == g)) })
      return None
    val dataFields = fileSchema.fields.filterNot(f => partCols.contains(f.name))
    val fieldIdx: Map[String, Int] = dataFields.map(_.name).zipWithIndex.toMap

    // every referenced column must be resolvable; min/max need a data
    // column with a stats-capable type
    specs.foreach {
      case CountColSpec(n) =>
        if (!partCols.contains(n) && !fieldIdx.contains(n)) return None
      case MinMaxSpec(n, _) =>
        val i = fieldIdx.getOrElse(n, return None)
        if (!longDomain(dataFields(i).dataType) && dataFields(i).dataType != StringType)
          return None
      case SumSpec(n) =>
        val i = fieldIdx.getOrElse(n, return None)
        if (!sumDomain(dataFields(i).dataType)) return None
      case CountStarSpec =>
    }

    // the scan's own chunk selection with no filters: manifest chunk
    // stats where an entry is trusted (zero footer I/O), footers
    // otherwise; where the scan would throw (drift), the pushdown bails.
    // Stats values are STORAGE-domain and the fold converts them through
    // the TABLE's timestamp units, so a footer whose units differ bails
    // too; SUM reads the trusted entries' writer-exact sums (footers
    // carry none).
    val expected = dataFields.toSeq.map(f => (f.name, f.dataType, VortexFormat.tsUnit(f)))
    val selected =
      try ChunkSelection.select(listed, maskBind, ChunkSelection.manifestEntries(paths, conf), Nil,
        fileSchema, None, evolution = false, conf)
      catch { case _: Exception => return None }
    if (selected.exists(_.schema.fields.toSeq.map(x =>
          (x.name, x.dataType, VortexFormat.tsUnit(x))) != expected)) return None

    def binLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }

    val minMaxCols = specs.collect { case MinMaxSpec(n, m) => (n, m) }.distinct
    val countCols = specs.collect { case CountColSpec(n) if fieldIdx.contains(n) => n }.distinct
    val sumCols = specs.collect { case SumSpec(n) => n }.distinct

    // Sum's result type mirrors Catalyst's Sum.dataType: long for
    // integral inputs, DecimalType(min(38, p+10), s) for decimals
    def sumType(n: String): DataType = dataFields(fieldIdx(n)).dataType match {
      case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
      case _ => LongType
    }

    /** aggregate one file subset (= one group) from metadata alone */
    def aggregateFiles(files: Seq[ChunkSelection.Selected]): Option[Array[Any]] = {
      // SUM inputs: every file must carry a writer-exact sum for the
      // column (and its non-null count, for NULL-when-empty); any gap
      // or overflow bails the whole pushdown
      val sumTotals: Map[String, Option[(Long, Long)]] = // col -> (sum, nonNull)
        sumCols.map { n =>
          var total = 0L
          var nn = 0L
          var ok = true
          files.foreach { f =>
            f.entry match {
              case Some(e) if ok =>
                e.cols.find(_.name == n) match {
                  case Some(c) if c.sum.isDefined =>
                    try {
                      total = Math.addExact(total, c.sum.get)
                      nn += e.rows - c.nulls
                    } catch { case _: ArithmeticException => ok = false }
                  case _ => ok = false
                }
              case _ => ok = false
            }
          }
          n -> (if (ok) Some((total, nn)) else None)
        }.toMap
      if (sumCols.exists(n => sumTotals(n).isEmpty)) return None

      var totalRows = 0L
      val nonNull = collection.mutable.Map[String, Long]().withDefaultValue(0L)
      // fold state per (col, isMin): Left(long) or Right(utf8 bytes)
      val fold = collection.mutable.Map[(String, Boolean), Either[Long, Array[Byte]]]()

      files.foreach { f =>
        f.metas.foreach { chunk =>
          totalRows += chunk.rowCount
          countCols.foreach { n =>
            nonNull(n) += chunk.rowCount - chunk.columns(fieldIdx(n)).nullCount
          }
          minMaxCols.foreach { case (n, isMin) =>
            val i = fieldIdx(n)
            val m = chunk.columns(i)
            if (m.nullCount != chunk.rowCount) { // all-null chunks carry no stats, legitimately
              val statB = (if (isMin) m.min else m.max).getOrElse(return None)
              val dt = dataFields(i).dataType
              val cur = fold.get((n, isMin))
              if (dt == StringType) {
                val better = cur match {
                  case Some(Right(prev)) =>
                    if (isMin) (if (binLess(statB, prev)) statB else prev)
                    else (if (binLess(prev, statB)) statB else prev)
                  case _ => statB
                }
                fold((n, isMin)) = Right(better)
              } else {
                val v = PageCodec.bytesToLong(statB)
                val better = cur match {
                  case Some(Left(prev)) =>
                    if (isMin) (if (PageCodec.lessThan(v, prev, dt)) v else prev)
                    else (if (PageCodec.lessThan(prev, v, dt)) v else prev)
                  case _ => v
                }
                fold((n, isMin)) = Left(better)
              }
            }
          }
        }
      }

      def toCatalyst(n: String, isMin: Boolean): Any = {
        val i = fieldIdx(n)
        val field = dataFields(i)
        fold.get((n, isMin)) match {
          case None => null // no non-null values anywhere
          case Some(Right(bytes)) => UTF8String.fromBytes(bytes)
          case Some(Left(v)) => field.dataType match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType | DateType => v.toInt
            case LongType => v
            case TimestampType | TimestampNTZType =>
              VortexFormat.microsFromStored(v, VortexFormat.tsUnit(field))
            case FloatType => java.lang.Float.intBitsToFloat(v.toInt)
            case DoubleType => java.lang.Double.longBitsToDouble(v)
            case d: DecimalType => org.apache.spark.sql.types.Decimal(
              BigDecimal(java.math.BigDecimal.valueOf(v, d.scale)), d.precision, d.scale)
            case _ => null // unreachable: gated by longDomain above
          }
        }
      }
      def sumValue(n: String): Any = sumTotals(n).get match {
        case (_, 0L) => null // SQL SUM over zero non-null values is NULL
        case (total, _) => dataFields(fieldIdx(n)).dataType match {
          case d: DecimalType =>
            val t = sumType(n).asInstanceOf[DecimalType]
            org.apache.spark.sql.types.Decimal(
              BigDecimal(java.math.BigDecimal.valueOf(total, d.scale)), t.precision, t.scale)
          case _ => total
        }
      }

      Some(specs.map {
        case CountStarSpec => totalRows
        case CountColSpec(n) => if (partCols.contains(n)) totalRows else nonNull(n)
        case MinMaxSpec(n, isMin) => toCatalyst(n, isMin)
        case SumSpec(n) => sumValue(n)
      }.toArray[Any])
    }

    // output layout per the complete-pushdown contract: grouping
    // columns first (table types), then one field per aggregate
    val groupFields = groupCols.map(g => StructField(g, fileSchema(g).dataType, nullable = true))
    val aggFields = specs.zipWithIndex.map {
      case (CountStarSpec, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (CountColSpec(_), i) => StructField(s"agg_$i", LongType, nullable = false)
      case (MinMaxSpec(n, _), i) =>
        StructField(s"agg_$i", dataFields(fieldIdx(n)).dataType, nullable = true)
      case (SumSpec(n), i) => StructField(s"agg_$i", sumType(n), nullable = true)
    }
    val schema = StructType(groupFields ++ aggFields)
    val proj = UnsafeProjection.create(schema)

    // any fold/assembly failure (e.g. a decimal SUM whose exact total
    // exceeds the result precision would make Decimal.apply throw at
    // optimizer time, crashing planning) bails to the normal scan,
    // where Spark itself yields NULL (non-ANSI) or the proper runtime
    // overflow error (ANSI)
    val rows: Seq[UnsafeRow] =
      try {
        if (groupCols.isEmpty) {
          val vals = aggregateFiles(selected).getOrElse(return None)
          Seq(proj(new GenericInternalRow(vals)).copy())
        } else {
          // group by the TYPED partition value, not the raw path
          // string: externally-written layouts can spell the same
          // typed value as distinct strings ('g=1' vs 'g=01' under
          // LongType), and complete pushdown means no re-aggregation
          // would merge the duplicate groups afterwards.
          // (UTF8String/boxed numerics/Decimal all have value
          // equality, so Seq[Any] keys group correctly.)
          selected.groupBy(f => groupCols.map(g => PartitionedLayout.toInternal(
            f.partValues(f.partCols.indexOf(g)), fileSchema(g).dataType)))
            .toSeq.map { case (gTyped, files) =>
            val aggVals = aggregateFiles(files).getOrElse(return None)
            proj(new GenericInternalRow((gTyped ++ aggVals).toArray[Any])).copy()
          }
        }
      } catch { case _: Exception => return None }
    Some((schema, rows))
  }
}

/** Scan whose single partition yields the pre-computed aggregate rows
  * (one per group; one total row when ungrouped) — what a
  * footer-stats-answered aggregate plans into. */
class VortexStatsScan(outSchema: StructType, rows: Seq[UnsafeRow], pushed: String)
    extends Scan with Batch {
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String = s"VortexStatsScan(pushedAggregates=[$pushed])"
  override def planInputPartitions(): Array[InputPartition] =
    Array(VortexStatsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = new VortexStatsReaderFactory
}

case class VortexStatsPartition(rows: Seq[UnsafeRow]) extends InputPartition

class VortexStatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val it = partition.asInstanceOf[VortexStatsPartition].rows.iterator
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
