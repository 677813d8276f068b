package graft.sources.vortex

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.FieldIndex
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Chunk-skipping: decide from per-chunk min/max/nullCount stats
  * whether a pushed-down filter can possibly match (≙ the reference's
  * stats-driven selective scan, vortex-scan + layout stats,
  * SURVEY.md §4). Conservative: unknown shapes never skip.
  */
object FilterPruning {
  import VortexFormat.{ChunkMeta, ColumnChunkMeta}

  /** Comparison domain for a filter constant: Left(long-domain) or
    * Right(utf8 bytes). None → can't prune on this value. */
  private def toDomain(v: Any, dt: DataType): Option[Either[Long, Array[Byte]]] = {
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Left(v.asInstanceOf[Number].longValue()))
      case FloatType =>
        Some(Left(java.lang.Float.floatToIntBits(v.asInstanceOf[Number].floatValue()).toLong))
      case DoubleType =>
        Some(Left(java.lang.Double.doubleToLongBits(v.asInstanceOf[Number].doubleValue())))
      case DateType => v match {
        case d: java.time.LocalDate => Some(Left(d.toEpochDay))
        case d: java.sql.Date => Some(Left(DateTimeUtils.fromJavaDate(d).toLong))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.time.Instant => Some(Left(DateTimeUtils.instantToMicros(t)))
        case t: java.sql.Timestamp => Some(Left(DateTimeUtils.fromJavaTimestamp(t)))
        case _ => None
      }
      case TimestampNTZType => v match {
        case t: java.time.LocalDateTime => Some(Left(DateTimeUtils.localDateTimeToMicros(t)))
        case _ => None
      }
      case d: DecimalType if d.precision <= 18 =>
        val bd = v match {
          case b: java.math.BigDecimal => b
          case b: BigDecimal => b.bigDecimal
          case n: Number => new java.math.BigDecimal(n.toString)
          case _ => return None
        }
        // rescale exactly; a constant that doesn't fit the scale can
        // still bound the range via ceiling/floor — keep simple: exact only
        try Some(Left(bd.setScale(d.scale).unscaledValue().longValueExact()))
        catch { case _: ArithmeticException => None }
      case StringType => v match {
        case s: String => Some(Right(s.getBytes("UTF-8")))
        case s: org.apache.spark.unsafe.types.UTF8String => Some(Right(s.getBytes))
        case _ => None
      }
      case _ => None
    } catch { case _: Exception => None }
  }

  private def cmp(a: Either[Long, Array[Byte]], statBytes: Array[Byte], dt: DataType): Int = a match {
    case Left(l) =>
      val s = PageCodec.bytesToLong(statBytes)
      if (PageCodec.lessThan(l, s, dt)) -1 else if (PageCodec.lessThan(s, l, dt)) 1 else 0
    case Right(b) =>
      val s = statBytes
      var i = 0
      val n = math.min(b.length, s.length)
      while (i < n) {
        val x = b(i) & 0xff; val y = s(i) & 0xff
        if (x != y) return if (x < y) -1 else 1
        i += 1
      }
      java.lang.Integer.compare(b.length, s.length)
  }

  /** Filter constants arrive in µs; unit-scaled timestamp columns
    * (VortexFormat.TsUnitKey) store longs in their own unit, so the
    * constant maps into that domain. Only exactly-representable values
    * prune (a µs value between ms ticks has no sound floor/ceil under
    * every predicate shape); inexact → conservative no-skip. */
  private def toStoredUnit(dom: Either[Long, Array[Byte]], unit: String): Option[Either[Long, Array[Byte]]] =
    (dom, unit) match {
      case (_, "us") => Some(dom)
      case (Left(l), "ns") =>
        try Some(Left(Math.multiplyExact(l, 1000L))) catch { case _: ArithmeticException => None }
      case (Left(l), u) =>
        val f = if (u == "ms") 1000L else 1000000L
        if (Math.floorMod(l, f) == 0L) Some(Left(Math.floorDiv(l, f))) else None
      case _ => None
    }

  /** true → the chunk definitely contains no matching row. */
  def canSkip(filter: Filter, chunk: ChunkMeta, schema: StructType): Boolean =
    canSkip(filter, chunk, schema, in => inKeys(in, schema))

  /** The chunk-skip test of one scan's filters over chunks positionally
    * aligned with `schema`. Each IN list is converted to sorted keys
    * once (see [[inKeys]]), not once per chunk. */
  def pruner(filters: Seq[Filter], schema: StructType): ChunkMeta => Boolean = {
    val keys = new java.util.IdentityHashMap[In, Option[Array[Long]]]()
    val keysOf = (in: In) => keys.computeIfAbsent(in, _ => inKeys(in, schema))
    chunk => filters.exists(canSkip(_, chunk, schema, keysOf))
  }

  /** An IN list on an integral, date or µs-timestamp column as sorted
    * keys in the stored domain. None when any value is null or has no
    * exact key, or the column has another type or unit: such lists keep
    * the per-value range test, whose answer for them is the same. */
  private[graft] def inKeys(in: In, schema: StructType): Option[Array[Long]] =
    FieldIndex(schema, in.attribute).flatMap { i =>
      val f = schema.fields(i)
      val keyed = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case TimestampType | TimestampNTZType => VortexFormat.tsUnit(f) == "us"
        case _ => false
      }
      val out = new Array[Long](in.values.length)
      var ok = keyed
      var j = 0
      while (ok && j < out.length) {
        toDomain(in.values(j), f.dataType) match {
          case Some(Left(l)) => out(j) = l
          case _ => ok = false
        }
        j += 1
      }
      if (!ok) None else { java.util.Arrays.sort(out); Some(out) }
    }

  private def canSkip(filter: Filter, chunk: ChunkMeta, schema: StructType,
                      keysOf: In => Option[Array[Long]]): Boolean = {
    def col(name: String): Option[(ColumnChunkMeta, DataType, String)] =
      FieldIndex(schema, name).map { i =>
        (chunk.columns(i), schema.fields(i).dataType, VortexFormat.tsUnit(schema.fields(i)))
      }
    def rangeSkip(name: String, v: Any)(decide: (Int, Int) => Boolean): Boolean =
      col(name) match {
        case Some((m, dt, unit)) if m.min.isDefined =>
          toDomain(v, dt).flatMap(toStoredUnit(_, unit)) match {
            case Some(dom) => decide(cmp(dom, m.min.get, dt), cmp(dom, m.max.get, dt))
            case None => false
          }
        case _ => false
      }
    filter match {
      // cmpMin = sign(v - min), cmpMax = sign(v - max)
      case EqualTo(a, v) => rangeSkip(a, v)((cMin, cMax) => cMin < 0 || cMax > 0)
      case EqualNullSafe(a, v) if v != null => rangeSkip(a, v)((cMin, cMax) => cMin < 0 || cMax > 0)
      case GreaterThan(a, v) => rangeSkip(a, v)((_, cMax) => cMax >= 0)
      case GreaterThanOrEqual(a, v) => rangeSkip(a, v)((_, cMax) => cMax > 0)
      case LessThan(a, v) => rangeSkip(a, v)((cMin, _) => cMin <= 0)
      case LessThanOrEqual(a, v) => rangeSkip(a, v)((cMin, _) => cMin < 0)
      case in @ In(a, vs) if vs != null && vs.nonEmpty =>
        keysOf(in) match {
          // skip iff no key falls in [min, max]
          case Some(keys) => col(a).exists { case (m, _, _) =>
            m.min.isDefined && {
              val lo = PageCodec.bytesToLong(m.min.get)
              val at = java.util.Arrays.binarySearch(keys, lo)
              val first = if (at >= 0) at else -at - 1
              first == keys.length || keys(first) > PageCodec.bytesToLong(m.max.get)
            }
          }
          case None => vs.forall(v => rangeSkip(a, v)((cMin, cMax) => cMin < 0 || cMax > 0))
        }
      case IsNull(a) => col(a).exists { case (m, _, _) => m.nullCount == 0 }
      case IsNotNull(a) => col(a).exists { case (m, _, _) => m.nullCount == chunk.rowCount }
      case And(l, r) => canSkip(l, chunk, schema, keysOf) || canSkip(r, chunk, schema, keysOf)
      case Or(l, r) => canSkip(l, chunk, schema, keysOf) && canSkip(r, chunk, schema, keysOf)
      case _ => false
    }
  }

  /** true → the file's bloom filter (see BloomFilter.scala) proves no
    * row can satisfy an equality filter. Probe-side hashing reproduces
    * the writer's storage domain via the same toDomain/toStoredUnit
    * used for range pruning (plus -0.0 normalization); any value the
    * domain can't represent exactly conservatively never skips. A null
    * IN-list element matches no row under SQL `=`, so it never blocks
    * the skip. */
  def bloomSkip(filter: Filter, bloomOf: String => Option[Sbbf],
                schema: StructType): Boolean = {
    def hashOf(name: String, v: Any): Option[Long] = {
      val i = FieldIndex(schema, name).getOrElse(-1)
      if (i < 0 || v == null) return None
      val dt = schema.fields(i).dataType
      dt match {
        case BinaryType => v match {
          case b: Array[Byte] => Some(Sbbf.hashBytes(b))
          case _ => None
        }
        case _ =>
          toDomain(v, dt)
            .flatMap(toStoredUnit(_, VortexFormat.tsUnit(schema.fields(i))))
            .map {
              case Left(l) =>
                val norm = dt match {
                  case FloatType => Sbbf.normFloatBits(l)
                  case DoubleType => Sbbf.normDoubleBits(l)
                  case _ => l
                }
                Sbbf.hashLong(norm)
              case Right(b) => Sbbf.hashBytes(b)
            }
      }
    }
    def absent(name: String, v: Any): Boolean =
      bloomOf(name).exists(f => hashOf(name, v).exists(h => !f.mightContain(h)))
    filter match {
      case EqualTo(a, v) => absent(a, v)
      case EqualNullSafe(a, v) if v != null => absent(a, v)
      case In(a, vs) if vs != null && vs.nonEmpty =>
        vs.forall(v => v == null || absent(a, v))
      case And(l, r) => bloomSkip(l, bloomOf, schema) || bloomSkip(r, bloomOf, schema)
      case Or(l, r) => bloomSkip(l, bloomOf, schema) && bloomSkip(r, bloomOf, schema)
      case _ => false
    }
  }
}
