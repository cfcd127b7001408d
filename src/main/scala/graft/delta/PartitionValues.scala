package graft.delta

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.types._

/** Delta partition-value (de)serialization
  * (PROTOCOL.md#partition-value-serialization).
  *
  * Spec: `_partition_value_to_python` / `_serialize_partition_value`
  * (deltalake2db/filter_by_meta.py:13-69). Partition columns are not
  * stored in the parquet files; their string values from
  * `add.partitionValues` become each file group's typed partition row
  * in [[DeltaFileIndex]]. A null / absent value (the
  * `__HIVE_DEFAULT_PARTITION__` convention) becomes a typed NULL.
  */
object PartitionValues {

  /** Delta partition timestamps are `yyyy-MM-dd HH:mm:ss[.f…]` with any
    * fraction length (writers trim trailing zeros) — ISO parsing accepts
    * 0-9 fraction digits.
    */
  private def parseLocalDateTime(s: String): LocalDateTime =
    LocalDateTime.parse(if (s.contains("T")) s else s.replace(" ", "T"))

  /** Deserialize a partition string to the JVM value Spark's `lit` expects
    * for the given Delta/Spark type.
    */
  def deserialize(value: String, dt: DataType): Any = dt match {
    case StringType => value
    case IntegerType => value.toInt
    case LongType => value.toLong
    case ShortType => value.toShort
    case ByteType => value.toByte
    case FloatType => value.toFloat
    case DoubleType => value.toDouble
    case BooleanType =>
      Set("true", "1", "t", "y", "yes").contains(value.toLowerCase)
    case DateType => LocalDate.parse(value)
    case TimestampType =>
      // UTC-adjusted timestamp; the partition string is wall-clock UTC.
      parseLocalDateTime(value).toInstant(ZoneOffset.UTC)
    case TimestampNTZType => parseLocalDateTime(value)
    case BinaryType => value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case _: DecimalType => new java.math.BigDecimal(value)
    case other => throw new IllegalArgumentException(
      s"Unsupported partition type: $other")
  }

  /** Serialize a Scala predicate value to the partition-string form for
    * metadata-level comparison (filter_by_meta.py:45-69).
    */
  def serialize(value: Any, dt: DataType): String = value match {
    case null => null
    case s: String => s
    case b: Boolean => if (b) "true" else "false"
    case d: LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => serialize(t.toInstant, dt)
    case i: Instant =>
      val ldt = LocalDateTime.ofInstant(i, ZoneOffset.UTC)
      trimFraction(ldt)
    case l: LocalDateTime => trimFraction(l)
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case other => other.toString
  }

  /** `%Y-%m-%d %H:%M:%S.%f` then strip trailing zeros and a trailing dot
    * (filter_by_meta.py:58-60).
    */
  private def trimFraction(ldt: LocalDateTime): String = {
    val s = ldt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
  }
}
