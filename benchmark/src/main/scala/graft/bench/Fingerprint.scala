package graft.bench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count plus the
  * sum (mod 2^64) of one 64-bit hash per canonical row.
  *
  * The canonical text must match `fingerprint.py` byte for byte, because the
  * DuckDB cross-check computes the same fingerprint from the oracle SQL:
  * columns sorted by name (as `tools/check_oracle.py` sorts them), floats
  * and decimals rounded to 9 decimals (`rint(x * 1e9)` written as an exact
  * integer), timestamps as epoch microseconds, dates as epoch days, null as
  * U+0000, fields joined by U+001F. A row's hash is the first 8 bytes of the
  * MD5 of its UTF-8 text, read big-endian. Summing the row hashes makes the
  * result independent of row order and partitioning, and keeps duplicates.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String, columns: Seq[String])

  private val Null = "\u0000"
  private val Sep = '\u001f'

  def of(df: DataFrame): Fp = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name).toArray
    val types = schema.fields.map(_.dataType)
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var h = 0L
      rows.foreach { row =>
        sb.setLength(0)
        var j = 0
        while (j < order.length) {
          if (j > 0) sb.append(Sep)
          val i = order(j)
          canon(if (row.isNullAt(i)) null else row.get(i, types(i)), types(i), sb)
          j += 1
        }
        h += rowHash(md, sb.toString)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fp(n, f"$h%016x", order.map(i => schema.fields(i).name).toSeq)
  }

  def rowHash(md: MessageDigest, text: String): Long = {
    val d = md.digest(text.getBytes(StandardCharsets.UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x
  }

  def canonDouble(x: Double, sb: java.lang.StringBuilder): Unit =
    if (x.isNaN) sb.append("NaN")
    else if (x.isInfinite) sb.append(if (x > 0) "Infinity" else "-Infinity")
    else sb.append(new java.math.BigDecimal(math.rint(x * 1e9)).toPlainString)

  def canon(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append(Null)
    else dt match {
      case BooleanType => sb.append(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType => sb.append(v.toString)
      case FloatType => canonDouble(v.asInstanceOf[Float].toDouble, sb)
      case DoubleType => canonDouble(v.asInstanceOf[Double], sb)
      case _: DecimalType => canonDouble(v.asInstanceOf[Decimal].toDouble, sb)
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          canon(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          canon(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType, sb)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          canon(m.keyArray().get(i, kt), kt, e)
          e.append('=')
          canon(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case _ => sb.append(v.toString) // strings (UTF8String) and anything else
    }
}
