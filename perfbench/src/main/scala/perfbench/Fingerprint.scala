package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result, computed while the
  * query's own plan (`queryExecution.toRdd`) runs: row count plus the
  * sum (mod 2^64) of each row's MD5 prefix over a canonical text form.
  * Columns are taken in name order. perfbench/oracle.py computes the same
  * fingerprint over DuckDB's result, so the two compare exactly:
  *   null "n"; boolean "b1"/"b0"; integers "i<decimal>"; float and double
  *   "f<hex of the IEEE-754 double bits>" (-0.0 as 0.0); decimal
  *   "d<plain string, trailing zeros stripped>"; string "s<text>"; date
  *   and timestamp "t<microseconds since the epoch>"; array "[a,b]";
  *   struct "{a,b}"; binary "x<hex>". Fields are joined by U+001F.
  */
object Fingerprint {
  final case class Print(rows: Long, hash: Long, columns: Seq[String])

  def apply(df: DataFrame): Print = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val types = fields.map(_._1.dataType)
    val ords = fields.map(_._2)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var h = 0L
      it.foreach { row =>
        sb.setLength(0)
        var k = 0
        while (k < ords.length) {
          if (k > 0) sb.append('\u001f')
          if (row.isNullAt(ords(k))) sb.append('n')
          else enc(sb, row.get(ords(k), types(k)), types(k))
          k += 1
        }
        h += ByteBuffer.wrap(md.digest(sb.toString.getBytes(UTF_8))).getLong
        n += 1
      }
      Iterator((n, h))
    }.collect()
    Print(parts.map(_._1).sum, parts.map(_._2).sum, fields.map(_._1.name).toSeq)
  }

  private def dbl(sb: java.lang.StringBuilder, d: Double): Unit = {
    val c = if (d == 0.0) 0.0 else d
    sb.append('f').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(c)))
  }

  def enc(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit =
    if (v == null) sb.append('n')
    else t match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "b1" else "b0")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append('i').append(v.toString)
      case FloatType => dbl(sb, v.asInstanceOf[Float].toDouble)
      case DoubleType => dbl(sb, v.asInstanceOf[Double])
      case _: DecimalType =>
        val b = v.asInstanceOf[Decimal].toJavaBigDecimal
        sb.append('d').append(
          if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString)
      case StringType => sb.append('s').append(v.toString)
      case DateType => sb.append('t').append(v.asInstanceOf[Int].toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append('t').append(v.toString)
      case BinaryType =>
        sb.append('x')
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          if (a.isNullAt(i)) sb.append('n') else enc(sb, a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          if (r.isNullAt(i)) sb.append('n')
          else enc(sb, r.get(i, st.fields(i).dataType), st.fields(i).dataType)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray()
        val vs = m.valueArray()
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          enc(e, ks.get(i, kt), kt)
          e.append(':')
          if (vs.isNullAt(i)) e.append('n') else enc(e, vs.get(i, vt), vt)
          e.toString
        }.sorted
        sb.append("m{").append(entries.mkString(",")).append('}')
      case other => sb.append('?').append(other.simpleString)
    }
}
