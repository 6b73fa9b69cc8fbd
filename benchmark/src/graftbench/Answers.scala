package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical rendering of a query result, shared with `make_answers.py`.
  *
  * A result is checked by its column types and a SHA-256 over its values.
  * Columns are taken in name order and rows in result order, as
  * `tools/compare.py` compares them. Types render as compare.py's `tclass`
  * classes (integer widths collapse, decimals keep their scale). Values render
  * so that two values hash alike exactly when compare.py's `==` holds: floats
  * by IEEE bits with -0.0 folded into 0.0, decimals as plain strings at the
  * column's scale, timestamps as UTC epoch microseconds. Both renderers must
  * change together.
  */
final case class Expected(rows: Long, types: String, digest: String)

final case class Rendered(rows: Long, types: String, digest: String) {
  /** None when the result matches, else what differs first. */
  def mismatch(e: Expected): Option[String] =
    if (types != e.types) Some(s"types $types, expected ${e.types}")
    else if (rows != e.rows) Some(s"$rows rows, expected ${e.rows}")
    else if (digest != e.digest) Some("values differ")
    else None
}

object Answers {

  /** Expected answers for one workload: `{"keys": {key: {rows, types, digest}}}`. */
  def load(path: String): Map[String, Expected] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val keys = mapper.readTree(new java.io.File(path)).get("keys")
    val out = Map.newBuilder[String, Expected]
    keys.fieldNames().forEachRemaining { k =>
      val n = keys.get(k)
      out += k -> Expected(n.get("rows").asLong, n.get("types").asText, n.get("digest").asText)
    }
    out.result()
  }

  def tclass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => """["int"]"""
    case FloatType | DoubleType => """["float"]"""
    case d: DecimalType => s"""["decimal",${d.scale}]"""
    case BooleanType => """["bool"]"""
    case _: StringType | _: CharType | _: VarcharType => """["string"]"""
    case DateType => """["date"]"""
    case TimestampType | TimestampNTZType => """["timestamp"]"""
    case BinaryType => """["binary"]"""
    case ArrayType(e, _) => s"""["list",${tclass(e)}]"""
    case StructType(fs) =>
      fs.map(f => s"""[${quote(f.name)},${tclass(f.dataType)}]""").mkString("""["struct",[""", ",", "]]")
    case MapType(k, v, _) => s"""["map",${tclass(k)},${tclass(v)}]"""
    case other => s"""["other",${quote(other.simpleString)}]"""
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(schema: StructType, rows: Array[Row]): Rendered = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val types = cols.map { case (f, _) => s"[${quote(f.name)},${tclass(f.dataType)}]" }
      .mkString("[", ",", "]")
    val buf = new Digest
    def ascii(s: String): Unit = { var i = 0; while (i < s.length) { buf.write(s.charAt(i)); i += 1 } }
    def count(tag: Char, n: Int): Unit = { buf.write(tag); ascii(Integer.toString(n)); buf.write(':') }
    def sized(tag: Char, b: Array[Byte]): Unit = { count(tag, b.length); buf.write(b) }
    def enc(v: Any, t: DataType): Unit =
      if (v == null) buf.write('N')
      else t match {
        case ByteType | ShortType | IntegerType | LongType =>
          buf.write('i'); ascii(v.toString); buf.write(';')
        case FloatType | DoubleType =>
          val d = v match { case f: Float => f.toDouble; case d: Double => d }
          val bits =
            if (d.isNaN) java.lang.Double.doubleToLongBits(Double.NaN)
            else if (d == 0.0) 0L
            else java.lang.Double.doubleToRawLongBits(d)
          val hex = java.lang.Long.toHexString(bits)
          buf.write('f'); (hex.length until 16).foreach(_ => buf.write('0')); ascii(hex)
        case dt: DecimalType =>
          val b = v.asInstanceOf[java.math.BigDecimal].setScale(dt.scale)
          buf.write('d'); ascii(b.toPlainString); buf.write(';')
        case BooleanType => ascii(if (v.asInstanceOf[Boolean]) "b1" else "b0")
        case _: StringType | _: CharType | _: VarcharType => sized('s', v.toString.getBytes(UTF_8))
        case BinaryType => sized('x', v.asInstanceOf[Array[Byte]])
        case DateType =>
          val d = v match {
            case d: java.sql.Date => d.toLocalDate
            case d: java.time.LocalDate => d
          }
          buf.write('D'); ascii(d.toString); buf.write(';')
        case TimestampType | TimestampNTZType =>
          val us = v match {
            case ts: java.sql.Timestamp =>
              Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
            case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
            case l: java.time.LocalDateTime =>
              l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
          }
          buf.write('T'); ascii(us.toString); buf.write(';')
        case ArrayType(e, _) =>
          val xs = v.asInstanceOf[scala.collection.Seq[Any]]
          count('[', xs.size); xs.foreach(enc(_, e)); buf.write(']')
        case StructType(fs) =>
          val r = v.asInstanceOf[Row]
          buf.write('{'); fs.indices.foreach(i => enc(r.get(i), fs(i).dataType)); buf.write('}')
        case MapType(kt, vt, _) =>
          val m = v.asInstanceOf[scala.collection.Map[Any, Any]]
          count('<', m.size)
          m.foreach { case (k, x) => enc(k, kt); enc(x, vt) }
          buf.write('>')
        case other => sized('?', v.toString.getBytes(UTF_8))
      }
    rows.foreach { r =>
      cols.foreach { case (f, i) => enc(r.get(i), f.dataType) }
      buf.write('\n')
    }
    Rendered(rows.length.toLong, types, buf.hex())
  }
}

/** SHA-256 over bytes written through a block buffer. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val block = new Array[Byte](1 << 16)
  private var n = 0
  private def flush(): Unit = { md.update(block, 0, n); n = 0 }
  def write(b: Int): Unit = { if (n == block.length) flush(); block(n) = b.toByte; n += 1 }
  def write(bs: Array[Byte]): Unit =
    if (bs.length > block.length - n) { flush(); md.update(bs) }
    else { System.arraycopy(bs, 0, block, n, bs.length); n += bs.length }
  def hex(): String = { flush(); md.digest().map(b => f"${b & 0xff}%02x").mkString }
}
