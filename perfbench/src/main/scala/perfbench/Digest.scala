package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, normalized exactly as
  * the repository's DuckDB gate (`tools/local_verify.py`) normalizes
  * rows it reads back through pyarrow: columns sorted by name, each
  * cell rendered as Python would (`f"{v:.10g}"` for floats, ISO format
  * for dates and timestamps, `repr` for everything else), rows sorted.
  * `perfbench/digest.py` computes the same digest on the Python side;
  * the self-tests check the two agree on a fixture.
  */
object Digest {

  final case class Result(cols: Seq[String], rows: Int, sha: String)

  def of(schema: StructType, rows: Array[Row]): Result = {
    val cols = schema.fieldNames.toSeq.sorted
    val idx = cols.map(schema.fieldIndex)
    val lines = rows.map { r =>
      idx.map(i => cell(r.get(i))).mkString("\u0000").getBytes(UTF_8)
    }
    // unsigned byte order of UTF-8 == code point order == Python's
    // string order, and NUL sorts below every rendered character, so
    // this is Python's sorted(tuple(...)) order
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + cols.mkString(",") + "\n").getBytes(UTF_8))
    lines.foreach { l => md.update(l); md.update('\n'.toByte) }
    Result(cols, rows.length, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  /** local_verify's `norm_cell`: floats by `.10g`, dates by isoformat,
    * everything else by Python `repr`.
    */
  def cell(v: Any): String = v match {
    case d: Double => g10(d)
    case f: Float => g10(f.toDouble)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => iso(t.toInstant)
    case t: java.time.Instant => iso(t)
    case t: java.time.LocalDateTime => isoLocal(t)
    case other => repr(other)
  }

  /** Python `repr` of the object pyarrow's to_pylist yields. */
  def repr(v: Any): String = v match {
    case null => "None"
    case b: Boolean => if (b) "True" else "False"
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: Double => pyFloat(d)
    case f: Float => pyFloat(f.toDouble)
    case s: String => pyStr(s)
    case d: JBigDecimal => s"Decimal('${pyDecimal(d)}')"
    case d: scala.math.BigDecimal => repr(d.bigDecimal)
    case d: java.sql.Date => s"datetime.date(${d.toLocalDate.getYear}, " +
      s"${d.toLocalDate.getMonthValue}, ${d.toLocalDate.getDayOfMonth})"
    case b: Array[Byte] => pyBytes(b)
    case r: Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => pyStr(n) + ": " + repr(r.get(i)) }
        .mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "(" + repr(k) + ", " + repr(x) + ")" }
        .mkString("[", ", ", "]")
    case s: scala.collection.Seq[_] => s.map(repr).mkString("[", ", ", "]")
    case other => pyStr(other.toString)
  }

  private def iso(t: java.time.Instant): String =
    isoLocal(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))

  /** datetime.isoformat(): microseconds only when non-zero. */
  private def isoLocal(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d" +
      f"T${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else base + f".$micros%06d"
  }

  /** Python `f"{d:.10g}"`. */
  def g10(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val bd = new JBigDecimal(d).round(new MathContext(10, RoundingMode.HALF_EVEN))
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 10) sci(bd, exp)
      else strip(bd.toPlainString)
    }

  /** Python `repr(float)`: the shortest digit string that round-trips. */
  def pyFloat(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0.0" else "0.0")
    else {
      val exact = new JBigDecimal(d)
      val bd = (1 to 17).iterator
        .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 16) sci(bd, exp)
      else {
        val s = strip(bd.toPlainString)
        if (s.contains('.')) s else s + ".0"
      }
    }

  private def strip(s: String): String =
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse

  private def sci(bd: JBigDecimal, exp: Int): String = {
    val mant = strip(bd.movePointLeft(exp).toPlainString)
    val e = math.abs(exp)
    mant + "e" + (if (exp < 0) "-" else "+") + (if (e < 10) "0" + e else e.toString)
  }

  /** str(decimal.Decimal) for the values pyarrow produces. */
  private def pyDecimal(d: JBigDecimal): String = {
    val adjusted = d.precision - d.scale - 1
    if (d.scale >= 0 && adjusted >= -6) d.toPlainString else d.toString
  }

  /** Python `repr(str)`. */
  def pyStr(s: String): String = {
    val quote = if (s.contains('\'') && !s.contains('"')) '"' else '\''
    val sb = new StringBuilder
    sb += quote
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      cp match {
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c == quote => sb += '\\'; sb += quote
        case c if c < 0x20 || c == 0x7f => sb ++= f"\\x$c%02x"
        case c if c < 0x7f => sb += c.toChar
        case c if !printable(c) =>
          if (c <= 0xff) sb ++= f"\\x$c%02x"
          else if (c <= 0xffff) sb ++= f"\\u$c%04x"
          else sb ++= f"\\U$c%08x"
        case c => sb.appendAll(Character.toChars(c))
      }
    }
    sb += quote
    sb.toString
  }

  /** Python's str.isprintable for one code point: not in categories
    * Cc, Cf, Cs, Co, Cn, Zl, Zp, and not a separator other than space.
    */
  private def printable(cp: Int): Boolean = Character.getType(cp) match {
    case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
         Character.PRIVATE_USE | Character.UNASSIGNED |
         Character.LINE_SEPARATOR | Character.PARAGRAPH_SEPARATOR => false
    case Character.SPACE_SEPARATOR => cp == ' '
    case _ => true
  }

  private def pyBytes(b: Array[Byte]): String = {
    val quote = if (b.contains('\''.toByte) && !b.contains('"'.toByte)) '"' else '\''
    val sb = new StringBuilder("b")
    sb += quote
    b.foreach { x =>
      val c = x & 0xff
      if (c == '\\') sb ++= "\\\\"
      else if (c == quote) { sb += '\\'; sb += quote }
      else if (c == '\n') sb ++= "\\n"
      else if (c == '\r') sb ++= "\\r"
      else if (c == '\t') sb ++= "\\t"
      else if (c < 0x20 || c >= 0x7f) sb ++= f"\\x$c%02x"
      else sb += c.toChar
    }
    sb += quote
    sb.toString
  }
}
