package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Render a result the way the reference prints cursors in its tooling and
  * test harness (reference `cairo/CursorPrinter.java`, `std/Numbers.java`
  * Ryu-based double layout, `std/datetime/CommonUtils.java` USEC_UTC /
  * UTC patterns): tab-separated columns, one header line of column names,
  * `null` for null numerics, empty cells for null strings/timestamps,
  * shortest-round-trip doubles with the reference's fixed/scientific
  * cutovers.
  *
  * This is the text format a reference user sees from its console/export
  * surfaces, so it is part of the compatibility surface, not just test
  * scaffolding.
  */
object RefText {

  /** Column metadata key flagging a TIMESTAMP_NS-declared column (set by
    * the dialect layer): the value prints with the reference's 9-digit
    * NSEC_UTC pattern instead of the 6-digit micro one. */
  val NsMetaKey = "graft.ns"

  /** Reverse of DialectRewrites.quoteUnicodeIdents' `__ux<hex>` ASCII
    * mangling for non-ASCII identifiers. */
  /** Public alias for catalog listings (tables() unicode names). */
  def demangleName(name: String): String = demangle(name)

  private def demangle(name: String): String =
    if (!name.startsWith("__ux")) name
    else try {
      val hex = name.drop(4)
      new String(hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray, "UTF-8")
    } catch { case _: Exception => name }

  def print(df: DataFrame): String = {
    val schema = df.schema
    val sb = new StringBuilder
    sb.append(schema.fields.map(f => demangle(f.name)).mkString("\t")).append('\n')
    val ns = schema.fields.map(f =>
      f.metadata.contains(NsMetaKey) && f.metadata.getBoolean(NsMetaKey))
    // provenance gate on LONG256 hex-trimming: a column whose name is
    // declared in some table as a plain string type (and nowhere as
    // LONG256) keeps its text verbatim even when a value happens to
    // look like the 66-char canonical carrier
    val cat = graft.SessionCatalog(df.sparkSession)
    val keep = schema.fields.map { f =>
      val n = f.name.toLowerCase
      val decls = cat.declaredTypesOf(n)
      decls.nonEmpty && !decls.exists(_.startsWith("LONG256")) &&
        decls.forall(t => t.startsWith("STRING") || t.startsWith("VARCHAR") ||
          t.startsWith("SYMBOL") || t.startsWith("CHAR"))
    }
    val rows = df.collect()
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      var i = 0
      while (i < schema.length) {
        if (i > 0) sb.append('\t')
        if (ns(i) && row.get(i) != null && schema(i).dataType == TimestampType)
          sb.append(formatNanos(microsOf(row.get(i)) * 1000L))
        else if (ns(i) && row.get(i) != null && schema(i).dataType == LongType)
          sb.append(formatNanos(row.get(i).asInstanceOf[Long])) // BIGINT nanos carrier
        else if (ns(i) && row.get(i) == null && schema(i).dataType == LongType)
          sb.append(nullText(TimestampType)) // a null ns TIMESTAMP prints empty, not 'null'
        else appendValue(sb, row.get(i), schema(i).dataType, keep(i))
        i += 1
      }
      sb.append('\n')
      r += 1
    }
    sb.toString
  }

  /** yyyy-MM-ddTHH:mm:ss.SSSSSSSSSZ (reference NSEC_UTC_PATTERN). */
  def formatNanos(ns: Long): String = {
    val sec = Math.floorDiv(ns, 1000000000L)
    val frac = Math.floorMod(ns, 1000000000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02dT" +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$frac%09dZ"
  }

  def appendValue(sb: StringBuilder, v: Any, dt: DataType, verbatimStr: Boolean = false): Unit = {
    if (v == null) { sb.append(nullText(dt)); return }
    dt match {
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(formatDouble(d))
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) sb.append("null") else sb.append(formatFloat(f))
      case BooleanType => sb.append(v.toString)
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case StringType =>
        val s = v.toString
        // the canonical LONG256 carrier is 0x + 64 hex digits; the
        // reference prints whole-byte minimal hex (Numbers.appendLong256
        // / appendHex — value 1 renders "0x01", zero "0x00")
        if (!verbatimStr && s.length == 66 && s.startsWith("0x") && isHex(s, 2)) {
          var i = 2
          while (i < 64 && s.charAt(i) == '0' && s.charAt(i + 1) == '0') i += 2
          sb.append("0x").append(s.substring(i))
        } else sb.append(s)
      case TimestampType =>
        sb.append(formatMicros(microsOf(v)))
      case TimestampNTZType =>
        // NTZ is the DATE carrier (reference DATE = millisecond
        // datetime, UTC_PATTERN); plain TIMESTAMP stays LTZ
        sb.append(formatMillis(Math.floorDiv(microsOf(v), 1000L)))
      case DateType =>
        // reference DATE is a millisecond datetime (UTC_PATTERN)
        val days = v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
          case i: Integer => i.toLong
        }
        sb.append(formatMillis(days * 86400000L))
      case d: DecimalType =>
        val bd = v match {
          case b: java.math.BigDecimal => b
          case b: BigDecimal => b.bigDecimal
          case o => new java.math.BigDecimal(o.toString)
        }
        sb.append(bd.toPlainString)
      case ArrayType(et, _) =>
        val seq = v.asInstanceOf[scala.collection.Seq[Any]]
        // an N-dim array with zero total elements prints "[]" whatever
        // its dim vector (reference arrayToStr on an empty view)
        def zeroCount(x: Any, t: DataType): Boolean = (x, t) match {
          case (s: scala.collection.Seq[Any], ArrayType(inner, _)) =>
            s.forall(e => e != null && zeroCount(e, inner))
          case (s: scala.collection.Seq[Any], _) => s.isEmpty
          case _ => false
        }
        if (et.isInstanceOf[ArrayType] && seq.nonEmpty && zeroCount(seq, ArrayType(et))) {
          sb.append("[]"); return
        }
        sb.append('[')
        var i = 0
        while (i < seq.length) {
          if (i > 0) sb.append(',')
          appendValue(sb, seq(i), et)
          i += 1
        }
        sb.append(']')
      case BinaryType =>
        val bytes = v.asInstanceOf[Array[Byte]]
        var i = 0
        while (i < bytes.length) { sb.append(f"${bytes(i)}%02x"); i += 1 }
      case st: StructType if st.fields.length == 2 &&
          st.fields(0).name == "lo" && st.fields(1).name == "hi" =>
        // INTERVAL value (reference IntervalFunction print: quoted
        // millisecond instants in parens)
        val row = v.asInstanceOf[org.apache.spark.sql.Row]
        def end(i: Int): String =
          if (row.isNullAt(i)) "null"
          else "'" + formatMillis(Math.floorDiv(microsOf(row.get(i)), 1000L)) + "'"
        sb.append('(').append(end(0)).append(", ").append(end(1)).append(')')
      case _ => sb.append(v.toString)
    }
  }

  /** null spelling per type: numerics print "null", strings/timestamps/
    * uuid/char print nothing (reference CursorPrinter.printColumn null
    * handling per branch). */
  private def nullText(dt: DataType): String = dt match {
    case DoubleType | FloatType | IntegerType | LongType => "null"
    // NULL decimals print as nothing (reference CursorPrinter
    // putDecimal*Value skips the sink entirely on the null sentinel)
    case ByteType | ShortType => "0" // reference BYTE/SHORT have no null
    case BooleanType => "false"
    case _: ArrayType => "null" // null arrays print the word
    // an untyped null COLUMN (all-branches-null CASE) prints the word
    // (CaseFunctionFactoryTest:1167); typed string nulls stay empty
    case NullType => "null"
    case _ => ""
  }

  private def isHex(s: String, from: Int): Boolean = {
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (!((c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))) return false
      i += 1
    }
    true
  }

  private def microsOf(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
    case t: java.time.Instant =>
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case l: java.lang.Long => l
  }

  /** yyyy-MM-ddTHH:mm:ss.SSSUUUZ (reference USEC_UTC_PATTERN). */
  def formatMicros(us: Long): String = {
    val sec = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02dT" +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$frac%06dZ"
  }

  /** yyyy-MM-ddTHH:mm:ss.SSSZ (reference UTC_PATTERN, millisecond DATE). */
  def formatMillis(ms: Long): String = {
    val sec = Math.floorDiv(ms, 1000L)
    val frac = Math.floorMod(ms, 1000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02dT" +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$frac%03dZ"
  }

  /** Shortest round-trip decimal digits of a finite positive double:
    * (digits, decExp) with value = 0.digits * 10^decExp. */
  private def shortestDigits(a: Double): (String, Int) = {
    var p = 1
    while (p <= 17) {
      val s = String.format("%." + (p - 1) + "e", Double.box(a))
      if (s.toDouble == a) {
        val e = s.indexOf('e')
        val mant = s.substring(0, e).replace(".", "")
        val exp10 = s.substring(e + 1).toInt
        // strip trailing zeros the formatter padded in
        var digits = mant
        while (digits.length > 1 && digits.endsWith("0")) digits = digits.dropRight(1)
        return (digits, exp10 + 1)
      }
      p += 1
    }
    val s = a.toString
    (s.replace(".", "").replaceAll("0+$", ""), 1 + math.floor(math.log10(a)).toInt)
  }

  private def shortestDigitsF(a: Float): (String, Int) = {
    var p = 1
    while (p <= 9) {
      val s = String.format("%." + (p - 1) + "e", Double.box(a.toDouble))
      if (s.toFloat == a) {
        val e = s.indexOf('e')
        val mant = s.substring(0, e).replace(".", "")
        val exp10 = s.substring(e + 1).toInt
        var digits = mant
        while (digits.length > 1 && digits.endsWith("0")) digits = digits.dropRight(1)
        return (digits, exp10 + 1)
      }
      p += 1
    }
    shortestDigits(a.toDouble)
  }

  /** The reference's double layout (Numbers.append(CharSink,double,19)):
    * fixed point for decimal exponent in (0,8), leading-zero fixed point
    * down to 1e-3, scientific elsewhere. */
  def formatDouble(v: Double): String = {
    val neg = java.lang.Double.doubleToRawLongBits(v) < 0
    val a = math.abs(v)
    if (a == 0.0) return if (neg) "-0.0" else "0.0"
    val (digits, decExp) = shortestDigits(a)
    val sb = new StringBuilder
    if (neg) sb.append('-')
    layout(sb, digits, decExp)
    sb.toString
  }

  def formatFloat(v: Float): String = {
    val neg = java.lang.Double.doubleToRawLongBits(v.toDouble) < 0
    val a = math.abs(v)
    if (a == 0.0f) return if (neg) "-0.0" else "0.0"
    val (digits, decExp) = shortestDigitsF(a)
    val sb = new StringBuilder
    if (neg) sb.append('-')
    layout(sb, digits, decExp)
    sb.toString
  }

  private def layout(sb: StringBuilder, digits: String, decExp: Int): Unit = {
    val olength = digits.length
    if (decExp > 0 && decExp < 8) {
      if (olength <= decExp) {
        sb.append(digits)
        var i = olength
        while (i < decExp) { sb.append('0'); i += 1 }
        sb.append(".0")
      } else {
        sb.append(digits.substring(0, decExp)).append('.').append(digits.substring(decExp, olength))
      }
    } else if (decExp <= 0 && decExp > -3) {
      sb.append("0.")
      var i = 0
      while (i < -decExp) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else {
      sb.append(digits.charAt(0)).append('.')
      if (olength > 1) sb.append(digits.substring(1, olength)) else sb.append('0')
      sb.append('E').append(decExp - 1)
    }
  }
}
