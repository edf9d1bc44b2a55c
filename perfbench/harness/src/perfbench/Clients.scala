package perfbench

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream}
import java.net.{HttpURLConnection, Socket, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** What a client saw for one statement. `firstRow` and `done` are Clock
  * times; `rows` are the cells as text (null for SQL NULL).
  */
final case class Reply(ok: Boolean, error: String, rows: Seq[Seq[String]],
                       firstRow: Long, done: Long, bytesIn: Long)

/** PGWire v3 simple-query client: trust startup, then `Q` per statement. */
final class PgClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(120000)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(sock.getOutputStream)
  private var bytes = 0L

  /** Server process id from BackendKeyData: the connection's Spark job
    * group is `pgwire-<pid>`.
    */
  val pid: Int = {
    val params = "user\u0000bench\u0000database\u0000qdb\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    var p = -1
    var m = read()
    while (m._1 != 'Z') {
      if (m._1 == 'K') p = new DataInputStream(new java.io.ByteArrayInputStream(m._2)).readInt()
      if (m._1 == 'E') throw new IllegalStateException("startup refused: " + errorText(m._2))
      m = read()
    }
    p
  }

  private def read(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val len = in.readInt()
    val p = new Array[Byte](len - 4)
    in.readFully(p)
    bytes += len + 1
    (t, p)
  }

  private def errorText(p: Array[Byte]): String =
    new String(p, UTF_8).split('\u0000').filter(_.startsWith("M")).map(_.drop(1)).headOption.getOrElse("error")

  def query(sql: String): Reply = {
    val b = sql.getBytes(UTF_8)
    bytes = 0L
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0); out.flush()
    val rows = Vector.newBuilder[Seq[String]]
    var first = -1L
    var err: String = null
    var m = read()
    while (m._1 != 'Z') {
      m._1 match {
        case 'D' =>
          if (first < 0) first = Clock.now()
          val d = new DataInputStream(new java.io.ByteArrayInputStream(m._2))
          rows += (0 until d.readShort().toInt).map { _ =>
            val len = d.readInt()
            if (len < 0) null else { val x = new Array[Byte](len); d.readFully(x); new String(x, UTF_8) }
          }
        case 'C' => if (first < 0) first = Clock.now()
        case 'E' => err = errorText(m._2)
        case _ =>
      }
      m = read()
    }
    val done = Clock.now()
    Reply(err == null, err, rows.result(), if (first < 0) done else first, done, bytes)
  }

  def close(): Unit = try {
    out.writeByte('X'); out.writeInt(4); out.flush(); sock.close()
  } catch { case _: Exception => }
}

/** REST client for `/exec` and `/write` (JDK keep-alive connection reuse). */
final class RestClient(port: Int) {
  private val base = s"http://127.0.0.1:$port"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def call(path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(120000)
    if (body != null) {
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val o = c.getOutputStream; o.write(body); o.close()
    }
    val code = c.getResponseCode
    val s = if (code >= 400) c.getErrorStream else c.getInputStream
    val payload = if (s == null) Array.emptyByteArray else { val x = s.readAllBytes(); s.close(); x }
    (code, payload)
  }

  def exec(sql: String): Reply = {
    val (code, payload) = call("/exec?limit=100000&query=" + URLEncoder.encode(sql, "UTF-8"), null)
    val done = Clock.now()
    val node = mapper.readTree(payload)
    if (code != 200 || node.has("error"))
      Reply(ok = false, Option(node.get("error")).map(_.asText).getOrElse(s"HTTP $code"), Nil, done, done, payload.length)
    else {
      import scala.jdk.CollectionConverters._
      val rows = node.get("dataset").elements().asScala.map { r =>
        r.elements().asScala.map { v =>
          if (v.isNull) null
          else if (v.isBoolean) (if (v.booleanValue) "t" else "f")
          else v.asText
        }.toSeq
      }.toVector
      Reply(ok = true, null, rows, done, done, payload.length)
    }
  }

  /** POST an ILP batch; returns the HTTP status (204 on success). */
  def write(body: Array[Byte], params: String): (Int, String) = {
    val (code, payload) = call("/write?" + params, body)
    (code, new String(payload, UTF_8))
  }
}

/** Order-independent content hash over rows of text cells. Each cell is
  * put in one canonical form first, so the PGWire text encoding, the REST
  * JSON encoding and in-process `Row` values of the same result agree:
  * numbers as their exact decimal, timestamps as epoch microseconds,
  * booleans as t/f.
  */
object Canon {
  private val tsRe = """\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?""".r

  private def micros(t: java.time.LocalDateTime): String =
    "ts:" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)

  def cell(s: String): String =
    if (s == null) "\\N"
    else if (tsRe.matches(s)) micros(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
    else if (s == "true" || s == "t") "t"
    else if (s == "false" || s == "f") "f"
    else try new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
    catch { case _: NumberFormatException => s }

  def value(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp => micros(t.toLocalDateTime)
    case t: java.time.LocalDateTime => micros(t)
    case t: java.time.Instant => micros(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.math.BigDecimal => cell(d.toPlainString)
    case b: Boolean => if (b) "t" else "f"
    case other => cell(other.toString)
  }

  private def h64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** (row count, hash) with each row hashed on its own and the hashes added. */
  def hash(rows: Iterable[Seq[String]]): (Long, String) = {
    var n = 0L
    var acc = 0L
    rows.foreach { r => n += 1; acc += h64(r.mkString("\u0001")) }
    (n, java.lang.Long.toHexString(acc))
  }

  def hashRows(rows: Iterable[org.apache.spark.sql.Row]): (Long, String) =
    hash(rows.map(_.toSeq.map(value)))

  def hashText(rows: Iterable[Seq[String]]): (Long, String) = hash(rows.map(_.map(cell)))
}
