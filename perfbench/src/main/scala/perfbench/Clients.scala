package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** A PostgreSQL wire client speaking the simple-query protocol, text
  * format: what a dashboard's driver sends for a plain statement.
  */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val body = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    b.writeInt(196608) // protocol 3.0
    Seq("user" -> "bench", "database" -> "qdb").foreach { case (k, v) =>
      b.write(k.getBytes(UTF_8)); b.writeByte(0); b.write(v.getBytes(UTF_8)); b.writeByte(0)
    }
    b.writeByte(0)
    out.writeInt(4 + body.size()); body.writeTo(out); out.flush()
    readUntilReady()
  }

  /** Runs one statement; returns the rows as text cells (null = SQL NULL). */
  def query(sql: String): IndexedSeq[Array[String]] = {
    val bytes = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + bytes.length + 1); out.write(bytes); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): IndexedSeq[Array[String]] = {
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    var error: String = null
    var ready = false
    while (!ready) {
      val kind = in.readByte().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      kind match {
        case 'D' =>
          val buf = java.nio.ByteBuffer.wrap(payload)
          val n = buf.getShort()
          val row = new Array[String](n)
          var i = 0
          while (i < n) {
            val l = buf.getInt()
            if (l >= 0) { row(i) = new String(payload, buf.position(), l, UTF_8); buf.position(buf.position() + l) }
            i += 1
          }
          rows += row
        case 'E' =>
          error = new String(payload, UTF_8).split("\u0000").filter(_.startsWith("M")).map(_.drop(1)).mkString
        case 'R' =>
          val code = java.nio.ByteBuffer.wrap(payload).getInt()
          if (code != 0) throw new IllegalStateException(s"server asks for authentication $code")
        case 'Z' => ready = true
        case _ => // T, C, S, K, N, I: nothing the benchmark needs
      }
    }
    if (error != null) throw new RuntimeException(s"server error: $error")
    rows.toIndexedSeq
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => () }
    sock.close()
  }
}

/** One HTTP client over a keep-alive connection to the REST server. */
final class HttpClient(port: Int) {
  private def call(method: String, pathAndQuery: String, body: Array[Byte]): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      c.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
      val os = c.getOutputStream; os.write(body); os.close()
    }
    val code = c.getResponseCode
    val stream = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (stream == null) "" else new String(stream.readAllBytes(), UTF_8)
    if (stream != null) stream.close()
    (code, text)
  }

  def post(pathAndQuery: String, body: Array[Byte]): (Int, String) = call("POST", pathAndQuery, body)
  def get(pathAndQuery: String): (Int, String) = call("GET", pathAndQuery, null)
}
