package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame

/** Minimal REST surface mirroring the reference's HTTP endpoints
  * (`cutlass/http/processors/JsonQueryProcessor` `/exec`,
  * `TextImportProcessor` `/imp`, `ExportQueryProcessor` `/exp`) on the
  * JDK's built-in HTTP server — no extra dependencies, enough for the
  * query/import/export loop a dashboard or script drives:
  *
  *   GET /exec?query=SELECT...&limit=N → JSON {query, columns, dataset, count}
  *   GET /exp?query=SELECT...          → CSV attachment
  *   POST /imp?name=t                  → CSV (raw body or multipart upload)
  *        persisted under `ilpDir/t` and registered as table t; params
  *        overwrite/timestamp/partitionBy/forceHeader/fmt as in the
  *        reference TextImportProcessor
  *   GET /status                       → "Status: Healthy" (HealthCheckProcessor)
  *   GET /metrics                      → prometheus text counters
  *   POST /write[?precision=ns|us|ms|s][&dedup=k1,k2] → ILP lines ingested
  *        (influx-compatible; reference
  *        `cutlass/http/processors/LineHttpProcessorImpl.java`); each
  *        measurement lands in its own partitioned parquet table under
  *        `ilpDir` and is registered as a queryable view. `/api/v2/write`
  *        is an alias. Responds 204 like the reference.
  *
  * The full PGWire binary protocol is covered separately by
  * [[graft.http.PgWireServer]] — this is the HTTP side of the
  * reference's client surface.
  */
class RestServer(engine: graft.Engine, port: Int = 0,
                 ilpDir: String = java.nio.file.Files.createTempDirectory("graft_ilp").toString,
                 tls: Option[(String, String)] = None) {
  // with `tls = Some(pkcs12Path -> password)` the same surface serves
  // HTTPS (reference `http.tls.*` config); HttpsServer extends
  // HttpServer, so every handler below is transport-agnostic
  private val server = tls match {
    case Some((path, pw)) =>
      val s = com.sun.net.httpserver.HttpsServer.create(new InetSocketAddress(port), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(Tls.context(path, pw)))
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }
  private val writeSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val queriesExecuted = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rowsImported = new java.util.concurrent.atomic.AtomicLong(0L)
  private val errorCount = new java.util.concurrent.atomic.AtomicLong(0L)
  server.createContext("/exec", handler(execHandler))
  server.createContext("/exp", expHandler(_))
  server.createContext("/imp", handler(impHandler))
  server.createContext("/write", handler(writeHandler))
  server.createContext("/api/v2/write", handler(writeHandler))
  // table existence probe (reference TableStatusCheckProcessor, /chk?j=t[&f=json])
  server.createContext("/chk", handler { ex =>
    val p = params(ex)
    p.get("j") match {
      case None => (200, "text/plain", "table name missing")
      case Some(t) =>
        val st = if (engine.spark.catalog.tableExists(t)) "Exists" else "Does not exist"
        if (p.get("f").contains("json")) (200, "application/json", s"""{"status":"$st"}""")
        else (200, "text/plain", st)
    }
  })
  // ILP drivers ping before writing (reference LineHttpPingProcessor: 204 + version header)
  server.createContext("/ping", handler { ex =>
    ex.getResponseHeaders.add("X-Influxdb-Version", "v2.7.4")
    (204, "text/plain", "")
  })
  // web-console bootstrap config (reference SettingsProcessor JSON)
  server.createContext("/settings", handler { _ =>
    (200, "application/json",
      """{"config":{"release.type":"OSS","release.version":"[DEV]",""" +
        """"posthog.enabled":false,"cairo.max.file.name.length":127},"preferences":{}}""")
  })
  // monitoring surface (reference HealthCheckProcessor "Status: Healthy"
  // + PrometheusMetricsProcessor text exposition)
  server.createContext("/status", handler(_ => (200, "text/plain", "Status: Healthy")))
  server.createContext("/metrics", handler(_ => (200, "text/plain; version=0.0.4",
    s"""# TYPE questdb_json_queries_total counter
       |questdb_json_queries_total ${queriesExecuted.get()}
       |# TYPE questdb_imported_rows_total counter
       |questdb_imported_rows_total ${rowsImported.get()}
       |# TYPE questdb_http_errors_total counter
       |questdb_http_errors_total ${errorCount.get()}
       |""".stripMargin)))
  server.setExecutor(null) // serial — matches a single SparkSession driver

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  private def handler(f: HttpExchange => (Int, String, String)): HttpHandler =
    (ex: HttpExchange) => {
      val (code, contentType, body) = try f(ex) catch {
        case e: Exception =>
          errorCount.incrementAndGet()
          (400, "application/json", s"""{"error":${jsonStr(e.getMessage)}}""")
      }
      if (code == 204) ex.sendResponseHeaders(204, -1L)
      else {
        val bytes = body.getBytes(UTF_8)
        ex.getResponseHeaders.add("Content-Type", contentType)
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** Reference JsonQueryProcessor URL params (`HttpConstants.java:77-96`):
    * `limit=N` (first N) or `limit=lo,hi` (1-based inclusive row range),
    * `nm=true` (omit column metadata), `count=true` (report the FULL
    * result-set count, not just the page), `timings=true` (compile +
    * execute nanos).
    */
  private def execHandler(ex: HttpExchange): (Int, String, String) = {
    val p = params(ex)
    val query = p.getOrElse("query", throw new IllegalArgumentException("missing query"))
    // reference clamping (stop<0 → 0 → empty set); cap both legs at
    // Int.MaxValue so offset/limit's toInt can't wrap on huge values
    def clamp(v: Long): Long = math.min(math.max(v, 0L), Int.MaxValue.toLong)
    val (skip, take) = p.get("limit") match {
      case Some(l) if l.contains(",") =>
        val Array(lo, hi) = l.split(",", 2).map(_.trim.toLong)
        val lo0 = clamp(lo - 1)
        (lo0, clamp(clamp(hi) - lo0))
      case Some(l) => (0L, clamp(l.toLong))
      case None => (0L, 1000L)
    }
    val noMeta = p.get("nm").exists(v => v == "true" || v == "1")
    val wantCount = p.get("count").exists(v => v == "true" || v == "1")
    val wantTimings = p.get("timings").exists(v => v == "true" || v == "1")
    val t0 = System.nanoTime()
    queriesExecuted.incrementAndGet()
    val df = engine.sql(query)
    df.schema // force analysis: "compile"
    val tCompile = System.nanoTime() - t0
    val total = if (wantCount) Some(df.count()) else None
    val body = renderJson(query, df, skip, take, noMeta, total,
      if (wantTimings) Some(tCompile) else None)
    (200, "application/json", body)
  }

  /** CSV export streams with chunked transfer encoding: rows come off
    * `toLocalIterator` (one partition resident at a time) and go
    * straight to the socket, so exporting a 100× table never
    * materializes on the driver. `limit` is optional and unbounded by
    * default — streaming makes the full export safe.
    */
  private def expHandler(ex: HttpExchange): Unit = {
    try {
      val p = params(ex)
      val query = p.getOrElse("query", throw new IllegalArgumentException("missing query"))
      val limit = p.get("limit").map(_.toLong).getOrElse(Long.MaxValue)
      val df = engine.sql(query) // analyze before headers so errors can still 400
      df.schema
      ex.getResponseHeaders.add("Content-Type", "text/csv")
      ex.sendResponseHeaders(200, 0L) // 0 = chunked
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8), 1 << 16)
      w.write(df.columns.map(csvCell(_)).mkString("", ",", "\r\n"))
      val it = { import scala.jdk.CollectionConverters._; df.toLocalIterator().asScala }
      var n = 0L
      while (it.hasNext && n < limit) {
        w.write(it.next().toSeq.map(csvCell).mkString("", ",", "\r\n"))
        n += 1
      }
      w.flush()
    } catch {
      case e: Exception =>
        // only reachable before headers were sent (analysis errors)
        try {
          val body = s"""{"error":${jsonStr(e.getMessage)}}""".getBytes(UTF_8)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(400, body.length.toLong)
          ex.getResponseBody.write(body)
        } catch { case _: Exception => /* mid-stream failure: drop */ }
    } finally ex.close()
  }

  /** CSV import (reference `TextImportProcessor`): raw CSV body or a
    * multipart/form-data upload (`curl -F data=@file.csv`). URL params
    * mirror the reference (`name`, `overwrite`, `timestamp`,
    * `partitionBy=NONE|DAY`, `forceHeader`, `fmt=tab|json`). Data lands
    * as parquet under `ilpDir/<name>` (day-partitioned when a designated
    * timestamp + partitionBy=DAY are given) and is registered as a
    * queryable view — the same managed-table tail the ILP transports
    * use. `atomicity` is accepted for compatibility; every import is
    * atomic here (staged write + view swap). Response is the reference's
    * padded text table, or its JSON form with `fmt=json`
    * (`TextImportProcessor.java:330-400`).
    */
  private def impHandler(ex: HttpExchange): (Int, String, String) = {
    val p = params(ex)
    val raw = ex.getRequestBody.readAllBytes()
    val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val (csv, fileName) =
      if (contentType.startsWith("multipart/form-data")) multipartCsv(raw, contentType)
      else (new String(raw, UTF_8), None)
    val name = p.get("name").orElse(fileName.map(_.stripSuffix(".csv")))
      .getOrElse(throw new IllegalArgumentException("missing name"))
    val overwrite = p.get("overwrite").exists(v => v == "true" || v == "1")
    val header = !p.get("forceHeader").contains("false")
    val tsCol = p.get("timestamp")
    val partitionBy = p.getOrElse("partitionBy", "NONE").toUpperCase
    val tmp = java.nio.file.Files.createTempDirectory("graft_imp")
    java.nio.file.Files.writeString(tmp.resolve("data.csv"), csv)
    val df0 = engine.spark.read
      .option("header", header.toString).option("inferSchema", "true")
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(tmp.toString)
    val handled = csv.split("\n").count(_.trim.nonEmpty) - (if (header) 1 else 0)
    val tableDir = s"$ilpDir/$name"
    val exists = new java.io.File(tableDir).isDirectory
    val mode = if (overwrite || !exists) "overwrite" else "append"
    val imported = df0.count()
    val writer = df0.write.mode(mode)
    (tsCol, partitionBy) match {
      case (Some(c), "DAY") =>
        import org.apache.spark.sql.functions.{col, to_date}
        df0.withColumn("__day", to_date(col(c))).write.mode(mode)
          .partitionBy("__day").parquet(tableDir)
      case _ => writer.parquet(tableDir)
    }
    val df = engine.spark.read.parquet(tableDir).drop("__day")
    df.createOrReplaceTempView(name)
    rowsImported.addAndGet(imported)
    val rejected = math.max(handled - imported, 0L)
    if (p.get("fmt").contains("json")) {
      val cols = df.schema.fields.map(f =>
        s"""{"name":${jsonStr(f.name)},"type":${jsonStr(graft.Catalog.sqlTypeName(f.dataType))},"size":0,"errors":0}""")
      (200, "application/json",
        s"""{"status":"OK","location":${jsonStr(name)},"rowsRejected":$rejected,""" +
          s""""rowsImported":$imported,"header":$header,"columns":[${cols.mkString(",")}]}""")
    } else {
      // the reference's padded |-table summary (TextImportProcessor)
      def row(k: String, v: String) = f"|$k%-24s|$v%-40s|%n"
      val sep = "+" + "-" * 66 + "+" + f"%n"
      val sb = new StringBuilder
      sb ++= sep
      sb ++= row("Location:", name)
      sb ++= row("Partition by", if (tsCol.isDefined && partitionBy == "DAY") "DAY" else "NONE")
      sb ++= row("Timestamp", tsCol.getOrElse("NONE"))
      sb ++= sep
      sb ++= row("Rows handled", handled.toString)
      sb ++= row("Rows imported", imported.toString)
      sb ++= sep
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        sb ++= row(i.toString, s"${f.name}  ${graft.Catalog.sqlTypeName(f.dataType)}")
      }
      sb ++= sep
      (200, "text/plain; charset=utf-8", sb.toString)
    }
  }

  /** Extract the CSV payload (and optional filename) from a
    * multipart/form-data body: the `data` part, or the first part
    * carrying a filename. Pure byte/string walk over the boundary
    * grammar (RFC 7578) — no parsing dependency.
    */
  private def multipartCsv(raw: Array[Byte], contentType: String): (String, Option[String]) = {
    val boundary = contentType.split("boundary=", 2) match {
      case Array(_, b) => "--" + b.trim.stripPrefix("\"").stripSuffix("\"")
      case _ => throw new IllegalArgumentException("multipart body without boundary")
    }
    val body = new String(raw, UTF_8)
    val parts = body.split(java.util.regex.Pattern.quote(boundary)).toSeq
      .filter(s => s.nonEmpty && s != "--" && !s.startsWith("--\r\n") && s.contains("\r\n\r\n"))
    val candidates = parts.flatMap { part =>
      val Array(head, content) = part.split("\r\n\r\n", 2)
      val disp = head.linesIterator.find(_.toLowerCase.startsWith("content-disposition")).getOrElse("")
      val nameRe = """name="([^"]*)"""".r
      val fileRe = """filename="([^"]*)"""".r
      val partName = nameRe.findFirstMatchIn(disp).map(_.group(1))
      val file = fileRe.findFirstMatchIn(disp).map(_.group(1))
      Some((partName, file, content.stripSuffix("\r\n").stripPrefix("\r\n")))
    }
    candidates.find(_._1.contains("data")).orElse(candidates.find(_._2.isDefined)) match {
      case Some((_, file, content)) => (content, file)
      case None => throw new IllegalArgumentException("no csv part in multipart body")
    }
  }

  /** ILP over HTTP: body lines → driver-side parse → per-measurement
    * rows (tags + typed fields become columns) → staged WAL-style batch
    * apply into `ilpDir/<measurement>` → view refresh ([[graft.streaming.IlpApply]]).
    * With `dedup=k1,k2` the apply is the DEDUP UPSERT KEYS path.
    */
  private def writeHandler(ex: HttpExchange): (Int, String, String) = {
    val p = params(ex)
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val lines = body.split("\n").toSeq
    val nsPerUnit = graft.streaming.IlpApply.precisionMult(p.getOrElse("precision", "ns"))
    val dedupKeys = p.get("dedup").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    graft.streaming.IlpApply.applyLines(engine.spark, lines, ilpDir,
      nsPerUnit, dedupKeys, writeSeq)
    (204, "", "")
  }

  private def jsonStr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case d: java.math.BigDecimal => d.toPlainString
    case other => jsonStr(other.toString)
  }

  private def renderJson(query: String, df: DataFrame, skip: Long, take: Long,
                         noMeta: Boolean, total: Option[Long],
                         compileNanos: Option[Long]): String = {
    val cols = df.schema.fields.map(f =>
      s"""{"name":${jsonStr(f.name)},"type":${jsonStr(graft.Catalog.sqlTypeName(f.dataType))}}""")
    val page = (if (skip > 0) df.offset(skip.toInt) else df).limit(take.toInt)
    val t0 = System.nanoTime()
    val rows = page.collect().map(r => r.toSeq.map(jsonVal).mkString("[", ",", "]"))
    val execNanos = System.nanoTime() - t0
    val meta = if (noMeta) "" else s""""columns":[${cols.mkString(",")}],"""
    val t = compileNanos.map(c =>
      s""""timings":{"compiler":$c,"execute":$execNanos,"count":0},""").getOrElse("")
    s"""{"query":${jsonStr(query)},$meta""" +
      s""""dataset":[${rows.mkString(",")}],$t"count":${total.getOrElse(rows.length.toLong)}}"""
  }

  private def csvCell(v: Any): String = v match {
    case null => ""
    case s: String if s.contains(",") || s.contains("\"") || s.contains("\n") =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

}
