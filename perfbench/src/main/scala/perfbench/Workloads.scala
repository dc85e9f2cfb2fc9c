package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import perfbench.Main.Ctx

/** Timed calls into the engine's in-process layers, shared by the
  * workloads. Untraced, each helper is the bare call.
  */
final class Layers(ctx: Ctx) {
  private val tr = ctx.tracer
  private val execKeys = Seq("jobs", "stages", "tasks", "task_run_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_rows")
  // Catalyst phase times are wall-clock millis; spans are nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** The dialect's text passes, timed apart from the statement (traced only). */
  def rewrites(q: String): Unit = if (tr.enabled) {
    timed("sql.rewrite", "sql.rewrite_ms") {
      graft.sql.DialectRewrites(q)
      graft.sql.AutoAlias.rewriteQuery(q)
      graft.sql.QuestSql.rewrite(q)
    }
  }

  private var engineNs = 0L

  /** A span around `body`, whose own duration counts toward [[engineMs]]
    * and, if `metric` is given, is the operation's `metric`. Called inside
    * [[Tracer.counted]], so the listener-bus drains around it are not part
    * of the time.
    */
  def timed[T](span: String, metric: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try tr.span(span)(body)
    finally {
      val ns = System.nanoTime() - t0
      engineNs += ns
      if (metric.nonEmpty) tr.add(metric, ns / 1e6)
    }
  }

  /** Runs `body` and returns the time its [[timed]] calls spent in the
    * engine, code generation left out: of two runs of the same work only
    * the first pays it.
    */
  def engineMs(body: => Unit): Double = {
    engineNs = 0L
    val cg = Jvm.codegenCompileMs
    body
    engineNs / 1e6 - (Jvm.codegenCompileMs - cg)
  }

  /** Builds a DataFrame in layer `layer` (`sql` or `pipeline`), counting
    * the Spark jobs that run before any action.
    */
  def build(layer: String)(body: => DataFrame): DataFrame = {
    val id = tr.spans.size
    val df = tr.counted(layer, Map("jobs" -> "build_jobs")) { timed(s"$layer.build", s"$layer.build_ms")(body) }
    if (tr.enabled) phase(df, "analysis", "plans.analysis", id)
    df
  }

  /** Forces physical planning, then runs the action. */
  def execute[T](df: DataFrame)(action: DataFrame => T): T = {
    if (tr.enabled) {
      val id = tr.spans.size
      timed("plans.plan")(df.queryExecution.executedPlan)
      phase(df, "optimization", "plans.optimize", id)
      phase(df, "planning", "plans.planning", id)
    }
    val r = tr.counted("exec", execKeys.map(k => k -> k).toMap) { timed("exec.action", "exec.ms")(action(df)) }
    if (tr.enabled) tr.add("exec.scan_files", Layers.scanFiles(df.queryExecution.executedPlan).toDouble)
    r
  }

  private def phase(df: DataFrame, name: String, metric: String, parent: Int): Unit =
    df.queryExecution.tracker.phases.get(name) match {
      case Some(p) =>
        tr.add(s"${metric}_ms", p.durationMs.toDouble)
        tr.record(metric, p.startTimeMs * 1000000L + clockOffsetNs, p.endTimeMs * 1000000L + clockOffsetNs, parent)
      case None => tr.add(s"${metric}_ms", 0.0)
    }

  def collect(df: DataFrame): Array[Row] = execute(df)(_.collect())

  /** Drains the result the way the PGWire server streams it. */
  def drain(df: DataFrame): Long = execute(df) { d =>
    val it = d.toLocalIterator().asScala
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }
}

object Layers extends AdaptiveSparkPlanHelper {
  def scanFiles(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum

  /** Statement lists written by run.py: `kind<TAB>sql` per line. */
  def statements(p: Path): IndexedSeq[(String, String)] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, q) = l.split("\t", 2); (k, q)
    }.toIndexedSeq

  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      // `_graft_*` holds batch markers and staging; `__day=*` holds data
      if (f.isDirectory) { if (f.getName.startsWith("_graft")) Nil else dataFiles(f) }
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}

/** Dashboard statements sent over one PGWire connection. */
final class Dashboard(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val layers = new Layers(ctx)
  private val warmStmts = Layers.statements(ctx.runDir.resolve("warm.tsv"))
  private val stmts = Layers.statements(ctx.runDir.resolve("ops.tsv"))
  val opsPerRound: Int = warmStmts.map(_._1).distinct.size
  private var engine: graft.Engine = _
  private var server: graft.http.PgWireServer = _
  private var client: PgClient = _
  private var last: IndexedSeq[Array[String]] = IndexedSeq.empty
  private var wireMs = 0.0

  def setup(): Unit = {
    val t0 = System.nanoTime()
    engine = tr.span("tables.register")(graft.Engine(ctx.spark, ctx.dataDir))
    tr.total("tables.register_ms", (System.nanoTime() - t0) / 1e6)
    server = new graft.http.PgWireServer(engine)
    client = new PgClient(server.start())
  }

  /** `warm.tsv` holds the warm-up rounds. */
  def warmup(rounds: Int): Unit = warmStmts.foreach { case (_, q) => warm(client.query(q)) }

  private def stmt(i: Int) = stmts(i % stmts.size)

  def run(i: Int, k: Int): String = {
    val (kind, q) = stmt(i)
    val cg = Jvm.codegenCompileMs
    val t0 = System.nanoTime()
    last = tr.span("http.wire")(client.query(q))
    wireMs = (System.nanoTime() - t0) / 1e6 - (Jvm.codegenCompileMs - cg)
    kind
  }

  override def afterOp(i: Int, k: Int, ok: Boolean): Unit = if (ok) {
    val (kind, q) = stmt(i)
    ctx.results.write("op" -> i, "kind" -> kind, "sql" -> q, "rows" -> last)
    if (tr.enabled) {
      // the same statement in-process: what the server spent outside the
      // wire. Code generation is left out of both sides, since only the
      // first of the two pays it.
      layers.rewrites(q)
      val inproc = layers.engineMs(layers.drain(layers.build("sql")(engine.sql(q))))
      tr.add("http.wire_ms", wireMs - inproc)
    }
  }

  def close(): Unit = {
    if (client != null) client.close()
    if (server != null) server.stop()
  }
}

/** Compute-bound time-series statements through `Engine.sql`, in-process,
  * over a generated trades/quotes pair.
  */
final class Scan(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val layers = new Layers(ctx)
  private val warmStmts = Layers.statements(ctx.runDir.resolve("warm.tsv"))
  private val stmts = Layers.statements(ctx.runDir.resolve("ops.tsv"))
  val opsPerRound: Int = warmStmts.map(_._1).distinct.size
  private var engine: graft.Engine = _
  private var last: Array[Row] = Array.empty

  def setup(): Unit = {
    val t0 = System.nanoTime()
    tr.span("tables.register") {
      engine = graft.Engine(ctx.spark, ctx.dataDir)
      Seq("trades", "quotes").foreach { t =>
        ctx.spark.read.parquet(ctx.runDir.resolve(s"data/$t").toString).drop("day")
          .createOrReplaceTempView(t)
        graft.sql.QuestSql.registerDesignatedTs(t, "ts")
      }
    }
    tr.total("tables.register_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** `warm.tsv` holds the warm-up rounds. */
  def warmup(rounds: Int): Unit = warmStmts.foreach { case (_, q) => warm(engine.sql(q).collect()) }

  private def stmt(i: Int) = stmts(i % stmts.size)

  def run(i: Int, k: Int): String = {
    val (kind, q) = stmt(i)
    last = layers.collect(layers.build("sql")(engine.sql(q)))
    kind
  }

  override def afterOp(i: Int, k: Int, ok: Boolean): Unit = if (ok) {
    val (kind, q) = stmt(i)
    ctx.results.write("op" -> i, "kind" -> kind, "sql" -> q, "rows" -> last)
    layers.rewrites(q)
  }

  def close(): Unit = ()
}

/** ILP batches POSTed to REST `/write`, each followed by a mat-view
  * refresh and a read-after-write dashboard query over REST `/exec`.
  */
final class IlpIngest(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val layers = new Layers(ctx)
  private val ilpDir = ctx.runDir.resolve("ilp_tables").toString
  private val shadowDir = ctx.runDir.resolve("ilp_shadow").toString
  /** (measurement, dedup keys, lines) per batch, in send order. */
  private val batches: IndexedSeq[(String, String, IndexedSeq[String])] = {
    val lines = Files.readAllLines(ctx.runDir.resolve("ilp/batches.lp")).asScala.toIndexedSeq
    Files.readAllLines(ctx.runDir.resolve("ilp/manifest.tsv")).asScala.filter(_.nonEmpty).map { l =>
      val Array(m, keys, from, n) = l.split("\t")
      (m, keys, lines.slice(from.toInt, from.toInt + n.toInt))
    }.toIndexedSeq
  }
  private val measurements = batches.map(_._1).distinct
  val opsPerRound: Int = measurements.size
  private var engine: graft.Engine = _
  private var server: graft.http.RestServer = _
  private var http: HttpClient = _
  private val shadowSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private var sent = 0
  private var writeMs = 0.0
  private var readMs = 0.0
  private var lastRead = ""
  private var filesBefore = Set.empty[String]
  private var rowsAcked = 0L
  private var writeNs = 0L

  private def view(m: String) = graft.streaming.MatView.Definition(
    sourceDir = s"$ilpDir/$m", viewDir = ctx.runDir.resolve(s"views/$m").toString,
    tsCol = "ts", bucket = "1 hour", keys = Seq("sym"),
    aggs = Seq("n" -> count(lit(1)), "qty" -> sum(col("qty")), "px" -> sum(col("px"))))

  private def readSql(m: String) =
    s"SELECT ts, sym, count() AS n, sum(qty) AS qty FROM $m SAMPLE BY 1d"
  /** Rows `/exec` may return, which it applies as `LIMIT`. */
  private val readLimit = 100000

  def setup(): Unit = {
    val t0 = System.nanoTime()
    engine = tr.span("tables.register")(graft.Engine(ctx.spark, ctx.dataDir))
    tr.total("tables.register_ms", (System.nanoTime() - t0) / 1e6)
    server = new graft.http.RestServer(engine, 0, ilpDir)
    http = new HttpClient(server.start())
  }

  private var firstTimed = 0

  /** The first rounds of batches, untimed; later rounds are operations.
    * Traced, each batch is also replayed into the shadow tree, so it holds
    * the same rows as the server's table when the timed replays start.
    */
  def warmup(rounds: Int): Unit = {
    firstTimed = rounds * opsPerRound
    (0 until firstTimed).foreach { b => if (tr.enabled) replayWrite(b); cycle(b); sent += 1 }
    rowsAcked = 0L
    writeNs = 0L
  }

  private def files(m: String): Map[String, Long] =
    Layers.dataFiles(new java.io.File(s"$ilpDir/$m")).map(f => f.getPath -> f.length).toMap

  /** One write → refresh → read cycle for batch `b`. */
  private def cycle(b: Int): String = {
    val (m, keys, lines) = batches(b)
    val body = lines.mkString("\n").getBytes(UTF_8)
    val q = if (keys.isEmpty) "" else s"&dedup=$keys"
    val cg = Jvm.codegenCompileMs
    val t0 = System.nanoTime()
    val (code, msg) = tr.span("http.write")(http.post(s"/write?precision=ns$q", body))
    val t1 = System.nanoTime()
    if (code != 204) throw new RuntimeException(s"/write answered $code: $msg")
    writeMs = (t1 - t0) / 1e6 - (Jvm.codegenCompileMs - cg)
    writeNs += t1 - t0
    rowsAcked += lines.size
    tr.counted("streaming", Map("jobs" -> "matview_jobs")) {
      layers.timed("streaming.matview_refresh", "streaming.matview_refresh_ms") {
        graft.streaming.MatView.refresh(ctx.spark, view(m))
      }
    }
    val sql = java.net.URLEncoder.encode(readSql(m), UTF_8)
    val cg2 = Jvm.codegenCompileMs
    val t3 = System.nanoTime()
    val (rc, json) = tr.span("http.read")(http.get(s"/exec?query=$sql&limit=$readLimit"))
    readMs = (System.nanoTime() - t3) / 1e6 - (Jvm.codegenCompileMs - cg2)
    if (rc != 200) throw new RuntimeException(s"/exec answered $rc: $json")
    lastRead = json
    m
  }

  def run(i: Int, k: Int): String = cycle(firstTimed + i)

  override def beforeOp(i: Int): Unit =
    if (tr.enabled) replayWrite(firstTimed + i)

  /** Traced only, before the operation: the same batch parsed and applied
    * in-process into a shadow table tree, so the write's in-process time
    * and job count can be told apart from its wire time.
    */
  private var applyMs = 0.0
  private def replayWrite(b: Int): Unit = {
    val (m, keys, lines) = batches(b)
    filesBefore = files(m).keySet
    val t0 = System.nanoTime()
    tr.span("streaming.parse")(lines.foreach(graft.streaming.IlpParser.parse))
    tr.add("streaming.parse_ms", (System.nanoTime() - t0) / 1e6)
    applyMs = layers.engineMs {
      tr.counted("streaming", Map("jobs" -> "apply_jobs")) {
        layers.timed("streaming.apply", "streaming.apply_ms") {
          graft.streaming.IlpApply.applyLines(ctx.spark, lines, shadowDir, 1L,
            keys.split(",").toSeq.filter(_.nonEmpty), shadowSeq)
        }
      }
    }
  }

  override def afterOp(i: Int, k: Int, ok: Boolean): Unit = {
    val b = firstTimed + i
    val (m, _, _) = batches(b)
    sent = b + 1
    if (ok) ctx.results.write("op" -> i, "batch" -> b, "measurement" -> m, "read" -> lastRead)
    if (ok && tr.enabled) {
      val after = files(m)
      val fresh = after.keySet -- filesBefore
      tr.add("tables.files_written", fresh.size.toDouble)
      tr.add("tables.bytes_written", fresh.toSeq.map(after).sum.toDouble)
      tr.total("tables.files_written_total", fresh.size.toDouble)
      tr.total("tables.bytes_written_total", fresh.toSeq.map(after).sum.toDouble)
      // the read in-process, limited as `/exec` limits it: files it scans
      // and what the server added
      layers.rewrites(readSql(m))
      var df: DataFrame = null
      val inproc = layers.engineMs { df = layers.build("sql")(engine.sql(readSql(m)).limit(readLimit)); layers.collect(df) }
      tr.add("tables.read_files", Layers.scanFiles(df.queryExecution.executedPlan).toDouble)
      tr.add("http.wire_ms", (writeMs - applyMs) + (readMs - inproc))
    }
  }

  override def finish(out: mutable.LinkedHashMap[String, Any]): Unit = {
    out("batches_sent") = sent
    out("rows_acked") = rowsAcked
    out("write_s") = writeNs / 1e9
    out("tables") = measurements.map(m => m -> s"$ilpDir/$m").toMap
    out("views") = measurements.map(m => m -> view(m).viewDir).toMap
  }

  def close(): Unit = if (server != null) server.stop()
}

/** The corpus pipeline queries, in-process, round-robin. */
final class Corpus(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val layers = new Layers(ctx)
  private val names = Files.readAllLines(ctx.runDir.resolve("ops.tsv")).asScala.filter(_.nonEmpty).toIndexedSeq
  val opsPerRound: Int = names.size
  private var last: Array[Row] = Array.empty
  private var cols: Seq[String] = Nil

  def setup(): Unit = {
    val t0 = System.nanoTime()
    tr.span("tables.register")(graft.Engine(ctx.spark, ctx.dataDir))
    tr.total("tables.register_ms", (System.nanoTime() - t0) / 1e6)
  }

  def warmup(rounds: Int): Unit =
    (1 to rounds).foreach(_ => names.foreach(n => warm(graft.SparkEntry.queries(n)(ctx.spark, ctx.dataDir).collect())))

  def run(i: Int, k: Int): String = {
    val n = names(k)
    val df = layers.build("pipeline")(graft.SparkEntry.queries(n)(ctx.spark, ctx.dataDir))
    last = layers.collect(df)
    cols = df.columns.toSeq
    n
  }

  override def afterOp(i: Int, k: Int, ok: Boolean): Unit =
    if (ok) ctx.results.write("op" -> i, "kind" -> names(k), "cols" -> cols, "rows" -> last)

  override def finish(out: mutable.LinkedHashMap[String, Any]): Unit =
    out("oracle") = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

  def close(): Unit = ()
}
