package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  * {{{
  * perfbench.Main <workload> <warm-up rounds> <rounds> <trace 0|1> <runDir> <dataDir>
  * }}}
  *
  * The inputs a workload needs (statement lists, ILP batches, generated
  * tables) are already under `runDir`, made from the seed by `run.py`.
  * The run writes `out.json` (timings, counts, per-layer metrics) and
  * `results.jsonl` (every timed operation's output, for the checks
  * `run.py` makes with DuckDB) into `runDir`.
  */
object Main {
  final case class Ctx(spark: SparkSession, tracer: Tracer, runDir: Path, dataDir: String,
                       results: ResultLog)

  def main(args: Array[String]): Unit = {
    val Array(workload, warmRounds, rounds, trace, runDir0, dataDir) = args
    val runDir = Paths.get(runDir0).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.builder(s"local[$cpus]", math.max(cpus, 4))
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Jvm.sinceStartS
    val tracer = new Tracer(trace == "1", spark.sparkContext)
    val results = new ResultLog(runDir.resolve("results.jsonl"))
    val ctx = Ctx(spark, tracer, runDir, dataDir, results)
    val w: Workload = workload match {
      case "ts_dashboard" => new Dashboard(ctx)
      case "ts_scan" => new Scan(ctx)
      case "ilp_ingest" => new IlpIngest(ctx)
      case "corpus_pipeline" => new Corpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      val codegen0 = Jvm.codegenCompileMs
      tracer.beginOp(-1)
      w.setup()
      val setupS = Jvm.sinceStartS
      w.warmup(warmRounds.toInt)
      out("setup_s") = Jvm.sinceStartS
      out("setup_phases_s") = Map("session" -> sessionS, "workload_setup" -> (setupS - sessionS),
        "warmup" -> (Jvm.sinceStartS - setupS))
      out("setup_codegen_compile_ms") = Jvm.codegenCompileMs - codegen0
      out ++= timed(ctx, w, rounds.toInt)
      w.finish(out)
    } finally {
      results.close()
      w.close()
      spark.stop()
    }
    tracer.writeSpans(runDir.resolve("spans.tsv"))
    Files.writeString(runDir.resolve("out.json"), Json.write(out))
  }

  /** `rounds` whole rounds of the workload's operations, round-robin; every
    * round holds the same operation types, so every run does the same work.
    */
  private def timed(ctx: Ctx, w: Workload, rounds: Int): mutable.LinkedHashMap[String, Any] = {
    val tr = ctx.tracer
    val lat = mutable.ArrayBuffer.empty[Double]
    val kinds = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val cpu0 = Jvm.cpuNanos
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    var round = 0
    while (round < rounds) {
      var k = 0
      while (k < w.opsPerRound) {
        val i = round * w.opsPerRound + k
        tr.beginOp(i)
        attempted += 1
        w.beforeOp(i)
        val gcOp = Jvm.gcMillis
        val cgOp = Jvm.codegenCompileMs
        val s = System.nanoTime()
        val ok = try {
          val kind = tr.span("op") { w.run(i, k) }
          lat += (System.nanoTime() - s) / 1e6
          kinds += kind
          true
        } catch {
          case e: Exception =>
            failed += 1
            ctx.results.failure(i, e)
            System.err.println(s"[perfbench] operation $i failed: $e")
            false
        }
        tr.add("jvm.gc_ms", (Jvm.gcMillis - gcOp).toDouble)
        tr.add("exec.codegen_compile_ms", Jvm.codegenCompileMs - cgOp)
        w.afterOp(i, k, ok)
        k += 1
      }
      round += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val cpuMs = (Jvm.cpuNanos - cpu0) / 1e6
    val gcMs = (Jvm.gcMillis - gc0).toDouble
    val out = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed, "rounds" -> round,
      "timed_s" -> elapsed, "latencies_ms" -> lat.toSeq, "kinds" -> kinds.toSeq,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "heap_after_gc_mb" -> Jvm.heapAfterGcMb)
    if (tr.enabled) {
      val layers = mutable.LinkedHashMap.empty[String, Any]
      tr.perOp.foreach { case (k, v) => layers(k) = v.toSeq }
      tr.selfTimes.foreach { case (layer, v) => if (layer != "op" && layer != "http") layers(s"$layer.self_ms") = v }
      out("per_op") = layers
      out("totals") = tr.totals
    }
    out
  }
}

/** A workload: set-up, untimed warm-up rounds, then operations run
  * round-robin. `run(i, k)` runs operation `i`, the `k`-th of its round,
  * returns its kind and throws if it failed. `beforeOp` and `afterOp` run
  * outside the operation's latency; `afterOp` records a successful
  * operation's output.
  */
trait Workload {
  def opsPerRound: Int
  def setup(): Unit
  def warmup(rounds: Int): Unit
  def run(i: Int, k: Int): String
  def beforeOp(i: Int): Unit = ()
  def afterOp(i: Int, k: Int, ok: Boolean): Unit = ()
  def finish(out: mutable.LinkedHashMap[String, Any]): Unit = ()
  def close(): Unit

  /** A warm-up operation that fails is reported and skipped: the same
    * operation fails again in the timed rounds, where it is counted.
    */
  protected def warm(body: => Unit): Unit =
    try body catch { case e: Exception => System.err.println(s"[perfbench] warm-up operation failed: $e") }
}

/** Every timed operation's output, one JSON line each. */
final class ResultLog(path: Path) {
  private val w = Files.newBufferedWriter(path)
  def write(fields: (String, Any)*): Unit = { w.write(Json.write(mutable.LinkedHashMap(fields: _*))); w.write('\n') }
  def failure(i: Int, e: Throwable): Unit = write("op" -> i, "error" -> String.valueOf(e))
  def close(): Unit = w.close()
}

object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(sb, d.toString) else sb ++= d.toString
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: Short => sb ++= n.toString
    case n: Byte => sb ++= n.toString
    case d: java.math.BigDecimal => str(sb, d.toPlainString)
    case t: java.sql.Timestamp => str(sb, t.toLocalDateTime.format(tsFmt))
    case t: java.time.LocalDateTime => str(sb, t.format(tsFmt))
    case t: java.time.Instant => str(sb, java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt))
    case d: java.sql.Date => str(sb, d.toString)
    case d: java.time.LocalDate => str(sb, d.toString)
    case b: Array[Byte] => str(sb, b.map(x => f"${x & 0xff}%02x").mkString)
    case a: Array[_] => put(sb, a.toSeq)
    case r: org.apache.spark.sql.Row => put(sb, r.toSeq)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) => if (!first) sb += ','; first = false; str(sb, k.toString); sb += ':'; put(sb, x) }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }
}
