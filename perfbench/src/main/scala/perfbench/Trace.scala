package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters, fed by the listener bus. Read them only
  * after [[Tracer.drain]]: events are delivered asynchronously.
  */
final class Counters extends SparkListener {
  val jobs, stages, tasks, taskRunMs, shuffleWrite, shuffleRead, spill, inputRows = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "input_rows" -> inputRows.get)
}

/** Process-wide JVM readings (all threads, GC included). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  /** Heap in use once collections stop freeing memory; the pauses let
    * Spark's ContextCleaner drop what the previous collection released.
    */
  def heapAfterGcMb: Double = {
    var last = Double.MaxValue
    var now = { System.gc(); heapUsedMb }
    var n = 0
    while (n < 6 && now < last * 0.995) { last = now; Thread.sleep(100); System.gc(); now = heapUsedMb; n += 1 }
    math.min(now, last)
  }
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  def codegenCompileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans and counters recorded from the benchmark's side of each layer
  * call. Disabled, every method is a pass-through, so the untraced run
  * measures the program alone.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val counters: Option[Counters] =
    if (enabled) { val c = new Counters; sc.addSparkListener(c); Some(c) } else None
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-operation values, keyed by metric name (one entry per operation). */
  val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Run totals, keyed by metric name. */
  val totals = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var op = -1

  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, t0, t1)
      }
    }

  /** A span whose interval was measured elsewhere (Catalyst phase times). */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Unit =
    if (enabled) spans += Span(spans.size, parent, op, name, startNs, endNs)

  /** Runs `body` and adds listener counter deltas as `prefix.<name>`,
    * for each counter key → metric name in `keys`.
    */
  def counted[T](prefix: String, keys: Map[String, String])(body: => T): T =
    counters match {
      case None => body
      case Some(c) =>
        drain(); val before = c.snapshot
        val r = body
        drain(); val after = c.snapshot
        keys.foreach { case (k, name) => add(s"$prefix.$name", (after(k) - before(k)).toDouble) }
        r
    }

  /** A per-operation value; ignored outside timed operations (set-up, warm-up). */
  def add(metric: String, v: Double): Unit =
    if (enabled && op >= 0) perOp.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  def total(metric: String, v: Double): Unit =
    if (enabled) totals(metric) = totals.getOrElse(metric, 0.0) + v

  /** Self time per layer and timed operation: each span's duration minus
    * the part of it its child spans cover. A layer is the span name's
    * prefix before the first dot.
    */
  def selfTimes: Map[String, Seq[Double]] = {
    val children = spans.groupBy(_.parent)
    val perOpLayer = mutable.Map.empty[(Int, String), Double]
    spans.filter(_.op >= 0).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val lo = math.max(a, end)
        if (b > lo) covered += b - lo
        end = math.max(end, b)
      }
      val key = (s.op, s.name.takeWhile(_ != '.'))
      perOpLayer(key) = perOpLayer.getOrElse(key, 0.0) + (s.endNs - s.startNs - covered) / 1e6
    }
    perOpLayer.toSeq.groupBy(_._1._2).map { case (layer, xs) => layer -> xs.map(_._2) }
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val sb = new StringBuilder("id\tparent\top\tname\tstart_ns\tend_ns\n")
    spans.foreach(s => sb ++= s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.startNs}\t${s.endNs}\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
