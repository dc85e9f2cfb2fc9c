package graft.streaming

import java.net.{DatagramPacket, DatagramSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** ILP over UDP — the reference's datagram transport
  * (`cutlass/line/udp/LineUdpReceiver.java`, `AbstractLineProtoUdpReceiver`):
  * fire-and-forget line ingestion, batched into WAL-style commits by a
  * commit-rate threshold rather than per-packet.
  *
  * Each datagram carries one or more newline-separated ILP lines. A
  * daemon receiver thread drains the socket into an in-memory queue;
  * once `batchLines` lines accumulate, the batch is applied through the
  * shared [[IlpApply]] tail (the same parse and apply as HTTP `/write`).
  * `flush()` forces a commit — the analogue of the reference's
  * commit-timer tick; UDP drops under pressure are accepted semantics
  * on this transport (the reference documents the same trade-off).
  */
class IlpUdp(engine: graft.Engine, port: Int = 0,
             ilpDir: String = java.nio.file.Files.createTempDirectory("graft_ilp_udp").toString,
             batchLines: Int = 1000,
             precision: String = "ns",
             dedupKeys: Seq[String] = Nil) {

  private val socket = new DatagramSocket(port)
  private val pending = new ConcurrentLinkedQueue[String]()
  private val pendingCount = new AtomicLong(0L)
  private val received = new AtomicLong(0L)
  private val seq = new AtomicLong(0L)
  private val nsPerUnit = IlpApply.precisionMult(precision)
  @volatile private var running = false

  private val receiver = new Thread(() => {
    val buf = new Array[Byte](65535)
    while (running) {
      try {
        val pkt = new DatagramPacket(buf, buf.length)
        socket.receive(pkt)
        val text = new String(pkt.getData, pkt.getOffset, pkt.getLength, UTF_8)
        text.split("\n").foreach { line =>
          if (line.trim.nonEmpty) {
            pending.add(line)
            pendingCount.incrementAndGet()
            received.incrementAndGet()
          }
        }
        if (pendingCount.get() >= batchLines) flush()
      } catch { case _: Exception => /* socket closed on stop() */ }
    }
  })
  receiver.setDaemon(true)

  def start(): Int = { running = true; receiver.start(); socket.getLocalPort }

  def stop(): Unit = { running = false; socket.close(); flush(); () }

  def boundPort: Int = socket.getLocalPort

  /** Lines seen on the socket so far (pre-commit; monitoring hook). */
  def linesReceived: Long = received.get()

  /** Commit everything buffered; returns rows applied. Synchronized so
    * the threshold path and an explicit caller can't interleave a batch.
    */
  def flush(): Long = synchronized {
    var batch = List.newBuilder[String]
    var n = 0L
    var line = pending.poll()
    while (line != null) {
      batch += line; n += 1
      line = pending.poll()
    }
    pendingCount.addAndGet(-n)
    val lines = batch.result()
    if (lines.isEmpty) 0L
    else IlpApply.applyLines(engine.spark, lines, ilpDir, nsPerUnit, dedupKeys, seq)
  }
}
