package graft

import graft.streaming.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("ILP file stream → parse → dedup'd time-partitioned parquet with sorted files") {
    val srcDir = tmp("ilp_src")
    val tableDir = tmp("ilp_table")
    val ckpt = tmp("ilp_ckpt")

    // two files = two micro-batches; includes a dup key and an
    // out-of-order (previous-day) row
    Files.writeString(java.nio.file.Path.of(srcDir, "b0.txt"),
      """trades,sym=A price=10.0 1704067200000000000
        |trades,sym=A price=10.5 1704070800000000000
        |trades,sym=B price=99.0 1704067200000000000
        |trades,sym=A price=11.0 1704067200000000000
        |# comment line
        |garbage line without fields
        |""".stripMargin)

    val lines = spark.readStream.text(srcDir).as[String]
    val parsed = Ingest.parseIlp(lines)
      .filter($"measurement" === "trades")
      .select($"tags"("sym").as("sym"), element_at($"f_double", "price").as("price"), $"ts")

    val q = Ingest.writeStreamTo(parsed, tableDir, ckpt, "ts", Seq("sym")).start()
    q.processAllAvailable()

    Files.writeString(java.nio.file.Path.of(srcDir, "b1.txt"),
      """trades,sym=B price=98.0 1703980800000000000
        |trades,sym=C price=1.0 1704067260000000000
        |""".stripMargin)
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(tableDir)
    // dedup on (ts, sym): the 11.0 duplicate of (A, 00:00) was dropped
    assert(out.count() == 5)
    val days = out.select($"__day".cast("string")).distinct().as[String].collect().sorted
    assert(days.toSeq == Seq("2023-12-31", "2024-01-01")) // O3 row landed in its own day
    val a = out.filter($"sym" === "A").orderBy($"ts").as[(String, Double, java.sql.Timestamp, java.sql.Date)]
    assert(out.filter($"sym" === "A").count() == 2)
  }

  test("applyBatch is idempotent under retries (same batchId)") {
    val tableDir = tmp("idem_table")
    val df = Seq(("A", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("sym", "price", "ts")
    Ingest.applyBatch(df, 7L, tableDir, "ts", Seq("sym"))
    Ingest.applyBatch(df, 7L, tableDir, "ts", Seq("sym")) // retry
    assert(spark.read.parquet(tableDir).count() == 1)
  }

  test("applyBatch replay after a crash between publish and marker does not duplicate") {
    val tableDir = tmp("crash_table")
    val df = Seq(
      ("A", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("B", 2.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("sym", "price", "ts")
    Ingest.applyBatch(df, 3L, tableDir, "ts", Seq("sym"))
    // simulate a crash after the publish but before the marker write:
    // the marker is missing, so the replayed batch runs the full path again
    assert(new java.io.File(s"$tableDir/_graft_batches/batch-3").delete())
    Ingest.applyBatch(df, 3L, tableDir, "ts", Seq("sym"))
    assert(spark.read.parquet(tableDir).count() == 2)
  }

  test("upsertBatch replay after a crash between overwrite and marker converges") {
    val tableDir = tmp("crash_upsert")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Ingest.upsertBatch(Seq(("A", 1.0, t0), ("B", 2.0, t0)).toDF("sym", "price", "ts"),
      0L, tableDir, "ts", Seq("sym"))
    val b1 = Seq(("A", 9.0, t0)).toDF("sym", "price", "ts")
    Ingest.upsertBatch(b1, 1L, tableDir, "ts", Seq("sym"))
    assert(new java.io.File(s"$tableDir/_graft_batches/batch-1").delete())
    Ingest.upsertBatch(b1, 1L, tableDir, "ts", Seq("sym")) // replay
    val out = spark.read.parquet(tableDir).orderBy($"sym")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Double]("price")))
    assert(out.toSeq == Seq(("A", 9.0), ("B", 2.0)))
  }

  test("upsertBatch replay after a crash mid-publish converges from the staged copy") {
    val tableDir = tmp("crash_publish")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Ingest.upsertBatch(Seq(("A", 1.0, ts("2024-01-01 00:00:00")), ("B", 2.0, ts("2024-01-02 00:00:00")),
      ("C", 3.0, ts("2024-01-02 06:00:00"))).toDF("sym", "price", "ts"), 0L, tableDir, "ts", Seq("sym"))
    val b1 = Seq(("A", 9.0, ts("2024-01-01 00:00:00")), ("B", 8.0, ts("2024-01-02 00:00:00")),
      ("D", 4.0, ts("2024-01-04 00:00:00"))).toDF("sym", "price", "ts")
    // a plain file where the last day's directory should go: the publish
    // moves the first two days, then fails like a crash would
    val blocker = new java.io.File(tableDir, "__day=2024-01-04")
    assert(blocker.createNewFile())
    intercept[java.io.IOException](Ingest.upsertBatch(b1, 1L, tableDir, "ts", Seq("sym")))
    assert(new java.io.File(s"$tableDir/_graft_staging/batch-1/_SUCCESS").exists())
    assert(!new java.io.File(s"$tableDir/_graft_batches/batch-1").exists())
    assert(blocker.delete())
    Ingest.upsertBatch(b1, 1L, tableDir, "ts", Seq("sym")) // replay
    val out = spark.read.parquet(tableDir).orderBy($"sym")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Double]("price")))
    assert(out.toSeq == Seq(("A", 9.0), ("B", 8.0), ("C", 3.0), ("D", 4.0)))
    assert(Ingest.dirtyDays(tableDir) == Seq("2024-01-01", "2024-01-02", "2024-01-04"))
  }

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("one ILP batch runs at most 3 Spark jobs: append, dedup into a new day, dedup into existing days") {
    import graft.streaming.IlpApply
    val dir = tmp("ilp_jobs")
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    // 150 lines on each of two days from 2024-01-01 + firstDay; the same
    // (ts, sym) keys on every day
    def lines(m: String, px: Int, firstDay: Int) = (0 until 300).map { i =>
      val sec = 1704067200L + (firstDay + i % 2) * 86400L + i / 2
      s"$m,sym=S${i / 2 % 10} px=$px.5,qty=${i}i ${sec}000000000"
    }
    def apply(ls: Seq[String], keys: Seq[String]) =
      jobs(IlpApply.applyLines(spark, ls, dir, 1L, keys, seq))
    val append = apply(lines("jobs_append", 1, 0), Nil)
    val dedupNew = apply(lines("jobs_dedup", 1, 0), Seq("sym"))
    val dedupExisting = apply(lines("jobs_dedup", 2, 1), Seq("sym")) // days 2024-01-02 and -03
    assert(Seq(append, dedupNew, dedupExisting).forall(_ <= 3),
      s"jobs: append $append, dedup into a new day $dedupNew, dedup into existing days $dedupExisting")
    assert(spark.sql("SELECT count(*) FROM jobs_append").head().getLong(0) == 300L)
    // the second batch re-sent the first batch's day-2 rows with px 2.5
    val byPx = spark.sql("SELECT px, count(*) FROM jobs_dedup GROUP BY px").collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(byPx == Map(1.5 -> 150L, 2.5 -> 300L))
  }

  test("upsertBatch dedups against rows already in the table (new wins)") {
    val tableDir = tmp("upsert_table")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    Ingest.upsertBatch(Seq(("A", 1.0, t0), ("B", 2.0, t0)).toDF("sym", "price", "ts"),
      0L, tableDir, "ts", Seq("sym"))
    // batch 1: same (ts, A) with a new price + a brand-new row
    Ingest.upsertBatch(Seq(("A", 9.0, t0), ("C", 3.0, t1)).toDF("sym", "price", "ts"),
      1L, tableDir, "ts", Seq("sym"))
    val out = spark.read.parquet(tableDir).orderBy($"sym")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Double]("price")))
    assert(out.toSeq == Seq(("A", 9.0), ("B", 2.0), ("C", 3.0)))
  }

  test("TTL evicts old day partitions only") {
    val tableDir = tmp("ttl_table")
    val df = Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-01 12:00:00")),
      ("B", java.sql.Timestamp.valueOf("2024-01-10 12:00:00"))).toDF("sym", "ts")
    Ingest.applyBatch(df, 0L, tableDir, "ts", Nil)
    val evicted = Ingest.applyTtl(tableDir, keepDays = 5, today = java.time.LocalDate.parse("2024-01-11"))
    assert(evicted == 1)
    val left = spark.read.parquet(tableDir).select($"sym").as[String].collect().toSeq
    assert(left == Seq("B"))
  }

  test("mat view: dirty-range refresh rewrites only touched partitions, matches full recompute") {
    import graft.streaming.MatView
    val srcDir = tmp("mv_src")
    val viewDir = tmp("mv_view")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val d = MatView.Definition(srcDir, viewDir, "ts", "1 hour", Seq("k"),
      Seq("n" -> count(lit(1)), "s" -> sum($"v")))

    // batch 0: two days of data → initial build
    Ingest.applyBatch(Seq(
      (ts("2024-01-01 01:10:00"), "A", 1.0),
      (ts("2024-01-01 01:40:00"), "A", 2.0),
      (ts("2024-01-01 03:00:00"), "B", 3.0),
      (ts("2024-01-02 05:30:00"), "A", 4.0)).toDF("ts", "k", "v"),
      0L, srcDir, "ts", Nil)
    assert(Ingest.dirtyDays(srcDir) == Seq("2024-01-01", "2024-01-02"))
    assert(MatView.refresh(spark, d) == Seq("2024-01-01", "2024-01-02"))
    assert(Ingest.dirtyDays(srcDir).isEmpty)
    assert(MatView.refresh(spark, d).isEmpty) // clean table → no-op

    def partFiles(day: String): Set[(String, Long)] =
      Option(new java.io.File(s"$viewDir/__day=$day").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    val day2Before = partFiles("2024-01-02")
    assert(day2Before.nonEmpty)
    Thread.sleep(1100) // mtime resolution guard

    // batch 1: a LATE (out-of-order) row into day 1 only
    Ingest.applyBatch(Seq((ts("2024-01-01 01:55:00"), "A", 10.0)).toDF("ts", "k", "v"),
      1L, srcDir, "ts", Nil)
    assert(Ingest.dirtyDays(srcDir) == Seq("2024-01-01"))
    assert(MatView.refresh(spark, d) == Seq("2024-01-01"))

    // the untouched view day was NOT rewritten (same files, same mtimes)
    assert(partFiles("2024-01-02") == day2Before)

    // view contents equal a from-scratch recompute
    val view = spark.read.parquet(viewDir).select($"ts", $"k", $"n", $"s")
    val full = spark.read.parquet(srcDir)
      .groupBy(window($"ts", "1 hour").getField("start").as("ts"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    assert(view.exceptAll(full).isEmpty && full.exceptAll(view).isEmpty)
    // the late row's bucket really updated: (01:00, A) now n=3, s=13
    val r = view.filter($"ts" === ts("2024-01-01 01:00:00") && $"k" === "A").head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Double]("s") == 13.0)
  }

  test("mat view: multi-day buckets align to whole weeks; TIMER trigger refreshes") {
    import graft.streaming.MatView
    val srcDir = tmp("mvw_src")
    val viewDir = tmp("mvw_view")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 1-week buckets: a dirty Wednesday must expand to the whole epoch-aligned week
    val (lo, hi) = {
      val r = MatView.alignedRange("2024-01-03", MatView.bucketMicros("1 week"))
      (java.time.LocalDate.ofEpochDay(r._1 / 86400000000L).toString,
        java.time.LocalDate.ofEpochDay(r._2 / 86400000000L).toString)
    }
    assert(lo == "2023-12-28" && hi == "2024-01-04") // Spark week windows anchor at the epoch (a Thursday)

    val d = MatView.Definition(srcDir, viewDir, "ts", "1 day", Nil,
      Seq("n" -> count(lit(1))))
    Ingest.applyBatch(Seq((ts("2024-01-01 01:00:00"), 1.0)).toDF("ts", "v"),
      0L, srcDir, "ts", Nil)
    val timer = MatView.timer(spark, d, java.time.Duration.ofMillis(200))
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n < 1 && System.currentTimeMillis() < deadline) {
        n = scala.util.Try(spark.read.parquet(viewDir).count()).getOrElse(0L)
        if (n < 1) Thread.sleep(100)
      }
      assert(n == 1L)
      assert(Ingest.dirtyDays(srcDir).isEmpty)
    } finally timer.cancel(false)
  }

  test("live view: durable snapshot + seam advance per batch") {
    val srcDir = tmp("lv_src")
    val tableDir = tmp("lv_table")
    val ckpt = tmp("lv_ckpt")
    Files.writeString(java.nio.file.Path.of(srcDir, "a.txt"),
      """m,k=x v=1.0 1704067200000000000
        |m,k=y v=2.0 1704070800000000000
        |""".stripMargin)
    val lines = spark.readStream.text(srcDir).as[String]
    val parsed = Ingest.parseIlp(lines)
      .select($"tags"("k").as("k"), element_at($"f_double", "v").as("v"), $"ts")
    val (lv, q) = graft.streaming.LiveView.start(spark, parsed, "lv_t", tableDir, ckpt, "ts", Seq("k"))
    q.processAllAvailable()
    assert(lv.snapshot().count() == 2)
    assert(lv.seamMicros == 1704070800000000L)
    Files.writeString(java.nio.file.Path.of(srcDir, "b.txt"),
      "m,k=z v=3.0 1704074400000000000\n")
    q.processAllAvailable()
    q.stop()
    assert(lv.snapshot().count() == 3)
    assert(lv.seamMicros == 1704074400000000L)
    // seqTxn fence advanced with the last applied micro-batch
    assert(lv.appliedTxn >= 0L)
    // seam-fenced read: tail drained after apply, so read == durable,
    // each row on exactly one side of the seam
    assert(lv.read().count() == 3)
    assert(lv.read().select("k").as[String].collect().sorted.toSeq == Seq("x", "y", "z"))
  }

  test("aggregated live view: merge-on-read, seqTxn fence, apply-lag backpressure") {
    import graft.streaming.{LiveAggView, MatView}
    val srcDir = tmp("lav_src"); val tableDir = tmp("lav_table")
    val viewDir = tmp("lav_view"); val ckpt = tmp("lav_ckpt")
    // batch 0: two rows in hour-1 bucket for k=x, one in hour-2 for k=y
    Files.writeString(java.nio.file.Path.of(srcDir, "a.txt"),
      """m,k=x v=1.0 1704067200000000000
        |m,k=x v=3.0 1704067260000000000
        |m,k=y v=2.0 1704070800000000000
        |""".stripMargin)
    val lines = spark.readStream.text(srcDir).as[String]
    val parsed = Ingest.parseIlp(lines)
      .select($"tags"("k").as("k"), element_at($"f_double", "v").as("v"), $"ts")
    val d = MatView.Definition(tableDir, viewDir, "ts", "1 hour", Seq("k"),
      Seq("n" -> count(lit(1)), "sv" -> sum($"v")))
    val merge = Seq("n" -> sum($"n"), "sv" -> sum($"sv"))
    val (lv, q, _) = LiveAggView.start(spark, parsed, d, merge, ckpt,
      dedupKeys = Nil, maxLagBatches = 1)
    q.processAllAvailable()

    def readMap() = lv.read().collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts").getTime / 1000, r.getAs[String]("k")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sv"))).toMap
    val h1 = 1704067200L; val h2 = 1704070800L

    // nothing folded yet: read() is always-fresh off the pending tail alone
    assert(lv.fencedTxn == -1L && lv.pendingTxns.nonEmpty)
    assert(readMap() == Map((h1, "x") -> (2L, 4.0), (h2, "y") -> (1L, 2.0)))

    // manual fold: fence advances, tail drains, read() now durable-only
    lv.refreshNow()
    assert(lv.fencedTxn == 0L && lv.pendingTxns.isEmpty)
    assert(readMap() == Map((h1, "x") -> (2L, 4.0), (h2, "y") -> (1L, 2.0)))

    // batch 1 pends: read() merges durable buckets with the hot tail
    Files.writeString(java.nio.file.Path.of(srcDir, "b.txt"),
      "m,k=x v=5.0 1704067320000000000\n")
    q.processAllAvailable()
    assert(lv.pendingTxns == Seq(1L))
    assert(readMap() == Map((h1, "x") -> (3L, 9.0), (h2, "y") -> (1L, 2.0)))

    // batch 2 exceeds maxLagBatches=1 → synchronous fold of batch 1
    // BEFORE batch 2 is accepted (the apply-lag backpressure analogue)
    Files.writeString(java.nio.file.Path.of(srcDir, "c.txt"),
      "m,k=y v=7.0 1704070860000000000\n")
    q.processAllAvailable()
    q.stop()
    assert(lv.fencedTxn == 1L && lv.pendingTxns == Seq(2L))
    assert(readMap() == Map((h1, "x") -> (3L, 9.0), (h2, "y") -> (2L, 9.0)))

    lv.refreshNow()
    assert(lv.fencedTxn == 2L && lv.pendingTxns.isEmpty)
    assert(readMap() == Map((h1, "x") -> (3L, 9.0), (h2, "y") -> (2L, 9.0)))
  }

  test("materialized view: streaming SAMPLE BY aggregates per bucket") {
    val srcDir = tmp("mv_src")
    val ckpt = tmp("mv_ckpt")
    Files.writeString(java.nio.file.Path.of(srcDir, "a.txt"),
      """m,k=x v=1.0 1704067200000000000
        |m,k=x v=3.0 1704067260000000000
        |m,k=x v=5.0 1704070800000000000
        |""".stripMargin)
    val lines = spark.readStream.text(srcDir).as[String]
    val parsed = Ingest.parseIlp(lines)
      .select($"tags"("k").as("k"), element_at($"f_double", "v").as("v"), $"ts")
    val agg = Ingest.sampleByMatView(parsed, "ts", "1 hour", Seq("k"),
      Seq("n" -> count(lit(1)), "sv" -> sum($"v")), "10 minutes")
    val q = agg.writeStream.format("memory").queryName("mv").outputMode("complete")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("select k, n, sv from mv order by ts").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("x", 2L, 4.0), ("x", 1L, 5.0)))
  }
}
