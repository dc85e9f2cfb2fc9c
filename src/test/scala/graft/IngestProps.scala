package graft

import graft.streaming.Ingest
import org.scalacheck.{Gen, Prop, Properties, Test}

/** WAL-style ingest fuzz (the analogue of the reference's randomized
  * transaction-stream fuzzer, `test/fuzz/FuzzTransaction.java` — behavior
  * only): random sequences of append/upsert transactions with
  * out-of-order timestamps across days, duplicate keys, idempotent
  * retries, and crash replays (marker deleted, batch re-applied), checked
  * against a driver-side list oracle.
  *
  * Invariants proved per generated stream:
  *   - final table content equals the oracle multiset,
  *   - a retried batch (marker intact) is a no-op,
  *   - a crash replay (marker lost after publish) converges instead of
  *     duplicating or losing rows,
  *   - upsert replaces ALL prior rows sharing (ts, key), append keeps
  *     them,
  *   - through ILP `applyLines` with DEDUP, (ts, key) clashes inside a
  *     batch keep the batch's last line, as the reference does
  *     (`LiveViewDedupBaseTest`: two rows on one key in one INSERT keep
  *     the second).
  */
object IngestProps extends Properties("ingest") {
  private lazy val spark = Sessions.local(4)

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private val syms = Seq("A", "B", "C")
  private val stamps = for {
    day <- Seq("2024-01-01", "2024-01-02", "2024-01-03")
    hh <- Seq("00", "09", "17")
  } yield s"$day $hh:00:00"

  // one transaction: append (0) or upsert (1); replay mode: clean (0),
  // retry with marker intact (1), crash replay with marker deleted (2)
  private case class Tx(kind: Int, replay: Int, rows: List[(String, String, Long)])

  private val genTx: Gen[Tx] = for {
    kind <- Gen.chooseNum(0, 1)
    replay <- Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2)
    n <- Gen.chooseNum(1, 10)
    raw <- Gen.listOfN(n, for {
      s <- Gen.oneOf(syms)
      t <- Gen.oneOf(stamps)
      v <- Gen.chooseNum(0L, 999L)
    } yield (s, t, v))
  } yield Tx(kind, replay,
    // unique (key, ts) within a batch so within-batch dedup (which keeps
    // an arbitrary survivor) can't make the oracle ambiguous
    raw.groupBy(r => (r._1, r._2)).map(_._2.head).toList)

  private val genStream: Gen[List[Tx]] =
    Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genTx))

  property("random transaction streams converge to the list oracle") =
    Prop.forAll(genStream) { txs =>
      import spark.implicits._
      val tableDir = java.nio.file.Files.createTempDirectory("fuzz_tbl").toString

      var oracle = List.empty[(String, String, Long)]
      txs.zipWithIndex.foreach { case (tx, id) =>
        val df = tx.rows.toDF("sym", "tss", "v")
          .select($"sym", org.apache.spark.sql.functions.expr("CAST(tss AS TIMESTAMP)").as("ts"), $"v")
        def applyOnce(): Unit =
          if (tx.kind == 0) Ingest.applyBatch(df, id.toLong, tableDir, "ts", Seq("sym"))
          else Ingest.upsertBatch(df, id.toLong, tableDir, "ts", Seq("sym"))
        applyOnce()
        tx.replay match {
          case 1 => applyOnce() // marker intact → must be a no-op
          case 2 => // crash between publish and marker write, then replay
            assert(new java.io.File(s"$tableDir/_graft_batches/batch-$id").delete())
            applyOnce()
          case _ =>
        }
        val keys = tx.rows.map(r => (r._1, r._2)).toSet
        oracle =
          if (tx.kind == 0) oracle ++ tx.rows
          else oracle.filterNot(r => keys((r._1, r._2))) ++ tx.rows
      }

      val got = spark.read.parquet(tableDir)
        .select($"sym", org.apache.spark.sql.functions.expr("CAST(ts AS STRING)").as("tss"), $"v")
        .as[(String, String, Long)].collect().toList
      val want = oracle.map { case (s, t, v) => (s, t, v) }
      Prop(got.sorted == want.sorted) :| s"got=${got.sorted} want=${want.sorted}"
    }

  property("files within each day partition are sorted by ts (storage invariant)") =
    Prop.forAll(genStream) { txs =>
      import spark.implicits._
      val tableDir = java.nio.file.Files.createTempDirectory("fuzz_sort").toString
      txs.zipWithIndex.foreach { case (tx, id) =>
        val df = tx.rows.toDF("sym", "tss", "v")
          .select($"sym", org.apache.spark.sql.functions.expr("CAST(tss AS TIMESTAMP)").as("ts"), $"v")
        if (tx.kind == 0) Ingest.applyBatch(df, id.toLong, tableDir, "ts", Seq("sym"))
        else Ingest.upsertBatch(df, id.toLong, tableDir, "ts", Seq("sym"))
      }
      val files = Option(new java.io.File(tableDir).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("__day="))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      files.forall { f =>
        val ts = spark.read.parquet(f.getPath)
          .select(org.apache.spark.sql.functions.unix_micros($"ts")).as[Long].collect()
        ts.sameElements(ts.sorted)
      }
    }

  // ILP batches of (sym, hour slot, value) lines: few keys, so (ts, sym)
  // clashes with different values are common inside and across batches
  private val genIlp: Gen[List[List[(String, Int, Long)]]] =
    Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, for {
      s <- Gen.oneOf(syms)
      slot <- Gen.chooseNum(0, 5)
      v <- Gen.chooseNum(0L, 999L)
    } yield (s, slot, v)))))

  property("ILP DEDUP: the last line wins within a batch, the new row across batches") =
    Prop.forAll(genIlp) { batches =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("fuzz_ilp").toString
      val seq = new java.util.concurrent.atomic.AtomicLong(0L)
      val slotSec = 12 * 3600L // six slots over three days
      var oracle = Map.empty[(String, Long), Long]
      batches.foreach { b =>
        val lines = b.map { case (s, slot, v) => s"fz,sym=$s v=${v}i ${(1704067200L + slot * slotSec) * 1000000000L}" }
        graft.streaming.IlpApply.applyLines(spark, lines, dir, 1L, Seq("sym"), seq)
        b.foreach { case (s, slot, v) => oracle += (s, 1704067200L + slot * slotSec) -> v }
      }
      val got = spark.read.parquet(s"$dir/fz")
        .select($"sym", org.apache.spark.sql.functions.unix_seconds($"ts"), $"v")
        .as[(String, Long, Long)].collect().toList
      val want = oracle.toList.map { case ((s, t), v) => (s, t, v) }
      Prop(got.sorted == want.sorted) :| s"got=${got.sorted} want=${want.sorted}"
    }
}
