package graft

import graft.functions.TopKPairsBuf
import org.apache.spark.sql.functions._

class TopKPairsSpec extends SparkSpec {
  import spark.implicits._

  private def naive(pairs: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    pairs.sorted.take(k)

  test("buffer: matches a naive sort-take under interleaved adds, merges, serde") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 20; k <- Seq(1, 3, 8)) {
      val pairs = Seq.fill(200)((rnd.nextLong() % 1000, rnd.nextLong() % 1000))
      val (l, r) = pairs.splitAt(rnd.nextInt(pairs.size))
      val a = new TopKPairsBuf(k); l.foreach { case (o, i) => a.add(o, i) }
      val b = new TopKPairsBuf(k); r.foreach { case (o, i) => b.add(o, i) }
      // shuffle-shaped path: serialize both partials, merge, finalize
      val a2 = TopKPairsBuf.deserialize(a.serialize())
      val b2 = TopKPairsBuf.deserialize(b.serialize())
      a2.addAll(b2)
      assert(a2.result().toSeq == naive(pairs, k), s"trial=$trial k=$k")
    }
  }

  test("aggregate: per-key top-k equals a window ranking, partition-invariant") {
    Engine.ensureFunctions(spark)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(5000)((rnd.nextInt(7).toLong, rnd.nextLong() % 100000,
      rnd.nextLong() % 100000))
    val expect = rows.groupBy(_._1).map { case (key, xs) =>
      key -> xs.map(t => (t._2, t._3)).sorted.take(5)
    }
    for (parts <- Seq(1, 16)) {
      val df = rows.toDF("key", "ord", "id").repartition(parts)
      val got = df.groupBy($"key")
        .agg(call_function("topk_pairs", struct($"ord", $"id"), lit(5)).as("top"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1))).toSeq).toMap
      assert(got == expect, s"parts=$parts")
    }
  }

  test("aggregate: result stays ordered and bounded when a key has fewer than k rows") {
    Engine.ensureFunctions(spark)
    val df = Seq((1L, 5L, 50L), (1L, 3L, 30L), (2L, 9L, 90L)).toDF("key", "ord", "id")
    val got = df.groupBy($"key")
      .agg(call_function("topk_pairs", struct($"ord", $"id"), lit(10)).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getLong(1))).toList).toMap
    assert(got == Map(1L -> List((3L, 30L), (5L, 50L)), 2L -> List((9L, 90L))))
  }
}
