package graft

import graft.functions.{Aggregators, Finance, GeoHash, Generators}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("geohash encode matches public reference vectors") {
    // vectors from the public geohash spec (geohash.org examples)
    val df = Seq(
      (57.64911, 10.40744, "u4pruydq"),
      (48.669, -4.329, "gbsuv7zt"),
      (0.0, 0.0, "s0000000"),
      (-25.382708, -49.265506, "6gkzwgjz")
    ).toDF("lat", "lon", "expect")
    val out = df.withColumn("gh", GeoHash.encode("lat", "lon", 8)).collect()
    out.foreach { r =>
      assert(r.getString(3).startsWith(r.getString(2).take(7)),
        s"(${r.getDouble(0)},${r.getDouble(1)}) → ${r.getString(3)} != ${r.getString(2)}")
    }
    // exact match on full 8 chars for the canonical example
    assert(out(0).getString(3) == "u4pruydq")
  }

  test("geohash within + truncate") {
    val df = Seq((57.64911, 10.40744)).toDF("lat", "lon")
      .withColumn("gh", GeoHash.encode("lat", "lon", 8))
    assert(df.select(GeoHash.within($"gh", "#u4pr")).head().getBoolean(0))
    assert(df.select(GeoHash.truncate($"gh", 4)).head().getString(0) == "u4pr")
  }

  test("haversine distance: Paris to London ~343km") {
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278)).toDF("a", "b", "c", "d")
      .select(GeoHash.distanceMeters($"a", $"b", $"c", $"d")).head().getDouble(0)
    assert(d > 330000 && d < 350000)
  }

  test("l2price sweeps the book in level order") {
    val levels = Seq(
      (1L, 1, 10.0, 100.0), // 10 @ 100
      (1L, 2, 10.0, 101.0), // 10 @ 101
      (1L, 3, 50.0, 105.0), // 5 of 50 @ 105
      (2L, 1, 5.0, 50.0)    // book too thin for 25
    ).toDF("book", "lvl", "sz", "px")
    val out = Finance.l2price(levels, Seq("book"), Seq("lvl"), "sz", "px", 25.0)
      .orderBy($"book").collect()
    assert(out(0).getAs[Double]("l2price") == (10 * 100.0 + 10 * 101.0 + 5 * 105.0) / 25.0)
    assert(out(1).isNullAt(out(1).fieldIndex("l2price"))) // unfillable → null
  }

  test("generators are deterministic and in range") {
    val g = Generators.timestampSequence(spark, 1704067200000000L, 1000000L, 100)
      .withColumn("rd", Generators.rndDouble("x", "seed"))
      .withColumn("ri", Generators.rndInt("x", "seed2", 5, 9))
    val rows = g.collect()
    assert(rows.length == 100)
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))
    assert(rows.forall(r => r.getInt(3) >= 5 && r.getInt(3) <= 9))
    // stable across evaluations
    val again = g.collect()
    assert(rows.map(_.getDouble(2)).toSeq == again.map(_.getDouble(2)).toSeq)
  }

  test("native GeoHashEncodeExpr matches the closed-form SQL lowering") {
    Engine.ensureFunctions(spark)
    val df = Tables.events(spark, sfDir).limit(200)
      .withColumn("lat", $"value" / 490.0 * 170.0 - 85.0)
      .withColumn("lon", ($"event_id" % 360).cast("double") - 179.5)
      .select(
        graft.functions.GeoHashEncodeExpr.geohash("lat", "lon", 8).as("native"),
        GeoHash.encode("lat", "lon", 8).as("closed"))
    assert(df.filter($"native" =!= $"closed").count() == 0)
    // known vector through the SQL surface
    val v = spark.sql("SELECT geohash_encode(57.64911D, 10.40744D, 8) AS g").head().getString(0)
    assert(v == "u4pruydq")
  }

  test("finance quote functions") {
    val r = Seq((99.0, 101.0, 3.0, 1.0)).toDF("bid", "ask", "bsz", "asz")
      .select(
        Finance.mid($"bid", $"ask"),
        Finance.spread($"bid", $"ask"),
        Finance.spreadBps($"bid", $"ask"),
        Finance.wmid($"bsz", $"bid", $"ask", $"asz")).head()
    assert(r.getDouble(0) == 100.0 && r.getDouble(1) == 2.0)
    assert(math.abs(r.getDouble(2) - 200.0) < 1e-9)
    assert(r.getDouble(3) == (99.0 * 1.0 + 101.0 * 3.0) / 4.0)
  }

  test("HyperLogLog sketch: accuracy within 3σ, partition-invariant, null-safe") {
    val n = 50000
    val df = spark.range(n.toLong)
      .select(($"id" % 9973).cast("string").as("s")) // 9973 distinct values
    val est = df.agg(Aggregators.approxCountDistinct($"s").as("c")).head().getLong(0)
    // p=14 → σ ≈ 1.04/√16384 ≈ 0.81%; 3σ ≈ 2.5%
    assert(math.abs(est - 9973.0) / 9973.0 < 0.025, s"HLL estimate $est vs 9973")
    // merge must be associative/commutative: any repartitioning → same registers
    for (parts <- Seq(1, 7, 32)) {
      val e2 = df.repartition(parts)
        .agg(Aggregators.approxCountDistinct($"s")).head().getLong(0)
      assert(e2 == est, s"partition-dependent HLL: $e2 != $est at $parts")
    }
    // nulls are not counted (QuestDB count_distinct semantics)
    val withNulls = df.select(when($"s" === "0", lit(null)).otherwise($"s").as("s"))
    val e3 = withNulls.agg(Aggregators.approxCountDistinct($"s")).head().getLong(0)
    assert(math.abs(e3 - 9972.0) / 9972.0 < 0.025)
    // low cardinality → linear counting range → exact
    val small = spark.range(100).select(($"id" % 17).cast("string").as("s"))
    assert(small.agg(Aggregators.approxCountDistinct($"s")).head().getLong(0) == 17L)
  }

  test("ApproxPercentile sketch: relative error bound, partition-invariant") {
    val df = spark.range(100000).select((($"id" + 1).cast("double") / 7.0).as("v"))
    val Seq(p50, p99) = Seq(0.5, 0.99).map { p =>
      df.agg(Aggregators.approxPercentile($"v", p).as("q")).head().getDouble(0)
    }
    val exact50 = df.agg(expr("percentile(v, 0.5)")).head().getDouble(0)
    val exact99 = df.agg(expr("percentile(v, 0.99)")).head().getDouble(0)
    // 10 sub-bucket bits → relative error ≤ 2^-10 ≈ 0.1%
    assert(math.abs(p50 - exact50) / exact50 < 2e-3, s"$p50 vs $exact50")
    assert(math.abs(p99 - exact99) / exact99 < 2e-3, s"$p99 vs $exact99")
    for (parts <- Seq(1, 13)) {
      val q2 = df.repartition(parts)
        .agg(Aggregators.approxPercentile($"v", 0.5)).head().getDouble(0)
      assert(q2 == p50, "partition-dependent percentile sketch")
    }
    // negative values sort below positives through the sign-preserved key
    val neg = Seq(-100.0, -1.0, 1.0, 100.0).toDF("v")
    val q = neg.agg(Aggregators.approxPercentile($"v", 0.25)).head().getDouble(0)
    assert(q < -0.9 && q > -110.0, s"quartile of mixed signs: $q")
  }
}
