package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Finance, Generators, GeoHash, Long256Bin, Long256Ops}

/** Long-tail surface: generators (long_sequence / timestamp_sequence /
  * rnd_*), finance (mid/spread/wmid/l2price), geohash family, IPv4 ops,
  * LIMIT lo,-hi slices, lateral joins, and the QuestDB SQL dialect
  * exercised end-to-end through the oracle gate.
  */
object ExtrasQueries extends QueryPack {

  private val START_US = 1704067200000000L // 2024-01-01 UTC

  def queries: Map[String, Fn] = Map(
    "q_generators" -> ((s, dir) => {
      Generators.timestampSequence(s, START_US, 60000000L, 1000)
        .withColumn("rd", round(Generators.rndDouble("x", "d"), 9))
        .withColumn("ri", Generators.rndInt("x", "i", 0, 99))
        .withColumn("sym", Generators.rndSymbol("x", "s", Seq("AA", "BB", "CC")))
        .withColumn("rb", Generators.rndBoolean("x", "b"))
        .withColumn("rdate", Generators.rndDate("x", "t", "2024-01-01", 365))
        .withColumn("ruuid", Generators.rndUuid4("x", "u"))
        .withColumn("rstr", Generators.rndStr("x", "z", 4, 12))
        .orderBy(col("x"))
    }),

    "q_generators2" -> ((s, dir) => {
      // rnd_* long tail: byte/short/long/char/float, long256, bin,
      // timestamp, ipv4, weighted + zipf symbols, double arrays
      Generators.longSequence(s, 500)
        .withColumn("rb", Generators.rndByte("x", "by").cast("int"))
        .withColumn("rs", Generators.rndShort("x", "sh").cast("int"))
        .withColumn("rl", Generators.rndLong("x", "lg", -1000000L, 1000000L))
        .withColumn("rc", Generators.rndChar("x", "ch"))
        .withColumn("rf", Generators.rndFloat("x", "fl"))
        .withColumn("h256", Generators.rndLong256("x", "l2"))
        .withColumn("rbin_hex", lower(hex(Generators.rndBin("x", "bn", 4, 12))))
        .withColumn("rts", Generators.rndTimestamp("x", "tsr", START_US, START_US + 30L * 86400000000L))
        .withColumn("rip", Generators.rndIpv4("x", "ip"))
        .withColumn("wsym", Generators.rndSymbolWeighted("x", "ws",
          Seq("hot", "warm", "cold"), Seq(6.0, 3.0, 1.0)))
        .withColumn("zsym", Generators.rndSymbolZipf("x", "zs",
          Seq("a", "b", "c", "d", "e"), 1.0))
        .withColumn("arr_sum", aggregate(Generators.rndDoubleArray("x", "da", 4),
          lit(0.0), (acc, v) => acc + v))
        .orderBy(col("x"))
    }),

    "q_l2price" -> ((s, dir) => {
      Finance.l2price(Tables.load(s, dir, "lineitem"),
        Seq("l_orderkey"), Seq("l_linenumber", "l_extendedprice", "l_quantity"),
        "l_quantity", "l_extendedprice", 60.0)
        .orderBy(col("l_orderkey"))
    }),

    "q_finance_quotes" -> ((s, dir) => {
      Tables.events(s, dir).filter(col("event_id") < 2000)
        .select(col("event_id"),
          col("value").as("bid"),
          (col("value") * 1.001 + 0.05).as("ask"),
          (col("user_id") + 1).cast("double").as("bid_sz"),
          (col("user_id") % 7 + 1).cast("double").as("ask_sz"))
        .select(col("event_id"),
          Finance.mid(col("bid"), col("ask")).as("mid"),
          Finance.spread(col("bid"), col("ask")).as("spread"),
          Finance.spreadBps(col("bid"), col("ask")).as("spread_bps"),
          Finance.wmid(col("bid_sz"), col("bid"), col("ask"), col("ask_sz")).as("wmid"))
        .orderBy(col("event_id"))
    }),

    "q_geohash" -> ((s, dir) => {
      Tables.events(s, dir).filter(col("event_id") < 2000)
        .withColumn("lat", col("value") / 490.0 * 170.0 - 85.0)
        .withColumn("lon", (col("event_id") % 360).cast("double") - 179.5)
        .select(col("event_id"),
          GeoHash.encode("lat", "lon", 8).as("gh8"),
          GeoHash.truncate(GeoHash.encode("lat", "lon", 8), 4).as("gh4"),
          GeoHash.within(GeoHash.encode("lat", "lon", 8), "u").as("in_u"),
          round(GeoHash.distanceMeters(col("lat"), col("lon"), lit(0.0), lit(0.0)), 4).as("dist_m"))
        .orderBy(col("event_id"))
    }),

    "q_ipv4" -> ((s, dir) => {
      Tables.events(s, dir).filter(col("event_id") < 2000)
        .withColumn("ip", pmod(col("event_id") * lit(2654435761L), lit(4294967296L)))
        .select(col("event_id"),
          concat_ws(".",
            shiftright(col("ip"), 24) % 256, shiftright(col("ip"), 16) % 256,
            shiftright(col("ip"), 8) % 256, col("ip") % 256).as("dotted"),
          (col("ip").bitwiseAND(lit(4294901760L))).as("net16"),
          (col("ip") % 65536).as("host16"),
          (col("ip").bitwiseAND(lit(4294901760L)) === lit(2712797184L)).as("in_subnet"))
        .orderBy(col("event_id"))
    }),

    "q_limit_range" -> ((s, dir) => {
      graft.ops.Limits.range(
        Tables.events(s, dir).select("event_id", "ts"),
        100, -100, Seq(col("ts"), col("event_id")))
    }),

    "q_lateral" -> ((s, dir) => {
      Tables.load(s, dir, "region").createOrReplaceTempView("region_v")
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT r.r_name, l.n_name
          |FROM region_v r,
          |LATERAL (SELECT n_name FROM nation_v WHERE n_regionkey = r.r_regionkey
          |         ORDER BY n_name LIMIT 2) l
          |ORDER BY r_name, n_name""".stripMargin)
    }),

    "q_sql_interval_scan" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.sql.QuestSql.sql(s,
        "SELECT event_id, ts, value FROM events WHERE ts IN '2024-01-15' ORDER BY event_id")
    }),

    "q_sql_latest_on" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.sql.QuestSql.sql(s,
        "SELECT user_id, ts, value FROM events WHERE event_type = 'view' LATEST ON ts PARTITION BY user_id ORDER BY user_id")
    }),

    "q_sql_sample_by" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.sql.QuestSql.sql(s,
        "SELECT event_type, ts, count(*) AS n FROM events SAMPLE BY 1d ORDER BY event_type, ts")
    }),

    "q_decimal256" -> ((s, dir) => {
      // DECIMAL256 arithmetic past DecimalType(38): operands are
      // d × 10^40 built per row; the oracle states each result by
      // string construction (algebraic identities), the engine computes
      // it through the 256-bit BigDecimal expressions
      graft.Engine.ensureFunctions(s)
      import graft.functions.{Decimal256Ops => D}
      val id = col("event_id")
      val d = (id % 9 + 1).cast("string")
      val a = concat(d, lit("0" * 30)) // d × 10^30 — 31 digits, past Decimal(38) squared
      Tables.events(s, dir).filter(id < 500)
        .select(
          id.as("event_id"),
          D.add(a, a).as("dsum"),
          D.mul(a, a).as("dprod"), // d² × 10^60: 61+ digits, needs 256-bit
          D.sub(a, lit("1")).as("dsub"),
          D.div(a, lit("3"), lit(5)).as("ddiv"),
          D.round(concat(a, lit(".5")), lit(0)).as("dround"),
          D.neg(a).as("dneg"),
          D.sign(D.neg(a)).as("dsign"),
          // d³ × 10^60: 61+ digits, deep past Decimal(38) but inside the
          // 255-bit coefficient bound (overflow now THROWS per reference
          // NumericException semantics — gated in Long256Spec, not here)
          D.mul(D.mul(a, a), d).as("dcube"))
        .orderBy(id)
    }),

    "q_decimal256_agg" -> ((s, dir) => {
      // decimal256 group-by tier: exact sum / scale-6 avg / numeric
      // min-max over 31-digit values, grouped so the oracle can state
      // every aggregate in closed form
      graft.Engine.ensureFunctions(s)
      val id = col("event_id")
      val d = (id % 9 + 1)
      val a = concat(d.cast("string"), lit("0" * 30))
      Tables.events(s, dir).filter(id < 500)
        .select(d.cast("int").as("d"), a.as("v"),
          // mixed-magnitude second column: (d + id%4) × 10^30
          concat((d + id % 4).cast("string"), lit("0" * 30)).as("w"))
        .groupBy(col("d"))
        .agg(
          count(lit(1)).as("n"),
          call_function("decimal256_sum", col("v")).as("dsum"),
          call_function("decimal256_avg", col("v")).as("davg"),
          call_function("decimal256_min", col("w")).as("dmin"),
          call_function("decimal256_max", col("w")).as("dmax"))
        .orderBy(col("d"))
    }),

    "q_long256" -> ((s, dir) => {
      // LONG256 surface: to_long256 construction, long→long256 cast,
      // native wrap-around add (carry across limbs), display trim, eq.
      // castToLong256(-1) is the all-ones low limb, so +(id+1) carries
      // into limb 1 — exercising the chain the hex concat can't express
      graft.Engine.ensureFunctions(s)
      val id = col("event_id")
      val h = Long256Ops.toLong256(id, id * 3 + 1, lit(0L), lit(0L))
      Tables.events(s, dir).filter(id < 1000)
        .select(
          id.as("event_id"),
          h.as("h"),
          Long256Ops.long256Add(
            Long256Ops.castToLong256(lit(-1L)),
            Long256Ops.castToLong256(id + 1)).as("sum_carry"),
          Long256Ops.long256Add(h, Long256Ops.castToLong256(lit(5L))).as("sum_small"),
          Long256Ops.long256Str(h).as("disp"),
          (h === Long256Ops.toLong256(id, id * 3 + 1, lit(0L), lit(0L))).cast("int").as("eq"))
        .orderBy(id)
    }),

    "q_long256_typed" -> ((s, dir) => {
      // typed LONG256 tier (32-byte big-endian binary): construction,
      // hex round-trip, wrap-around add with cross-limb carry, bitwise
      // and/or/xor/not, and native binary comparison (lexicographic =
      // unsigned numeric). Results project through long256_bin_hex so
      // the oracle compares canonical hex.
      graft.Engine.ensureFunctions(s)
      val id = col("event_id")
      val h = Long256Bin.toLong256Bin(id, id * 3 + 1, lit(0L), lit(0L))
      val mask = Long256Bin.toLong256Bin(
        lit(0x0f0f0f0f0f0f0f0fL), lit(0x0f0f0f0f0f0f0f0fL), lit(0L), lit(0L))
      val hx = Long256Bin.long256BinHex(h)
      Tables.events(s, dir).filter(id < 1000)
        .select(
          id.as("event_id"),
          hx.as("hx"),
          Long256Bin.long256BinHex(Long256Bin.long256BinAdd(
            Long256Bin.castToLong256Bin(lit(-1L)),
            Long256Bin.castToLong256Bin(id + 1))).as("sum_carry"),
          Long256Bin.long256BinHex(Long256Bin.long256BinAnd(h, mask)).as("band"),
          Long256Bin.long256BinHex(Long256Bin.long256BinOr(h, mask)).as("bor"),
          Long256Bin.long256BinHex(Long256Bin.long256BinXor(h, mask)).as("bxor"),
          Long256Bin.long256BinHex(Long256Bin.long256BinNot(h)).as("bnot"),
          // native BinaryType comparison: xor vs and of the same value
          (Long256Bin.long256BinXor(h, mask) < Long256Bin.long256BinAnd(h, mask))
            .cast("int").as("ltv"),
          // hex → typed → hex round trip is the identity
          (Long256Bin.long256Bin(hx) === h).cast("int").as("rt"))
        .orderBy(id)
    }),

    "q_long256_typed_agg" -> ((s, dir) => {
      // typed LONG256 group-by tier: wrap-around sum (carry past the
      // low limb via the 2^63 + id construction), native binary
      // min/max (unsigned numeric order), cross-limb max, and
      // count_distinct on binary — no custom code for the latter three.
      graft.Engine.ensureFunctions(s)
      val id = col("event_id")
      val d = (id % 7).cast("int")
      val h = Long256Bin.toLong256Bin(lit(Long.MinValue) + id, lit(0L), lit(0L), lit(0L))
      val h2 = Long256Bin.toLong256Bin(lit(9999L) - id, id % 5, lit(0L), lit(0L))
      Tables.events(s, dir).filter(id < 1000)
        .select(id.as("event_id"), d.as("d"), h.as("h"), h2.as("h2"),
          Long256Bin.toLong256Bin(id % (d + 2), lit(0L), lit(0L), lit(0L)).as("hr"))
        .groupBy(col("d"))
        .agg(
          count(lit(1)).as("n"),
          Long256Bin.long256BinHex(Long256Bin.long256BinSum(col("h"))).as("s"),
          Long256Bin.long256BinHex(min(col("h"))).as("mn"),
          Long256Bin.long256BinHex(max(col("h"))).as("mx"),
          Long256Bin.long256BinHex(max(col("h2"))).as("mx2"),
          countDistinct(col("hr")).as("cd"))
        .orderBy(col("d"))
    }),
  )

  private def rndSql(seed: String, counter: String): String =
    rndSqlExpr(seed, s"CAST($counter AS VARCHAR)")

  private def rndSqlExpr(seed: String, counterExpr: String): String = {
    val terms = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substring(md5('$seed' || $counterExpr), $i, 1)) - 1) * ${math.pow(16.0, 8 - i)}"
    }
    s"((${terms.mkString(" + ")}) / ${math.pow(16.0, 8)})"
  }

  def oracles: Map[String, String] = Map(
    "q_decimal256_agg" ->
      """WITH p AS (
        |  SELECT event_id, CAST(event_id % 9 + 1 AS INT) AS d FROM events
        |  WHERE event_id < 500)
        |SELECT d, count(*) AS n,
        |  CAST(count(*) * d AS VARCHAR) || repeat('0', 30) AS dsum,
        |  CAST(d AS VARCHAR) || repeat('0', 30) || '.000000' AS davg,
        |  CAST(d AS VARCHAR) || repeat('0', 30) AS dmin,
        |  CAST(d + 3 AS VARCHAR) || repeat('0', 30) AS dmax
        |FROM p GROUP BY d ORDER BY d""".stripMargin,

    "q_decimal256" ->
      """WITH p AS (
        |  SELECT event_id, CAST(event_id % 9 + 1 AS INT) AS d FROM events
        |  WHERE event_id < 500),
        |q AS (SELECT event_id, d, d // 3 AS qt, d % 3 AS r FROM p)
        |SELECT event_id,
        |  CAST(2 * d AS VARCHAR) || repeat('0', 30) AS dsum,
        |  CAST(d * d AS VARCHAR) || repeat('0', 60) AS dprod,
        |  CASE WHEN d = 1 THEN repeat('9', 30)
        |       ELSE CAST(d - 1 AS VARCHAR) || repeat('9', 30) END AS dsub,
        |  CASE WHEN r = 0 THEN CAST(qt AS VARCHAR) || repeat('0', 30) || '.00000'
        |       WHEN r = 1 AND qt = 0 THEN repeat('3', 30) || '.33333'
        |       WHEN r = 1 THEN CAST(qt AS VARCHAR) || repeat('3', 30) || '.33333'
        |       WHEN qt = 0 THEN repeat('6', 30) || '.66667'
        |       ELSE CAST(qt AS VARCHAR) || repeat('6', 30) || '.66667' END AS ddiv,
        |  CAST(d AS VARCHAR) || repeat('0', 29) || '1' AS dround,
        |  '-' || CAST(d AS VARCHAR) || repeat('0', 30) AS dneg,
        |  '-1' AS dsign,
        |  CAST(d * d * d AS VARCHAR) || repeat('0', 60) AS dcube
        |FROM q ORDER BY event_id""".stripMargin,

    "q_long256" ->
      """WITH e AS (SELECT event_id FROM events WHERE event_id < 1000),
        |h AS (
        |  SELECT event_id,
        |    repeat('0', 32) || printf('%016x', event_id * 3 + 1)
        |      || printf('%016x', event_id) AS hx
        |  FROM e)
        |SELECT event_id,
        |  '0x' || hx AS h,
        |  '0x' || repeat('0', 32) || printf('%016x', 1) || printf('%016x', event_id) AS sum_carry,
        |  '0x' || repeat('0', 32) || printf('%016x', event_id * 3 + 1)
        |    || printf('%016x', event_id + 5) AS sum_small,
        |  CASE WHEN ltrim(hx, '0') = '' THEN '0x00'
        |       WHEN len(ltrim(hx, '0')) % 2 = 1 THEN '0x0' || ltrim(hx, '0')
        |       ELSE '0x' || ltrim(hx, '0') END AS disp,
        |  1 AS eq
        |FROM h ORDER BY event_id""".stripMargin,

    "q_long256_typed" ->
      """WITH e AS (SELECT event_id, event_id * 3 + 1 AS l1 FROM events WHERE event_id < 1000),
        |c AS (
        |  SELECT event_id,
        |    '0x' || repeat('0', 32) || printf('%016x', l1) || printf('%016x', event_id) AS hx,
        |    '0x' || repeat('0', 32) || printf('%016x', 1) || printf('%016x', event_id) AS sum_carry,
        |    '0x' || repeat('0', 32) || printf('%016x', l1 & 1085102592571150095)
        |      || printf('%016x', event_id & 1085102592571150095) AS band,
        |    '0x' || repeat('0', 32) || printf('%016x', l1 | 1085102592571150095)
        |      || printf('%016x', event_id | 1085102592571150095) AS bor,
        |    '0x' || repeat('0', 32) || printf('%016x', xor(l1, 1085102592571150095))
        |      || printf('%016x', xor(event_id, 1085102592571150095)) AS bxor,
        |    '0x' || repeat('f', 32) || repeat('f', 12) || printf('%04x', 65535 - l1)
        |      || repeat('f', 12) || printf('%04x', 65535 - event_id) AS bnot
        |  FROM e)
        |SELECT event_id, hx, sum_carry, band, bor, bxor, bnot,
        |  CAST(bxor < band AS INT) AS ltv, 1 AS rt
        |FROM c ORDER BY event_id""".stripMargin,

    "q_long256_typed_agg" ->
      """WITH e AS (SELECT event_id, CAST(event_id % 7 AS INT) AS d
        |  FROM events WHERE event_id < 1000)
        |SELECT d, count(*) AS n,
        |  '0x' || repeat('0', 32) || printf('%016x', count(*) // 2) ||
        |    CASE WHEN count(*) % 2 = 1
        |         THEN '8' || printf('%015x', CAST(sum(event_id) AS BIGINT))
        |         ELSE printf('%016x', CAST(sum(event_id) AS BIGINT)) END AS s,
        |  '0x' || repeat('0', 48) || '8' || printf('%015x', min(event_id)) AS mn,
        |  '0x' || repeat('0', 48) || '8' || printf('%015x', max(event_id)) AS mx,
        |  '0x' || repeat('0', 32)
        |    || printf('%016x', max_by(event_id, (event_id % 5) * 4294967296 + 9999 - event_id) % 5)
        |    || printf('%016x', 9999 - max_by(event_id, (event_id % 5) * 4294967296 + 9999 - event_id)) AS mx2,
        |  count(DISTINCT event_id % (d + 2)) AS cd
        |FROM e GROUP BY d ORDER BY d""".stripMargin,
    "q_generators" -> {
      val rd = rndSql("d", "x")
      val ri = rndSql("i", "x")
      val sy = rndSql("s", "x")
      val rb = rndSql("b", "x")
      val rt = rndSql("t", "x")
      val rl = rndSql("z_len", "x")
      s"""SELECT x, make_timestamp($START_US + (x - 1) * 60000000) AS ts,
         |  round($rd, 9) AS rd,
         |  CAST(floor($ri * 100) + 0 AS INT) AS ri,
         |  (['AA', 'BB', 'CC'])[CAST(floor($sy * 3) + 1 AS INT)] AS sym,
         |  ($rb) < 0.5 AS rb,
         |  DATE '2024-01-01' + CAST(floor($rt * 365) + 0 AS INT) AS rdate,
         |  substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-4' || substring(h, 14, 3)
         |    || '-8' || substring(h, 18, 3) || '-' || substring(h, 21, 12) AS ruuid,
         |  substring(md5('z_s' || CAST(x AS VARCHAR)), 1, CAST(floor($rl * 9) + 4 AS INT)) AS rstr
         |FROM (SELECT x, md5('u' || CAST(x AS VARCHAR)) AS h
         |      FROM generate_series(1, 1000) t(x)) ORDER BY x""".stripMargin
    },

    "q_generators2" -> {
      def u(seed: String, counter: String = "x") = rndSqlExpr(seed, s"CAST($counter AS VARCHAR)")
      // identical Scala arithmetic to the Spark-side thresholds → same doubles
      def cum(ws: Seq[Double]) = { val t = ws.sum; ws.scanLeft(0.0)(_ + _).tail.map(_ / t) }
      val w = cum(Seq(6.0, 3.0, 1.0))
      val z = cum(Seq(1.0, 1.0 / 2, 1.0 / 3, 1.0 / 4, 1.0 / 5))
      val arrTerms = (1 to 4)
        .map(i => rndSqlExpr("da", s"CAST(x AS VARCHAR) || '_' || CAST($i AS VARCHAR)"))
        .mkString(" + ")
      s"""SELECT x,
         |  CAST(floor(${u("by")} * 256) - 128 AS INT) AS rb,
         |  CAST(floor(${u("sh")} * 65536) - 32768 AS INT) AS rs,
         |  CAST(floor(${u("lg")} * 2000001.0) - 1000000 AS BIGINT) AS rl,
         |  substring('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(floor(${u("ch")} * 26) + 1 AS INT), 1) AS rc,
         |  CAST(${u("fl")} AS FLOAT) AS rf,
         |  '0x' || md5('l2_a' || CAST(x AS VARCHAR)) || md5('l2_b' || CAST(x AS VARCHAR)) AS h256,
         |  substring(md5('bn_p' || CAST(x AS VARCHAR)) || md5('bn_q' || CAST(x AS VARCHAR)),
         |    1, CAST((floor(${u("bn_n")} * 9) + 4) * 2 AS INT)) AS rbin_hex,
         |  make_timestamp(CAST(floor(${u("tsr")} * ${30L * 86400000000L}.0) + $START_US AS BIGINT)) AS rts,
         |  CAST((ip >> 24) % 256 AS VARCHAR) || '.' || CAST((ip >> 16) % 256 AS VARCHAR)
         |    || '.' || CAST((ip >> 8) % 256 AS VARCHAR) || '.' || CAST(ip % 256 AS VARCHAR) AS rip,
         |  CASE WHEN ${u("ws")} < CAST(${w(0)} AS DOUBLE) THEN 'hot'
         |       WHEN ${u("ws")} < CAST(${w(1)} AS DOUBLE) THEN 'warm' ELSE 'cold' END AS wsym,
         |  CASE WHEN ${u("zs")} < CAST(${z(0)} AS DOUBLE) THEN 'a'
         |       WHEN ${u("zs")} < CAST(${z(1)} AS DOUBLE) THEN 'b'
         |       WHEN ${u("zs")} < CAST(${z(2)} AS DOUBLE) THEN 'c'
         |       WHEN ${u("zs")} < CAST(${z(3)} AS DOUBLE) THEN 'd' ELSE 'e' END AS zsym,
         |  $arrTerms AS arr_sum
         |FROM (SELECT x, CAST(floor(${u("ip")} * 4294967296.0) AS BIGINT) AS ip
         |      FROM generate_series(1, 500) t(x))
         |ORDER BY x""".stripMargin
    },

    "q_l2price" ->
      """WITH lv AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice,
        |    sum(l_quantity) OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_extendedprice, l_quantity
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM lineitem),
        |f AS (SELECT l_orderkey,
        |        greatest(least(l_quantity, 60.0 - (cum - l_quantity)), 0.0) AS fill,
        |        l_extendedprice AS p FROM lv)
        |SELECT l_orderkey,
        |  CAST(sum(CAST(fill AS DECIMAL(24,6))) AS DOUBLE) AS filled,
        |  CASE WHEN CAST(sum(CAST(fill AS DECIMAL(24,6))) AS DOUBLE) >= 60.0
        |       THEN CAST(sum(CAST(fill * p AS DECIMAL(28,6))) AS DOUBLE) / 60.0 END AS l2price
        |FROM f GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_finance_quotes" ->
      """SELECT event_id,
        |  (bid + ask) / 2.0 AS mid,
        |  ask - bid AS spread,
        |  (ask - bid) / ((bid + ask) / 2.0) * 10000.0 AS spread_bps,
        |  (bid * ask_sz + ask * bid_sz) / (bid_sz + ask_sz) AS wmid
        |FROM (SELECT event_id, value AS bid, value * 1.001 + 0.05 AS ask,
        |        CAST(user_id + 1 AS DOUBLE) AS bid_sz,
        |        CAST(user_id % 7 + 1 AS DOUBLE) AS ask_sz
        |      FROM events WHERE event_id < 2000)
        |ORDER BY event_id""".stripMargin,

    "q_geohash" -> {
      val lat = "(value / 490.0 * 170.0 - 85.0)"
      val lon = "(CAST(event_id % 360 AS DOUBLE) - 179.5)"
      val gh8 = GeoHash.encodeSql(lat, lon, 8, forDuck = true)
      s"""SELECT event_id,
         |  $gh8 AS gh8,
         |  substring($gh8, 1, 4) AS gh4,
         |  starts_with($gh8, 'u') AS in_u,
         |  round(2 * 6371008.8 * asin(sqrt(
         |    pow(sin(radians(0.0 - $lat) / 2), 2)
         |    + cos(radians($lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - $lon) / 2), 2))), 4) AS dist_m
         |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin
    },

    "q_ipv4" ->
      """SELECT event_id,
        |  CAST((ip >> 24) % 256 AS VARCHAR) || '.' || CAST((ip >> 16) % 256 AS VARCHAR)
        |    || '.' || CAST((ip >> 8) % 256 AS VARCHAR) || '.' || CAST(ip % 256 AS VARCHAR) AS dotted,
        |  ip & 4294901760 AS net16,
        |  ip % 65536 AS host16,
        |  (ip & 4294901760) = 2712797184 AS in_subnet
        |FROM (SELECT event_id, (event_id * 2654435761) % 4294967296 AS ip
        |      FROM events WHERE event_id < 2000)
        |ORDER BY event_id""".stripMargin,

    "q_limit_range" ->
      """SELECT event_id, ts FROM (
        |  SELECT event_id, ts,
        |    row_number() OVER (ORDER BY ts, event_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM events
        |) WHERE rn > 100 AND rn <= n - 100 ORDER BY ts, event_id""".stripMargin,

    "q_lateral" ->
      """SELECT r.r_name, l.n_name
        |FROM region r,
        |LATERAL (SELECT n_name FROM nation WHERE n_regionkey = r.r_regionkey
        |         ORDER BY n_name LIMIT 2) l
        |ORDER BY r_name, n_name""".stripMargin,

    "q_sql_interval_scan" ->
      """SELECT event_id, ts, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "q_sql_latest_on" ->
      """SELECT user_id, ts, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |  FROM events WHERE event_type = 'view'
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_sql_sample_by" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, ts""".stripMargin
  )
}
