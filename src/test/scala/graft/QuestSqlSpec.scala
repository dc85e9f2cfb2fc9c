package graft

import graft.sql.QuestSql
import org.apache.spark.sql.functions._

class QuestSqlSpec extends SparkSpec {
  lazy val engine: Engine = Engine(spark, sfDir)

  test("DECLARE block: scalars, lists, var-on-var references, prefix-safe names") {
    // expansion is purely textual — check the rewrite directly
    assert(QuestSql.expandDeclare("DECLARE @a := 1 + 2 SELECT @a AS x")
      == "SELECT (1 + 2) AS x")
    assert(QuestSql.expandDeclare("DECLARE @ab := 2, @a := 1 SELECT @ab + @a AS x")
      == "SELECT (2) + (1) AS x") // @a never matches inside @ab
    assert(QuestSql.expandDeclare("DECLARE @lo := 5, @hi := @lo * 2 SELECT @hi AS x")
      == "SELECT ((5) * 2) AS x")
    assert(QuestSql.expandDeclare(
      "DECLARE @syms := ('a', 'b') SELECT * FROM t WHERE s IN @syms")
      == "SELECT * FROM t WHERE s IN ('a', 'b')") // lists stay bare
    // subquery expressions keep their SELECT inside the block
    assert(QuestSql.expandDeclare(
      "DECLARE @m := (SELECT max(v) FROM t) SELECT @m AS x")
      == "SELECT (SELECT max(v) FROM t) AS x")
    // doubled-quote escapes inside string values don't cut the block
    assert(QuestSql.expandDeclare(
      "DECLARE @s := 'it''s select-ish' SELECT @s AS x")
      == "SELECT ('it''s select-ish') AS x")
    // @name inside a string literal of the body is NOT substituted
    assert(QuestSql.expandDeclare(
      "DECLARE @a := 1 SELECT '@a' AS lit, 'it''s @a' AS esc, @a AS x")
      == "SELECT '@a' AS lit, 'it''s @a' AS esc, (1) AS x")
    // end-to-end through the engine
    val r = engine.sql(
      "DECLARE @t := 'view', @n := 3 " +
        "SELECT event_type, count(*) AS c FROM events WHERE event_type = @t " +
        "GROUP BY event_type LIMIT @n").head()
    assert(r.getString(0) == "view" && r.getLong(1) > 0)
  }

  test("TIMESTAMP_NS: ts normalization across parquet spellings; ns scalar fns round-trip") {
    // testdata generations have spelled events.ts three ways —
    // TIMESTAMP(NANOS) (reads as BIGINT under nanosAsLong),
    // isAdjustedToUTC=false micros (reads as TIMESTAMP_NTZ), and plain
    // TIMESTAMP — Tables.load must serve TimestampType for all of them
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val loaded = Tables.load(spark, sfDir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    if (raw.schema("ts").dataType == LongType) {
      // nanos generation: really carries sub-µs residue (the precision
      // DuckDB 1.0 can't see, hence spec-gated here) and load truncates
      // ns→µs exactly like `ts div 1000`
      val subUs = raw.filter(col("ts") % 1000 =!= 0).count()
      assert(subUs > 0, "expected sub-µs digits in events.parquet nanos")
      val viaLoad = loaded.select(unix_micros(col("ts"))).head().getLong(0)
      val viaRaw = raw.select(expr("ts div 1000")).head().getLong(0)
      assert(viaLoad == viaRaw)
    }

    // ns scalar functions: parse → floor → back
    val r = engine.sql(
      "SELECT to_timestamp_ns('2024-01-01 00:00:00.123456789') AS a, " +
        "to_timestamp_ns('2024-01-01 00:00:00') AS b, " +
        "timestamp_ns_floor('1m', to_timestamp_ns('2024-01-01 00:00:59.999999999')) AS f, " +
        "ns_to_timestamp(to_timestamp_ns('2024-01-01 00:00:00.123456789')) AS rt").head()
    assert(r.getLong(0) == 1704067200123456789L)
    assert(r.getLong(1) == 1704067200000000000L)
    assert(r.getLong(2) == 1704067200000000000L)
    assert(r.getTimestamp(3) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456"))
    // now_ns: epoch-scale nanos, sane bounds
    val now = engine.sql("SELECT now_ns() AS n").head().getLong(0)
    assert(now > 1700000000000000000L && now < 4102444800000000000L)
  }

  test("geohash literals (#chars, ##bits) and infix within lower to prefix predicates") {
    // unit rewrites
    assert(QuestSql.rewriteGeoLiterals("WHERE g = #u33d8b12") == "WHERE g = 'u33d8b12'")
    // 01010 = 10 → 'b', 11111 = 31 → 'z'
    assert(QuestSql.rewriteGeoLiterals("WHERE g = ##0101011111") == "WHERE g = 'bz'")
    // inside string literals: untouched
    assert(QuestSql.rewriteGeoLiterals("SELECT '#u33' AS s, #u33 AS g")
      == "SELECT '#u33' AS s, 'u33' AS g")
    assert(QuestSql.rewriteWithin("WHERE g within('u33', 'z1')")
      == "WHERE (startswith(g, 'u33') OR startswith(g, 'z1'))")
    // within_radius etc. must NOT be eaten by the infix rewrite
    val wr = "SELECT within_radius(x, y, 0, 0, 5) AS r"
    assert(QuestSql.rewriteWithin(wr) == wr)
    // sub-char bit precision keeps the BIT-string spelling (bit-typed
    // geohash columns print binary — reference geohash(7b) within
    // ##111111 is a bit-prefix predicate)
    assert(QuestSql.rewriteGeoLiterals("WHERE g within(##0101)")
      == "WHERE g within('0101')")
    // end-to-end: geohash column + within over # literals
    val r = engine.sql(
      "SELECT count(*) AS n FROM (SELECT geohash_encode(lat, lon, 4) AS g " +
        "FROM (SELECT CAST(48.8584 AS DOUBLE) AS lat, CAST(2.2945 AS DOUBLE) AS lon)) " +
        "WHERE g within(#u09, #zzz)")
      .head()
    assert(r.getLong(0) == 1L) // Eiffel Tower geohash u09t... matches prefix u09
  }

  test("implicit GROUP BY: bare columns beside aggregates auto-group (reference idiom)") {
    val got = engine.sql(
      "SELECT event_type, count(*) AS n, round(avg(value), 3) AS a FROM events " +
        "ORDER BY event_type LIMIT 3").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = engine.sql(
      "SELECT event_type, count(*) AS n, round(avg(value), 3) AS a FROM events " +
        "GROUP BY event_type ORDER BY event_type LIMIT 3").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want))
    // two bare columns accumulate across retries
    val two = engine.sql(
      "SELECT event_type, user_id % 2 AS par, count(*) AS n FROM events " +
        "WHERE user_id < 20 ORDER BY event_type, par").collect()
    val twoWant = engine.sql(
      "SELECT event_type, user_id % 2 AS par, count(*) AS n FROM events " +
        "WHERE user_id < 20 GROUP BY event_type, user_id % 2 ORDER BY event_type, par").collect()
    assert(two.nonEmpty && two.sameElements(twoWant))
    // a real analysis error (explicit GROUP BY present) still surfaces
    intercept[org.apache.spark.sql.AnalysisException] {
      engine.sql("SELECT event_type, user_id, count(*) FROM events GROUP BY event_type")
        .collect()
    }
  }

  test("bare-table shorthand: SELECT * FROM is optional (reference idiom)") {
    assert(engine.sql("events").columns.sameElements(
      engine.sql("SELECT * FROM events").columns))
    assert(engine.sql("events WHERE user_id < 5 LIMIT 7").count() == 7)
    // composes with dialect tails: LATEST ON over the bare table
    val latest = engine.sql("events LATEST ON ts PARTITION BY user_id").count()
    assert(latest == engine.sql(
      "SELECT * FROM events LATEST ON ts PARTITION BY user_id").count())
    // a non-table first word still errors as SQL, not as a table read
    intercept[Exception] { engine.sql("selecct 1").collect() }
  }

  test("reference agg spellings: count(), count_distinct, ts-ordered first/last") {
    val r = engine.sql(
      "SELECT event_type, count() AS n, count_distinct(user_id) AS u, " +
        "first(value) AS f, last(value) AS l, " +
        "first_not_null(CASE WHEN value > 100 THEN value END) AS fnn " +
        "FROM events WHERE user_id < 10 ORDER BY event_type").collect()
    val want = engine.sql(
      "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS u, " +
        "min_by(value, ts) AS f, max_by(value, ts) AS l, " +
        "min_by(CASE WHEN value > 100 THEN value END, " +
        "  CASE WHEN (CASE WHEN value > 100 THEN value END) IS NOT NULL THEN ts END) AS fnn " +
        "FROM events WHERE user_id < 10 GROUP BY event_type ORDER BY event_type").collect()
    assert(r.nonEmpty && r.sameElements(want))
    // multi-arg and underscore-prefixed names stay untouched
    assert(engine.sql("SELECT count(DISTINCT event_type) AS c FROM events")
      .head().getLong(0) > 0)
  }

  test("IMMEDIATE mat view serves pinned rows; dirty ranges splice incrementally") {
    engine.sql("CREATE TABLE mvi_base AS (SELECT ts, user_id, value FROM events " +
      "WHERE event_id < 2000) TIMESTAMP(ts)")
    engine.sql("CREATE MATERIALIZED VIEW mvi_daily REFRESH IMMEDIATE AS " +
      "(SELECT ts, count(*) AS n, sum(value) AS s FROM mvi_base SAMPLE BY 1d)")
    val before = engine.sql("SELECT ts, n FROM mvi_daily ORDER BY ts").collect()
    assert(before.nonEmpty)
    // a ranged INSERT marks one day dirty; the next read splices only
    // that bucket and the counts reflect it
    engine.sql("INSERT INTO mvi_base (ts, user_id, value) VALUES " +
      "('2024-01-05T01:00:00.000000Z', 999, 42.0)")
    val after = engine.sql("SELECT ts, n FROM mvi_daily ORDER BY ts").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val day = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val beforeMap = before.map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(after(day) == beforeMap.getOrElse(day, 0L) + 1)
    assert((after - day) == (beforeMap - day)) // untouched buckets identical
    // serving is MATERIALIZED: a base mutation the dialect never saw
    // (no dirty marker) must NOT appear — reads serve the pinned store
    // instead of re-running the defining query over the base
    spark.table("mvi_base").limit(0).createOrReplaceTempView("mvi_base")
    val again = engine.sql("SELECT ts, n FROM mvi_daily ORDER BY ts").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(again == after)
    engine.sql("DROP MATERIALIZED VIEW mvi_daily")
    engine.sql("DROP TABLE mvi_base")
  }

  test("glob / timestamp_shuffle / pg_postmaster_start_time") {
    val g = engine.sql(
      "SELECT glob(event_type, 'cl*') AS a, glob(event_type, 'c???k') AS b, " +
        "glob(event_type, 'x*') AS c FROM events WHERE event_type = 'click' LIMIT 1").head()
    assert(g.getBoolean(0) && g.getBoolean(1) && !g.getBoolean(2))
    val ts = engine.sql(
      "SELECT timestamp_shuffle('2024-01-01', '2024-01-02') AS t").head().getTimestamp(0)
    assert(!ts.before(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) &&
      ts.before(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    val st = engine.sql("SELECT pg_postmaster_start_time() AS t").head().getTimestamp(0)
    assert(st.getTime <= System.currentTimeMillis())
  }

  test("interval(lo, hi) struct + interval_start/end extraction") {
    val r = engine.sql(
      "SELECT interval_start(interval('2024-01-01', '2024-01-02')) AS lo, " +
        "interval_end(interval('2024-01-01', '2024-01-02')) AS hi").head()
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
  }

  test("ILP ingest preserves wire nanos in ts_ns alongside the µs designated ts") {
    val dir = java.nio.file.Files.createTempDirectory("ilp_ns").toString
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    graft.streaming.IlpApply.applyLines(spark,
      Seq("nstr,sym=A price=1.0 1704067200123456789",
        "nstr,sym=B price=2.0 1704067201000000001"),
      dir, 1L, Nil, seq)
    val rows = spark.sql("SELECT sym, CAST(ts AS STRING) AS t, ts_ns FROM nstr ORDER BY sym")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows(0) == (("A", "2024-01-01 00:00:00.123456", 1704067200123456789L)))
    assert(rows(1) == (("B", "2024-01-01 00:00:01", 1704067201000000001L)))
    // non-ns precision rescales the nanos too (ms → ns)
    graft.streaming.IlpApply.applyLines(spark,
      Seq("nstr2,sym=C price=3.0 1704067200123"), dir, 1000000L, Nil, seq)
    assert(spark.sql("SELECT ts_ns FROM nstr2").head().getLong(0) == 1704067200123000000L)
  }

  test("ILP precision=us|ms|s keeps the sub-second digits of the designated ts") {
    val dir = java.nio.file.Files.createTempDirectory("ilp_prec").toString
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    def ingest(m: String, precision: String, wire: Long): (String, Long) = {
      graft.streaming.IlpApply.applyLines(spark, Seq(s"$m,sym=A price=1.0 $wire"), dir,
        graft.streaming.IlpApply.precisionMult(precision), Nil, seq)
      val r = spark.sql(s"SELECT CAST(ts AS STRING), ts_ns FROM $m").head()
      (r.getString(0), r.getLong(1))
    }
    assert(ingest("prec_us", "us", 1704067200123456L) ==
      (("2024-01-01 00:00:00.123456", 1704067200123456000L)))
    assert(ingest("prec_ms", "ms", 1704067200123L) ==
      (("2024-01-01 00:00:00.123", 1704067200123000000L)))
    assert(ingest("prec_s", "s", 1704067201L) ==
      (("2024-01-01 00:00:01", 1704067201000000000L)))
  }

  test("interval literal IN 'yyyy-MM' becomes a half-open range") {
    val n = engine.sql("SELECT count(*) AS n FROM events WHERE ts IN '2024-01'").head().getLong(0)
    val exact = Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-02-01").cast("timestamp")).count()
    assert(n == exact && n > 0)
  }

  test("interval literal precisions: year / day / hour") {
    assert(QuestSql.intervalBounds("2024") == ("2024-01-01 00:00:00", "2025-01-01 00:00:00"))
    assert(QuestSql.intervalBounds("2024-02-29") == ("2024-02-29 00:00:00", "2024-03-01 00:00:00"))
    assert(QuestSql.intervalBounds("2024-01-15T09") == ("2024-01-15 09:00:00", "2024-01-15 10:00:00"))
  }

  test("LATEST ON PARTITION BY matches the LatestOn op") {
    val viaSql = engine.sql(
      "SELECT user_id, ts, event_type FROM events LATEST ON ts PARTITION BY user_id ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val viaOp = ops.LatestOn.latestOn(Tables.events(spark, sfDir), "ts", Seq("user_id"))
      .orderBy(col("user_id")).select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaSql.toSeq == viaOp.toSeq)
  }

  test("LATEST ON applies WHERE before the latest-by") {
    val viaSql = engine.sql(
      "SELECT user_id, value FROM events WHERE value > 400.0 LATEST ON ts PARTITION BY user_id ORDER BY user_id")
      .collect().map(_.getDouble(1))
    assert(viaSql.forall(_ > 400.0))
  }

  test("SAMPLE BY rewrites to a window group-by") {
    val out = engine.sql(
      "SELECT event_type, ts, count(*) AS n FROM events SAMPLE BY 1d ORDER BY event_type, ts")
    val rows = out.collect()
    assert(rows.length > 100) // ~30 days x 5 types
    assert(out.columns.toSeq == Seq("event_type", "ts", "n"))
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.events(spark, sfDir).count())
  }

  test("SAMPLE BY FILL(PREV) delegates to the SampleBy op and fills gaps") {
    val out = engine.sql(
      "SELECT event_type, ts, max(value) AS mx FROM events WHERE value > 150.0 SAMPLE BY 6h FILL(PREV)")
    val perType = out.filter(col("event_type") === "click").orderBy(col("ts")).collect()
    // spine is dense: consecutive buckets are exactly 6h apart
    val gaps = perType.sliding(2).forall { w =>
      w(1).getTimestamp(1).getTime - w(0).getTimestamp(1).getTime == 6L * 3600 * 1000
    }
    assert(gaps)
    // PREV fill: no nulls after the first present bucket
    assert(perType.dropWhile(_.isNullAt(2)).forall(!_.isNullAt(2)))
  }

  test("ASOF JOIN ON key delegates to AsofJoin and suffixes clashes") {
    val out = engine.sql("SELECT * FROM p_v ASOF JOIN c_v ON user_id")
    assert(out.columns.contains("ts1") && out.columns.contains("value1"))
    assert(out.count() == spark.table("p_v").count())
    // matched click ts never exceeds the purchase ts
    val bad = out.filter(col("ts1").isNotNull && col("ts1") > col("ts")).count()
    assert(bad == 0)
  }

  test("LT JOIN is strict") {
    val out = engine.sql("SELECT * FROM p_v LT JOIN p_v2 ON user_id")
    assert(out.count() > 0)
  }

  test("WINDOW JOIN dialect form aggregates the slave inside the range") {
    val out = engine.sql(
      "SELECT event_id, count(value1) AS n, max(value1) AS mx FROM p_v WINDOW JOIN c_v2 ON user_id RANGE BETWEEN 10m PRECEDING AND 10m FOLLOWING")
    // output follows the select list, like the reference model
    assert(out.columns.toSeq == Seq("event_id", "n", "mx"))
    assert(out.count() == spark.table("p_v").count())
  }

  test("HORIZON JOIN dialect form emits one row per offset") {
    val out = engine.sql(
      "SELECT * FROM p_v HORIZON JOIN c_v2 ON user_id LIST (0, 300000000)")
    assert(out.count() == 2 * spark.table("p_v").count())
    assert(out.columns.contains("off_us"))
  }

  test("HORIZON JOIN RANGE FROM/TO/STEP builds the offset grid") {
    val out = engine.sql(
      "SELECT * FROM p_v HORIZON JOIN c_v2 ON user_id RANGE FROM 0s TO 10m STEP 5m")
    assert(out.count() == 3 * spark.table("p_v").count()) // 0, 5m, 10m
    val offs = out.select(col("off_us")).distinct().collect().map(_.getLong(0)).sorted
    assert(offs.toSeq == Seq(0L, 300000000L, 600000000L))
  }

  test("SPLICE JOIN dialect form emits both sides") {
    val out = engine.sql("SELECT * FROM p_v2 SPLICE JOIN c_v2 ON user_id")
    assert(out.count() == spark.table("p_v2").count() + spark.table("c_v2").count())
    assert(out.columns.contains("side"))
  }

  test("interval literal minute/second precision") {
    assert(QuestSql.intervalBounds("2024-01-15T09:30") == ("2024-01-15 09:30:00", "2024-01-15 09:31:00"))
    assert(QuestSql.intervalBounds("2024-01-15T09:30:45") == ("2024-01-15 09:30:45", "2024-01-15 09:30:46"))
  }

  test("interval literal with duration and period/repeat modifiers") {
    // reference IntervalUtils: '2018-01-10T10:30;30m;2d;2' = two ranges,
    // each [start-of-minute, end-of-minute + 30m), 2 days apart
    val rs = QuestSql.intervalRanges("2018-01-10T10:30;30m;2d;2")
    assert(rs == Seq(
      ("2018-01-10 10:30:00", "2018-01-10 11:01:00"),
      ("2018-01-12 10:30:00", "2018-01-12 11:01:00")))
    // compound duration
    assert(QuestSql.intervalRanges("2024-01-15T09;1h30m").head ==
      ("2024-01-15 09:00:00", "2024-01-15 11:30:00"))
  }

  test("interval literal with repeats filters disjoint ranges") {
    val n = engine.sql(
      "SELECT count(*) AS n FROM events WHERE ts IN '2024-01-05;1d;7d;2'").head().getLong(0)
    val exact = Tables.events(spark, sfDir).filter(
      (col("ts") >= lit("2024-01-05").cast("timestamp") && col("ts") < lit("2024-01-07").cast("timestamp")) ||
      (col("ts") >= lit("2024-01-12").cast("timestamp") && col("ts") < lit("2024-01-14").cast("timestamp"))).count()
    assert(n == exact && n > 0)
  }

  test("NOT IN interval literal negates the range") {
    val n = engine.sql("SELECT count(*) AS n FROM events WHERE ts NOT IN '2024-01'").head().getLong(0)
    val within = engine.sql("SELECT count(*) AS n FROM events WHERE ts IN '2024-01'").head().getLong(0)
    assert(n + within == Tables.events(spark, sfDir).count())
  }

  test("ASOF JOIN accepts WHERE and ORDER BY / LIMIT tails") {
    val out = engine.sql(
      "SELECT * FROM p_v ASOF JOIN c_v ON user_id WHERE value > 100.0 ORDER BY event_id LIMIT 10")
    val rows = out.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Double]("value") > 100.0))
    val ids = rows.map(_.getAs[Long]("event_id"))
    assert(ids.sorted.toSeq == ids.toSeq)
  }

  test("ASOF JOIN accepts subqueries in FROM") {
    val out = engine.sql(
      "SELECT * FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') " +
        "ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') ON user_id")
    assert(out.count() == spark.table("p_v2").count())
    assert(out.columns.contains("value1"))
  }

  test("designated ts is resolved per table, not hardcoded") {
    // orders' designated ts is o_orderdate (Tables.designatedTs)
    val out = engine.sql(
      "SELECT * FROM orders_m ASOF JOIN orders_s ON o_custkey")
    assert(out.count() == spark.table("orders_m").count())
    assert(out.columns.contains("o_totalprice1"))
  }

  test("WINDOW JOIN prevailing: INCLUDE is the DEFAULT, EXCLUDE turns it off") {
    // reference model/WindowJoinContext.java:39 `includePrevailing = true`
    // (WindowJoinTest testWindowJoinInUnionBranches pins 90.0 = window
    // rows + the prevailing record)
    val bare = engine.sql(
      "SELECT event_id, count(value1) AS n FROM p_v WINDOW JOIN c_v2 ON user_id RANGE BETWEEN 10m PRECEDING AND 10m FOLLOWING")
    val incl = engine.sql(
      "SELECT event_id, count(value1) AS n FROM p_v WINDOW JOIN c_v2 ON user_id RANGE BETWEEN 10m PRECEDING AND 10m FOLLOWING INCLUDE PREVAILING")
    val excl = engine.sql(
      "SELECT event_id, count(value1) AS n FROM p_v WINDOW JOIN c_v2 ON user_id RANGE BETWEEN 10m PRECEDING AND 10m FOLLOWING EXCLUDE PREVAILING")
    val b = bare.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n")).toMap
    val p = incl.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n")).toMap
    val x = excl.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n")).toMap
    assert(b == p) // bare form IS include-prevailing
    assert(p.keySet == x.keySet)
    // prevailing adds at most one extra contributor per master
    assert(x.forall { case (k, n) => p(k) == n || p(k) == n + 1 })
    assert(x.exists { case (k, n) => p(k) == n + 1 })
  }

  test("SAMPLE BY FROM/TO bounds data and spine") {
    val out = engine.sql(
      "SELECT ts, count(*) AS n FROM events SAMPLE BY 1d FROM '2024-01-05' TO '2024-01-10' FILL(0)")
    val rows = out.orderBy(col("ts")).collect()
    assert(rows.length == 5) // 5 daily buckets, exclusive TO
    assert(rows.head.getTimestamp(0).toString.startsWith("2024-01-05"))
    assert(rows.last.getTimestamp(0).toString.startsWith("2024-01-09"))
  }

  test("SAMPLE BY FILL value list applies per aggregate") {
    val out = engine.sql(
      "SELECT event_type, ts, count(*) AS n, max(value) AS mx FROM events WHERE value > 280.0 SAMPLE BY 6h FILL(0, PREV)")
    val perType = out.filter(col("event_type") === "click").orderBy(col("ts")).collect()
    // n is const-filled → never null; mx carries forward after first present
    assert(perType.forall(!_.isNullAt(2)))
    assert(perType.dropWhile(_.isNullAt(3)).forall(!_.isNullAt(3)))
    assert(perType.exists(r => r.getLong(2) == 0L)) // a filled gap exists
  }

  test("SAMPLE BY ALIGN TO CALENDAR TIME ZONE buckets on local wall clock") {
    val out = engine.sql(
      "SELECT ts, count(*) AS n FROM events SAMPLE BY 1d ALIGN TO CALENDAR TIME ZONE 'America/New_York'")
    val hours = out.select(hour(from_utc_timestamp(col("ts"), "America/New_York"))).distinct().collect().map(_.getInt(0))
    assert(hours.toSeq == Seq(0)) // every bucket starts at local midnight
  }

  test("SAMPLE BY ALIGN TO CALENDAR WITH OFFSET shifts bucket origin") {
    val out = engine.sql(
      "SELECT ts, count(*) AS n FROM events SAMPLE BY 1d ALIGN TO CALENDAR WITH OFFSET '02:00'")
    val hours = out.select(hour(col("ts"))).distinct().collect().map(_.getInt(0))
    assert(hours.toSeq == Seq(2))
  }

  test("SAMPLE BY ALIGN TO FIRST OBSERVATION anchors buckets at the global first row") {
    val out = engine.sql(
      "SELECT user_id, ts, count(*) AS n FROM events SAMPLE BY 1d ALIGN TO FIRST OBSERVATION")
    // the grid anchor is the table's first observation — every bucket
    // sits a whole number of strides after it, for every key
    // (reference SampleByNanoTimestampTest: a filtered key buckets on
    // the other key's earlier anchor)
    val anchor = Tables.events(spark, sfDir).agg(min(unix_micros(col("ts")))).head().getLong(0)
    val offGrid = out.select(((unix_micros(col("ts")) - lit(anchor)) % lit(86400000000L)).as("m"))
      .where(col("m") =!= 0L).count()
    assert(offGrid == 0L)
    val minBucket = out.agg(min(unix_micros(col("ts")))).head().getLong(0)
    assert(minBucket == anchor)
  }

  test("positional and named bind variables") {
    val n1 = engine.sql("SELECT count(*) AS n FROM events WHERE value > $1 AND event_type = $2",
      150.0, "click").head().getLong(0)
    val n2 = engine.sqlNamed(
      "SELECT count(*) AS n FROM events WHERE value > :v AND event_type = :t",
      Map("v" -> 150.0, "t" -> "click")).head().getLong(0)
    val exact = Tables.events(spark, sfDir)
      .filter(col("value") > 150.0 && col("event_type") === "click").count()
    assert(n1 == exact && n2 == exact && exact > 0)
  }

  test("bind variables reach dialect forms (literal substitution)") {
    val out = engine.sql("SELECT * FROM p_v ASOF JOIN c_v ON user_id WHERE value > $1 ORDER BY event_id LIMIT 5", 100.0)
    assert(out.count() == 5)
  }

  test("scalar function macros expand to codegen'd expressions") {
    val r = engine.sql(
      "SELECT mid(value, value + 2.0) AS m, spread(value, value + 2.0) AS s, " +
        "wmid(1.0, value, value + 2.0, 3.0) AS w, " +
        "round(haversine_dist_deg(0.0, 0.0, 0.0, 1.0), 0) AS hv, " +
        "timestamp_floor('5m', ts) AS f5, timestamp_ceil('5m', ts) AS c5, " +
        "dateadd('h', 2, ts) AS p2h, datediff('d', ts, dateadd('d', 3, ts)) AS dd, " +
        "to_timezone(ts, 'Asia/Tokyo') AS tko " +
        "FROM events WHERE event_id = 1")
      .head()
    val v = Tables.events(spark, sfDir).filter(col("event_id") === 1)
      .head().getAs[Double]("value")
    assert(math.abs(r.getAs[Double]("m") - (v + 1.0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("s") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("w") - (v * 3.0 / 4 + (v + 2) / 4)) < 1e-9)
    assert(math.abs(r.getAs[Double]("hv") - 111195.0) < 1.0) // 1° of longitude at the equator
    assert(r.getAs[java.sql.Timestamp]("f5").getTime % 300000 == 0)
    assert(r.getAs[java.sql.Timestamp]("c5").getTime % 300000 == 0)
    assert(r.getAs[Long]("dd") == 3L)
    assert(r.getAs[java.sql.Timestamp]("p2h").getTime - r.getAs[java.sql.Timestamp]("f5").getTime < 3L * 3600 * 1000)
    // macro output stays inside the plan (no UDF nodes)
    val plan = engine.sql("SELECT mid(value, value) AS m FROM events")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"))
  }

  test("geo / rounding / string / day-interval macros") {
    val r = engine.sql(
      "SELECT round(geo_distance_meters(0.0, 0.0, 1.0, 0.0), 0) AS deg_m, " +
        "within_box(5.0, 5.0, 0.0, 0.0, 10.0, 10.0) AS inb, " +
        "within_radius(3.0, 4.0, 0.0, 0.0, 5.0) AS inr, " +
        "within_radius(3.0, 4.0, 0.0, 0.0, -1.0) AS neg_r, " +
        "geo_within_radius_latlon(0.5, 0.5, 0.0, 0.0, 100000.0) AS gwr, " +
        "round_up(1.234, 2) AS ru, round_down(-1.239, 2) AS rd, " +
        "round_half_even(2.5, 0) AS rhe, " +
        "to_uppercase('ab') AS u, strpos('hello', 'll') AS p, " +
        "week_of_year(TIMESTAMP '2024-01-15 00:00:00') AS woy, " +
        "to_str(TIMESTAMP '2024-01-15 00:00:00', 'yyyy-MM') AS s " +
        "FROM events LIMIT 1").head()
    assert(math.abs(r.getAs[Double]("deg_m") - 111320.0) < 1.0)
    assert(r.getAs[Boolean]("inb") && r.getAs[Boolean]("inr"))
    assert(!r.getAs[Boolean]("neg_r"))
    assert(r.getAs[Boolean]("gwr")) // (0.5°,0.5°) ≈ 78.7 km from origin < 100 km
    assert(math.abs(r.getAs[Double]("ru") - 1.24) < 1e-9)
    assert(math.abs(r.getAs[Double]("rd") - (-1.23)) < 1e-9)
    assert(math.abs(r.getAs[Double]("rhe") - 2.0) < 1e-9) // banker's: 2.5 → 2
    assert(r.getAs[String]("u") == "AB" && r.getAs[Int]("p") == 3)
    assert(r.getAs[Int]("woy") == 3 && r.getAs[String]("s") == "2024-01")

    // ts IN today() becomes a [today, tomorrow) range predicate
    val today = engine.sql("SELECT count(*) AS n FROM events WHERE ts IN today()").head().getLong(0)
    assert(today == 0) // fixture data is all in 2024
    val plan = engine.sql("SELECT event_id FROM events WHERE ts IN yesterday()")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains(">=") && !plan.toLowerCase.contains("yesterday"))
  }

  test("LIMIT lo,hi range") {
    val rows = engine.sql("SELECT event_id FROM events ORDER BY event_id LIMIT 10,15").collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      Tables.events(spark, sfDir).orderBy(col("event_id")).collect().slice(10, 15).map(_.getLong(0)).toSeq)
  }

  test("negative LIMIT without ORDER BY implies designated-ts order") {
    val rows = engine.sql("SELECT event_id, ts FROM events LIMIT -5").collect()
    assert(rows.length == 5)
    val expectMin = Tables.events(spark, sfDir).orderBy(col("ts").desc).limit(5)
      .agg(min(col("ts"))).head().getTimestamp(0)
    assert(rows.forall(_.getTimestamp(1).compareTo(expectMin) >= 0))
    // ascending within the tail
    assert(rows.map(_.getTimestamp(1)).sliding(2).forall(w => !w(0).after(w(1))))
  }

  test("negative LIMIT returns the tail in forward order") {
    val rows = engine.sql(
      "SELECT event_id, ts FROM events ORDER BY ts, event_id LIMIT -5").collect()
    assert(rows.length == 5)
    val all = Tables.events(spark, sfDir).orderBy(col("ts").desc, col("event_id").desc)
      .limit(5).orderBy(col("ts"), col("event_id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == all.map(_.getLong(0)).toSeq)
  }

  test("DISTINCT with negative LIMIT slices tail of first-appearance order") {
    // reference DistinctWithLimitTest.java:84 — distinct runs BEFORE
    // the tail slice, emission order is first appearance
    engine.sql("CREATE TABLE dlim AS (SELECT x AS id, cast(x AS double) AS reading FROM long_sequence(9))")
    try {
      val r = engine.sql("SELECT DISTINCT id, reading FROM dlim LIMIT -2").collect()
      assert(r.map(x => (x.getLong(0), x.getDouble(1))).toSeq == Seq((8L, 8.0), (9L, 9.0)))
      // distinct over repeats: values whose LAST occurrence is in the
      // tail but FIRST occurrence is early must be excluded from the
      // tail slice (1,2,0,1,2,0,1,2,0 → distinct first-appearance
      // 1,2,0 → tail 2 = 2,0)
      engine.sql("CREATE TABLE dlim2 AS (SELECT x % 3 AS id FROM long_sequence(9))")
      val r2 = engine.sql("SELECT DISTINCT id FROM dlim2 LIMIT -2").collect()
      assert(r2.map(_.getLong(0)).toSeq == Seq(2L, 0L))
      // DISTINCT + ORDER BY + LIMIT -n: distinct, order, then tail
      val r3 = engine.sql("SELECT DISTINCT id FROM dlim2 ORDER BY id LIMIT -2").collect()
      assert(r3.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      // virtual column beside distinct
      val r4 = engine.sql(
        "SELECT DISTINCT id, 42*42 the_answer FROM dlim LIMIT -2").collect()
      assert(r4.map(x => (x.getLong(0), x.getInt(1))).toSeq == Seq((8L, 1764), (9L, 1764)))
    } finally {
      engine.sql("DROP TABLE dlim"); engine.sql("DROP TABLE dlim2")
    }
  }

  test("RANGE EXCLUDE CURRENT ROW: NULL on empty excluded set, tie-group exclusion") {
    // reference WindowExcludeCurrentRowTest.java:99,138 — a RANGE frame
    // ending at CURRENT ROW excludes the whole designated-ts tie group,
    // and sum over an all-NULL (or empty) excluded set is NULL, not 0
    engine.sql("CREATE TABLE xcr (ts TIMESTAMP, x LONG) TIMESTAMP(ts) PARTITION BY DAY")
    engine.sql("INSERT INTO xcr VALUES " +
      "('2024-01-01T00:00:00.000000Z', 1), ('2024-01-01T00:00:01.000000Z', 2), " +
      "('2024-01-01T00:00:02.000000Z', 3), ('2024-01-01T00:00:03.000000Z', 4)")
    try {
      // current row is the only non-null in frame → excluded-set sum NULL
      val r = engine.sql(
        "SELECT x, sum(x) OVER (ORDER BY ts RANGE BETWEEN 2000000 PRECEDING AND CURRENT ROW " +
          "EXCLUDE CURRENT ROW) s FROM " +
          "(SELECT ts, CASE WHEN x = 3 THEN x ELSE NULL END x FROM xcr)").collect()
      val byX = r.map(x => (if (x.isNullAt(0)) -1L else x.getLong(0)) ->
        (if (x.isNullAt(1)) null else x.getDouble(1))).toMap
      assert(byX(3L) == null)          // all-NULL peers → NULL, not 0
      // single-row frame (first row): excluded set empty → NULL; count 0
      val r2 = engine.sql(
        "SELECT x, sum(x) OVER w s, count(*) OVER w c, avg(x) OVER w a FROM xcr " +
          "WINDOW w AS (ORDER BY ts RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW " +
          "EXCLUDE CURRENT ROW)").collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) null else x.getDouble(1),
          x.getLong(2), if (x.isNullAt(3)) null else x.getDouble(3)))
      assert(r2.head == ((1L, null, 0L, null)))
      assert(r2(1) == ((2L, 1.0, 1L, 1.0)))
      // tie group: two rows at the same ts exclude EACH OTHER under
      // RANGE (frame high bound exclusive of the current ts value)
      engine.sql("CREATE TABLE xcr2 (ts TIMESTAMP, sym SYMBOL, x LONG) TIMESTAMP(ts) PARTITION BY DAY")
      engine.sql("INSERT INTO xcr2 VALUES " +
        "('2024-01-01T00:00:00.000000Z', 'a', 1), ('2024-01-01T00:00:01.000000Z', 'a', 2), " +
        "('2024-01-01T00:00:01.000000Z', 'a', 3), ('2024-01-01T00:00:02.000000Z', 'a', 4)")
      val r3 = engine.sql(
        "SELECT x, sum(x) OVER (PARTITION BY sym ORDER BY ts RANGE BETWEEN 2 SECOND PRECEDING " +
          "AND CURRENT ROW EXCLUDE CURRENT ROW) s FROM xcr2").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) null else x.getDouble(1))).toMap
      assert(r3(2L) == 1.0 && r3(3L) == 1.0) // peers at :01 see only x=1
      assert(r3(4L) == 6.0)                  // :02 sees 1+2+3
    } finally {
      engine.sql("DROP TABLE xcr"); engine.sql("DROP TABLE xcr2")
    }
  }

  test("generator long tail: pool strings, intervals, floats, varchar, nanRate nulls") {
    // pool form rnd_symbol(count, lo, hi, 0): cardinality bounded by
    // count, lengths within [lo, hi]
    val pool = engine.sql(
      "SELECT rnd_symbol(4, 3, 6, 0) AS s FROM long_sequence(300)").collect().map(_.getString(0))
    assert(pool.distinct.length <= 4 && pool.distinct.length >= 2)
    assert(pool.forall(s => s.length >= 3 && s.length <= 6))
    // rnd_str pool form shares the machinery
    val strs = engine.sql(
      "SELECT rnd_str(8, 2, 5, 0) AS s FROM long_sequence(200)").collect().map(_.getString(0))
    assert(strs.distinct.length <= 8 && strs.forall(s => s.length >= 2 && s.length <= 5))
    // nanRate: rate 1 → about half null, deterministic across runs
    val nulls = engine.sql(
      "SELECT rnd_double(1) AS d FROM long_sequence(400)").collect().count(_.isNullAt(0))
    assert(nulls > 100 && nulls < 300)
    val nulls2 = engine.sql(
      "SELECT rnd_double(1) AS d FROM long_sequence(400)").collect().count(_.isNullAt(0))
    assert(nulls == nulls2) // deterministic
    // rnd_float in [0,1), rnd_varchar non-empty
    val row = engine.sql(
      "SELECT rnd_float() AS f, rnd_varchar(3, 9) AS v, rnd_interval() AS iv, " +
        "rnd_log(10, 50.0) AS lg FROM long_sequence(1)").head()
    val f = row.getFloat(0)
    assert(f >= 0.0f && f < 1.0f)
    assert(row.getString(1).nonEmpty)
    val iv = row.getStruct(2)
    assert(!iv.getTimestamp(0).after(iv.getTimestamp(1))) // lo <= hi
    assert(!row.getBoolean(3)) // production path of the dev-mode helper
  }

  test("operational helpers: sleep blocks and returns true, touch forces the scan") {
    Engine.ensureFunctions(spark)
    val t0 = System.nanoTime()
    val r = engine.sql("SELECT sleep(120) AS ok FROM long_sequence(1)").head()
    assert(r.getBoolean(0) && (System.nanoTime() - t0) >= 120e6.toLong)
    val t = engine.sql(
      "SELECT touch(SELECT event_id, value FROM events WHERE event_id < 100) AS t " +
        "FROM long_sequence(1)").head().getStruct(0)
    assert(t.getLong(0) > 0) // data_pages = rows scanned by the warm pass
  }

  test("pg_get_keywords table function speaks the PG shape") {
    val rows = engine.sql("SELECT word, catcode, catdesc FROM pg_get_keywords() " +
      "WHERE word = 'select'").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "U")
  }

  test("renameRelationRefs: relation positions only, aliases untouched") {
    def r(t: String) = QuestSql.renameRelationRefs(t, "x", "__v")
    // relation after FROM renamed; identical output alias kept
    assert(r("SELECT a AS x FROM x") == "SELECT a AS x FROM __v")
    // qualified refs renamed, column named x after a dot untouched
    assert(r("SELECT x.a, t.x FROM x JOIN t ON x.k = t.k")
      == "SELECT __v.a, t.x FROM __v JOIN t ON __v.k = t.k")
    // comma in a FROM list is relation position; select-list comma is not
    assert(r("SELECT a, x FROM t, x") == "SELECT a, x FROM t, __v")
    // subquery FROM renamed; string literal untouched
    assert(r("SELECT 'x from x' AS s, (SELECT max(v) FROM x) m FROM t")
      == "SELECT 'x from x' AS s, (SELECT max(v) FROM __v) m FROM t")
    // GROUP BY / ORDER BY column refs named x stay
    assert(r("SELECT x, count(*) FROM x GROUP BY x ORDER BY x")
      == "SELECT x, count(*) FROM __v GROUP BY x ORDER BY x")
  }

  test("WITH-CTE output alias matching the CTE name survives materialization") {
    // the MISSING_ATTRIBUTES fallback materializes CTEs as views and
    // renames refs — the select-list alias must keep its name
    val df = engine.sql(
      "WITH x AS (SELECT 1 AS a UNION ALL SELECT 2) SELECT a AS x FROM x ORDER BY 1")
    assert(df.columns.toSeq == Seq("x"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("2-D element-wise ops extend to the max inner extent across rows (ragged)") {
    // row 2's inner row is longer than row 1's: the rectangle is 2x3
    val df = engine.sql(
      "SELECT array_elem_sum(ARRAY(ARRAY(1.0, 2.0), ARRAY(3.0, 4.0, 5.0)), " +
        "ARRAY(ARRAY(10.0), ARRAY(20.0))) AS s")
    val s = df.head().getSeq[scala.collection.Seq[Double]](0)
    assert(s.length == 2 && s(1).length == 3)
    assert(s(1)(2) == 5.0) // the third inner column exists and carries row 2's value
    assert(s(0)(0) == 11.0 && s(1)(0) == 23.0)
  }

  override def withFixture(test: NoArgTest) = {
    Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value", "event_id").createOrReplaceTempView("p_v")
    Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select("user_id", "ts", "value").createOrReplaceTempView("c_v")
    Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value").createOrReplaceTempView("p_v2")
    Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select("user_id", "ts", "value").createOrReplaceTempView("c_v2")
    val orders = Tables.load(spark, sfDir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_custkey", "o_orderdate", "o_totalprice").createOrReplaceTempView("orders_m")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_custkey", "o_orderdate", "o_totalprice").createOrReplaceTempView("orders_s")
    QuestSql.registerDesignatedTs("orders_m", "o_orderdate")
    QuestSql.registerDesignatedTs("orders_s", "o_orderdate")
    super.withFixture(test)
  }
}
