package graft.queries

import graft.Tables
import graft.sql.QuestSql

/** Round-2 dialect hardening, gated end-to-end: subquery/WHERE tails on
  * the time-series join forms, interval-literal duration/repeat
  * modifiers (reference `model/IntervalUtils.java:663`), SAMPLE BY
  * FROM/TO + FILL lists + ALIGN TO CALENDAR TIME ZONE / WITH OFFSET /
  * FIRST OBSERVATION (reference `SqlOptimiser.java rewriteSampleBy`),
  * and bind variables (reference `bind/BindVariableServiceImpl.java`).
  */
object DialectQueries extends QueryPack {

  def queries: Map[String, Fn] = Map(
    "q_sql_idioms" -> ((s, dir) => {
      // the reference's signature shorthands in one statement: implicit
      // GROUP BY (bare column beside aggregates), count() /
      // count_distinct spellings, ts-ordered first/last lowered onto
      // the designated timestamp (ts is unique under this filter, so
      // the ordering is tie-free on both engines)
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_type, count() AS n, count_distinct(user_id) AS u, " +
          "first(event_id) AS fid, last(event_id) AS lid " +
          "FROM events WHERE user_id < 25 ORDER BY event_type")
    }),

    "q_sql_asof_where" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, ts, user_id, value, ts1, value1 " +
          "FROM (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase') " +
          "ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') ON user_id " +
          "WHERE value > 100.0 ORDER BY event_id")
    }),

    "q_sql_interval_repeat" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, ts FROM events WHERE ts IN '2024-01-05;1d;7d;3' ORDER BY event_id")
    }),

    "q_sql_sample_by_tz" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT ts, count(*) AS n, max(value) AS mx FROM events " +
          "SAMPLE BY 1d ALIGN TO CALENDAR TIME ZONE 'America/New_York' ORDER BY ts")
    }),

    "q_sql_sample_by_offset" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT ts, count(*) AS n, max(value) AS mx FROM events " +
          "SAMPLE BY 1d ALIGN TO CALENDAR WITH OFFSET '02:00' ORDER BY ts")
    }),

    "q_sql_sample_by_from_to" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT ts, count(*) AS n FROM events " +
          "SAMPLE BY 1d FROM '2024-01-25' TO '2024-02-05' FILL(0) ORDER BY ts")
    }),

    "q_sample_by_first_obs" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT user_id, ts, count(*) AS n FROM events " +
          "SAMPLE BY 1d ALIGN TO FIRST OBSERVATION ORDER BY user_id, ts")
    }),

    "q_sql_alter" -> ((s, dir) => {
      // ALTER chain end-to-end: add column, fill it, retype, rename,
      // add+drop a scratch column — oracle replays as plain expressions
      Tables.registerAll(s, dir)
      QuestSql.sql(s, "CREATE TABLE q_alt AS " +
        "(SELECT event_id, value FROM events WHERE event_id < 300)")
      QuestSql.sql(s, "ALTER TABLE q_alt ADD COLUMN flag INT")
      QuestSql.sql(s, "UPDATE q_alt SET flag = CASE WHEN value > 500 THEN 1 ELSE 0 END")
      QuestSql.sql(s, "ALTER TABLE q_alt ALTER COLUMN flag TYPE LONG")
      QuestSql.sql(s, "ALTER TABLE q_alt RENAME COLUMN flag TO is_big")
      QuestSql.sql(s, "ALTER TABLE q_alt ADD COLUMN note STRING")
      QuestSql.sql(s, "ALTER TABLE q_alt DROP COLUMN note")
      QuestSql.sql(s, "SELECT event_id, round(value, 6) AS value, is_big " +
        "FROM q_alt ORDER BY event_id")
    }),

    "q_sql_update" -> ((s, dir) => {
      // UPDATE statement lifecycle: simple, multi-assign (pre-update
      // value semantics), and FROM join-update — oracle replays the
      // same mutations as CASE/LEFT JOIN chains
      Tables.registerAll(s, dir)
      QuestSql.sql(s, "CREATE TABLE q_upd AS " +
        "(SELECT event_id, event_type, value FROM events WHERE event_id < 500)")
      QuestSql.sql(s, "UPDATE q_upd SET value = value * 2 WHERE event_type = 'click'")
      QuestSql.sql(s, "UPDATE q_upd SET value = value + 1, event_type = upper(event_type) " +
        "WHERE value > 900")
      QuestSql.sql(s, "CREATE TABLE q_upd_src AS (SELECT event_type AS et, " +
        "min(event_id) AS mid FROM events WHERE event_id < 500 GROUP BY event_type)")
      QuestSql.sql(s, "UPDATE q_upd SET value = -1.0 FROM q_upd_src " +
        "WHERE q_upd.event_id = q_upd_src.mid")
      QuestSql.sql(s, "SELECT event_id, event_type, round(value, 6) AS value " +
        "FROM q_upd ORDER BY event_id")
    }),

    "q_sql_matview" -> ((s, dir) => {
      // SQL mat-view lifecycle end-to-end: CREATE ... AS (SAMPLE BY),
      // FULL refresh, then read the pinned view (QuestSql mat-view DDL)
      Tables.registerAll(s, dir)
      QuestSql.sql(s, "CREATE MATERIALIZED VIEW mv_q_daily REFRESH IMMEDIATE AS " +
        "(SELECT ts, event_type, count(*) AS n, min(value) AS mn, max(value) AS mx " +
        "FROM events SAMPLE BY 1d)")
      QuestSql.sql(s, "REFRESH MATERIALIZED VIEW mv_q_daily FULL")
      QuestSql.sql(s, "SELECT ts, event_type, n, mn, mx FROM mv_q_daily " +
        "ORDER BY ts, event_type")
    }),

    "q_sql_liveview" -> ((s, dir) => {
      // SQL live-view lifecycle: CREATE LIVE VIEW, mutate the base, read
      // — the read must reflect the mutation with NO refresh statement
      // (always-fresh serving; contrast q_sql_matview's pinned rows)
      Tables.registerAll(s, dir)
      QuestSql.sql(s, "CREATE TABLE lvq_base AS (SELECT * FROM events WHERE event_id < 2000)")
      QuestSql.sql(s, "CREATE LIVE VIEW lvq_cnt FLUSH EVERY 1s AS " +
        "(SELECT event_type, count(*) AS n, min(value) AS mn, max(value) AS mx " +
        "FROM lvq_base GROUP BY event_type)")
      QuestSql.sql(s, "INSERT INTO lvq_base SELECT * FROM events " +
        "WHERE event_id >= 2000 AND event_id < 3000")
      QuestSql.sql(s, "SELECT event_type, n, mn, mx FROM lvq_cnt ORDER BY event_type")
    }),

    "q_sql_bind" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, ts, value FROM events WHERE value > $1 AND event_type = $2 ORDER BY event_id",
        Seq(200.0, "view"))
    }),

    "q_sql_named_window" -> ((s, dir) => {
      // named WINDOW clauses (reference SqlParser named-window support;
      // Spark parses them natively — the dialect passes through)
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, round(avg(value) OVER w, 6) AS av, rank() OVER w2 AS rk " +
          "FROM events WHERE event_id < 1000 " +
          "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
          "             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), " +
          "       w2 AS (PARTITION BY event_type ORDER BY value DESC, event_id) " +
          "ORDER BY event_id")
    }),

    "q_sql_declare" -> ((s, dir) => {
      // DECLARE variable block (reference SqlParser.java:3605) —
      // scalars, a list used with IN, and a variable referencing an
      // earlier one
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "DECLARE @lo := 100, @hi := @lo * 90, @types := ('click', 'view') " +
          "SELECT event_type, count(*) AS n, min(value) AS mn, max(value) AS mx " +
          "FROM events WHERE event_id BETWEEN @lo AND @hi AND event_type IN @types " +
          "GROUP BY event_type ORDER BY event_type")
    }),

    "q_sql_fn_macros" -> ((s, dir) => {
      // reference geo/rounding/string/date functions Spark lacks by name,
      // expanded to builtin expressions by the dialect macro pass
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, " +
          "round(geo_distance_meters(value % 90, value % 180, 0.0, 0.0) / 1000.0, 3) AS dist_km, " +
          "within_box(value % 90, value % 180, -45.0, -90.0, 45.0, 90.0) AS in_box, " +
          "geo_within_radius_latlon(value % 90, value % 180, 0.0, 0.0, 5000000.0) AS near_origin, " +
          "within_radius(value, CAST(user_id AS DOUBLE), 500.0, 500.0, 250.0) AS in_circle, " +
          "round_up(value / 7.0, 2) AS r_up, " +
          "round_down(value / 7.0, 2) AS r_down, " +
          "round_half_even(value / 7.0, 2) AS r_he, " +
          "to_uppercase(event_type) AS etype_u, " +
          "strpos(event_type, 'ick') AS ick_pos, " +
          "sha256(event_type) AS etype_sha, " +
          "to_str(ts, 'yyyy-MM-dd') AS day_s, " +
          "week_of_year(ts) AS woy " +
          "FROM events WHERE event_id < 200 ORDER BY event_id")
    }),

    "q_sql_date_parts" -> ((s, dir) => {
      // calendar extraction + predicates with reference semantics
      // (Monday-first day_of_week, floor-mod sub-second components)
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, " +
          "day_of_week(ts) AS dow, " +
          "day_of_week_sunday_first(ts) AS dow_sun, " +
          "days_in_month(ts) AS dim, " +
          "is_leap_year(ts) AS leap, " +
          "is_end_of_month(ts) AS eom, " +
          "micros(ts) AS us_part, " +
          "millis(ts) AS ms_part, " +
          "length_bytes(event_type) AS lb, " +
          "quote_ident(event_type) AS qi " +
          "FROM events WHERE event_id < 300 ORDER BY event_id")
    }),

    "q_sql_ipv4_fns" -> ((s, dir) => {
      // ipv4 function family: netmask from CIDR, dotted↔long casts,
      // subnet containment (the reference's << / <<= in function form)
      Tables.registerAll(s, dir)
      graft.Engine.ensureFunctions(s) // expression casts lower to qdb_str
      QuestSql.sql(s,
        "SELECT event_id, " +
          "netmask('10.1.2.3/24') AS m24, " +
          "netmask(concat('10.0.0.0/', cast(8 + event_id % 17 as string))) AS mvar, " +
          "ipv4_str_to_long(concat(cast(event_id % 256 as string), '.1.2.3')) AS ipl, " +
          "ipv4_long_to_str(pmod(event_id * 2654435761, 4294967296)) AS dotted, " +
          "ipv4_contains('192.168.0.0/16', concat('192.168.', cast(event_id % 256 as string), '.7')) AS in16, " +
          "ipv4_contains('192.168.0.0/16', '10.0.0.1') AS out16 " +
          "FROM events WHERE event_id < 300 ORDER BY event_id")
    }),

    "q_timestamp_ns" -> ((s, dir) => {
      // TIMESTAMP_NS as a query surface (reference ColumnType.java:145
      // ns TimestampDriver): BIGINT-nanos arithmetic in aggregates.
      // Sub-µs digits are reconstructed deterministically (µs*1000 +
      // id%1000) because DuckDB 1.0 truncates parquet ns to micros, so
      // the oracle can't see the file's real sub-µs residue — the real
      // ns parquet read is spec-gated instead (QuestSqlSpec).
      import org.apache.spark.sql.functions._
      val ns = unix_micros(col("ts")) * 1000L + col("event_id") % 1000L
      Tables.load(s, dir, "events")
        .select(col("event_type"), ns.as("ns"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("ns")).as("min_ns"),
          max(col("ns")).as("max_ns"),
          sum(col("ns") % 1000000L).as("sub_ms_sum"),
          sum(when(col("ns") % 1000L =!= 0L, 1L).otherwise(0L)).as("sub_us_rows"))
        .orderBy(col("event_type"))
    }),

    "q_sql_timestamp_ns" -> ((s, dir) => {
      // the ns scalar functions through the dialect: BIGINT-nanos
      // conversions, floor at ns resolution, ns literal parse
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, " +
          "timestamp_to_ns(ts) AS ts_ns, " +
          "ns_to_timestamp(timestamp_to_ns(ts)) AS ts_rt, " +
          "timestamp_ns_floor('1h', timestamp_to_ns(ts)) AS ns_hour, " +
          "to_timestamp_ns('2024-01-01 00:00:00.123456789') AS lit_ns " +
          "FROM events WHERE event_id < 100 ORDER BY event_id")
    }),

    "q_show_columns" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s, "SHOW COLUMNS FROM events")
        .orderBy(org.apache.spark.sql.functions.col("column"))
    }),

    "q_meta_columns" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT column_name, ordinal_position, data_type, is_nullable " +
          "FROM information_schema.columns WHERE table_name = 'events' ORDER BY ordinal_position")
    }),

    "q_sql_arg_minmax" -> ((s, dir) => {
      // arg_max/arg_min group-by aliases (reference groupby/ArgMax*/
      // ArgMin*GroupByFunctionFactory) → native max_by/min_by
      Tables.registerAll(s, dir)
      // the ranking measure folds event_id in as an exact-integer
      // tie-break: equal values exist at sf0.1+, and arg_max over a tied
      // measure is engine-nondeterministic (floor, not CAST: DuckDB
      // rounds double->int casts, Spark truncates)
      QuestSql.sql(s,
        "SELECT event_type, " +
          "arg_max(event_id, CAST(floor(value * 100) AS LONG) * 10000000 + event_id) AS id_at_max, " +
          "arg_min(event_id, CAST(floor(value * 100) AS LONG) * 10000000 + event_id) AS id_at_min, " +
          "count(*) AS n " +
          "FROM events GROUP BY event_type ORDER BY event_type")
    }),

    "q_sql_moment_variants" -> ((s, dir) => {
      // pop/samp skewness+kurtosis estimators and the weighted_stddev
      // family (reference groupby/Kurtosis*, Skewness*,
      // AbstractWeightedStdDevGroupByFunction:40-86)
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_type, " +
          "round(skewness_pop(value), 6) AS sk_pop, " +
          "round(skewness_samp(value), 6) AS sk_samp, " +
          "round(kurtosis_pop(value), 6) AS ku_pop, " +
          "round(kurtosis_samp(value), 6) AS ku_samp, " +
          "round(weighted_stddev(value, user_id % 7 + 1), 6) AS wsd_rel, " +
          "round(weighted_stddev_freq(value, user_id % 7 + 1), 6) AS wsd_freq " +
          "FROM events GROUP BY event_type ORDER BY event_type")
    }),

    "q_sql_array_fns" -> ((s, dir) => {
      // 1-D double-array function family (reference functions/array/*)
      // expanded to builtin higher-order expressions by the macro pass
      // (dot_product → the native codegen vec_dot expression)
      graft.Engine.ensureFunctions(s)
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT vec_id, " +
          "round(array_sum(embedding), 3) AS s, " +
          "round(array_avg(embedding), 5) AS av, " +
          "array_count(embedding) AS cnt, " +
          "round(element_at(array_cum_sum(embedding), -1), 3) AS cs_last, " +
          "round(array_stddev_pop(embedding), 5) AS sd_pop, " +
          "round(array_stddev_samp(embedding), 5) AS sd_samp, " +
          "array_position(embedding, element_at(embedding, 5)) AS pos5, " +
          "insertion_point(array_sort(embedding), CAST(0 AS FLOAT)) AS ip0, " +
          "round(element_at(shift(embedding, 2, CAST(0 AS DOUBLE)), 3), 5) AS sh3, " +
          "round(dot_product(embedding, embedding), 3) AS dp, " +
          "round(CAST(element_at(array_reverse(embedding), 1) AS DOUBLE), 5) AS rev1, " +
          "dim_length(embedding, 1) AS dl " +
          "FROM embeddings WHERE vec_id < 200 ORDER BY vec_id")
    }),

    "q_sql_uuid_identity" -> ((s, dir) => {
      // to_uuid/to_long128 construction (reference uuid/
      // LongsToUuidFunctionFactory — new UUID(hi, lo) string form),
      // base64 round-trip, and the PG identity functions
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
        "SELECT event_id, " +
          "to_uuid(event_id, user_id) AS u, " +
          "to_long128(event_id, user_id) AS l128, " +
          "CAST(from_base64(base64(CAST(event_type AS BINARY))) AS STRING) AS rt, " +
          "current_user() AS cu, " +
          "current_database() AS cdb, " +
          "current_schema() AS cs, " +
          "array_join(current_schemas(true), ',') AS css " +
          "FROM events WHERE event_id < 50 ORDER BY event_id")
    }),

    "q_read_parquet" -> ((s, dir) => {
      // read_parquet('path') table function (reference functions/table/
      // ReadParquetFunctionFactory) — materialized as a native parquet
      // scan so pushdown and pruning still apply
      QuestSql.sql(s,
        s"SELECT event_type, count(*) AS n, round(sum(value), 3) AS sv " +
          s"FROM read_parquet('$dir/events.parquet') " +
          "GROUP BY event_type ORDER BY event_type")
    }),

    "q_sql_generators" -> ((s, dir) => {
      // the reference's canonical generator idiom in dialect SQL:
      // SELECT rnd_* FROM long_sequence(n) (functions/rnd/*,
      // LongSequenceFunctionFactory, TimestampSequenceFunctionFactory).
      // Every stream is md5-seeded-deterministic → DuckDB-mirrorable
      QuestSql.sql(s,
        "SELECT x, timestamp_sequence(1704067200000000, 60000000) AS ts, " +
          "round(rnd_double(), 9) AS rd, " +
          "rnd_int(0, 99) AS ri, " +
          "rnd_boolean() AS rb, " +
          "rnd_symbol('AA', 'BB', 'CC') AS sym, " +
          "rnd_str(4, 12) AS rstr, " +
          "rnd_char() AS rc, " +
          "rnd_short() AS rs, " +
          "rnd_byte() AS rby, " +
          "rnd_long(0, 1000000) AS rl, " +
          "rnd_uuid4() AS ruuid, " +
          "rnd_ipv4() AS rip, " +
          "rnd_long256() AS rh, " +
          "hex(rnd_bin(4, 8)) AS rbin, " +
          "rnd_geohash(30) AS rg, " +
          "rnd_date('2024-01-01', '2024-12-31', 0) AS rdate, " +
          "rnd_timestamp('2024-01-01', '2024-02-01', 0) AS rts, " +
          // projected through VARCHAR: the driver's comparator reads the
          // Spark parquet via pyarrow (Decimal, trailing zeros kept) but
          // the oracle via fetchdf (float64, shortest repr) — a native
          // DECIMAL column hash-mismatches on any value ending in 0
          "cast(rnd_decimal(9, 3, 0) as string) AS rdec " +
          "FROM long_sequence(500) ORDER BY x")
    }),

    "q_sql_pg_compat" -> ((s, dir) => {
      // PG-compat catalogue stubs + typeOf + switch (reference
      // functions/catalogue/{CurrentSetting,FormatType,PgGetExpr,
      // TypeOf}FunctionFactory, conditional/SwitchFunctionFactory,
      // date/ToPgDateFunctionFactory)
      QuestSql.sql(s,
        "SELECT x, " +
          "current_setting('server_version_num') AS svn, " +
          "current_setting('search_path') AS sp, " +
          "format_type(701, 0) AS ft701, " +
          "format_type(1043, 0) AS ft1043, " +
          "format_type(9999, 0) AS ftq, " +
          "pg_get_expr('adbin', 0) AS pge, " +
          "pg_is_in_recovery() AS rec, " +
          "pg_catalog.age(17) AS pg_age, " +
          "pg_get_userbyid(10) AS usr, " +
          "pg_catalog.pg_table_is_visible(100) AS vis, " +
          "current_data_id() AS did, " +
          "simulate_warnings('tag', 'msg') AS sw_warn, " +
          "simulate_crash('C') AS sw_crash, " +
          "to_pg_date('2024-03-05') AS pgd, " +
          "typeOf(x) AS t_long, " +
          "typeOf(CAST(x AS INT)) AS t_int, " +
          "typeOf(CAST(1.5 AS DOUBLE)) AS t_dbl, " +
          "typeOf('abc') AS t_str, " +
          "switch(x % 3, 0, 'zero', 1, 'one', 'many') AS sw " +
          "FROM long_sequence(30) ORDER BY x")
    }),

    "q_sql_generators2" -> ((s, dir) => {
      // weighted + zipf symbol distributions and uniform arrays in the
      // dialect (rnd/RndSymbolWeighted|Zipf|DoubleArrayFunctionFactory).
      // The array is bit-exact (k/2^32 dyadics) but projected to element
      // scalars: raw array<double> columns crash the driver's pandas
      // hash-comparator (lexsort over list cells)
      import org.apache.spark.sql.functions.{col, element_at}
      QuestSql.sql(s,
          "SELECT x, " +
            "rnd_symbol_weighted('hot', 6.0, 'warm', 3.0, 'cold', 1.0) AS ws, " +
            "rnd_symbol_zipf('a', 'b', 'c', 'd', 1.5) AS zs, " +
            "rnd_double_array(1, 0, 0, 4) AS da " +
            "FROM long_sequence(400) ORDER BY x")
        .select(col("x"), col("ws"), col("zs"),
          element_at(col("da"), 1).as("da1"), element_at(col("da"), 2).as("da2"),
          element_at(col("da"), 3).as("da3"), element_at(col("da"), 4).as("da4"))
    }),

    "q_array_elem" -> ((s, dir) => {
      // variadic element-wise array_elem_* over array_build rows
      // (reference functions/array/AbstractDoubleArrayElemFunction,
      // ArrayBuildFunctionFactory); element scalars projected for the
      // driver comparator (raw arrays crash its pandas lexsort)
      import org.apache.spark.sql.functions.{col, element_at}
      // (array_build itself is the reference's fill-shape constructor —
      // nArrays must be CONSTANT — so the rows here are plain array()
      // literals; the elem-wise variadic surface is what this exercises)
      QuestSql.sql(s,
          "SELECT x, " +
            "array_elem_sum(array(CAST(x AS DOUBLE), 1D, 3D), array(CAST(2 * x AS DOUBLE), 1D, CAST(x AS DOUBLE))) AS es, " +
            "array_elem_avg(array(CAST(x AS DOUBLE), 4D), array(CAST(3 * x AS DOUBLE), 0D)) AS ea, " +
            "array_elem_max(array(CAST(x AS DOUBLE), 0D, 7D), array(5D, CAST(x AS DOUBLE), CAST(x AS DOUBLE))) AS emx, " +
            "array_elem_min(array(CAST(x AS DOUBLE), 0D, 7D), array(5D, CAST(x AS DOUBLE), CAST(x AS DOUBLE))) AS emn " +
            "FROM long_sequence(200) ORDER BY x")
        .select(col("x"),
          element_at(col("es"), 1).as("es1"), element_at(col("es"), 2).as("es2"),
          element_at(col("es"), 3).as("es3"),
          element_at(col("ea"), 1).as("ea1"), element_at(col("ea"), 2).as("ea2"),
          element_at(col("emx"), 1).as("emx1"), element_at(col("emx"), 2).as("emx2"),
          element_at(col("emx"), 3).as("emx3"),
          element_at(col("emn"), 1).as("emn1"), element_at(col("emn"), 2).as("emn2"),
          element_at(col("emn"), 3).as("emn3"))
    }),

    "q_array_elem_agg" -> ((s, dir) => {
      // single-array spelling = the GROUP BY aggregate form (reference
      // groupby/DoubleArrayElemAvgFunctionFactory): per-label
      // element-wise centroid, exploded to (label, pos, cv) rows so the
      // comparator sees scalars. collect_list bounds memory by group
      // size; q_embed_centroids' posexplode is the 100 TB shape
      import org.apache.spark.sql.functions.{col, posexplode}
      Tables.registerAll(s, dir)
      QuestSql.sql(s,
          "SELECT label, transform(array_elem_avg(embedding), v -> round(v, 6)) AS centroid " +
            "FROM embeddings GROUP BY label ORDER BY label")
        .select(col("label"), posexplode(col("centroid")))
        .withColumnRenamed("col", "cv")
        .orderBy(col("label"), col("pos"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_sql_idioms" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS u,
        |  arg_min(event_id, ts) AS fid, arg_max(event_id, ts) AS lid
        |FROM events WHERE user_id < 25
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_asof_where" ->
      """SELECT p.event_id, p.ts, p.user_id, p.value, c.ts1, c.value1
        |FROM (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts AS ts1, value AS value1 FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts1
        |WHERE p.value > 100.0 ORDER BY p.event_id""".stripMargin,

    "q_sql_interval_repeat" ->
      """SELECT event_id, ts FROM events WHERE
        |  (ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-07') OR
        |  (ts >= TIMESTAMP '2024-01-12' AND ts < TIMESTAMP '2024-01-14') OR
        |  (ts >= TIMESTAMP '2024-01-19' AND ts < TIMESTAMP '2024-01-21')
        |ORDER BY event_id""".stripMargin,

    "q_sql_sample_by_tz" ->
      """SELECT CAST(timezone('America/New_York',
        |    date_trunc('day', timezone('America/New_York', ts::TIMESTAMPTZ))::TIMESTAMP) AS TIMESTAMP) AS ts,
        |  count(*) AS n, max(value) AS mx
        |FROM events GROUP BY 1 ORDER BY ts""".stripMargin,

    "q_sql_sample_by_offset" ->
      """SELECT CAST(date_trunc('day', ts - INTERVAL 2 HOUR) + INTERVAL 2 HOUR AS TIMESTAMP) AS ts,
        |  count(*) AS n, max(value) AS mx
        |FROM events GROUP BY 1 ORDER BY ts""".stripMargin,

    "q_sql_sample_by_from_to" ->
      """SELECT s.ts, coalesce(g.n, 0) AS n FROM (
        |  SELECT CAST(unnest(generate_series(TIMESTAMP '2024-01-25',
        |    TIMESTAMP '2024-02-04', INTERVAL 1 DAY)) AS TIMESTAMP) AS ts) s
        |LEFT JOIN (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, count(*) AS n
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-25' AND ts < TIMESTAMP '2024-02-05'
        |  GROUP BY 1) g USING (ts)
        |ORDER BY ts""".stripMargin,

    "q_sample_by_first_obs" ->
      """WITH a AS (SELECT min(epoch_us(ts)) AS anchor FROM events)
        |SELECT e.user_id,
        |  make_timestamp(a.anchor + ((epoch_us(e.ts) - a.anchor) // 86400000000) * 86400000000) AS ts,
        |  count(*) AS n
        |FROM events e CROSS JOIN a
        |GROUP BY 1, 2 ORDER BY user_id, ts""".stripMargin,

    "q_sql_alter" ->
      """SELECT event_id, round(value, 6) AS value,
        |  CAST(CASE WHEN value > 500 THEN 1 ELSE 0 END AS BIGINT) AS is_big
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "q_sql_update" ->
      """WITH b AS (SELECT event_id, event_type, value FROM events WHERE event_id < 500),
        |u1 AS (SELECT event_id, event_type,
        |        CAST(CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS DOUBLE) AS value
        |       FROM b),
        |u2 AS (SELECT event_id,
        |        CASE WHEN value > 900 THEN upper(event_type) ELSE event_type END AS event_type,
        |        CAST(CASE WHEN value > 900 THEN value + 1 ELSE value END AS DOUBLE) AS value
        |       FROM u1),
        |src AS (SELECT event_type AS et, min(event_id) AS mid FROM b GROUP BY event_type),
        |u3 AS (SELECT u2.event_id, u2.event_type,
        |        CAST(CASE WHEN src.mid IS NOT NULL THEN -1.0 ELSE u2.value END AS DOUBLE) AS value
        |       FROM u2 LEFT JOIN src ON u2.event_id = src.mid)
        |SELECT event_id, event_type, round(value, 6) AS value FROM u3
        |ORDER BY event_id""".stripMargin,

    "q_sql_matview" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, event_type,
        |  count(*) AS n, min(value) AS mn, max(value) AS mx
        |FROM events GROUP BY 1, 2 ORDER BY ts, event_type""".stripMargin,

    "q_sql_liveview" ->
      """SELECT event_type, count(*) AS n, min(value) AS mn, max(value) AS mx
        |FROM events WHERE event_id < 3000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_bind" ->
      """SELECT event_id, ts, value FROM events
        |WHERE value > 200.0 AND event_type = 'view' ORDER BY event_id""".stripMargin,

    "q_sql_declare" ->
      """SELECT event_type, count(*) AS n, min(value) AS mn, max(value) AS mx
        |FROM events WHERE event_id BETWEEN 100 AND 100 * 90
        |  AND event_type IN ('click', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_named_window" ->
      """SELECT event_id, round(avg(value) OVER w, 6) AS av, rank() OVER w2 AS rk
        |FROM events WHERE event_id < 1000
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_sql_fn_macros" ->
      """SELECT event_id,
        |  round(sqrt(pow((0.0 - (value % 180)) * 111320.0 * cos(radians(((value % 90) + (0.0)) * 0.5)), 2)
        |           + pow((0.0 - (value % 90)) * 111320.0, 2)) / 1000.0, 3) AS dist_km,
        |  ((value % 90) BETWEEN (-45.0) AND (45.0) AND (value % 180) BETWEEN (-90.0) AND (90.0)) AS in_box,
        |  ((5000000.0) >= 0 AND pow((value % 180 - (0.0)) * 111320.0 * cos(radians(0.0)), 2)
        |           + pow((value % 90 - (0.0)) * 111320.0, 2) <= (5000000.0) * (5000000.0)) AS near_origin,
        |  ((250.0) >= 0 AND pow((value) - (500.0), 2) + pow((CAST(user_id AS DOUBLE)) - (500.0), 2)
        |           <= (250.0) * (250.0)) AS in_circle,
  |  (sign(value / 7.0) * trunc(abs(value / 7.0) * 100 + 1 - 1e-15) * 0.01) AS r_up,
  |  (sign(value / 7.0) * trunc((abs(value / 7.0) + 1e-15) * 100) * 0.01) AS r_down,
  |  (sign(value / 7.0) * (CASE
  |     WHEN (CAST(trunc(abs(value / 7.0) * 100 * 100.0 + 1e-15) AS BIGINT) % 100) < 50
  |       OR ((CAST(trunc(abs(value / 7.0) * 100 * 100.0 + 1e-15) AS BIGINT) % 100) = 50
  |           AND CAST(trunc(abs(value / 7.0) * 100) AS BIGINT) % 2 = 0)
  |     THEN trunc((abs(value / 7.0) + 1e-15) * 100) * 0.01
  |     ELSE trunc(abs(value / 7.0) * 100 + 1 - 1e-15) * 0.01 END)) AS r_he,
        |  upper(event_type) AS etype_u,
        |  CAST(strpos(event_type, 'ick') AS INT) AS ick_pos,
        |  sha256(event_type) AS etype_sha,
        |  strftime(ts, '%Y-%m-%d') AS day_s,
        |  CAST(weekofyear(ts) AS INT) AS woy
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,

    "q_sql_date_parts" ->
      """SELECT event_id,
        |  CAST(isodow(ts) AS INT) AS dow,
        |  CAST(dayofweek(ts) + 1 AS INT) AS dow_sun,
        |  CAST(day(last_day(ts)) AS INT) AS dim,
        |  ((year(ts) % 4 = 0 AND year(ts) % 100 <> 0) OR year(ts) % 400 = 0) AS leap,
        |  day(ts) = day(last_day(ts)) AS eom,
        |  CAST(epoch_us(ts) % 1000 AS INT) AS us_part,
        |  CAST((epoch_us(ts) // 1000) % 1000 AS INT) AS ms_part,
        |  CAST(strlen(event_type) AS INT) AS lb,
        |  '"' || replace(event_type, '"', '""') || '"' AS qi
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "q_sql_ipv4_fns" ->
      """WITH p AS (
        |  SELECT event_id,
        |    CAST(8 + event_id % 17 AS INT) AS n,
        |    (event_id * 2654435761) % 4294967296 AS ip
        |  FROM events WHERE event_id < 300),
        |q AS (SELECT event_id, ip, ((4294967295 << (32 - n)) & 4294967295) AS mv FROM p)
        |SELECT event_id,
        |  '255.255.255.0' AS m24,
        |  CAST(mv >> 24 AS VARCHAR) || '.' || CAST((mv >> 16) % 256 AS VARCHAR)
        |    || '.' || CAST((mv >> 8) % 256 AS VARCHAR) || '.' || CAST(mv % 256 AS VARCHAR) AS mvar,
        |  (event_id % 256) * 16777216 + 66051 AS ipl,
        |  CASE WHEN ip = 0 THEN NULL ELSE
        |    CAST((ip >> 24) % 256 AS VARCHAR) || '.' || CAST((ip >> 16) % 256 AS VARCHAR)
        |      || '.' || CAST((ip >> 8) % 256 AS VARCHAR) || '.' || CAST(ip % 256 AS VARCHAR) END AS dotted,
        |  true AS in16,
        |  false AS out16
        |FROM q ORDER BY event_id""".stripMargin,

    "q_timestamp_ns" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) + event_id % 1000 AS ns FROM events)
        |SELECT event_type, count(*) AS n,
        |  min(ns) AS min_ns, max(ns) AS max_ns,
        |  CAST(sum(ns % 1000000) AS BIGINT) AS sub_ms_sum,
        |  CAST(sum(CASE WHEN ns % 1000 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS sub_us_rows
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_timestamp_ns" ->
      """SELECT event_id,
        |  epoch_ns(ts) AS ts_ns,
        |  ts AS ts_rt,
        |  epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS ns_hour,
        |  CAST(1704067200123456789 AS BIGINT) AS lit_ns
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,

    "q_show_columns" ->
      """SELECT * FROM (VALUES
        |  ('event_id', 'LONG', false, 0, false, 0, CAST(0 AS BIGINT), false, false, '', ''),
        |  ('ts', 'TIMESTAMP', false, 0, false, 0, CAST(0 AS BIGINT), true, false, '', ''),
        |  ('user_id', 'LONG', false, 0, false, 0, CAST(0 AS BIGINT), false, false, '', ''),
        |  ('event_type', 'VARCHAR', false, 0, false, 0, CAST(0 AS BIGINT), false, false, '', ''),
        |  ('value', 'DOUBLE', false, 0, false, 0, CAST(0 AS BIGINT), false, false, '', ''),
        |  ('props', 'VARCHAR', false, 0, false, 0, CAST(0 AS BIGINT), false, false, '', '')
        |) t("column", "type", "indexed", "indexBlockCapacity", "symbolCached",
        |    "symbolCapacity", "symbolTableSize", "designated", "upsertKey",
        |    "indexType", "indexInclude")
        |ORDER BY "column"""".stripMargin,

    "q_meta_columns" ->
      """SELECT * FROM (VALUES
        |  ('event_id', 1, 'LONG', true),
        |  ('ts', 2, 'TIMESTAMP', true),
        |  ('user_id', 3, 'LONG', true),
        |  ('event_type', 4, 'VARCHAR', true),
        |  ('value', 5, 'DOUBLE', true),
        |  ('props', 6, 'VARCHAR', true)
        |) t(column_name, ordinal_position, data_type, is_nullable)
        |ORDER BY ordinal_position""".stripMargin,

    "q_sql_arg_minmax" ->
      """SELECT event_type,
        |  arg_max(event_id, CAST(floor(value * 100) AS BIGINT) * 10000000 + event_id) AS id_at_max,
        |  arg_min(event_id, CAST(floor(value * 100) AS BIGINT) * 10000000 + event_id) AS id_at_min,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_moment_variants" ->
      """WITH m AS (SELECT event_type, avg(value) AS a FROM events GROUP BY 1),
        |w AS (SELECT event_type, sum(wt) AS s0, sum(wt * value) AS s1,
        |        sum(wt * value * value) AS s2, sum(wt * wt) AS sq
        |      FROM (SELECT event_type, value, CAST(user_id % 7 + 1 AS DOUBLE) AS wt FROM events)
        |      GROUP BY event_type),
        |g AS (SELECT e.event_type,
        |        round(avg(pow(e.value - m.a, 3)) / pow(avg(pow(e.value - m.a, 2)), 1.5), 6) AS sk_pop,
        |        round(skewness(e.value), 6) AS sk_samp,
        |        round(avg(pow(e.value - m.a, 4)) / pow(avg(pow(e.value - m.a, 2)), 2) - 3.0, 6) AS ku_pop,
        |        round(kurtosis(e.value), 6) AS ku_samp
        |      FROM events e JOIN m ON e.event_type = m.event_type
        |      GROUP BY e.event_type)
        |SELECT g.event_type, g.sk_pop, g.sk_samp, g.ku_pop, g.ku_samp,
        |  round(sqrt((w.s2 - w.s1 * w.s1 / w.s0) / (w.s0 - w.sq / w.s0)), 6) AS wsd_rel,
        |  round(sqrt((w.s2 - w.s1 * w.s1 / w.s0) / (w.s0 - 1.0)), 6) AS wsd_freq
        |FROM g JOIN w ON g.event_type = w.event_type ORDER BY g.event_type""".stripMargin,

    "q_sql_array_fns" ->
      """WITH d AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT vec_id,
        |  round(list_sum(e), 3) AS s,
        |  round(list_avg(e), 5) AS av,
        |  CAST(len(e) AS INT) AS cnt,
        |  round(list_sum(e), 3) AS cs_last,
        |  round(sqrt((list_sum(list_transform(e, x -> x * x)) - list_sum(e) * list_sum(e) / len(e)) / len(e)), 5) AS sd_pop,
        |  round(sqrt((list_sum(list_transform(e, x -> x * x)) - list_sum(e) * list_sum(e) / len(e)) / (len(e) - 1)), 5) AS sd_samp,
        |  CAST(list_position(e, e[5]) AS INT) AS pos5,
        |  CAST(len(list_filter(e, x -> x <= 0)) + 1 AS INT) AS ip0,
        |  round(e[1], 5) AS sh3,
        |  round(list_sum(list_transform(e, x -> x * x)), 3) AS dp,
        |  round(e[len(e)], 5) AS rev1,
        |  CAST(len(e) AS INT) AS dl
        |FROM d ORDER BY vec_id""".stripMargin,

    "q_sql_uuid_identity" ->
      """WITH d AS (
        |  SELECT event_id, event_type,
        |    printf('%016x', user_id) AS h, printf('%016x', event_id) AS l
        |  FROM events WHERE event_id < 50)
        |SELECT event_id,
        |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
        |    || '-' || substr(l, 1, 4) || '-' || substr(l, 5, 12) AS u,
        |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
        |    || '-' || substr(l, 1, 4) || '-' || substr(l, 5, 12) AS l128,
        |  event_type AS rt,
        |  'admin' AS cu, 'qdb' AS cdb, 'public' AS cs, 'public' AS css
        |FROM d ORDER BY event_id""".stripMargin,

    "q_read_parquet" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sv
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_generators" -> {
      // DuckDB mirror of QuestSql.rewriteGeneratorFns: same md5 word
      // formula (strpos for locate), same call-site seed ordinals
      def u(seed: String) = dUniform(seed)
      val ipExpr = s"CAST(floor(${u("rnd_ipv4#1")} * 4294967296.0) AS BIGINT)"
      val binN = s"(CAST(floor(${u("rnd_bin#1_n")} * 5.0) + 4 AS INT))"
      val strLen = s"(CAST(floor(${u("rnd_str#1_len")} * 9.0) + 4 AS INT))"
      val geoChars = (1 to 6).map { i =>
        s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(floor(${u(s"rnd_geohash#1_$i")} * 32) AS INT) + 1, 1)"
      }.mkString(" || ")
      val uuidH = "md5('rnd_uuid4#1' || CAST(x AS VARCHAR))"
      "SELECT x, make_timestamp(1704067200000000 + (x - 1) * 60000000) AS ts, " +
        s"round(${u("rnd_double#1")}, 9) AS rd, " +
        s"CAST(floor(${u("rnd_int#1")} * 100.0) + 0 AS INT) AS ri, " +
        s"(${u("rnd_boolean#1")} < 0.5) AS rb, " +
        s"(['AA', 'BB', 'CC'])[CAST(floor(${u("rnd_symbol#1")} * 3) AS INT) + 1] AS sym, " +
        s"substring(md5('rnd_str#1_s' || CAST(x AS VARCHAR)), 1, $strLen) AS rstr, " +
        s"substring('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(floor(${u("rnd_char#1")} * 26) AS INT) + 1, 1) AS rc, " +
        s"CAST(floor(${u("rnd_short#1")} * 65536.0) - 32768 AS SMALLINT) AS rs, " +
        s"CAST(floor(${u("rnd_byte#1")} * 256.0) - 128 AS TINYINT) AS rby, " +
        s"CAST(floor(${u("rnd_long#1")} * 1000001.0) + 0 AS BIGINT) AS rl, " +
        s"substring($uuidH, 1, 8) || '-' || substring($uuidH, 9, 4) || '-4' || substring($uuidH, 14, 3)" +
        s" || '-8' || substring($uuidH, 18, 3) || '-' || substring($uuidH, 21, 12) AS ruuid, " +
        s"CAST((ip >> 24) % 256 AS VARCHAR) || '.' || CAST((ip >> 16) % 256 AS VARCHAR)" +
        s" || '.' || CAST((ip >> 8) % 256 AS VARCHAR) || '.' || CAST(ip % 256 AS VARCHAR) AS rip, " +
        s"'0x' || md5('rnd_long256#1_a' || CAST(x AS VARCHAR)) || md5('rnd_long256#1_b' || CAST(x AS VARCHAR)) AS rh, " +
        s"upper(substring(md5('rnd_bin#1_p' || CAST(x AS VARCHAR)) || md5('rnd_bin#1_q' || CAST(x AS VARCHAR)), 1, $binN * 2)) AS rbin, " +
        s"($geoChars) AS rg, " +
        s"DATE '2024-01-01' + CAST(floor(${u("rnd_date#1")} * 366.0) AS INT) AS rdate, " +
        s"make_timestamp(CAST(floor(${u("rnd_timestamp#1")} * 2678400000000.0) + 1704067200000000 AS BIGINT)) AS rts, " +
        s"CAST(CAST(floor(${u("rnd_decimal#1")} * 1e9) / 1e3 AS DECIMAL(9,3)) AS VARCHAR) AS rdec " +
        s"FROM (SELECT x, $ipExpr AS ip FROM generate_series(1, 500) t(x)) ORDER BY x"
    },

    "q_sql_pg_compat" ->
      """SELECT x, '120300' AS svn, '' AS sp,
        |  'double precision' AS ft701, 'character varying' AS ft1043, '???' AS ftq,
        |  '' AS pge, false AS rec,
        |  CAST(0 AS BIGINT) AS pg_age, 'public' AS usr, true AS vis,
        |  CAST(NULL AS VARCHAR) AS did, false AS sw_warn, false AS sw_crash,
        |  DATE '2024-03-05' AS pgd,
        |  'LONG' AS t_long, 'INT' AS t_int, 'DOUBLE' AS t_dbl, 'STRING' AS t_str,
        |  CASE (x % 3) WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'many' END AS sw
        |FROM generate_series(1, 30) t(x) ORDER BY x""".stripMargin,

    "q_sql_generators2" -> {
      // identical Scala threshold arithmetic to the macro expansion →
      // the same double literals land in both engines
      def cumn(ws: Seq[Double]): Seq[Double] = {
        val t = ws.sum; ws.scanLeft(0.0)(_ + _).tail.map(_ / t)
      }
      val w = cumn(Seq(6.0, 3.0, 1.0))
      val z = cumn(Seq(1.0, 1.0 / math.pow(2.0, 1.5), 1.0 / math.pow(3.0, 1.5),
        1.0 / math.pow(4.0, 1.5)))
      val uw = dUniform("rnd_symbol_weighted#1")
      val uz = dUniform("rnd_symbol_zipf#1")
      // fixed-dims form: element salt is seed_v ‖ x ‖ '_' ‖ loop index
      val das = (1 to 4).map(i =>
        s"${dUniformSuffix("rnd_double_array#1_v", s"_$i")} AS da$i").mkString(", ")
      s"SELECT x, " +
        s"CASE WHEN $uw < CAST(${w(0)} AS DOUBLE) THEN 'hot' " +
        s"WHEN $uw < CAST(${w(1)} AS DOUBLE) THEN 'warm' ELSE 'cold' END AS ws, " +
        s"CASE WHEN $uz < CAST(${z(0)} AS DOUBLE) THEN 'a' " +
        s"WHEN $uz < CAST(${z(1)} AS DOUBLE) THEN 'b' " +
        s"WHEN $uz < CAST(${z(2)} AS DOUBLE) THEN 'c' ELSE 'd' END AS zs, " +
        s"$das " +
        s"FROM generate_series(1, 400) t(x) ORDER BY x"
    },

    "q_array_elem" ->
      """SELECT x,
        |  CAST(3 * x AS DOUBLE) AS es1, CAST(2 AS DOUBLE) AS es2, CAST(x + 3 AS DOUBLE) AS es3,
        |  CAST(2 * x AS DOUBLE) AS ea1, CAST(2 AS DOUBLE) AS ea2,
        |  CAST(greatest(x, 5) AS DOUBLE) AS emx1, CAST(x AS DOUBLE) AS emx2,
        |  CAST(greatest(7, x) AS DOUBLE) AS emx3,
        |  CAST(least(x, 5) AS DOUBLE) AS emn1, CAST(0 AS DOUBLE) AS emn2,
        |  CAST(least(7, x) AS DOUBLE) AS emn3
        |FROM generate_series(1, 200) t(x) ORDER BY x""".stripMargin,

    "q_array_elem_agg" ->
      """WITH ev AS (
        |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS e,
        |         CAST(unnest(range(0, len(embedding))) AS INT) AS pos
        |  FROM embeddings)
        |SELECT label, pos, round(avg(e), 6) AS cv
        |FROM ev GROUP BY label, pos ORDER BY label, pos""".stripMargin
  )

  /** DuckDB mirror of QuestSql.uSql — strpos in place of locate,
    * identical positional base-16 arithmetic.
    */
  private def dUniform(seed: String): String = {
    val terms = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substring(md5('$seed' || CAST(x AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16.0, 8 - i)}"
    }
    s"((${terms.mkString(" + ")}) / ${math.pow(16.0, 8)})"
  }

  private def dUniformSuffix(seed: String, suffix: String): String = {
    val terms = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substring(md5('$seed' || CAST(x AS VARCHAR) || '$suffix'), $i, 1)) - 1) * ${math.pow(16.0, 8 - i)}"
    }
    s"((${terms.mkString(" + ")}) / ${math.pow(16.0, 8)})"
  }
}
