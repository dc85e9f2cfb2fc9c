"""Seeded inputs for each workload, with the DuckDB SQL that checks them.

Every generator takes a `random.Random` made from the run's seed and a run
directory, writes the files the JVM side reads there, and returns a dict
the checks use (oracle SQL per statement, generator totals). The same seed
always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = "/root/testdata/sf0.1"
# Untimed warm-up rounds per workload. Through the first rounds of the
# statement mixes the JIT is still compiling: with one warm-up round the
# first timed rounds ran up to 1.7x slower than later ones. A second round
# did not steady ilp_ingest or corpus_pipeline.
WARM_ROUNDS = {"ts_dashboard": 3, "ts_scan": 2, "ilp_ingest": 1, "corpus_pipeline": 1}
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ZONES = ["America/New_York", "Europe/Berlin", "Asia/Tokyo"]


def _write_tsv(path, rows):
    with open(path, "w") as f:
        for kind, sql in rows:
            assert "\t" not in sql and "\n" not in sql
            f.write(f"{kind}\t{sql}\n")


# ---- ts_dashboard ----------------------------------------------------------

# Keyed FILL(LINEAR) gives wrong rows: the engine fills each key only
# between its own first and last bucket, not over the grid every key shares
# (see CHANGES.md). Its statement is fixed text, so it fails in every round
# whatever the seed, and counts as a failed operation until that is fixed.
LINEAR_DEFECT = "keyed FILL(LINEAR) fills each key only between its own first and last bucket"
LINEAR_THRESHOLD = 460


def _dash_fill(mode, thr, hours=6):
    """A keyed `SAMPLE BY … FILL(mode)` over events and its DuckDB form:
    every event type on one grid of buckets, from the first to the last
    bucket of any type."""
    agg = "round(avg(value), 4)" if mode == "LINEAR" else "max(value)"
    q = f"SELECT event_type, ts, {agg} AS v FROM events WHERE value > {thr} SAMPLE BY {hours}h FILL({mode})"
    base = (f"WITH base AS (SELECT event_type AS k, time_bucket(INTERVAL {hours} HOURS, ts, "
            f"TIMESTAMP '1970-01-01') AS ts, {agg} AS v FROM events WHERE value > {thr} GROUP BY 1, 2), "
            "bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM base), "
            f"spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL {hours} HOURS)) AS ts FROM bounds), "
            "keys AS (SELECT DISTINCT k FROM base), "
            "grid AS (SELECT keys.k, s.ts, b.v, b.v IS NOT NULL AS present, epoch_us(s.ts) AS t "
            "FROM keys CROSS JOIN spine s LEFT JOIN base b USING (k, ts)) ")
    if mode == "NULL":
        d = base + "SELECT k AS event_type, ts, v FROM grid"
    elif mode == "PREV":
        d = base + ("SELECT k AS event_type, ts, last_value(v IGNORE NULLS) OVER (PARTITION BY k "
                    "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM grid")
    else:
        d = base + (", carr AS (SELECT *, "
                    "last_value(CASE WHEN present THEN t END IGNORE NULLS) OVER wp AS pt, "
                    "last_value(CASE WHEN present THEN v END IGNORE NULLS) OVER wp AS pv, "
                    "first_value(CASE WHEN present THEN t END IGNORE NULLS) OVER wn AS nt, "
                    "first_value(CASE WHEN present THEN v END IGNORE NULLS) OVER wn AS nv FROM grid "
                    "WINDOW wp AS (PARTITION BY k ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                    "wn AS (PARTITION BY k ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
                    "SELECT k AS event_type, ts, CASE WHEN present THEN v ELSE pv + (nv - pv) * "
                    "CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) END AS v FROM carr")
    return q, d


def _dash_round(rng, r):
    """Round `r`: one statement per dashboard type. Choices that change a
    statement's cost rotate with `r`, so every run gets the same mix; the
    literals are drawn from `rng`. Returns [(kind, questdb_sql, duckdb_sql,
    ordered, defect)]."""
    out = []
    q, d = _dash_fill(("PREV", "NULL")[r % 2], rng.randint(450, 470))
    out.append(("sample_fill", q, d, False, None))
    q, d = _dash_fill("LINEAR", LINEAR_THRESHOLD)
    out.append(("sample_fill_linear", q, d, False, LINEAR_DEFECT))

    et = EVENT_TYPES[r % 5]
    tz = ZONES[r % 3]
    q = (f"SELECT ts, count(*) AS n, max(value) AS mx FROM events WHERE event_type = '{et}' "
         f"SAMPLE BY 1d ALIGN TO CALENDAR TIME ZONE '{tz}'")
    d = (f"SELECT CAST(timezone('{tz}', date_trunc('day', timezone('{tz}', ts::TIMESTAMPTZ))::TIMESTAMP) "
         f"AS TIMESTAMP) AS ts, count(*) AS n, max(value) AS mx FROM events WHERE event_type = '{et}' GROUP BY 1")
    out.append(("sample_tz", q, d, False, None))

    et = EVENT_TYPES[(r + 1) % 5]
    users = rng.randint(900, 1100)
    q = (f"SELECT user_id, ts, value FROM events WHERE event_type = '{et}' AND user_id < {users} "
         "LATEST ON ts PARTITION BY user_id")
    d = (f"SELECT user_id, ts, value FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn "
         f"FROM events WHERE event_type = '{et}' AND user_id < {users}) WHERE rn = 1")
    out.append(("latest_on", q, d, False, None))

    a, b = EVENT_TYPES[r % 5], EVENT_TYPES[(r + 2) % 5]
    thr = rng.randint(450, 470)
    q = (f"SELECT event_id, ts, user_id, value, ts1, value1 FROM (SELECT event_id, ts, user_id, value FROM events "
         f"WHERE event_type = '{a}') ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = '{b}') "
         f"ON user_id WHERE value > {thr}")
    d = (f"SELECT p.event_id, p.ts, p.user_id, p.value, c.ts1, c.value1 FROM (SELECT event_id, ts, user_id, value "
         f"FROM events WHERE event_type = '{a}') p ASOF LEFT JOIN (SELECT user_id, ts AS ts1, value AS value1 "
         f"FROM events WHERE event_type = '{b}') c ON p.user_id = c.user_id AND p.ts >= c.ts1 WHERE p.value > {thr}")
    out.append(("asof_keyed", q, d, False, None))

    day = rng.randint(1, 14)
    period = (3, 5)[r % 2]
    count = 3
    q = f"SELECT event_id, ts, value FROM events WHERE ts IN '2024-01-{day:02d};1h;{period}d;{count}'"
    conds = " OR ".join(
        f"(ts >= TIMESTAMP '2024-01-{day:02d}' + INTERVAL {i * period} DAY AND "
        f"ts < TIMESTAMP '2024-01-{day:02d}' + INTERVAL {i * period} DAY + INTERVAL 25 HOUR)"
        for i in range(count))
    d = f"SELECT event_id, ts, value FROM events WHERE {conds}"
    out.append(("interval_repeat", q, d, False, None))

    day = rng.randint(1, 30)
    hour = rng.randint(0, 23)
    q = (f"SELECT event_type, count(*) AS n, sum(value) AS s FROM events "
         f"WHERE ts IN '2024-01-{day:02d}T{hour:02d}'")
    d = (f"SELECT event_type, count(*) AS n, sum(value) AS s FROM events WHERE ts >= TIMESTAMP "
         f"'2024-01-{day:02d} {hour:02d}:00:00' AND ts < TIMESTAMP '2024-01-{day:02d} {hour:02d}:00:00' "
         "+ INTERVAL 1 HOUR GROUP BY 1")
    out.append(("interval_plain", q, d, False, None))

    et = EVENT_TYPES[(r + 3) % 5]
    n = rng.randint(90, 110)
    q = f"SELECT event_id, ts, user_id, value FROM events WHERE event_type = '{et}' LIMIT -{n}"
    d = (f"SELECT event_id, ts, user_id, value FROM (SELECT * FROM events WHERE event_type = '{et}' "
         f"ORDER BY ts DESC LIMIT {n}) ORDER BY ts")
    out.append(("negative_limit", q, d, True, None))
    return out


def dashboard(rng, run_dir, rounds):
    oracle = {}

    def emit(path, rounds):
        rows = []
        for r in range(rounds):
            for kind, q, d, ordered, defect in _dash_round(rng, r):
                rows.append((kind, q))
                oracle[q] = {"sql": d, "ordered": ordered, "defect": defect}
        _write_tsv(path, rows)

    emit(os.path.join(run_dir, "warm.tsv"), WARM_ROUNDS["ts_dashboard"])
    emit(os.path.join(run_dir, "ops.tsv"), rounds)
    return {"oracle": oracle, "data_dir": DATA_DIR}


# ---- ts_scan ---------------------------------------------------------------

SCAN_SYMBOLS = 40
SCAN_DAYS = 20
SCAN_TRADES = 1_000_000
SCAN_QUOTES = 1_000_000
SCAN_START = np.datetime64("2024-02-01T00:00:00", "us")


def _ticks(gen, n, gaps):
    """`n` distinct microsecond timestamps over SCAN_DAYS outside the `gaps`
    (day ranges), in arrival order: ascending except for 2 % late rows."""
    span = SCAN_DAYS * 86_400_000_000
    t = np.unique(gen.integers(0, span, size=int(n * 1.3)))
    day = t // 86_400_000_000
    keep = np.ones(len(t), bool)
    for lo, hi in gaps:
        keep &= ~((day >= lo) & (day < hi))
    t = t[keep]
    t = t[gen.random(len(t)) < n / len(t)]
    late = gen.random(len(t)) < 0.02
    order = np.arange(len(t), dtype=np.float64)
    order[late] += gen.integers(1, 5000, size=late.sum())   # arrives later than its time
    return t[np.argsort(order, kind="stable")]


def _skewed_symbols(gen, n):
    """Symbol indexes with Zipf-like frequencies: S00 is the most traded."""
    w = 1.0 / np.arange(1, SCAN_SYMBOLS + 1) ** 1.1
    return gen.choice(SCAN_SYMBOLS, size=n, p=w / w.sum())


def _write_days(table, path):
    day = pc.strftime(table["ts"], format="%Y-%m-%d")
    table = table.append_column("day", day)
    pq.write_to_dataset(table, path, partition_cols=["day"])


def _scan_tables(gen, data_dir):
    gaps = []
    for lo in (int(gen.integers(2, 8)), int(gen.integers(10, 16))):
        gaps.append((lo, lo + int(gen.integers(1, 3))))   # 1-2 day gaps
    sizes = {}
    for name, n in (("trades", SCAN_TRADES), ("quotes", SCAN_QUOTES)):
        t = _ticks(gen, n, gaps)
        idx = _skewed_symbols(gen, len(t))
        sym = pa.array(np.array([f"S{i:02d}" for i in range(SCAN_SYMBOLS)])[idx])
        base = 50.0 + idx * 7.5
        ts = pa.array(SCAN_START + t.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC"))
        cols = {"sym": sym, "ts": ts}
        if name == "trades":
            cols["price"] = np.round(base * (1 + 0.02 * gen.standard_normal(len(t))), 4)
            cols["qty"] = gen.integers(1, 1000, size=len(t))
        else:
            mid = base * (1 + 0.02 * gen.standard_normal(len(t)))
            cols["bid"] = np.round(mid - 0.01 * gen.random(len(t)) - 0.005, 4)
            cols["ask"] = np.round(mid + 0.01 * gen.random(len(t)) + 0.005, 4)
        _write_days(pa.table(cols), os.path.join(data_dir, name))
        sizes[name] = len(t)
    return sizes, gaps


def _scan_round(rng, gaps, r):
    """Round `r`: one statement per operator family over trades/quotes, cost
    choices rotating with `r` as in `_dash_round`."""
    out = []
    # one frequent, one middling and one rare symbol
    picks = [rng.randint(0, 2), rng.randint(5, 15), rng.randint(20, SCAN_SYMBOLS - 1)]
    syms = ", ".join(f"'S{i:02d}'" for i in picks)
    stride = (30, 60, 120)[r % 3]
    mode = ("PREV", "NULL")[r % 2]
    q = (f"SELECT sym, ts, avg(price) AS p, sum(qty) AS q FROM trades WHERE sym IN ({syms}) "
         f"SAMPLE BY {stride}m FILL({mode})")
    fill = ("p, q" if mode == "NULL" else
            "last_value(p IGNORE NULLS) OVER w AS p, last_value(q IGNORE NULLS) OVER w AS q")
    d = (f"WITH base AS (SELECT sym, time_bucket(INTERVAL {stride} MINUTES, ts, TIMESTAMP '1970-01-01') AS ts, "
         f"avg(price) AS p, sum(qty) AS q FROM trades WHERE sym IN ({syms}) GROUP BY 1, 2), "
         "bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM base), "
         f"spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL {stride} MINUTES)) AS ts FROM bounds), "
         "keys AS (SELECT DISTINCT sym FROM base), "
         "grid AS (SELECT keys.sym, s.ts, b.p, b.q FROM keys CROSS JOIN spine s LEFT JOIN base b USING (sym, ts)) "
         f"SELECT sym, ts, {fill} FROM grid WINDOW w AS (PARTITION BY sym ORDER BY ts "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    out.append(("sample_fill", q, d, False, None))

    k = rng.randint(880, 920)
    q = f"SELECT sym, ts, price, qty FROM trades WHERE qty > {k} LATEST ON ts PARTITION BY sym"
    d = (f"SELECT sym, ts, price, qty FROM (SELECT *, row_number() OVER (PARTITION BY sym ORDER BY ts DESC) AS rn "
         f"FROM trades WHERE qty > {k}) WHERE rn = 1")
    out.append(("latest_on", q, d, False, None))

    k = rng.randint(90, 110)
    q = (f"SELECT sym, count(*) AS n, avg(price - bid) AS s FROM (SELECT t.sym, t.price, t.qty, q.bid "
         f"FROM trades t ASOF JOIN quotes q ON (sym)) WHERE qty > {k} GROUP BY sym")
    d = (f"SELECT t.sym, count(*) AS n, avg(t.price - q.bid) AS s FROM trades t ASOF LEFT JOIN quotes q "
         f"ON t.sym = q.sym AND t.ts >= q.ts WHERE t.qty > {k} GROUP BY t.sym")
    out.append(("asof_keyed", q, d, False, None))

    days = [d for d in range(SCAN_DAYS) if not any(lo <= d < hi for lo, hi in gaps)]
    start = SCAN_START + np.timedelta64(rng.choice(days) * 24 + rng.randint(1, 22), "h")
    lo, hi = str(start).replace("T", " "), str(start + np.timedelta64(10, "m")).replace("T", " ")
    qlo, qhi = (str(start - np.timedelta64(30, "m")).replace("T", " "),
                str(start + np.timedelta64(40, "m")).replace("T", " "))
    q = (f"SELECT sym, ts, price, avg(bid) AS ab, count(bid) AS nb FROM (SELECT sym, ts, price FROM trades "
         f"WHERE ts >= '{lo}' AND ts < '{hi}') WINDOW JOIN (SELECT sym, ts, bid FROM quotes "
         f"WHERE ts >= '{qlo}' AND ts < '{qhi}') ON sym RANGE BETWEEN 1m PRECEDING AND 1m FOLLOWING "
         "EXCLUDE PREVAILING")
    d = (f"SELECT t.sym, t.ts, t.price, avg(q.bid) AS ab, count(q.bid) AS nb FROM (SELECT * FROM trades "
         f"WHERE ts >= TIMESTAMPTZ '{lo}' AND ts < TIMESTAMPTZ '{hi}') t LEFT JOIN (SELECT * FROM quotes "
         f"WHERE ts >= TIMESTAMPTZ '{qlo}' AND ts < TIMESTAMPTZ '{qhi}') q ON t.sym = q.sym "
         "AND q.ts >= t.ts - INTERVAL 1 MINUTE AND q.ts <= t.ts + INTERVAL 1 MINUTE "
         "GROUP BY t.sym, t.ts, t.price")
    out.append(("window_join", q, d, False, None))

    hi = str(start + np.timedelta64(30, "m")).replace("T", " ")
    off = (60, 300, 600)[r % 3]
    q = (f"SELECT * FROM (SELECT sym, ts, price FROM trades WHERE ts >= '{lo}' AND ts < '{hi}') "
         f"HORIZON JOIN (SELECT sym, ts, bid FROM quotes) ON sym LIST (0, {off * 1_000_000})")
    d = (f"SELECT t.sym, t.ts, t.price, t.off_us, q.bid FROM (SELECT sym, ts, price, o AS off_us, "
         f"ts + to_microseconds(o) AS h FROM trades, (VALUES (0), ({off * 1_000_000})) v(o) "
         f"WHERE ts >= TIMESTAMPTZ '{lo}' AND ts < TIMESTAMPTZ '{hi}') t "
         "ASOF LEFT JOIN quotes q ON t.sym = q.sym AND t.h >= q.ts")
    out.append(("horizon_join", q, d, False, None))
    return out


def scan(rng, run_dir, rounds):
    data = os.path.join(run_dir, "data")
    sizes, gaps = _scan_tables(np.random.default_rng(rng.randrange(2 ** 32)), data)
    oracle = {}
    for path, n in (("warm.tsv", WARM_ROUNDS["ts_scan"]), ("ops.tsv", rounds)):
        rows = []
        for r in range(n):
            for kind, q, d, ordered, defect in _scan_round(rng, gaps, r):
                rows.append((kind, q))
                oracle[q] = {"sql": d, "ordered": ordered, "defect": defect}
        _write_tsv(os.path.join(run_dir, path), rows)
    return {"oracle": oracle, "data_dir": data, "sizes": sizes}


# ---- ilp_ingest ------------------------------------------------------------

ILP_BATCH = 5000          # lines per /write
ILP_MEASUREMENTS = (("ilp_append", ""), ("ilp_dedup", "sym"))
ILP_SYMBOLS = 20
ILP_START_US = 1_709_251_200_000_000      # 2024-03-01
ILP_WINDOW_US = 6 * 3_600_000_000         # each batch's own time window
ILP_LATE = 0.10                           # rows from the previous two days
ILP_DUP = 0.05                            # exact re-sends inside the batch
ILP_UPSERT = 0.05                         # earlier (ts, sym) keys with new values


def _ilp_batch(rng, j, earlier):
    """Rows (sym, ts_us, px, qty) of the j-th batch of one measurement."""
    lo = ILP_START_US + j * ILP_WINDOW_US
    rows, keys = [], set()
    n_up = int(ILP_BATCH * ILP_UPSERT) if earlier else 0
    n_dup = int(ILP_BATCH * ILP_DUP)
    while len(rows) < ILP_BATCH - n_up - n_dup:
        if rng.random() < ILP_LATE:
            ts = lo - rng.randrange(1, 2 * 86_400_000_000)
        else:
            ts = lo + rng.randrange(ILP_WINDOW_US)
        sym = f"T{rng.randrange(ILP_SYMBOLS):02d}"
        if (ts, sym) in keys:
            continue
        keys.add((ts, sym))
        rows.append((sym, ts, round(rng.uniform(10, 500), 2), rng.randrange(1, 1000)))
    for sym, ts, _, _ in rng.sample(earlier, n_up):
        if (ts, sym) not in keys:
            keys.add((ts, sym))
            rows.append((sym, ts, round(rng.uniform(10, 500), 2), rng.randrange(1, 1000)))
    rows += rng.sample(rows, n_dup)
    rng.shuffle(rows)
    return rows


def ilp(rng, run_dir, rounds):
    os.makedirs(os.path.join(run_dir, "ilp"))
    batches, earlier, start = [], {m: [] for m, _ in ILP_MEASUREMENTS}, 0
    with open(os.path.join(run_dir, "ilp/batches.lp"), "w") as lp, \
            open(os.path.join(run_dir, "ilp/manifest.tsv"), "w") as mf:
        for j in range(WARM_ROUNDS["ilp_ingest"] + rounds):
            for m, keys in ILP_MEASUREMENTS:
                rows = _ilp_batch(rng, j, earlier[m])
                earlier[m] += rows
                for sym, ts, px, qty in rows:
                    lp.write(f"{m},sym={sym} px={px},qty={qty}i {ts * 1000}\n")
                mf.write(f"{m}\t{keys}\t{start}\t{len(rows)}\n")
                start += len(rows)
                batches.append((m, keys, rows))
    return {"batches": batches}


# ---- corpus_pipeline -------------------------------------------------------

CORPUS_QUERIES = ["q_dedup_clusters", "q_dedup_keep_one", "q_dedup_minhash", "q_contamination_bloom",
                  "q_similarity_ivf_kmeans", "q_similarity_pq"]


def corpus(rng, run_dir, rounds):
    """The six pipeline queries, round-robin from a seeded starting point."""
    k = rng.randrange(len(CORPUS_QUERIES))
    names = CORPUS_QUERIES[k:] + CORPUS_QUERIES[:k]
    with open(os.path.join(run_dir, "ops.tsv"), "w") as f:
        f.write("".join(n + "\n" for n in names))
    return {"data_dir": DATA_DIR}


GENERATORS = {"ts_dashboard": dashboard, "ts_scan": scan, "ilp_ingest": ilp, "corpus_pipeline": corpus}
