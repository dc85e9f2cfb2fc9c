"""Checks of the engine's outputs against results computed apart from it.

DuckDB answers the statements over the same Parquet files; generator
totals answer the ingest cycle. Every comparison returns an error string,
or None when the output matches. Every checker returns (errors, wrong): the
check failures, which make the run incorrect, and the wrong outputs of
statements that `inputs.py` marks with a known engine defect, which count
as failed operations instead.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import pickle

REL_TOL = 1e-9
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "target", "oracle")
CORPUS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
                 "documents", "embeddings")


def _same(exp, act):
    """Does engine value `act` (PGWire text or JSON value) equal DuckDB value `exp`?"""
    if exp is None or (isinstance(exp, float) and math.isnan(exp)):
        return act is None or act in ("NaN", "null") or (isinstance(act, float) and math.isnan(act))
    if act is None:
        return False
    if isinstance(exp, bool):
        return act in (exp, "t" if exp else "f", str(exp).lower())
    if isinstance(exp, int):
        try:
            return decimal.Decimal(str(act)) == exp
        except decimal.InvalidOperation:
            return False
    if isinstance(exp, (float, decimal.Decimal)):
        try:
            return math.isclose(float(act), float(exp), rel_tol=REL_TOL, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    if isinstance(exp, datetime.datetime):
        try:
            a = datetime.datetime.fromisoformat(str(act))
        except ValueError:
            return False
        return a.replace(tzinfo=None) == exp.replace(tzinfo=None)
    if isinstance(exp, datetime.date):
        return str(act)[:10] == exp.isoformat()
    if isinstance(exp, (list, tuple)):
        if isinstance(act, str):
            act = [x for x in act.strip("{}").split(",") if x != ""]
        return len(exp) == len(act) and all(_same(e, a) for e, a in zip(exp, act))
    return str(act) == str(exp)


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, datetime.datetime):
        return (1, v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        f = float(v)
        return (2, "nan") if math.isnan(f) else (2, f"{f:.6e}")
    if isinstance(v, str):
        try:
            return _key(datetime.datetime.fromisoformat(v))
        except ValueError:
            pass
        try:
            return _key(float(v)) if v.strip() else (3, v)
        except ValueError:
            return (3, v)
    return (3, str(v))


def compare_rows(expected, actual, ordered):
    """Row-by-row comparison; unordered results are sorted on both sides first."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    if not ordered:
        expected = sorted(expected, key=lambda r: [_key(v) for v in r])
        actual = sorted(actual, key=lambda r: [_key(v) for v in r])
    for i, (e, a) in enumerate(zip(expected, actual)):
        if len(e) != len(a):
            return f"row {i}: {len(a)} columns, expected {len(e)}"
        for j, (x, y) in enumerate(zip(e, a)):
            if not _same(x, y):
                return f"row {i} column {j}: {y!r}, expected {x!r}"
    return None


def perturb(rows):
    """A copy of `rows` with one cell changed, for the checkers' self-test."""
    rows = [list(r) for r in rows]
    for r in rows:
        for j, v in enumerate(r):
            if v is None:
                continue
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                r[j] = v + 1
            elif isinstance(v, str):
                try:
                    r[j] = str(float(v) + 1)
                except ValueError:
                    r[j] = v + "x"
            else:
                continue
            return rows
    return rows + [rows[0]] if rows else [[1]]


def load_results(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _duck():
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    return con


def _statements(run_dir, info, con):
    """Every timed statement's output against DuckDB over the same files;
    then the self-test: one perturbed output must fail the same check."""
    cache, errors, wrong = {}, [], []
    first = None
    for r in load_results(f"{run_dir}/results.jsonl"):
        if "error" in r:
            continue
        o = info["oracle"][r["sql"]]
        if r["sql"] not in cache:
            cache[r["sql"]] = con.sql(o["sql"]).fetchall()
        err = compare_rows(cache[r["sql"]], r["rows"], o["ordered"])
        if err and o.get("defect"):
            wrong.append(f"op {r['op']} ({r['kind']}, {o['defect']}): {err}")
        elif err:
            errors.append(f"op {r['op']} ({r['kind']}): {err}")
        elif first is None and r["rows"]:
            first = (r, o)
    if first is None:
        errors.append("no non-empty output to self-test the checker on")
    elif compare_rows(cache[first[0]["sql"]], perturb(first[0]["rows"]), first[1]["ordered"]) is None:
        errors.append("self-test: a perturbed output passed the check")
    return errors, wrong


def check_dashboard(run_dir, info, out):
    con = _duck()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{info['data_dir']}/events.parquet'")
    return _statements(run_dir, info, con)


def check_scan(run_dir, info, out):
    con = _duck()
    for t in ("trades", "quotes"):
        con.sql(f"CREATE VIEW {t} AS SELECT * EXCLUDE (day) FROM read_parquet('{info['data_dir']}/{t}/*/*.parquet', "
                "hive_partitioning = true)")
    return _statements(run_dir, info, con)


def _ilp_state(batches):
    """Per measurement, after each batch: {(day, sym): [rows, sum(qty)]} and
    the rows the table holds, as the generator defines them (dedup tables
    keep the last row per (ts, sym); append tables keep every row)."""
    per_batch, tables = [], {}
    for m, keys, rows in batches:
        agg, held = tables.setdefault(m, ({}, {} if keys else []))
        for sym, ts, px, qty in rows:
            if keys:
                old = held.get((ts, sym))
                if old is not None:
                    k = (_day(ts), sym)
                    agg[k][0] -= 1
                    agg[k][1] -= old[1]
                held[(ts, sym)] = (px, qty)
            else:
                held.append((sym, ts, px, qty))
            a = agg.setdefault((_day(ts), sym), [0, 0])
            a[0] += 1
            a[1] += qty
        per_batch.append({k: tuple(v) for k, v in agg.items() if v[0]})
    return per_batch, tables


def _day(ts_us):
    return datetime.datetime.fromtimestamp(ts_us / 1e6, datetime.timezone.utc).strftime("%Y-%m-%d")


def check_ilp(run_dir, info, out):
    errors = []
    sent = out["batches_sent"]
    per_batch, tables = _ilp_state(info["batches"][:sent])
    self_test = None
    for r in load_results(f"{run_dir}/results.jsonl"):
        if "error" in r:
            continue
        body = json.loads(r["read"])
        names = [c["name"] for c in body["columns"]]
        got = [[str(row[names.index("ts")])[:10], row[names.index("sym")], row[names.index("n")],
                 row[names.index("qty")]] for row in body["dataset"]]
        want = [[d, s, n, q] for (d, s), (n, q) in per_batch[r["batch"]].items()]
        err = compare_rows(want, got, False)
        if err:
            errors.append(f"read after batch {r['batch']} ({r['measurement']}): {err}")
        elif self_test is None:
            self_test = (want, got)
    if self_test is None:
        errors.append("no read-after-write result to self-test the checker on")
    elif compare_rows(self_test[0], perturb(self_test[1]), False) is None:
        errors.append("self-test: a perturbed read-after-write result passed the check")
    con = _duck()
    for m, path in out["tables"].items():
        src = f"read_parquet('{path}/__day=*/*.parquet', hive_partitioning = true)"
        held = tables[m][1]
        rows = held.values() if isinstance(held, dict) else [(px, qty) for _, _, px, qty in held]
        n, qty, px = con.sql(f"SELECT count(*), sum(qty), sum(px) FROM {src}").fetchone()
        if n != len(rows) or qty != sum(q for _, q in rows) or not math.isclose(px, sum(p for p, _ in rows), rel_tol=1e-9):
            errors.append(f"{m}: table holds {n} rows, qty {qty}, px {px}; generator: {len(rows)}, "
                          f"{sum(q for _, q in rows)}, {sum(p for p, _ in rows)}")
        view = con.sql(f"SELECT ts, sym, n, qty, px FROM read_parquet('{out['views'][m]}/__day=*/*.parquet', "
                       "hive_partitioning = true)").fetchall()
        want = con.sql(f"SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ts, sym, count(*), sum(qty), sum(px) "
                       f"FROM {src} GROUP BY 1, 2").fetchall()
        err = compare_rows(want, view, False)
        if err:
            errors.append(f"{m} view: {err}")
    return errors, []


def _corpus_oracle(con, sql, data_dir):
    """DuckDB's (columns, rows) for `sql`. The corpus oracle queries are
    fixed and read only the fixed test data, and two of them take 3-6 s, so
    the answer is kept under target/ and used again while the SQL and the
    data files stay the same."""
    key = hashlib.sha256(sql.encode())
    for t in CORPUS_TABLES:
        st = os.stat(f"{data_dir}/{t}.parquet")
        key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(ORACLE_CACHE, key.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = con.sql(sql)
    answer = ([c.lower() for c in rel.columns], rel.fetchall())
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(answer, f)
    os.replace(path + ".tmp", path)
    return answer


def check_corpus(run_dir, info, out):
    con = _duck()
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{info['data_dir']}/{t}.parquet'")
    errors, cache, first = [], {}, None
    for r in load_results(f"{run_dir}/results.jsonl"):
        if "error" in r:
            continue
        name = r["kind"]
        if name not in cache:
            cols, rows = _corpus_oracle(con, out["oracle"][name], info["data_dir"])
            idx = [cols.index(c.lower()) for c in r["cols"]]
            cache[name] = [[row[i] for i in idx] for row in rows]
        err = compare_rows(cache[name], r["rows"], False)
        if err:
            errors.append(f"op {r['op']} ({name}): {err}")
        elif first is None and r["rows"]:
            first = r
    if first is None:
        errors.append("no non-empty output to self-test the checker on")
    elif compare_rows(cache[first["kind"]], perturb(first["rows"]), False) is None:
        errors.append("self-test: a perturbed output passed the check")
    return errors, []


CHECKERS = {"ts_dashboard": check_dashboard, "ts_scan": check_scan, "ilp_ingest": check_ilp,
            "corpus_pipeline": check_corpus}
