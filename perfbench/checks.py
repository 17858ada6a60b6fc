"""Output checks, run after the timed window.

Query results are compared with DuckDB running each query's
SparkEntry.oracleSql over the same parquet tables, by the rules of the
repository's tools/check.py: column names compared sorted, then row
count, then each column value by value in row order, exactly, with a
numeric dtype-kind mismatch counted as a difference. To keep slow oracles
out of every run, each oracle answer is cached as a digest of that
canonical form, keyed by the SQL's hash; an oracle whose SQL changed is
run live.

Ingest loads are checked against the generator's model: after every load
the table's rows with a non-null id equal the model's rows exactly,
every row has processedAt set, and the timed read's per-user counts
match the model.

Every check is also fed a deliberately wrong result and must reject it.

    python3 perfbench/checks.py rebuild    recompute the cached oracle digests
    python3 perfbench/checks.py selftest   feed each check wrong results
"""
import hashlib
import json
import math
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE_CACHE = os.path.join(HERE, "oracle_sf0.01.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(v):
    """One value in a form where equal values, as tools/check.py compares
    them, have equal text."""
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT or v is pd.NA:
        return "~"
    if isinstance(v, float) or isinstance(v, np.floating):
        f = float(v)
        if math.isnan(f):
            return "~"
        return repr(f + 0.0)  # -0.0 == 0.0
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, pd.Timestamp):
        return "t" + v.isoformat()
    if isinstance(v, (np.datetime64, np.timedelta64)):
        return "t" + str(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "r" + repr(v)


def digest(df):
    """(digest, rows, columns) of a result frame in the compared form."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for c in cols:
        kind = df[c].dtype.kind
        h.update(f"col {c} {kind if kind in 'iufb' else '-'}\n".encode())
        for v in df[c].tolist():
            h.update(_canon(v).encode("utf-8", "surrogatepass"))
            h.update(b"\x00")
    return h.hexdigest(), len(df), cols


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def load_cache():
    if not os.path.exists(ORACLE_CACHE):
        return {}
    with open(ORACLE_CACHE) as f:
        return json.load(f)


def oracle_answer(con, name, sql, cache):
    """The cached (digest, rows, columns) of an oracle, or a live run when
    the SQL is not the one the cache was built from."""
    hit = cache.get(name)
    if hit and hit["sql"] == sql_hash(sql):
        return hit["digest"], hit["rows"], hit["columns"]
    return digest(con.sql(sql).df())


def result_frame(con, path):
    import glob
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.sql(f"SELECT * FROM '{files[0]}'").df()


def perturbations(df):
    """Wrong versions of a result: a row dropped, a row duplicated, a
    value changed, a column renamed."""
    import pandas as pd
    out = []
    if len(df):
        out.append(df.iloc[1:])
        out.append(pd.concat([df, df.iloc[:1]]))
        bad = df.copy()
        c = bad.columns[0]
        v = bad[c].iloc[0]
        bad[c] = bad[c].astype(object)
        bad.iat[0, 0] = "~wrong~" if not isinstance(v, str) else v + "~"
        out.append(bad)
    out.append(df.rename(columns={df.columns[0]: df.columns[0] + "_x"}))
    return out


def check_queries(results_dir, names, catalog):
    """(mismatches, checks that accepted a wrong result)."""
    con = connect()
    cache = load_cache()
    sql = {e["name"]: e["oracle"] for e in catalog}
    bad, blind = [], []
    for name in names:
        got = result_frame(con, os.path.join(results_dir, name))
        if got is None:
            bad.append(f"{name}: no result")
            continue
        if not sql.get(name):
            bad.append(f"{name}: no oracle")
            continue
        expected = oracle_answer(con, name, sql[name], cache)
        if digest(got) != tuple(expected):
            bad.append(f"{name}: differs from oracle ({len(got)} rows, expected {expected[1]})")
            continue
        if any(digest(w) == tuple(expected) for w in perturbations(got)):
            blind.append(name)
    return bad, blind


# --------------------------------------------------------------- ingest

def read_snapshot(path):
    """Rows of a table snapshot: (userId, id, title, body, processedAt set)."""
    rows = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            cells = line.rstrip("\n").split("\t")
            cells = [None if c == "\\N" else c for c in cells]
            u, i, t, b, stamped = cells
            rows.append((None if u is None else int(u), None if i is None else int(i), t, b,
                         stamped is not None))
    return rows


def check_snapshot(rows, model, null_rows_allowed):
    """Problems of one table snapshot against the model's rows, and the
    number of rows with a null id."""
    problems = []
    keyed = Counter(r[:4] for r in rows if r[1] is not None)
    want = Counter(model)
    if keyed != want:
        problems.append(f"table rows differ from model: {sum(keyed.values())} rows, expected {len(model)}; "
                        f"{sum((keyed - want).values())} unexpected, {sum((want - keyed).values())} missing")
    nulls = sum(1 for r in rows if r[1] is None)
    if nulls > null_rows_allowed:
        problems.append(f"{nulls - null_rows_allowed} unexpected rows with a null id")
    if not all(r[4] for r in rows):
        problems.append("rows without processedAt")
    return problems, nulls


def check_read(read, model):
    """The timed read returns (userId, rows, max id) per user."""
    per_user = {}
    for u, i, _, _ in model:
        n, m = per_user.get(u, (0, 0))
        per_user[u] = (n + 1, max(m, i))
    want = sorted([u, n, m] for u, (n, m) in per_user.items())
    got = sorted([int(u) if u is not None else None, int(n), int(m)] for u, n, m in read)
    return [] if got == want else [f"read returned {len(got)} users, model has {len(want)} (or counts differ)"]


def check_ingest(out_dir, ops, loads):
    """Walks the load operations in plan order against the model.

    Returns (problems, failed op indexes, fresh blob ids, rows added,
    checks that accepted a wrong result). A load that raises is a failed
    operation; so is a malformed-blob load that adds a row instead of
    leaving the blob out, the one fault the table shows rather than
    raises. A failed load must leave the table as it was."""
    problems, failed, fresh, blind = [], set(), set(), []
    model, rows_added, nulls_seen, round_no = [], 0, 0, None
    load_ops = [(i, op) for i, op in enumerate(ops) if op["kind"] == "load"]
    if len(load_ops) != len(loads):
        return [f"{len(load_ops)} loads ran, plan has {len(loads)}"], failed, fresh, 0, blind
    for (i, op), load in zip(load_ops, loads):
        if load["round"] != round_no:
            round_no, model, nulls_seen = load["round"], [], 0
        known = set(model)
        added = [r for _, rows, _ in load["blobs"] if rows for r in rows if r not in known]
        after = model + added if op["ok"] else model
        snap = op.get("snapshot")
        if snap is None:
            problems.append(f"load {i}: no table snapshot")
            continue
        rows = read_snapshot(os.path.join(out_dir, snap))
        malformed = any(rows_ is None for _, rows_, _ in load["blobs"])
        p, nulls = check_snapshot(rows, after, nulls_seen + (1 if malformed else 0))
        if malformed and nulls > nulls_seen:
            failed.add(i)  # the malformed blob landed as a row
        nulls_seen = nulls
        if op["ok"] and op["read"] is not None and i not in failed:
            p += check_read(op["read"], after)
        problems += [f"load {i} ({load['kind']}): {x}" for x in p]
        if not op["ok"]:
            failed.add(i)
        elif i not in failed:
            rows_added += len(after) - len(model)
            fresh |= {b for b, _, is_fresh in load["blobs"] if is_fresh}
        keyed = [r for r in rows if r[1] is not None]
        if keyed:
            wrong = [r for r in rows if r is not keyed[0]]
            if not check_snapshot(wrong, after, nulls)[0]:
                blind.append(f"load {i} snapshot")
            if op["ok"] and op["read"] is not None and not check_read(op["read"][1:], after) \
                    and len(op["read"]) > 0:
                blind.append(f"load {i} read")
        model = after
    return problems, failed, fresh, rows_added, blind


# --------------------------------------------------------------- commands

def rebuild(catalog_path, names=None):
    """Recomputes the cached oracle digests for every named query."""
    import time
    with open(catalog_path) as f:
        catalog = json.load(f)
    con = connect()
    cache = load_cache()
    for e in catalog:
        if not e["oracle"] or (names and e["name"] not in names):
            continue
        t0 = time.time()
        d, n, cols = digest(con.sql(e["oracle"]).df())
        cache[e["name"]] = {"sql": sql_hash(e["oracle"]), "digest": d, "rows": n, "columns": cols}
        print(f"{e['name']}: {n} rows, {time.time() - t0:.1f}s", flush=True)
    with open(ORACLE_CACHE, "w") as f:
        json.dump(dict(sorted(cache.items())), f, indent=0, sort_keys=True)
        f.write("\n")


def selftest():
    """Feeds every check a wrong result; exits non-zero if one accepts it."""
    import pandas as pd
    failures = []
    frame = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, 1.5, None]})
    d = digest(frame)
    for w in perturbations(frame):
        if digest(w) == d:
            failures.append("query check accepted a perturbed frame")
    if digest(frame.astype({"a": "float64"})) == d:
        failures.append("query check accepted an int column read as float")
    model = [(1, 1, "t1", "b1"), (1, 2, "t2", "b2"), (2, 3, "t3", "b3")]
    good = [r + (True,) for r in model]
    if check_snapshot(good, model, 0)[0]:
        failures.append("snapshot check rejected the right table")
    for name, wrong in [("dropped row", good[1:]), ("duplicated row", good + good[:1]),
                        ("changed title", [(1, 1, "T1", "b1", True)] + good[1:]),
                        ("unstamped row", [(1, 1, "t1", "b1", False)] + good[1:]),
                        ("null-id row", good + [(None, None, None, None, True)])]:
        if not check_snapshot(wrong, model, 0)[0]:
            failures.append(f"snapshot check accepted a {name}")
    read = [[1, 2, 2], [2, 1, 3]]
    if check_read(read, model):
        failures.append("read check rejected the right read")
    for wrong in ([[1, 2, 2]], [[1, 3, 2], [2, 1, 3]], [[1, 2, 9], [2, 1, 3]]):
        if not check_read(wrong, model):
            failures.append(f"read check accepted {wrong}")
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["selftest"]:
        sys.exit(selftest())
    if sys.argv[1:2] == ["rebuild"]:
        sys.path.insert(0, HERE)
        import run
        rebuild(run.build(), set(sys.argv[2:]) or None)
        sys.exit(0)
    print(__doc__)
    sys.exit(2)
