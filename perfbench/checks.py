"""Correctness checks: each returns a list of failure messages (empty when
the program's outputs are right). They compare the JVM's dumps with the
outcomes gen.py computed without Spark, and the analytic results with
DuckDB running each query's oracle SQL."""
import json
import math
import os


def read_rows(path):
    with open(path, encoding="utf-8") as f:
        return [tuple(json.loads(line)) for line in f if line.strip()]


def compare_rows(what, got, want):
    """Multiset equality of row tuples; a few rows of difference shown."""
    got, want = sorted(map(tuple, got)), sorted(map(tuple, want))
    if got == want:
        return []
    extra = sorted(set(got) - set(want))[:2]
    missing = sorted(set(want) - set(got))[:2]
    return [f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra}, missing {missing}"]


def unique_keys(what, rows):
    keys = [r[:2] for r in rows]
    dups = len(keys) - len(set(keys))
    return [f"{what}: {dups} duplicate keys"] if dups else []


# --------------------------------------------------------------- etl_daily

def check_etl(work, expected, result):
    fails = []
    tables = {n: read_rows(os.path.join(work, f"dump_{n}.jsonl"))
              for n in ("genres", "recordings", "top", "torrents")}
    for name, rows in tables.items():
        fails += unique_keys(name, rows)
        fails += compare_rows(name, rows, expected[name])
    tops = {r[1] for r in tables["top"]}
    kept = [r for r in expected["removed_tops"] if r[1] in tops]
    if kept:
        fails.append(f"top: {len(kept)} rows the cascade should have deleted, e.g. {kept[0]}")
    orphans = [r for r in tables["torrents"] if r[0] not in tops]
    if orphans:
        fails.append(f"torrents: {len(orphans)} rows without a surviving top, e.g. {orphans[0]}")
    if result["fingerprints_before"] != result["fingerprints_after"]:
        fails.append("a repeated tick changed table content: "
                     f"{result['fingerprints_before']} -> {result['fingerprints_after']}")
    return fails


# -------------------------------------------------------- analytic_queries

MAX_ULPS = 4


def close(a, b):
    """Values equal, floats within MAX_ULPS units in the last place."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= MAX_ULPS * math.ulp(max(abs(a), abs(b)))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k]) for k in a)
    return a == b


def sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.9g}")
        if isinstance(v, (list, tuple, dict)):
            return (2, repr(v))
        return (3, str(v))
    return tuple(k(v) for v in row)


def compare_result(name, got_cols, got, want_cols, want):
    """Columns compared by name, rows as sorted multisets, floats by ulps."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} vs oracle {sorted(want_cols)}"]
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    wi = [want_cols.index(c) for c in sorted(want_cols)]
    got = sorted((tuple(r[i] for i in gi) for r in got), key=sort_key)
    want = sorted((tuple(r[i] for i in wi) for r in want), key=sort_key)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs oracle {len(want)}"]
    for g, w in zip(got, want):
        if not close(g, w):
            return [f"{name}: row {g} vs oracle {w}"]
    return []


def check_analytic(work, expected, result):
    """Every query that did not fail, by its first timed result."""
    import duckdb
    con = duckdb.connect()
    data_dir = expected["data_dir"]
    for f in sorted(os.listdir(data_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    with open(os.path.join(work, "oracle.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    fails = []
    failed = {o["name"] for o in result["ops"] if "error" in o}
    for name in [q for q in expected["queries"] if q not in failed]:
        got = con.sql(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')")
        want = con.sql(oracle[name])
        fails += compare_result(name, got.columns, got.fetchall(), want.columns, want.fetchall())
    con.close()
    return fails


CHECKS = {"etl_daily": check_etl, "analytic_queries": check_analytic}
