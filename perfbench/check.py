"""Correctness checks run after the timed window, against DuckDB.

Each check names how many timed operations it covers; a failed check
counts all of them as failed.

* ``oracle``: a registry query's result against its DuckDB twin from
  ``SparkEntry.oracleSql``, over the same generated tables.
* ``reference``: the 9 reference results against DuckDB running the same
  queries over the cleaned tables the run wrote.
* ``counts``: a pipeline's reported stage counts against its oracle twin,
  which re-counts the parquet the pipeline staged.
"""
import glob
import math
import os
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(tables_dir or "", f"{t}.parquet")
        if tables_dir and os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _kind(v):
    import decimal
    import numpy as np
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (pd.Timestamp,)) or "datetime" in str(type(v)):
        return "datetime"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "list"
    return type(v).__name__


def _canon(v):
    """A hashable, type-tagged form of one cell."""
    k = _kind(v)
    if k is None:
        return ("null",)
    if k == "list":
        return ("list", tuple(_canon(x) for x in list(v)))
    if k == "datetime":
        return (k, pd.Timestamp(v).value)
    if k == "int":
        return (k, int(v))
    if k == "float":
        return (k, float(v))
    return (k, v)


def frames_match(a, b):
    """Same column names, and the same multiset of rows with type-strict
    cell equality (columns compared in name order)."""
    ca, cb = sorted(a.columns), sorted(b.columns)
    if ca != cb:
        return False, f"columns {ca} != {cb}"
    if len(a) != len(b):
        return False, f"rows {len(a)} != {len(b)}"
    ra = sorted((tuple(_canon(v) for v in r) for r in a[ca].itertuples(index=False)),
                key=repr)
    rb = sorted((tuple(_canon(v) for v in r) for r in b[cb].itertuples(index=False)),
                key=repr)
    for x, y in zip(ra, rb):
        if x != y:
            return False, f"first differing row {x} != {y}"
    return True, ""


def check_oracle(c):
    con = _connect(c["tables"])
    want = con.execute(c["sql"]).df()
    return frames_match(_read_result(c["result"]), want)


def check_counts(c):
    """Point the oracle twin's staged-parquet reads at this run's staging
    directory, then compare with the counts the pipeline reported."""
    staged = c["staged"]
    sql = re.sub(r"read_parquet\('[^']*/([A-Za-z0-9_]+)/\*\.parquet'\)",
                 lambda m: f"read_parquet('{staged}/{m.group(1)}/*.parquet')",
                 c["sql"])
    rows = _connect(c["tables"]).execute(sql).fetchall()
    got = [(str(k), int(v)) for k, v in rows]
    want = [(str(k), int(v)) for k, v in c["expected"]]
    return (got == want), f"oracle {got} != reported {want}"


AGE = """CASE WHEN age BETWEEN 18 AND 24 THEN '18-24'
  WHEN age BETWEEN 25 AND 35 THEN '25-35'
  WHEN age BETWEEN 36 AND 50 THEN '36-50' ELSE '+50' END"""

REFERENCE_SQL = {
    "q1": """SELECT country, category, count(*) AS category_count
             FROM geo JOIN pin USING (ind) GROUP BY 1, 2""",
    "q2": """SELECT CAST(year("timestamp") AS INT) AS post_year, category,
               count(*) AS category_count
             FROM geo JOIN pin USING (ind)
             WHERE "timestamp" >= TIMESTAMP '2018-01-01'
               AND "timestamp" < TIMESTAMP '2023-01-01'
             GROUP BY 1, 2""",
    "q3": """SELECT country, poster_name, follower_count FROM (
               SELECT country, poster_name, follower_count,
                 row_number() OVER (PARTITION BY country
                   ORDER BY follower_count DESC NULLS LAST,
                            poster_name ASC NULLS FIRST) AS rn
               FROM geo JOIN pin USING (ind)) WHERE rn = 1""",
    "q5": f"""SELECT {AGE} AS age_group, category,
                count(DISTINCT ind) AS category_count
              FROM "user" JOIN pin USING (ind)
              WHERE category IS NOT NULL GROUP BY 1, 2""",
    "q7": """SELECT CAST(year(date_joined) AS INT) AS post_year,
               count(DISTINCT ind) AS number_users_joined
             FROM "user" GROUP BY 1""",
}

# percentile_approx(follower_count, 0.5, 10000) groups: key expressions
MEDIAN_GROUPS = {
    "q6": ([f"{AGE} AS age_group"], "median_follower_count"),
    "q8": (["CAST(year(date_joined) AS INT) AS post_year"],
           "median_follower_count"),
    "q9": ([f"{AGE} AS age_group",
            "CAST(year(date_joined) AS INT) AS post_year"],
           "median_follower_count"),
}


def _check_median(con, q, got):
    """percentile_approx returns an element whose rank is within n/10000
    (its accuracy) of the median rank; check that bound per group."""
    keys, col = MEDIAN_GROUPS[q]
    names = [k.split(" AS ")[-1] for k in keys]
    rows = con.execute(f"""
        SELECT {', '.join(keys)}, list(follower_count) FILTER
          (WHERE follower_count IS NOT NULL) AS v
        FROM "user" JOIN pin USING (ind) GROUP BY ALL""").fetchall()
    groups = {tuple(r[:-1]): sorted(r[-1] or []) for r in rows}
    if sorted(got.columns) != sorted(names + [col]) or len(got) != len(groups):
        return False, f"{q}: shape {list(got.columns)} x {len(got)}"
    for r in got.itertuples(index=False):
        d = r._asdict()
        key = tuple(None if pd.isna(d[n]) else d[n] for n in names)
        vals, v = groups.get(key), d[col]
        if vals is None:
            return False, f"{q}: unexpected group {key}"
        if not vals:
            if not pd.isna(v):
                return False, f"{q}: {key} should be NULL"
            continue
        n = len(vals)
        target = max(1, math.ceil(0.5 * n))
        eps = n / 10000 + 1
        lt = sum(1 for x in vals if x < v)
        le = sum(1 for x in vals if x <= v)
        if v not in vals or lt > target + eps or le < target - eps:
            return False, f"{q}: {key} median {v} rank [{lt},{le}] vs {target}"
    return True, ""


def check_reference(c):
    con = _connect()
    for t in ("pin", "geo", "user"):
        con.execute(f"""CREATE VIEW "{t}" AS SELECT * FROM
                        read_parquet('{c['clean']}/{t}/*.parquet')""")
    for q in ["q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9"]:
        got = _read_result(os.path.join(c["out"], q))
        if q in REFERENCE_SQL:
            ok, why = frames_match(got, con.execute(REFERENCE_SQL[q]).df())
        elif q == "q4":
            # top country by follower count; any country tied at the top
            top = con.execute(REFERENCE_SQL["q3"]).df()
            best = top["follower_count"].max()
            tied = set(top.loc[top["follower_count"] == best, "country"])
            ok = (list(got.columns) == ["country", "follower_count"]
                  and len(got) == 1 and got["follower_count"][0] == best
                  and got["country"][0] in tied)
            why = f"q4 {got.to_dict('records')} vs max {best} in {sorted(tied)}"
        else:
            ok, why = _check_median(con, q, got)
        if not ok:
            return False, f"{q}: {why}"
    return True, ""


CHECKS = {"oracle": check_oracle, "counts": check_counts,
          "reference": check_reference}


def run_checks(checks):
    """Returns (ops failed, messages)."""
    failed, msgs = 0, []
    for c in checks:
        try:
            ok, why = CHECKS[c["kind"]](c)
        except Exception as e:  # a check that cannot run is a failed check
            ok, why = False, f"{type(e).__name__}: {e}"
        if not ok:
            failed += int(c.get("ops", 1))
            msgs.append(f"{c.get('name', c['kind'])}: {why}"[:400])
    return failed, msgs
