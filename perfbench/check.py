"""Output checks of the benchmark, independent of the program under test.

Pipeline final states are recomputed from the staged source files with
DuckDB (keep the latest version of every key by landing order, drop CDC
deletes and rows that violate the expectation, then join and aggregate).
Query results are compared with each query's oracle SQL run by DuckDB over
the same parquet tables, with the comparison rules of the project's local
oracle gate: same column set, same row count, same dtype kinds, exact
values (floats bit for bit), in the query's own row order.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def load_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def normalize(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df


def kind(s):
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(got, exp):
    """None when equal, else a one-line description of the first difference."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    kinds = [c for c in got.columns if kind(got[c]) != kind(exp[c])]
    if kinds:
        return f"dtype kind mismatch in {kinds}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if kind(g) == "float":
            eq = (g.values == e.values) | (pd.isna(g.values) & pd.isna(e.values))
        else:
            eq = (g.astype(object).values == e.astype(object).values) | \
                 (pd.isna(g).values & pd.isna(e).values)
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}[{i}]: {g.iloc[i]!r} vs {e.iloc[i]!r}"
    return None


def _latest(con, src, entity, keys):
    """Latest version of every key of `entity` by landing order. Staged file
    names sort in landing order and each file holds a key at most once."""
    part = ", ".join(keys)
    return con.sql(f"""
        SELECT * EXCLUDE (rn, filename) FROM (
          SELECT *, row_number() OVER (PARTITION BY {part}
                                       ORDER BY filename DESC) AS rn
          FROM read_parquet('{src}/{entity}/*.parquet', filename = true))
        WHERE rn = 1""")


AGG_SQL = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 1e6) AS BIGINT)) AS BIGINT)
             AS price_x1e6,
           CAST(sum(CAST(floor(l_quantity * 1e6) AS BIGINT)) AS BIGINT)
             AS qty_x1e6
    FROM silver_lineitem GROUP BY ALL"""


def expected_pipeline(src, cdc):
    """Expected final silver and gold tables, recomputed from the staged
    files without the program."""
    con = duckdb.connect()
    out = {}
    keys = {"customer": ["c_custkey"], "orders": ["o_orderkey"],
            "lineitem": ["l_orderkey", "l_linenumber"]}
    for e in (["customer", "lineitem", "orders"] if cdc else ["lineitem"]):
        rel = _latest(con, src, e, keys[e])
        cols = rel.columns
        keep = "op IS DISTINCT FROM 'D'" if "op" in cols else "true"
        if e == "orders":
            keep += " AND o_totalprice IS NOT NULL"
        df = rel.filter(keep).df()
        con.register(f"silver_{e}", df)
        out[f"silver_{e}"] = df.drop(columns=["op"], errors="ignore")
    if cdc:
        out["gold_orders"] = con.sql("""
            SELECT o_orderkey, o_totalprice, o_orderstatus,
                   c_name AS customer, c_mktsegment AS segment
            FROM silver_orders JOIN silver_customer
              ON o_custkey = c_custkey""").df()
    out["gold_lineitem"] = con.sql(AGG_SQL).df()
    return out


def check_pipeline(check_dir, src, cdc):
    """Failures of the dumped final state against the recomputation."""
    failures = []
    for name, exp in expected_pipeline(src, cdc).items():
        got = load_dir(os.path.join(check_dir, name))
        if got is None:
            failures.append(f"{name}: no output")
            continue
        missing = [c for c in exp.columns if c not in got.columns]
        if missing:
            failures.append(f"{name}: missing columns {missing}")
            continue
        cols = sorted(exp.columns)
        got = got[cols].sort_values(cols).reset_index(drop=True)
        exp = exp[cols].sort_values(cols).reset_index(drop=True)
        for c in cols:
            if kind(got[c]) == "int" and kind(exp[c]) == "int":
                got[c] = got[c].astype("int64")
                exp[c] = exp[c].astype("int64")
        diff = compare(got, exp)
        if diff:
            failures.append(f"{name}: {diff}")
    return failures


def check_queries(results_dir, tables_dir):
    """Per query name, the failure of its result against its oracle SQL."""
    con = duckdb.connect()
    for p in glob.glob(f"{tables_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = {}
    for name, sql in sorted(oracles.items()):
        got = load_dir(os.path.join(results_dir, name))
        if got is None:
            failures[name] = "no result"
            continue
        try:
            rel = con.sql(sql)
            huge = [c for c, t in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                failures[name] = f"oracle emits HUGEINT columns {huge}"
                continue
            exp = rel.df()
        except Exception as e:  # an oracle that cannot run fails the check
            failures[name] = f"oracle error: {e}".splitlines()[0]
            continue
        diff = compare(got, exp)
        if diff:
            failures[name] = diff
    return failures
