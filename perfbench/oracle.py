"""Correctness check: registry outputs against the DuckDB oracles.

The compare is `scripts/check.py`'s rule: columns sorted by name, rows
sorted, every value hashed as its string. A gated key's expected hash
comes from running `SparkEntry.oracleSql(key)` in DuckDB over the
generated corpus; it is cached beside the corpus, keyed by the SQL
text, so a seed pays for it once. A gated key's cold-call result and
its warm result must both match the oracle; a key with no oracle must
give the same hash from its cold-call result as from its warm result.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from corpus import TABLES


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def fingerprint(df):
    """(sorted column names, row count, value hash) of a result."""
    df = normalize(df)
    h = int(pd.util.hash_pandas_object(df.astype(str), index=False).sum()) \
        if len(df.columns) else 0
    return [list(df.columns), len(df), str(h)]


def read_output(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files \
        else pd.DataFrame()


def expected(corpus_dir, key, sql):
    """The oracle's fingerprint for `key`, cached per corpus and SQL."""
    cache = os.path.join(corpus_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache, f"{key}-{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    spill = os.path.join(cache, "spill")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus_dir, t)}.parquet'")
    fp = fingerprint(con.execute(sql).df())
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(fp, f)
    os.replace(tmp, path)
    return fp


def check(corpus_dir, out_dir, keys, oracle_sql, check_errors):
    """Map each key to "" when its results are right, else the reason.

    Both results of a key are checked: the cold call's own frame
    (`check-cold`, the build path) and the check phase's (`check`, the
    warm path). A gated key's two must each match its oracle; a key
    with no oracle must give the same fingerprint from both.
    """
    verdict = {}
    for k in keys:
        if check_errors.get(k):
            verdict[k] = "check run failed: " + check_errors[k]
            continue
        cold_dir = os.path.join(out_dir, "check-cold", k)
        if not os.path.isdir(cold_dir):
            verdict[k] = "no cold-pass result"
            continue
        cold = fingerprint(read_output(cold_dir))
        warm = fingerprint(read_output(os.path.join(out_dir, "check", k)))
        if k in oracle_sql:
            want, what = expected(corpus_dir, k, oracle_sql[k]), "oracle"
        else:
            want, what = cold, "cold pass"
        bad = [f"{name} result differs from the {what}: cols {got[0] == want[0]}, "
               f"rows {got[1]} vs {want[1]}, values {got[2] == want[2]}"
               for name, got in (("cold", cold), ("warm", warm)) if got != want]
        verdict[k] = "; ".join(bad)
    return verdict
