"""Seeded corpus generator for the benchmark.

Writes the ten tables the registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`), one
parquet file each, with the same schemas and value shapes as the
star-schema test corpora the engine is gated on. Every value is a pure
function of (seed, scale): DuckDB's `hash()` of the seed, the row id
and a per-column tag, so the same seed always gives byte-identical
tables, whatever DuckDB's thread count.

`scale` stacks copies the way `scripts/gen_sf1.sc` scales a corpus:
copy i strides every key column by a seed-chosen multiple of 1e9 (join
integrity holds within a copy, no key collides across copies), salts
every word of its documents with a per-copy suffix (within-copy
duplicate structure kept, cross-copy shingle overlap zero), rotates
its embedding dimensions by a per-copy amount (norms and within-copy
inner products kept, cross-copy cosines decorrelated) and shifts its
events 40 days later. The seed also picks the row order of each table.
`events.parquet` stays one file sorted by `ts`: the stream keys
symlink it into a feed directory, and a directory-shaped table feeds
zero rows.

Usage: python3 perfbench/corpus.py <out_dir> <seed> [scale]
"""
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# rows of one copy (the shape of the 0.01 scale factor)
BASE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
USERS = 150
STRIDE = 1_000_000_000
VOCAB = ["a", "the", "spark", "query", "join", "hash", "row", "batch",
         "scan", "column", "customer", "filter", "small", "slow", "merge",
         "order", "vector", "line", "data", "table", "agg", "value", "key",
         "stream", "window", "part", "group", "big", "sort", "fast"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
DIM = 64


def _u(seed, tag, *ids):
    """SQL for a uniform double in [0, 1) keyed by seed, tag and ids."""
    args = ", ".join([str(seed), f"'{tag}'", *map(str, ids)])
    return f"(hash({args}) % 1000000007) / 1000000007.0"


def _pick(seed, tag, choices, *ids):
    arr = "[" + ", ".join(f"'{c}'" for c in choices) + "]"
    return f"{arr}[1 + floor({_u(seed, tag, *ids)} * {len(choices)})::INT]"


def copy_sql(seed, c):
    """SELECT statements for copy c of every table (keys unshifted)."""
    u = lambda tag, *ids: _u(seed, tag, *ids)
    pick = lambda tag, ch, *ids: _pick(seed, tag, ch, *ids)
    n = {t: BASE[t] for t in BASE}
    return {
        "customer": f"""
          SELECT i::BIGINT AS c_custkey,
                 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                 floor({u('cn', 'i', c)} * 25)::INTEGER AS c_nationkey,
                 round(-999.99 + {u('cb', 'i', c)} * 10999.98, 2)::DOUBLE AS c_acctbal,
                 {pick('cs', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i', c)} AS c_mktsegment
          FROM range({n['customer']}) t(i)""",
        "supplier": f"""
          SELECT i::BIGINT AS s_suppkey,
                 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                 floor({u('sn', 'i', c)} * 25)::INTEGER AS s_nationkey,
                 round(-999.99 + {u('sb', 'i', c)} * 10999.98, 2)::DOUBLE AS s_acctbal
          FROM range({n['supplier']}) t(i)""",
        "part": f"""
          SELECT i::BIGINT AS p_partkey,
                 {pick('pa', ADJ, 'i', c)} || ' ' || {pick('pn', NOUN, 'i', c)} AS p_name,
                 'Brand#' || (1 + floor({u('pb', 'i', c)} * 25)::INT)::VARCHAR AS p_brand,
                 {pick('pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 'i', c)} AS p_type,
                 (1 + floor({u('ps', 'i', c)} * 50))::INTEGER AS p_size,
                 ((9000 + i % 1000) / 10)::DOUBLE AS p_retailprice
          FROM range({n['part']}) t(i)""",
        "orders": f"""
          SELECT i::BIGINT AS o_orderkey,
                 floor({u('oc', 'i', c)} * {n['customer']})::BIGINT AS o_custkey,
                 {pick('os', ['F', 'O', 'P'], 'i', c)} AS o_orderstatus,
                 round(1000 + {u('op', 'i', c)} * 499000, 2)::DOUBLE AS o_totalprice,
                 TIMESTAMP '1995-01-01' + to_days(floor({u('od', 'i', c)} * 2404)::INT) AS o_orderdate,
                 {pick('oy', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i', c)} AS o_orderpriority
          FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
          SELECT floor({u('lo', 'i', c)} * {n['orders']})::BIGINT AS l_orderkey,
                 floor({u('lp', 'i', c)} * {n['part']})::BIGINT AS l_partkey,
                 floor({u('ls', 'i', c)} * {n['supplier']})::BIGINT AS l_suppkey,
                 (1 + floor({u('ln', 'i', c)} * 7))::INTEGER AS l_linenumber,
                 (1 + floor({u('lq', 'i', c)} * 50))::DOUBLE AS l_quantity,
                 round(900 + {u('le', 'i', c)} * 104099, 2)::DOUBLE AS l_extendedprice,
                 (floor({u('ld', 'i', c)} * 11) / 100)::DOUBLE AS l_discount,
                 (floor({u('lt', 'i', c)} * 9) / 100)::DOUBLE AS l_tax,
                 {pick('lr', ['A', 'N', 'R'], 'i', c)} AS l_returnflag,
                 {pick('ll', ['F', 'O'], 'i', c)} AS l_linestatus,
                 TIMESTAMP '1995-01-02' + to_days(floor({u('lh', 'i', c)} * 2498)::INT) AS l_shipdate
          FROM range({n['lineitem']}) t(i)""",
        "events": f"""
          SELECT row_number() OVER (ORDER BY us, i) - 1 AS event_id, *
                 EXCLUDE (us, i)
          FROM (SELECT i,
                  floor({u('et', 'i', c)} * 30 * 86400 * 1e6)::BIGINT AS us,
                  TIMESTAMP '2024-01-01' + to_microseconds(floor({u('et', 'i', c)} * 30 * 86400 * 1e6)::BIGINT)
                    + to_days({40 * c}) AS ts,
                  floor({u('eu', 'i', c)} * {USERS})::BIGINT AS user_id,
                  {pick('ey', ['click', 'error', 'purchase', 'signup', 'view'], 'i', c)} AS event_type,
                  greatest(0.01, round(-50 * ln(1 - {u('ev', 'i', c)}), 2))::DOUBLE AS value,
                  '{{"k": ' || floor({u('ek', 'i', c)} * 100)::INT::VARCHAR || '}}' AS props
                FROM range({n['events']}) t(i))""",
        # 5% of documents repeat an earlier document with " dup"
        # appended, so the dedup keys find near-duplicate pairs
        "documents": f"""
          WITH base AS (
            SELECT i, array_to_string(list_transform(
                     range(10 + floor({u('dn', 'i', c)} * 90)::BIGINT),
                     w -> {_pick(seed, 'dw', VOCAB, 'i', 'w', c)}), ' ') AS text
            FROM range({n['documents']}) t(i)),
          src AS (
            SELECT b.i, CASE WHEN b.i > 0 AND {u('dd', 'b.i', c)} < 0.05
                        THEN o.text || ' dup' ELSE b.text END AS text
            FROM base b LEFT JOIN base o
              ON o.i = floor({u('do', 'b.i', c)} * b.i)::BIGINT)
          SELECT i::BIGINT AS doc_id, text,
                 {pick('dl', ['de', 'en', 'en', 'en', 'es', 'fr', 'zh'], 'i', c)} AS lang,
                 'src' || (i % 20)::VARCHAR AS source,
                 length(text)::BIGINT AS n_chars
          FROM src""",
        # unit vectors of sums of three uniforms per dimension (roughly
        # normal, so directions are close to uniform on the sphere)
        "embeddings": f"""
          WITH raw AS (
            SELECT i, list_transform(range({DIM}), j ->
                     {u('x1', 'i', 'j', c)} + {u('x2', 'i', 'j', c)}
                     + {u('x3', 'i', 'j', c)} - 1.5) AS v
            FROM range({n['embeddings']}) t(i))
          SELECT i::BIGINT AS vec_id,
                 list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
                 floor({u('el', 'i', c)} * 10)::INTEGER AS label
          FROM raw""",
    }


KEYS = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"], "documents": ["doc_id"],
        "embeddings": ["vec_id"]}


def generate(out_dir, seed, scale=1):
    seed = int(seed)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("""CREATE TABLE region AS SELECT * FROM (VALUES
        (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), (3, 'EUROPE'),
        (4, 'MIDDLE EAST')) t(r_regionkey, r_name)""")
    con.execute("""CREATE TABLE nation AS SELECT i::INTEGER AS n_nationkey,
        'NATION_' || i::VARCHAR AS n_name, (i % 5)::INTEGER AS n_regionkey
        FROM range(25) t(i)""")
    # the seed picks the per-copy key offsets, word salts and rotations
    rng = con.execute(f"SELECT list_transform(range(64), k -> hash({seed}, 'copy', k))").fetchone()[0]
    letters = "bcdefghijklmnopqrstuvwxyz"
    for t in BASE:
        parts = []
        for c in range(scale):
            sql = copy_sql(seed, c)[t]
            if c == 0:
                parts.append(sql)
                continue
            off = (c + (rng[c] % 7) * scale) * STRIDE
            repl = [f"{k} + {off} AS {k}" for k in KEYS[t]]
            if t == "documents":
                sfx = "q" + letters[(rng[c] >> 8) % len(letters)] + str(c)
                salted = (f"array_to_string(list_transform(string_split(text, ' '), "
                          f"w -> w || '{sfx}'), ' ')")
                repl += [f"{salted} AS text", f"length({salted})::BIGINT AS n_chars"]
            if t == "embeddings":
                rot = 1 + (rng[c] >> 16) % (DIM - 1)
                repl.append(f"list_transform(range({DIM}), j -> embedding[1 + (j + {rot}) % {DIM}]) AS embedding")
            parts.append(f"SELECT * REPLACE ({', '.join(repl)}) FROM ({sql})")
        union = " UNION ALL ".join(f"({p})" for p in parts)
        order = "ts, event_id" if t == "events" else f"hash({seed}, t)"
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM ({union}) t ORDER BY {order}")
    for t in TABLES:
        tmp = os.path.join(out_dir, f".{t}.parquet.tmp")
        con.execute(f"COPY {t} TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, os.path.join(out_dir, f"{t}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 1)
