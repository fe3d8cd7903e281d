"""Output checks: each verified Spark result against DuckDB on the same parquet.

A result is compared by an order-insensitive fingerprint: every value is put
in a canonical text form (numbers compare by value, so 3 and 3.0 agree, and
floats compare exactly), rows are sorted, and the lot is hashed with SHA-256.
Column names are compared as sorted lists.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# graft's documented sketch bounds (Relational.q10b / q29b scaladoc)
HLL_MAX_REL_ERR = 0.15
GK_ACCURACY = 1000
GK_MAX_RANK_ERR = 2.0  # in n/B units
SKETCHES = ("q10b_approx_distinct", "q29b_approx_percentiles")


def canon(v):
    """Canonical text of one value."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 2 ** 53:
            return str(int(f))
        return repr(f)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # an instant: the same value as the naive UTC timestamp (graft's
            # sessions run in UTC), whichever parquet timestamp type carried it
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    """(sorted column names, row count, SHA-256 of the sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return [columns[i] for i in order], len(rows), digest


def connect(data_dir, views=None):
    """DuckDB over the committed tables; `views` overrides table definitions."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in TABLES:
        sql = (views or {}).get(t, f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS {sql}")
    return con


def query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def expected(con, sql, cache_dir):
    """Fingerprint of the oracle result of `sql`, memoized in `cache_dir` (keyed
    by the SQL text; callers give each input its own directory), or computed
    afresh when `cache_dir` is None."""
    path = cache_dir and os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest())
    if path and os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    fp = fingerprint(*query(con, sql))
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump(fp, f)
    return fp


def spark_output(con, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    listing = ", ".join(f"'{f}'" for f in files)
    return query(con, f"SELECT * FROM read_parquet([{listing}])")


def compare(got, expected_fp):
    """None when the fingerprint of `got` equals `expected_fp`, else a one-line reason."""
    g, e = fingerprint(*got), tuple(expected_fp)
    if g[0] != e[0]:
        return f"columns {g[0]} != {e[0]}"
    if g[1] != e[1]:
        return f"rows {g[1]} != {e[1]}"
    if g[2] != e[2]:
        return "values differ"
    return None


def check_sketch(con, name, got):
    """Hold a sketch twin to its documented bound; None when within it."""
    cols, rows = got
    recs = [dict(zip(cols, r)) for r in rows]
    if name == "q10b_approx_distinct":
        exact = dict((s, (d, n)) for s, d, n in con.execute(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey), COUNT(*) FROM orders "
            "GROUP BY o_orderstatus").fetchall())
        if sorted(exact) != sorted(r["o_orderstatus"] for r in recs):
            return "groups differ"
        for r in recs:
            d, n = exact[r["o_orderstatus"]]
            if r["n_orders"] != n:
                return f"n_orders {r['n_orders']} != {n}"
            if abs(r["approx_customers"] - d) > HLL_MAX_REL_ERR * d:
                return f"approx_customers {r['approx_customers']} vs exact {d}"
        return None
    if name == "q29b_approx_percentiles":
        for r in recs:
            flag = r["l_returnflag"]
            n = con.execute("SELECT COUNT(*) FROM lineitem WHERE l_returnflag = ?",
                            [flag]).fetchone()[0]
            if r["n_items"] != n:
                return f"n_items {r['n_items']} != {n}"
            for col, out, q in (("l_quantity", "median_qty", 0.5),
                                ("l_extendedprice", "p90_price", 0.9)):
                lo, hi = con.execute(
                    f"SELECT COUNT(*) FILTER (WHERE {col} < ?), COUNT(*) FILTER (WHERE {col} <= ?) "
                    "FROM lineitem WHERE l_returnflag = ?", [r[out], r[out], flag]).fetchone()
                err = max(0.0, lo - q * n, q * n - hi) * GK_ACCURACY / n
                if err > GK_MAX_RANK_ERR:
                    return f"{out} rank error {err:.2f} n/B"
        return None
    raise KeyError(name)


# ---------------------------------------------------------------- ingest

def ingest_views(data_dir, max_days, appended):
    """Source tables after the base copy and the appended key slices."""
    keep = ", ".join(str(s) for s in appended) or "NULL"
    views = {}
    for t, k in (("lineitem", "l_orderkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        views[t] = (f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet') "
                    f"WHERE {k} % 128 >= {max_days} OR {k} % 128 IN ({keep})")
    return views


MINHASH_P = 281474976710597  # graft's MinHash family modulus (TextOps)
DF_CAP = 50                  # BandIngest.DfCap


def band_probe_sql(ing, folded_days, delta_days):
    """Band rows BandIngest serves (base generation + committed deltas).

    The base generation is the base universe (doc_id % 10 < 8) plus every
    drop folded in by the last rebuild; its banned set is every shingle in
    more than DF_CAP of those documents. Deltas are the drops streamed since,
    banded against that same banned set."""
    def drops(days):
        if not days:
            return "SELECT NULL::BIGINT AS doc_id, NULL::VARCHAR AS text WHERE false"
        return " UNION ALL ".join(
            f"SELECT doc_id + {(d + 1) * ing['id_offset']} AS doc_id, text FROM documents "
            f"WHERE (doc_id * {ing['drop_mult']} + {ing['drop_add']}) % {ing['drop_mod']} "
            f"= {ing['drop_res'][d]}" for d in days)
    mins = ", ".join(f"MIN((h1 + {i} * h2) % {MINHASH_P}) AS m{i}" for i in range(16))
    bands = ", ".join(
        f"'{b}' || '|' || m{4*b} || '|' || m{4*b+1} || '|' || m{4*b+2} || '|' || m{4*b+3}"
        for b in range(4))
    return f"""
      WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
                    UNION ALL {drops(folded_days)}),
           served AS (SELECT * FROM base UNION ALL {drops(delta_days)}),
           sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
                  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM served)),
           banned AS (SELECT shingle FROM sh WHERE doc_id IN (SELECT doc_id FROM base)
                      GROUP BY shingle HAVING COUNT(*) > {DF_CAP}),
           hashed AS (SELECT doc_id,
                        ('0x' || substring(md5(shingle), 1, 12))::BIGINT AS h1,
                        ('0x' || substring(md5(shingle), 13, 12))::BIGINT AS h2
                      FROM sh WHERE shingle NOT IN (SELECT shingle FROM banned)),
           mins AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
      SELECT doc_id, unnest([{bands}]) AS band_key FROM mins"""
