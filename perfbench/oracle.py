"""Correctness gates, run after the timed phases.

* ``check_queries``: each registered query's materialized result must hash
  equal to its DuckDB ``oracleSql`` answer over the same Parquet tables.
  The normalisation (cells to text, floats at 6 decimals, columns sorted
  by name, row order kept) is ``tools/oracle_check.py``'s own, imported
  from it; the rule that integer-vs-float column kinds must agree
  restates the one inline in its ``main``.
* ``check_shop``: sampled MovieShop responses must equal DuckDB over the
  same TSV tables, and the inserted order ids must be unique and
  gap-free (MAX + 1 each).
"""
import glob
import json
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import frame_hash, norm_cell  # noqa: E402  (the project's normalisation)


def _kinds(df):
    return {c: ("f" if str(df[c].dtype).startswith("float")
                else "i" if str(df[c].dtype).startswith("int") else "o")
            for c in df.columns}


def _connect(data_dir):
    con = duckdb.connect(config={"threads": 2, "memory_limit": "4GB"})
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_queries(data_dir, results_dir, oracles, names):
    """Returns ``{name: "OK" | reason}`` for every name."""
    out = {}
    con = _connect(data_dir)
    for i, name in enumerate(names):
        if i and i % 50 == 0:  # DuckDB 1.0 leaks reservations per connection
            con.close()
            con = _connect(data_dir)
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            out[name] = "NO_OUTPUT"
            continue
        if not oracles.get(name):
            out[name] = "NO_ORACLE"
            continue
        try:
            sp = con.execute(f"SELECT * FROM read_parquet({files!r})")
            sp_cols = [d[0] for d in sp.description]
            sp_pdf = sp.df()
            du = con.execute(oracles[name])
            du_cols = [d[0] for d in du.description]
            du_pdf = du.df()
        except Exception as e:  # a failing oracle is a failed check
            out[name] = f"ORACLE_ERROR {str(e)[:200]}"
            continue
        ks, kd = _kinds(sp_pdf), _kinds(du_pdf)
        sp_rows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        du_rows = con.execute(oracles[name]).fetchall()
        if sorted(sp_cols) != sorted(du_cols):
            out[name] = f"SCHEMA_MISMATCH {sorted(sp_cols)} vs {sorted(du_cols)}"
        elif [c for c in ks if c in kd and ks[c] != kd[c] and "o" not in (ks[c], kd[c])]:
            out[name] = "DTYPE_MISMATCH"
        elif len(sp_rows) != len(du_rows):
            out[name] = f"ROWCOUNT_MISMATCH spark={len(sp_rows)} duck={len(du_rows)}"
        elif frame_hash(sp_cols, sp_rows) != frame_hash(du_cols, du_rows):
            out[name] = "HASH_MISMATCH"
        else:
            out[name] = "OK"
    con.close()
    return out


# ---- MovieShop ------------------------------------------------------------

def _csv(path, cols):
    spec = ", ".join(f"'{c}': '{t}'" for c, t in cols)
    return (f"read_csv('{path}', delim='\t', header=false, quote='', escape='', "
            f"columns={{{spec}}}, auto_detect=false)")


MOVIE = [("movie_id", "INTEGER"), ("name", "VARCHAR"), ("price", "DOUBLE"),
         ("ranking", "DOUBLE"), ("information", "VARCHAR")]
REVIEW = [("review_id", "INTEGER"), ("movie_id", "INTEGER"), ("ranking", "DOUBLE"),
          ("content", "VARCHAR")]
ORDER = [("order_id", "INTEGER"), ("movie_id", "INTEGER"), ("movie_name", "VARCHAR"),
         ("movie_num", "INTEGER"), ("price_sum", "DOUBLE"), ("create_time", "VARCHAR")]


def _like(s):
    return "'" + s.replace("'", "''") + "'"


def _round1(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.1"), rounding=ROUND_HALF_UP))


def _rows(con, sql):
    return [tuple(norm_cell(v) for v in r) for r in con.execute(sql).fetchall()]


def _expected(con, endpoint, p, orders_view):
    if endpoint == "query_movie_list":
        start, limit, key = int(p[0]), int(p[1]), (p[2] if len(p) > 2 else "")
        return _rows(con, f"""
            SELECT movie_id, name, price, ranking,
                   json_extract_string(information, '$.title'),
                   json_extract_string(information, '$.rating.average')
            FROM movie WHERE name LIKE {_like('%' + key + '%')}
            ORDER BY movie_id LIMIT {limit} OFFSET {start}""")
    if endpoint == "query_movie":
        return _rows(con, f"""
            SELECT m.movie_id, m.name, m.price, m.ranking,
                   json_extract_string(m.information, '$.title'),
                   CAST(json_extract_string(m.information, '$.pubdate')::JSON
                        AS VARCHAR[])::VARCHAR,
                   (SELECT list(review_id ORDER BY review_id)::VARCHAR
                    FROM review r WHERE r.movie_id = m.movie_id)
            FROM movie m WHERE m.movie_id = {int(p[0])}""")
    if endpoint == "query_recommend_movie_list":
        return _rows(con, f"""
            SELECT movie_id, name, price, ranking FROM movie
            WHERE ranking IS NOT NULL ORDER BY ranking DESC, movie_id
            LIMIT {int(p[0])}""")
    if endpoint == "query_order_list":
        start, limit, pat = int(p[0]), int(p[1]), p[2]
        where = "" if pat == "%" else f"WHERE create_time LIKE {_like(pat)}"
        return _rows(con, f"""
            SELECT order_id, movie_id, movie_name, movie_num, price_sum, create_time
            FROM {orders_view} {where}
            ORDER BY create_time DESC, order_id DESC LIMIT {limit} OFFSET {start}""")
    if endpoint == "sales_rollup":
        return _rows(con, f"""
            SELECT substr(create_time, 1, 4) AS y, substr(create_time, 6, 2) AS m,
                   round(sum(price_sum), 1)
            FROM {orders_view} GROUP BY ROLLUP (y, m)
            ORDER BY y NULLS FIRST, m NULLS FIRST""")
    raise ValueError(endpoint)


def _actual(endpoint, rows):
    rs = [json.loads(r) for r in rows]

    def cells(*vals):
        return tuple(norm_cell(v) for v in vals)
    if endpoint == "query_movie_list":
        return [cells(r["movie_id"], r["name"], r.get("price"), r.get("ranking"),
                      (r.get("information") or {}).get("title"),
                      ((r.get("information") or {}).get("rating") or {}).get("average"))
                for r in rs]
    if endpoint == "query_movie":
        return [cells(r["movie_id"], r["name"], r.get("price"), r.get("ranking"),
                      (r.get("information") or {}).get("title"),
                      "[" + ", ".join(r.get("pubdate_decoded") or []) + "]",
                      ("[" + ", ".join(str(x["review_id"]) for x in r["reviews"]) + "]"
                       if r["reviews"] else None))
                for r in rs]
    if endpoint == "query_recommend_movie_list":
        return [cells(r["movie_id"], r["name"], r.get("price"), r.get("ranking"))
                for r in rs]
    if endpoint == "query_order_list":
        return [cells(r["order_id"], r["movie_id"], r["movie_name"], r["movie_num"],
                      r["price_sum"], r["create_time"]) for r in rs]
    if endpoint == "sales_rollup":
        return [cells(r.get("y"), r.get("m"), r.get("sales")) for r in rs]
    raise ValueError(endpoint)


def check_shop(shop_dir, initial_orders, samples, inserted):
    """Returns ``(attempted, failures)`` over the sampled responses plus
    one check of the inserted ids."""
    con = duckdb.connect(config={"threads": 2, "memory_limit": "4GB"})
    con.execute(f"CREATE TABLE movie AS SELECT * FROM {_csv(f'{shop_dir}/movie_info.csv', MOVIE)}")
    con.execute(f"CREATE TABLE review AS SELECT * FROM {_csv(f'{shop_dir}/review.csv', REVIEW)}")
    con.execute(f"CREATE TABLE orders0 AS SELECT * FROM {_csv(initial_orders, ORDER)}")
    base_max = con.execute("SELECT max(order_id) FROM orders0").fetchone()[0]
    ins = [line.split("\t") for line in inserted]
    con.execute("CREATE TABLE ins (k INTEGER, order_id INTEGER, movie_id INTEGER, "
                "movie_name VARCHAR, movie_num INTEGER, price_sum DOUBLE, create_time VARCHAR)")
    if ins:
        con.executemany("INSERT INTO ins VALUES (?, ?, ?, ?, ?, ?, ?)",
                        [(i + 1, int(f[0]), int(f[1]), f[2], int(f[3]), float(f[4]), f[5])
                         for i, f in enumerate(ins)])
    failures = []
    attempted = 0
    for s in samples:
        ep, p = s["endpoint"], s["params"]
        if ep == "insert_order":
            attempted += 1
            r = json.loads(s["rows"][0]) if len(s["rows"]) == 1 else None
            want_id = base_max + s["inserts_before"] + 1
            ok = (r is not None and r["order_id"] == want_id
                  and r["movie_id"] == int(p[0]) and r["movie_name"] == p[1]
                  and r["movie_num"] == int(p[2])
                  and norm_cell(r["price_sum"]) == norm_cell(_round1(float(p[3])))
                  and re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d", r["create_time"]))
            if not ok:
                failures.append(f"insert_order #{s['index']}: {s['rows'][:1]}")
            continue
        if s["inserts_before"] != s["inserts_after"]:
            continue  # an insert landed mid-request: the table state is not pinned
        attempted += 1
        k = s["inserts_before"]
        con.execute(f"""CREATE OR REPLACE VIEW orders_now AS
            SELECT * FROM orders0 UNION ALL
            SELECT order_id, movie_id, movie_name, movie_num, price_sum, create_time
            FROM ins WHERE k <= {k}""")
        want = _expected(con, ep, p, "orders_now")
        got = _actual(ep, s["rows"])
        if got != want:
            failures.append(f"{ep} #{s['index']} {p}: got {got[:2]} want {want[:2]}")
    attempted += 1
    ids = [int(f[0]) for f in ins]
    if ids != list(range(base_max + 1, base_max + 1 + len(ids))):
        failures.append(f"inserted ids not unique and gap-free: {ids[:10]}")
    con.close()
    return attempted, failures
