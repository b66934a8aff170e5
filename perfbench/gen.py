"""Seeded input generators for the benchmark.

Two families, both pure functions of (seed, size):

* ``synthetic_tables`` writes the eleven star-schema / events / text /
  embedding tables the registered queries read, as one Parquet file each,
  with the same physical types and value distributions as the project's
  synthetic test tables (TESTDATA.md, FIXTURES.md section B).
* ``shop_tables`` writes the three reference-shaped MovieShop tables
  (FIXTURES.md section A) as headerless tab-separated files, keeping the
  edge cases the reference data has: empty ``rating.average``, the
  ``"id":"search"`` placeholder, non-numeric ``duration``, a doubly
  encoded ``pubdate`` and empty ``aka`` entries.

Nothing here reads any file; the same seed always gives the same bytes.
"""
import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast the spark batch "
         "table small data big customer row").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.15, 0.16, 0.16, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(df, path, schema):
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   path)


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return pd.to_datetime(np.datetime64(start, "D") + d.astype("timedelta64[D]")
                          ).astype("datetime64[us]")


def synthetic_tables(out, seed, sf):
    """Write the eleven query tables at scale factor ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    k = max(1, int(round(sf / 0.001)))
    n_cust, n_supp, n_part = 150 * k, 10 * k, 200 * k
    n_ord, n_line, n_ev = 1500 * k, 6000 * k, 1000 * k
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS}),
           f"{out}/region.parquet",
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out}/nation.parquet",
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        f"{out}/customer.parquet",
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))

    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet",
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        f"{out}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts),
                   ("o_orderpriority", s)]))

    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}),
        f"{out}/lineitem.parquet",
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.to_datetime(np.datetime64("2024-01-01T00:00:00", "us")
                             + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 15 * k, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet",
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    # ~5% of documents are an earlier document plus a trailing " dup"
    # marker (chains allowed), the near-duplicate shape the dedup family
    # looks for; the rest are uniform bags over a 30-word vocabulary.
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet",
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet",
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))


GENRES = ["剧情", "喜剧", "动作", "爱情", "科幻", "动画", "悬疑", "惊悚", "犯罪", "纪录片"]
COUNTRIES = ["中国大陆", "美国", "日本", "香港", "法国", "英国", "韩国"]
LANGS_CN = ["汉语普通话", "英语", "日语", "粤语", "法语", "韩语"]
SYLLABLES = list("夜光城市之歌海风少年时代追梦人生故事星河归途天空秘密花园记忆")
LATIN = ["Kiss", "Hombre", "Night", "Blue", "River", "Home", "Star", "Road",
         "Dream", "Lost", "City", "Rain"]


def _name(rng):
    n = int(rng.integers(2, 6))
    cn = "".join(rng.choice(SYLLABLES, n))
    return cn if rng.random() < 0.6 else f"{cn} {rng.choice(LATIN)}"


def _people(rng, start_id):
    out = []
    for j in range(int(rng.integers(1, 4))):
        pid = "search" if rng.random() < 0.1 else str(start_id + j)
        out.append({"id": pid, "name": _name(rng)})
    return out


def shop_tables(out, seed, n_movies, reviews_per_movie, n_orders):
    """Write movie_info.csv, review.csv and order.csv into ``out``.

    Returns the movie (id, name, price) rows, which the request generator
    draws its parameters from.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ids = np.sort(rng.choice(np.arange(1_000_000, 9_999_999), n_movies,
                             replace=False))
    movies = []
    with open(f"{out}/movie_info.csv", "w", encoding="utf-8") as f:
        for mid in ids:
            name = _name(rng)
            price = round(float(rng.uniform(5.0, 60.0)), 1)
            ranking = "" if rng.random() < 0.04 else f"{rng.uniform(2.0, 9.8):.1f}"
            year = int(rng.integers(1950, 2020))
            info = {
                "_id": f"{mid:x}", "title": name, "year": str(year),
                "imdb": f"tt{int(rng.integers(100000, 9999999))}",
                "aka": [_name(rng), ""] if rng.random() < 0.2 else [_name(rng)],
                "countries": list(rng.choice(COUNTRIES, int(rng.integers(1, 3)),
                                             replace=False)),
                "genres": list(rng.choice(GENRES, int(rng.integers(1, 4)),
                                          replace=False)),
                "languages": list(rng.choice(LANGS_CN, int(rng.integers(1, 3)),
                                             replace=False)),
                "casts": _people(rng, 1000 + int(mid) % 7919),
                "directors": _people(rng, 2000 + int(mid) % 6007),
                "writers": _people(rng, 3000 + int(mid) % 5003),
                "rating": {"average": "" if rng.random() < 0.05 else ranking or "0",
                           "rating_people": str(int(rng.integers(0, 500000))),
                           "stars": [str(int(x)) for x in rng.integers(0, 60, 5)]},
                # doubly encoded: a JSON array serialized as a string
                "pubdate": json.dumps([f"{year}-{int(rng.integers(1, 13)):02d}-"
                                       f"{int(rng.integers(1, 29)):02d}(中国大陆)"],
                                      ensure_ascii=False),
                "duration": (f"USA: {int(rng.integers(20, 60))}"
                             if rng.random() < 0.1 else str(int(rng.integers(70, 180)))),
                "episodes": "", "season_count": "",
                "price": price,
                "poster": f"https://img.example/{mid}.jpg",
                "site": "", "douban_site": f"https://movie.example/subject/{mid}/",
                "summary": "".join(rng.choice(SYLLABLES, int(rng.integers(10, 60)))),
            }
            f.write(f"{mid}\t{name}\t{price}\t{ranking}\t"
                    f"{json.dumps(info, ensure_ascii=False)}\n")
            movies.append((int(mid), name, price))
    rid = 1
    with open(f"{out}/review.csv", "w", encoding="utf-8") as f:
        for mid in ids:
            # some movies have no review at all (the ORM empty-list case)
            for _ in range(int(rng.poisson(reviews_per_movie))):
                content = "".join(rng.choice(SYLLABLES, int(rng.integers(5, 80))))
                f.write(f"{rid}\t{mid}\t{rng.uniform(1.0, 10.0):.1f}\t{content}\n")
                rid += 1
    t0 = dt.datetime(2015, 1, 1)
    span = int((dt.datetime(2019, 12, 31) - t0).total_seconds())
    with open(f"{out}/order.csv", "w", encoding="utf-8") as f:
        for oid in range(1, n_orders + 1):
            mid, name, price = movies[int(rng.integers(0, len(movies)))]
            num = int(rng.integers(1, 5))
            when = t0 + dt.timedelta(seconds=int(rng.integers(0, span)))
            f.write(f"{oid}\t{mid}\t{name}\t{num}\t{round(price * num, 1)}\t"
                    f"{when:%Y-%m-%d %H:%M:%S}\n")
    return movies
