"""Seeded inputs for the benchmark.

Everything the engine receives is derived from the seed argument: the
tables, the dialect query constants and the pass order. Each consumer
draws from its own numpy stream (``SeedSequence([seed, stream])``) so a
change to one generator never shifts another's values.

Two table families:

* ``registry_tables`` writes the TPC-H-ish star schema plus the
  events/documents/embeddings tables that the ``graft.queries.*``
  registry reads, one parquet file per table, with the column types and
  value distributions of the testdata described in FIXTURES.md B.
* ``kaj_tables`` writes the reference engine's four test schemas
  (CUSTOMER, CART, CARTDETAILS, BILL; FIXTURES.md A) in the reference's
  RandomDB output set: ``<T>.det`` catalog, tab-separated ``<T>.txt``
  rows with a trailing tab, and ``<T>.stat`` (tuple count, then one
  distinct count per column).

``kaj_queries`` emits dialect queries for the reference's nine query
shapes plus GROUPBY, each with the DuckDB SQL that computes its expected
result over the same ``.txt`` files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one independent random stream per consumer
_STREAMS = {name: i for i, name in enumerate([
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
    "CUSTOMER", "CART", "CARTDETAILS", "BILL", "kaj_queries", "order"])}


def rng(seed: int, stream: str) -> np.random.Generator:
    # SeedSequence takes non-negative entropy only; any int seed maps to one
    return np.random.Generator(np.random.PCG64(
        np.random.SeedSequence([seed % 2**64, _STREAMS[stream]])))


# ---------------------------------------------------------------- registry

_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.date, n_days: int, size: int, r) -> np.ndarray:
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    days = base + r.integers(0, n_days + 1, size)
    return days.astype("int64") * 86_400_000_000  # micros


def _write(path: str, cols: dict, types: dict) -> None:
    table = pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})
    pq.write_table(table, path)


def registry_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten registry tables at scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")

    _write(p("region"), {"r_regionkey": range(5), "r_name": [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s})
    _write(p("nation"), {"n_nationkey": range(25),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    r = rng(seed, "customer")
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s})

    r = rng(seed, "supplier")
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})

    r = rng(seed, "part")
    _write(p("part"), {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(_ADJ, n_part),
                                              r.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
         "p_size": i32, "p_retailprice": f64})

    r = rng(seed, "orders")
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2404, n_ord, r),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})

    # (l_orderkey, l_linenumber) is deliberately NOT unique, as in the
    # FIXTURES.md B testdata: queries must order by a total key of their own
    r = rng(seed, "lineitem")
    _write(p("lineitem"), {
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, n_line, r)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
         "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
         "l_discount": f64, "l_tax": f64, "l_returnflag": s,
         "l_linestatus": s, "l_shipdate": ts})

    r = rng(seed, "events")
    t0 = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    _write(p("events"), {
        "event_id": np.arange(n_ev),
        "ts": t0 + np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)),
        "user_id": r.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
         "value": f64, "props": s})

    # 5% of documents are an earlier document's text plus " dup", the
    # near-duplicate structure the dedup/similarity families look for
    r = rng(seed, "documents")
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_VOCAB, int(r.integers(10, 100)))))
    _write(p("documents"), {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": r.choice(["en", "de", "es", "fr", "zh"], n_doc,
                         p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})

    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.standard_normal((10, 64))
    vecs = 0.15 * centers[labels] + r.standard_normal((n_emb, 64)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb),
        "embedding": [v.tolist() for v in vecs.astype("float32")],
        "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})

    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


def pass_orders(seed: int, names: list, n_passes: int) -> list:
    """``names`` as listed for pass 0, the cold pass, and a fresh seeded
    shuffle for each later pass. The cold pass's first query pays the
    JVM's first-use costs (2-4 s), so a seeded cold order would make
    ``cold_pass_s`` depend on which query happens to come first."""
    r = rng(seed, "order")
    orders = [[names[i] for i in r.permutation(len(names))] for _ in range(n_passes)]
    return [list(names)] + orders[1:]


# ---------------------------------------------------------------- kaj_spj

# (table, [(column, TYPE, range, key, bytes)]) in reference .det order;
# an INTEGER range of None is the table's own row count (PK) or the
# referenced table's row count (FK)
KAJ_SCHEMAS = [
    ("CUSTOMER", [("cid", "INTEGER", None, "PK", 4), ("gender", "INTEGER", 2, "NK", 4),
                  ("firstname", "STRING", 10, "NK", 20), ("lastname", "STRING", 10, "NK", 20),
                  ("address", "STRING", 26, "NK", 52)]),
    ("CART", [("cartid", "INTEGER", None, "PK", 4), ("cid", "INTEGER", "CUSTOMER", "FK", 4),
              ("status", "STRING", 8, "NK", 16), ("remarks", "STRING", 38, "NK", 76)]),
    ("CARTDETAILS", [("iid", "INTEGER", None, "PK", 4), ("cartid", "INTEGER", "CART", "FK", 4),
                     ("qty", "INTEGER", 50, "NK", 4), ("remarks", "STRING", 44, "NK", 88)]),
    ("BILL", [("billid", "INTEGER", None, "PK", 4), ("iid", "INTEGER", "CARTDETAILS", "FK", 4),
              ("amount", "INTEGER", 2500, "NK", 4), ("remarks", "STRING", 44, "NK", 88)]),
]
KAJ_COLUMNS = {t: [c[0] for c in cols] for t, cols in KAJ_SCHEMAS}


def _strings(r, n: int, max_len: int) -> list:
    letters = r.integers(ord("a"), ord("z") + 1, (n, max_len), dtype=np.uint8)
    lens = r.integers(1, max_len + 1, n)
    return [bytes(row[:k]).decode() for row, k in zip(letters, lens)]


def kaj_tables(out_dir: str, seed: int, rows: dict) -> None:
    """Write ``<T>.det``, ``<T>.txt`` and ``<T>.stat`` for the four schemas."""
    os.makedirs(out_dir, exist_ok=True)
    for table, cols in KAJ_SCHEMAS:
        n, r = rows[table], rng(seed, table)
        data, ranges = [], []
        for name, typ, rng_, key, _ in cols:
            if key == "PK":
                rng_ = n
                data.append(r.permutation(n))
            elif key == "FK":
                rng_ = rows[rng_]
                data.append(r.integers(0, rng_, n))
            elif typ == "INTEGER":
                data.append(r.integers(0, rng_, n))
            else:
                data.append(_strings(r, n, rng_))
            ranges.append(rng_)
        with open(os.path.join(out_dir, f"{table}.det"), "w") as f:
            f.write(f"{len(cols)}\n{sum(c[4] for c in cols)}\n")
            for (name, typ, _, key, size), rng_ in zip(cols, ranges):
                f.write(f"{name} {typ} {rng_} {key} {size}\n")
        with open(os.path.join(out_dir, f"{table}.txt"), "w") as f:
            for row in zip(*data):
                f.write("".join(f"{v}\t" for v in row) + "\n")
        with open(os.path.join(out_dir, f"{table}.stat"), "w") as f:
            f.write(f"{n}\n" + " ".join(str(len(set(c))) for c in data) + "\n")


def kaj_duckdb_views(data_dir: str) -> list:
    """DuckDB statements that expose each ``.txt`` file as a table."""
    out = []
    for table, cols in KAJ_SCHEMAS:
        spec = ", ".join(f"'{c[0]}': '{'INTEGER' if c[1] == 'INTEGER' else 'VARCHAR'}'"
                         for c in cols)
        # the trailing tab of every row is an extra, empty column
        out.append(f"CREATE TABLE {table} AS SELECT {', '.join(c[0] for c in cols)} "
                   f"FROM read_csv('{data_dir}/{table}.txt', delim='\\t', header=false, "
                   f"quote='', escape='', columns={{{spec}, '_pad': 'VARCHAR'}})")
    return out


_JOIN3 = ("CUSTOMER.cid=CART.cid, CART.cartid=CARTDETAILS.cartid, "
          "CARTDETAILS.iid=BILL.iid")
_JOIN3_SQL = _JOIN3.replace(", ", " AND ")


def _star(tables) -> list:
    return [f"{t}.{c}" for t in tables for c in KAJ_COLUMNS[t]]


def _sel(cols) -> str:
    return ", ".join(f'{c} AS "{c}"' for c in cols)


def kaj_queries(seed: int, rows: dict, n_passes: int) -> list:
    """``n_passes`` passes of the ten shapes, with fresh constants per pass;
    pass 0 (the cold pass) lists the shapes in order, later passes shuffle
    them (see ``pass_orders``).

    Each item: ``id``, ``shape``, ``dialect`` (the engine's input),
    ``duckdb`` (expected result, output columns named like the dialect's
    result header) and ``order`` (the ORDERBY output columns, whose
    sequence is checked besides the row multiset).
    """
    r = rng(seed, "kaj_queries")
    nc, nt, nb = rows["CUSTOMER"], rows["CART"], rows["BILL"]
    out = []

    def lo_hi(n, width):
        lo = int(r.integers(0, n - width))
        return lo, lo + width

    tables3 = ["CUSTOMER", "CART", "CARTDETAILS", "BILL"]
    from3 = ",".join(tables3)
    for p in range(n_passes):
        qs = []
        lo, hi = lo_hi(nc, nc // 2)
        qs.append(("q1_scan",
                   f'SELECT * FROM CUSTOMER WHERE CUSTOMER.cid>="{lo}", CUSTOMER.cid<"{hi}"',
                   f"SELECT {_sel(_star(['CUSTOMER']))} FROM CUSTOMER "
                   f"WHERE cid >= {lo} AND cid < {hi}", []))
        g, lo = int(r.integers(0, 2)), int(r.integers(0, nc // 2))
        cols = ["CUSTOMER.cid", "CUSTOMER.gender", "CUSTOMER.firstname"]
        qs.append(("q2_select",
                   f'SELECT {",".join(cols)} FROM CUSTOMER WHERE CUSTOMER.gender="{g}", '
                   f'CUSTOMER.cid>="{lo}"',
                   f"SELECT {_sel(cols)} FROM CUSTOMER WHERE gender = {g} AND cid >= {lo}", []))
        # mixed aggregate/non-aggregate without GROUPBY: the non-aggregated
        # columns come from the tuples that achieve the extreme, deduplicated
        agg, bound = str(r.choice(["MAX", "MIN"])), int(r.integers(nt // 4, nt))
        aname = f"{agg}(CART.cartid)"
        qs.append(("q3_minmax_tuple",
                   f"SELECT CUSTOMER.cid,CUSTOMER.firstname,{aname},CART.status "
                   f'FROM CUSTOMER,CART WHERE CUSTOMER.cid=CART.cid, CART.cartid<"{bound}"',
                   f"WITH j AS (SELECT CUSTOMER.cid AS cid, CUSTOMER.firstname AS firstname, "
                   f"CART.cartid AS cartid, CART.status AS status FROM CUSTOMER, CART "
                   f"WHERE CUSTOMER.cid = CART.cid AND CART.cartid < {bound}), "
                   f"a AS (SELECT {agg}(cartid) AS m FROM j) "
                   f'SELECT DISTINCT j.cid AS "CUSTOMER.cid", j.firstname AS "CUSTOMER.firstname", '
                   f'a.m AS "{aname}", j.status AS "CART.status" FROM j, a WHERE j.cartid = a.m', []))
        lo, hi = lo_hi(nc, nc // 4)
        t2 = ["CUSTOMER", "CART", "CARTDETAILS"]
        qs.append(("q4_join2",
                   f"SELECT * FROM {','.join(t2)} WHERE CUSTOMER.cid=CART.cid, "
                   f'CART.cartid=CARTDETAILS.cartid, CUSTOMER.cid>="{lo}", CUSTOMER.cid<"{hi}"',
                   f"SELECT {_sel(_star(t2))} FROM {', '.join(t2)} WHERE CUSTOMER.cid = CART.cid "
                   f"AND CART.cartid = CARTDETAILS.cartid AND CUSTOMER.cid >= {lo} "
                   f"AND CUSTOMER.cid < {hi}", []))
        lo, hi = lo_hi(nb, nb // 4)
        qs.append(("q5_join3",
                   f'SELECT * FROM {from3} WHERE {_JOIN3}, BILL.billid>="{lo}", BILL.billid<"{hi}"',
                   f"SELECT {_sel(_star(tables3))} FROM {', '.join(tables3)} WHERE {_JOIN3_SQL} "
                   f"AND BILL.billid >= {lo} AND BILL.billid < {hi}", []))
        lo, hi = lo_hi(2500, 500)
        rng_where = f'BILL.amount<"{hi}", BILL.amount>"{lo}"'
        rng_sql = f"BILL.amount < {hi} AND BILL.amount > {lo}"
        qs.append(("q6_range",
                   f"SELECT * FROM {from3} WHERE {_JOIN3}, {rng_where}",
                   f"SELECT {_sel(_star(tables3))} FROM {', '.join(tables3)} "
                   f"WHERE {_JOIN3_SQL} AND {rng_sql}", []))
        lo, hi = lo_hi(2500, 500)
        cols = ["CUSTOMER.firstname", "BILL.amount"]
        qs.append(("q7_project",
                   f"SELECT {','.join(cols)} FROM {from3} WHERE {_JOIN3}, "
                   f'BILL.amount<"{hi}", BILL.amount>"{lo}"',
                   f"SELECT {_sel(cols)} FROM {', '.join(tables3)} WHERE {_JOIN3_SQL} "
                   f"AND BILL.amount < {hi} AND BILL.amount > {lo}", []))
        lo = int(r.integers(0, nc - 10))
        qs.append(("q9_distinct",
                   f'SELECT DISTINCT CUSTOMER.gender FROM CUSTOMER WHERE CUSTOMER.cid>"{lo}"',
                   f'SELECT DISTINCT gender AS "CUSTOMER.gender" FROM CUSTOMER WHERE cid > {lo}',
                   []))
        lo, hi = lo_hi(2500, 250)
        desc = bool(r.integers(0, 2))
        cols = ["CUSTOMER.cid", "CART.cartid", "BILL.billid", "BILL.amount"]
        qs.append(("q10_orderby",
                   f"SELECT {','.join(cols)} FROM {from3} WHERE {_JOIN3}, "
                   f'BILL.amount<"{hi}", BILL.amount>"{lo}" ORDERBY BILL.amount'
                   + (" DESC" if desc else ""),
                   f"SELECT {_sel(cols)} FROM {', '.join(tables3)} WHERE {_JOIN3_SQL} "
                   f"AND BILL.amount < {hi} AND BILL.amount > {lo}", ["BILL.amount"]))
        lo = int(r.integers(0, 2000))
        qs.append(("q11_groupby",
                   f"SELECT CUSTOMER.gender,COUNT(BILL.billid),SUM(BILL.amount),"
                   f"AVG(CARTDETAILS.qty) FROM {from3} WHERE {_JOIN3}, "
                   f'BILL.amount>"{lo}" GROUPBY CUSTOMER.gender',
                   f'SELECT CUSTOMER.gender AS "CUSTOMER.gender", '
                   f'COUNT(BILL.billid) AS "COUNT(BILL.billid)", '
                   f'SUM(BILL.amount) AS "SUM(BILL.amount)", '
                   f'AVG(CARTDETAILS.qty) AS "AVG(CARTDETAILS.qty)" '
                   f"FROM {', '.join(tables3)} WHERE {_JOIN3_SQL} AND BILL.amount > {lo} "
                   f"GROUP BY CUSTOMER.gender", []))
        order = r.permutation(len(qs))
        for i in (range(len(qs)) if p == 0 else order):  # cold pass: as listed
            shape, dialect, duck, order = qs[i]
            out.append({"id": f"p{p:03d}_{shape}", "shape": shape, "dialect": dialect,
                        "duckdb": duck, "order": order,
                        "desc": shape == "q10_orderby" and desc})
    return out
