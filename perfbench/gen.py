"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from one integer
seed; the same seed gives byte-identical parquet files.

* ``fixtures``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the column names, types
  and value domains the query registry reads (see FIXTURES.md at the repo
  root), at a chosen scale factor.
* ``forecast_catalog``: reference-shaped tables (``date`` plus numeric
  metrics) derived from the daily rollups of ``events`` (30 days),
  ``orders`` and ``lineitem`` (about 2,400 days each). Every table gets a
  seeded per-row perturbation, so no two series are identical.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_START = datetime.date(1995, 1, 1)
ORDER_DAYS = 2404            # 1995-01-01 .. 2001-08-01
SHIP_START = datetime.date(1995, 1, 2)
SHIP_DAYS = 2499             # 1995-01-02 .. 2001-11-04
EVENT_START = datetime.datetime(2024, 1, 1)
EVENT_DAYS = 30

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window column order small big group join data "
         "customer query stream filter vector").split()
PART_ADJ = "small large red blue hot old new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate nut screw".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table, path):
    # one row group, like the graded fixtures; no pandas metadata, so the
    # bytes depend on the data alone
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _days(start, offsets):
    base = np.datetime64(start.isoformat(), "D")
    return (base + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def base_tables(seed, sf, names=TABLES):
    """The named fixture tables as pyarrow tables. Each table draws from its
    own random stream, so a subset equals the same tables of the full set."""
    n = {"customer": max(150, int(150_000 * sf)), "supplier": max(10, int(10_000 * sf)),
         "part": max(200, int(200_000 * sf)), "orders": max(1500, int(1_500_000 * sf)),
         "lineitem": max(6000, int(6_000_000 * sf)), "events": max(1000, int(1_000_000 * sf)),
         "users": max(15, int(15_000 * sf)), "documents": max(500, int(50_000 * sf)),
         "embeddings": max(500, int(20_000 * sf))}

    def region(rng):
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}

    def nation(rng):
        return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}

    def customer(rng, k=n["customer"]):
        return {"c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, k),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)]}

    def supplier(rng, k=n["supplier"]):
        return {"s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, k)}

    def part(rng, k=n["part"]):
        names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
        return {"p_partkey": np.arange(k, dtype=np.int64),
                "p_name": names[rng.integers(0, len(names), k)],
                "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, k)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
                "p_size": pa.array(rng.integers(1, 51, k, dtype=np.int32)),
                "p_retailprice": np.round(900 + rng.integers(0, 1000, k) / 10, 2)}

    def orders(rng, k=n["orders"]):
        return {"o_orderkey": np.arange(k, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
                "o_totalprice": _money(rng, 1000, 500_000, k),
                "o_orderdate": pa.array(_days(ORDER_START, rng.integers(0, ORDER_DAYS, k)),
                                        pa.timestamp("us")),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]}

    def lineitem(rng, k=n["lineitem"]):
        qty = rng.integers(1, 51, k).astype(np.float64)
        return {"l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
                "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
                "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, k), 2),
                "l_discount": rng.integers(0, 11, k) / 100.0,
                "l_tax": rng.integers(0, 9, k) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
                "l_shipdate": pa.array(_days(SHIP_START, rng.integers(0, SHIP_DAYS, k)),
                                       pa.timestamp("us"))}

    def events(rng, k=n["events"]):
        us = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, k))
        return {"event_id": np.arange(k, dtype=np.int64),
                "ts": pa.array(np.datetime64(EVENT_START, "us") + us.astype("timedelta64[us]"),
                               pa.timestamp("us")),
                "user_id": rng.integers(0, n["users"], k, dtype=np.int64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]}

    def documents(rng, k=n["documents"]):
        words = np.array(WORDS)
        texts = [" ".join(words[rng.integers(0, len(words), m)])
                 for m in rng.integers(10, 100, k)]
        return {"doc_id": np.arange(k, dtype=np.int64),
                "text": texts,
                "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, k)],
                "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, k)],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}

    def embeddings(rng, k=n["embeddings"]):
        emb = rng.standard_normal((k, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return {"vec_id": np.arange(k, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, k, dtype=np.int32))}

    build = locals()
    return {name: pa.table(build[name](np.random.Generator(
        np.random.PCG64([seed, TABLES.index(name)])))) for name in names}


def fixtures(out_dir, seed, sf):
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _daily(day_index, n_days, columns):
    """Group-by-day sums/counts over integer day offsets (every day occurs)."""
    out = {"count": np.bincount(day_index, minlength=n_days).astype(np.int64)}
    for name, values in columns.items():
        out[name] = np.bincount(day_index, weights=values, minlength=n_days)
    return out


def rollups(seed):
    """Daily rollups of the sf0.1 events, orders and lineitem tables.

    Mirrors ``Bucketize.events`` / ``Bucketize.orders`` (FIXTURES.md §B)
    and adds a lineitem rollup on the ship date. Each entry is
    ``(first_date, {metric: values})`` with one value per consecutive day.
    """
    t = base_tables(seed, 0.1, ("orders", "lineitem", "events"))
    ev = t["events"]
    ev_day = ((ev["ts"].to_numpy() - np.datetime64(EVENT_START, "us"))
              // np.timedelta64(1, "D")).astype(np.int64)
    users = ev["user_id"].to_numpy()
    ev_roll = _daily(ev_day, EVENT_DAYS, {"value_sum": ev["value"].to_numpy()})
    active = np.array([len(np.unique(users[ev_day == d])) for d in range(EVENT_DAYS)],
                      dtype=np.int64)
    od = t["orders"]
    o_day = ((od["o_orderdate"].to_numpy() - np.datetime64(ORDER_START, "us"))
             // np.timedelta64(1, "D")).astype(np.int64)
    o_roll = _daily(o_day, ORDER_DAYS, {"revenue": od["o_totalprice"].to_numpy()})
    li = t["lineitem"]
    l_day = ((li["l_shipdate"].to_numpy() - np.datetime64(SHIP_START, "us"))
             // np.timedelta64(1, "D")).astype(np.int64)
    price = li["l_extendedprice"].to_numpy()
    disc = li["l_discount"].to_numpy()
    l_roll = _daily(l_day, SHIP_DAYS, {
        "quantity": li["l_quantity"].to_numpy(),
        "gross": price,
        "net": price * (1 - disc)})
    return {
        "events": (EVENT_START.date(), {
            "event_count": ev_roll["count"],
            "value_sum": np.round(ev_roll["value_sum"], 2),
            "active_users": active}),
        "orders": (ORDER_START, {
            "order_count": o_roll["count"],
            "revenue": np.round(o_roll["revenue"], 2)}),
        "lineitem": (SHIP_START, {
            "line_count": l_roll["count"],
            "quantity": np.round(l_roll["quantity"], 2),
            "gross": np.round(l_roll["gross"], 2),
            "net": np.round(l_roll["net"], 2)}),
    }


def _perturbed(rng, values, scale):
    """values x scale x (1 + 5% noise); integer metrics stay integers."""
    noisy = values * scale * (1.0 + 0.05 * rng.standard_normal(len(values)))
    if values.dtype.kind == "i":
        return np.rint(noisy).astype(np.int64)
    return np.round(noisy, 4)


def _table(first, metrics):
    n = len(next(iter(metrics.values())))
    dates = np.datetime64(first.isoformat(), "D") + np.arange(n).astype("timedelta64[D]")
    cols = {"date": pa.array(dates, pa.date32())}
    cols.update({m: pa.array(v) for m, v in metrics.items()})
    return pa.table(cols)


def forecast_catalog(out_dir, seed, n_tables):
    """Write a reference-shaped catalog of ``n_tables`` small tables built
    round-robin from the events / orders / lineitem rollups, 2-4 metrics
    each; returns {table: [metric, ...]}."""
    os.makedirs(out_dir, exist_ok=True)
    roll = rollups(seed)
    order = ["events", "orders", "lineitem"]
    layout = {}
    for i in range(n_tables):
        src = order[i % len(order)]
        first, base = roll[src]
        names = list(base)
        rng = np.random.Generator(np.random.PCG64([seed, i]))
        metrics = {}
        for j in range(2 + i % 3):
            col = names[j % len(names)]
            metrics[f"{col}_{j}"] = _perturbed(rng, base[col], 1.0 + 0.25 * j)
        name = f"bucket_{src}_{i:03d}"
        _write(_table(first, metrics), os.path.join(out_dir, f"{name}.parquet"))
        layout[name] = list(metrics)
    return layout
