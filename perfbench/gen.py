"""Seeded input generator for the graft benchmark.

Writes the ten tables graft's catalogue reads (`graft.Tables.names`) as
parquet files with the declared schemas, shaped like graft's TPC-H-ish
test tables: uniform keys and values over the same domains and date spans,
about 4 lineitems per order, 5 % of documents carrying a `dup` marker and
unit-norm 64-d embeddings around 10 label centroids. The same seed and
scale factor always give byte-identical tables.

`write_inbox` writes CSV drops in the reference inbox layout
`<inbox>/<table>/<yyyymmdd>/<table>_<yyyymmdd>.csv`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = 2404        # 1995-01-01 .. 2001-08-01
SHIP_START = np.datetime64("1995-01-02")
SHIP_DAYS = 2498
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
TYPES = "ECONOMY STANDARD LARGE PROMO SMALL MEDIUM".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "en de es fr zh".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed, sf):
    """The ten tables at scale factor `sf`, as pyarrow Tables by name."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2))})
    odate = ORDER_START + rng.integers(0, ORDER_DAYS, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    sdate = SHIP_START + rng.integers(0, SHIP_DAYS, n_line).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us"))})
    ts = EVENT_START + np.sort(rng.integers(0, EVENT_SPAN_US, n_events)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string())})
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for n in rng.integers(10, 100, n_docs):
        t = " ".join(words[rng.integers(0, len(WORDS), n)])
        if rng.random() < 0.05:
            t += " dup" * int(rng.integers(1, 3))
        texts.append(t)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(0, 0.15 / 8, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(0, 1 / 8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def day_str(day):
    return str(np.datetime64(day, "D"))


def write_inbox(data_dir, inbox, days):
    """CSV drops of each day's orders and their lineitems; returns
    {day: {"orders": rows, "lineitem": rows}}."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    lines = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    odates = orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
    okeys = orders.column("o_orderkey").to_numpy()
    lkeys = lines.column("l_orderkey").to_numpy()
    rows = {}
    for day in days:
        mask = odates == np.datetime64(day)
        day_lines = lines.filter(pa.array(np.isin(lkeys, okeys[mask])))
        stamp = day.replace("-", "")
        rows[day] = {}
        for name, t in (("orders", orders.filter(pa.array(mask))), ("lineitem", day_lines)):
            d = os.path.join(inbox, name, stamp)
            os.makedirs(d, exist_ok=True)
            pacsv.write_csv(t, os.path.join(d, f"{name}_{stamp}.csv"))
            rows[day][name] = t.num_rows
    return rows


def daily_dates(seed, n_days):
    """`n_days` consecutive execution dates from a seeded start inside the
    order span."""
    start = ORDER_START + int(np.random.default_rng(seed + 7919).integers(30, ORDER_DAYS - n_days - 30))
    return [day_str(start + i) for i in range(n_days)]


if __name__ == "__main__":
    import sys
    print(write_tables(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3]))
