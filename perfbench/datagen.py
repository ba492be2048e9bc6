"""Seeded input generator for the benchmark.

Writes the ten fixture tables the declared queries read (same names, column
types and value domains as the schemas in FIXTURES.md, one parquet file per
table) and the `etl_daily` change log. The same seed and scale give the same
bytes of data.

The change log is derived from the generated `orders`. Every order dated in
the `history_days` before the cutoff is in `etl/base.parquet`, once, with
`upd_day` set to its order date's epoch day. Then come `days` daily files
`etl/day_<epochday>.parquet`. Each holds that day's new orders and seeded
revisions of orders that existed before that day, at most one revision per
key per day. A revision changes status, price and priority and carries the
day as its `upd_day`.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DAYS = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
WORDS = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join spark line small fast group customer batch "
         "sort value hash filter big data dup").split()
COLORS = "blue cold hot red small new old large".split()
NOUNS = "ring plate gear rod bolt anvil widget gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings", "change_log")


def epoch_day(d):
    return (d - EPOCH).days


def day_timestamps(rng, n, lo, hi):
    days = rng.integers(epoch_day(lo), epoch_day(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def write(path, columns):
    pq.write_table(pa.table(columns), path)


def tables(seed, sf, only=None):
    """{table name: columns} for every table, or for those named in `only`.
    Each table draws from its own seeded stream, so a subset is identical to
    the same tables generated along with all the others."""
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))

    def region(rng):
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}

    def nation(rng):
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pick(rng, SEGMENTS, n_cust)}

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(money(rng, n_supp, -999.99, 9999.99))}

    def part(rng):
        names = [f"{c} {n}" for c in COLORS for n in NOUNS]
        return {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pick(rng, names, n_part),
            "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(rng, ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"],
                           n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))}

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(rng, STATUSES, n_ord),
            "o_totalprice": pa.array(money(rng, n_ord, 1000, 500_000)),
            "o_orderdate": day_timestamps(rng, n_ord, *ORDER_DAYS),
            "o_orderpriority": pick(rng, PRIORITIES, n_ord)}

    def lineitem(rng):
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(money(rng, n_line, 900, 105_000)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": pick(rng, ["F", "O"], n_line),
            "l_shipdate": day_timestamps(rng, n_line, *SHIP_DAYS)}

    def events(rng):
        start_us = epoch_day(dt.date(2024, 1, 1)) * 86_400_000_000
        offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
        return {
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": pa.array(start_us + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pick(rng, ["click", "purchase", "error", "signup", "view"], n_ev),
            "value": pa.array(np.round(np.minimum(rng.exponential(100.0, n_ev), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}

    def documents(rng):
        # About 2% of documents repeat an earlier text, so dedup finds work.
        texts = []
        for i in range(n_doc):
            if i > 10 and rng.random() < 0.02:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
        return {
            "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
            "text": pa.array(texts),
            "lang": pick(rng, ["en", "fr", "es", "zh", "de"], n_doc,
                         p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))}

    def embeddings(rng):
        labels = rng.integers(0, 10, n_emb)
        centroids = rng.normal(0.0, 0.08, (10, 64))
        vecs = (centroids[labels] + rng.normal(0.0, 0.09, (n_emb, 64))).astype("float32")
        return {
            "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32"))}

    builders = dict(region=region, nation=nation, customer=customer, supplier=supplier,
                    part=part, orders=orders, lineitem=lineitem, events=events,
                    documents=documents, embeddings=embeddings)
    return {name: build(np.random.default_rng([seed, TABLE_NAMES.index(name)]))
            for name, build in builders.items() if only is None or name in only}


def change_log(rng, orders, days, revisions_per_day, history_days):
    """Base snapshot plus `days` daily files (see the module docstring). The
    log covers the orders of the last `history_days + days` order dates.

    Returns {"base": columns, epoch_day: columns, ...}.
    """
    odays = orders["o_orderdate"].cast(pa.int64()).to_numpy() // 86_400_000_000
    last = int(odays.max())
    first_replayed = last - days + 1
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    base_cols = {c: orders[c].to_numpy(zero_copy_only=False) for c in cols}

    def frame(idx, upd, status=None, price=None, prio=None):
        def col(name, override):
            return base_cols[name][idx] if override is None else override
        return {
            "o_orderkey": pa.array(base_cols["o_orderkey"][idx]),
            "o_custkey": pa.array(base_cols["o_custkey"][idx]),
            "o_orderstatus": pa.array(col("o_orderstatus", status).tolist(), pa.string()),
            "o_totalprice": pa.array(col("o_totalprice", price)),
            "o_orderdate": pa.array(odays[idx].astype("int32"), pa.date32()),
            "o_orderpriority": pa.array(col("o_orderpriority", prio).tolist(), pa.string()),
            "upd_day": pa.array(upd.astype("int64"))}

    log = {}
    base_idx = np.flatnonzero((odays < first_replayed) & (odays >= first_replayed - history_days))
    log["base"] = frame(base_idx, odays[base_idx])
    for day in range(first_replayed, last + 1):
        new_idx = np.flatnonzero(odays == day)
        existing = np.flatnonzero((odays < day) & (odays >= first_replayed - history_days))
        rev_idx = np.sort(rng.choice(existing, revisions_per_day, replace=False))
        n = len(rev_idx)
        rev = frame(rev_idx, np.full(n, day),
                    status=np.asarray(STATUSES, dtype=object)[rng.integers(0, 3, n)],
                    price=money(rng, n, 1000, 500_000),
                    prio=np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, n)])
        new = frame(new_idx, np.full(len(new_idx), day))
        log[day] = {c: pa.concat_arrays([new[c], rev[c]]) for c in new}
    return log


def generate(out_dir, seed, sf, etl_days=0, revisions_per_day=0, history_days=0):
    """Writes the inputs under out_dir: all ten tables, or with etl_days > 0
    just `orders` and its change log. Returns the change log's day list."""
    os.makedirs(out_dir, exist_ok=True)
    data = tables(seed, sf, only={"orders"} if etl_days else None)
    for name, cols in data.items():
        write(os.path.join(out_dir, f"{name}.parquet"), cols)
    if not etl_days:
        return []
    os.makedirs(os.path.join(out_dir, "etl"), exist_ok=True)
    rng = np.random.default_rng([seed, TABLE_NAMES.index("change_log")])
    log = change_log(rng, pa.table(data["orders"]), etl_days, revisions_per_day, history_days)
    for key, cols in log.items():
        name = "base" if key == "base" else f"day_{key}"
        write(os.path.join(out_dir, "etl", f"{name}.parquet"), cols)
    return sorted(k for k in log if k != "base")
