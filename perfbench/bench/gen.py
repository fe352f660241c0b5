"""Seeded input generators for the benchmark.

Two families, both written before any timing starts:

* ``write_tables``: the engine's ten star-schema tables (TPC-H-ish
  ``region nation customer supplier part orders lineitem`` plus ``events``,
  ``documents`` and ``embeddings``) as parquet, with the column types of the
  engine's table contract and row counts scaled by ``sf``.
* ``write_hive``: MSPB-shaped sensor data for the paper's pipeline: D1 and D2
  sensor CSVs in the ``Sources.sensorSchema`` layout (6-digit sensor IDs),
  population and winter annotation tables (4-digit IDs that match the sensor
  IDs only by suffix), injected null runs and one low-coverage hive.

The same arguments always give byte-identical files.
"""
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    """n random midnights in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write_tables(out_dir, seed=42, sf=0.1):
    """The ten engine tables at scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_users = int(50000 * sf), int(20000 * sf), int(15000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(REGIONS, s)}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_choice(rng, SEGMENTS, n_cust), s)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)}),
        f"{out_dir}/supplier.parquet")
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(_choice(rng, COLORS, n_part),
                                                      _choice(rng, NOUNS, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_choice(rng, PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1), f64)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_choice(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(_choice(rng, PRIORITIES, n_ord), s)}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(_choice(rng, ["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(_choice(rng, ["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)), ts)}),
        f"{out_dir}/lineitem.parquet")

    # events: one month of time-ordered events, ~26 s apart on average
    offs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + (offs * 1e6).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(_choice(rng, EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}),
        f"{out_dir}/events.parquet")

    # documents: bag-of-words texts; 5% are near-duplicates of an earlier
    # document (its text plus a trailing "dup" token)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_choice(rng, WORDS, int(rng.integers(10, 101)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_choice(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out_dir}/documents.parquet")

    # embeddings: unit vectors around 10 cluster centres, label = cluster
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}),
        f"{out_dir}/embeddings.parquet")


SENSOR_HEADER = (["published_at", "tag_number", "temperature", "humidity",
                  "hive_power", "audio_density", "audio_density_ratio",
                  "density_variation"] + [f"hz_{i}" for i in range(1, 17)])


def write_hive(out_dir, seed, hives=12, days=12, readings_per_day=96):
    """MSPB-shaped pipeline inputs under ``out_dir``; returns the number of
    sensor rows written.

    Half the hives report in period D1 (from May), half in D2 (from
    August), every 24h/readings_per_day. The last hive reports once every
    two hours only, so its windows fall under the pipeline's coverage floor.
    Each hive has a few runs of missing temperature/humidity readings.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    suffixes = rng.choice(np.arange(1000, 10000), hives, replace=False)
    sensor_ids = 200000 + suffixes          # 6 digits; annotations use 4
    step = timedelta(days=1) / readings_per_day
    starts = {"D1": datetime(2020, 5, 4), "D2": datetime(2020, 8, 3)}
    periods = {"D1": [], "D2": []}
    population, winter = [], []
    for h, (sid, suf) in enumerate(zip(sensor_ids, suffixes)):
        period = "D1" if h < hives // 2 else "D2"
        start = starts[period]
        every = 8 if h == hives - 1 else 1   # the low-coverage hive
        n = days * readings_per_day
        idx = np.arange(0, n, every)
        t = idx / readings_per_day           # days since start
        diurnal = np.sin(2 * np.pi * t)
        strength = rng.uniform(0.5, 1.5)
        vals = np.empty((len(idx), 22))
        vals[:, 0] = 33 + 1.5 * diurnal + rng.normal(0, 0.4, len(idx))        # temperature
        vals[:, 1] = 55 - 8 * diurnal + rng.normal(0, 2, len(idx))            # humidity
        vals[:, 2] = strength * (1 + 0.3 * diurnal) + rng.normal(0, 0.05, len(idx))
        vals[:, 3] = 0.4 * strength + rng.normal(0, 0.02, len(idx))
        vals[:, 4] = rng.uniform(0.2, 0.6, len(idx))
        vals[:, 5] = rng.normal(0, 0.1, len(idx))
        bands = rng.uniform(0.1, 1.0, 16) * strength
        vals[:, 6:] = bands + rng.normal(0, 0.05, (len(idx), 16))
        vals = np.round(vals, 4)
        null_mask = np.zeros(len(idx), dtype=bool)
        for _ in range(3):                   # missing-reading runs
            s0 = int(rng.integers(0, max(1, len(idx) - 12)))
            null_mask[s0:s0 + 12] = True
        times = [start + step * int(i) for i in idx]
        for k in range(len(idx)):
            cells = [f"{v:.4f}" for v in vals[k]]
            if null_mask[k]:
                cells[0] = cells[1] = ""
            periods[period].append(
                f"{times[k]:%Y-%m-%d %H:%M:%S},{sid}," + ",".join(cells))
        base = rng.uniform(8, 32)
        for e, d in enumerate(range(3, days - 2, 3)):
            fob = round(float(np.clip(base + rng.normal(0, 4), 5, 35)), 1)
            population.append(f"{suf},{start + timedelta(days=d):%Y-%m-%d %H:%M:%S},"
                              f"{fob},A{h % 3 + 1},Evaluation{e + 1}")
        cause = "" if rng.random() < 0.7 else str(rng.choice(["varroa", "queenless", "starvation"]))
        wb = rng.uniform(30, 50)
        winter.append(f"{suf},A{h % 3 + 1},{cause},{wb:.2f},{wb - rng.uniform(5, 15):.2f},"
                      f"{rng.uniform(5, 20):.2f},{rng.uniform(6, 12):.1f},{rng.uniform(0, 10):.1f}")
    header = ",".join(SENSOR_HEADER)
    for period, rows in periods.items():
        with open(f"{out_dir}/{period}_sensor_data.csv", "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")
    with open(f"{out_dir}/population.csv", "w") as f:
        f.write("hive_id,date,frames_of_bees,apiary,evaluation\n" + "\n".join(population) + "\n")
    with open(f"{out_dir}/winter.csv", "w") as f:
        f.write("hive_id,apiary,mortality_cause,weight_before_kg,weight_after_kg,"
                "syrup_consumption_kg,frames_before,frames_after\n" + "\n".join(winter) + "\n")
    return sum(len(r) for r in periods.values())
