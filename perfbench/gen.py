"""Seeded input generator for the benchmark.

Two input sets, both a pure function of (seed, size):

* ``warehouse(dir, seed, sf)``: the star-schema tables the engine's named
  queries read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), with the column types and
  value ranges of the project's synthetic test tables (TESTDATA.md).
  ``sf`` scales the row counts the same way (lineitem = 6M x sf).
* ``etl(dir, seed, nights)``: reference-shaped inputs for the E1->E2->E3
  chain (FIXTURES.md A1/A2/A5/A6): a KC=F-style OHLCV history with
  literal ``null`` rows, a per-contract barchart snapshot history with
  text ``mo``/``last`` and 0.05 price ticks, a weekly COT sheet whose
  Tuesday dates move to Monday in holiday weeks, a messy USDA sheet
  (thousands separators, space-fused header, Unnamed and all-null
  columns, junk first row), and ``nights`` nightly increments that each
  carry the new day plus a revision of the previous day.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PNOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _write(table_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(table_dir, f"{name}.parquet"))


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PADJ, n_part), " "),
                              rng.choice(PNOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    # events arrive in id order over 30 days, microsecond timestamps
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word bags; about 5% re-send an earlier document
    # with a trailing marker or one word changed (the near-duplicates the
    # dedup family exists to find)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words = words + ["dup"]
            else:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


# ---------------------------------------------------------------------
# E1->E2->E3 inputs
# ---------------------------------------------------------------------

MONTH_CODES = {3: "H", 5: "K", 7: "N", 9: "U", 12: "Z"}
HISTORY_START = dt.date(2000, 1, 3)
HISTORY_END = dt.date(2023, 5, 15)
N_MONTHS = 12


def trading_days(start, n):
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _contracts(day):
    """The N_MONTHS listed coffee delivery months after ``day``."""
    out, y, m = [], day.year, day.month
    while len(out) < N_MONTHS:
        m += 1
        if m > 12:
            y, m = y + 1, 1
        if m in MONTH_CODES:
            out.append(f"KC{MONTH_CODES[m]}{y % 100:02d}")
    return out


def _tick(x):
    return np.round(np.round(x / 0.05) * 0.05, 2)


def _barchart_rows(rng, days, front):
    """N_MONTHS quote rows per day; ``front`` is each day's front price."""
    n = len(days) * N_MONTHS
    mo = np.tile(np.arange(1, N_MONTHS + 1), len(days))
    last = _tick(np.repeat(front, N_MONTHS) + 0.8 * mo + rng.normal(0, 0.4, n))
    prev = _tick(last + rng.normal(0, 0.6, n))
    prev_open = _tick(prev + rng.normal(0, 0.3, n))
    high = _tick(last + np.abs(rng.normal(0, 0.5, n)))
    low = _tick(last - np.abs(rng.normal(0, 0.5, n)))
    vol = rng.integers(0, 20_000, n)
    oi = rng.integers(100, 90_000, n)
    codes = [c for d in days for c in _contracts(d)]
    dates = [d.isoformat() for d in days for _ in range(N_MONTHS)]
    return [[codes[i], "front" if mo[i] == 1 else "back", str(mo[i]),
             f"{last[i] - prev[i]:+.2f}", prev_open[i], high[i], low[i], prev[i],
             f"{last[i]:.2f}", vol[i], oi[i], dates[i]] for i in range(n)]


def _ohlcv_rows(rng, days, close, nulls=()):
    n = len(days)
    o = close + rng.normal(0, 0.8, n)
    hi = np.maximum(o, close) + np.abs(rng.normal(0, 0.6, n))
    lo = np.minimum(o, close) - np.abs(rng.normal(0, 0.6, n))
    vol = rng.integers(0, 40_000, n)
    return [[d.isoformat()] + (["null"] * 6 if i in nulls else
                               [f"{v:.6f}" for v in (o[i], hi[i], lo[i], close[i], close[i])] +
                               [str(vol[i])])
            for i, d in enumerate(days)]


def _csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


OHLCV_HEADER = ["Date", "Open", "High", "Low", "Close", "Adj Close", "Volume"]
BARCHART_HEADER = ["contract", "timing", "mo", "change", "prev_open", "high",
                   "low", "prev", "last", "volume", "oi", "snapshot_date"]
COT_HEADER = ["date_actual", "com_long", "com_short", "index_long",
              "index_short", "ncom_long", "ncom_short", "nrep_long",
              "nrep_short"]


def etl(out, seed, nights):
    os.makedirs(os.path.join(out, "nightly"), exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    n_hist = np.busday_count(HISTORY_START, HISTORY_END + dt.timedelta(days=1))
    days = trading_days(HISTORY_START, int(n_hist) + nights)
    walk = 120.0 + np.cumsum(rng.normal(0, 1.2, len(days)))
    price = np.maximum(40.0, walk)
    nulls = set(rng.choice(n_hist, 100, replace=False).tolist())

    _csv(os.path.join(out, "ohlcv_history.csv"), OHLCV_HEADER,
         _ohlcv_rows(rng, days[:n_hist], price[:n_hist], nulls))
    _csv(os.path.join(out, "barchart_history.csv"), BARCHART_HEADER,
         _barchart_rows(rng, days[:n_hist], price[:n_hist]))
    # each night carries its new day and a revision of the day before
    for k in range(nights):
        i = n_hist + k
        revised = price[i - 1:i + 1] + np.array([0.05, 0.0])
        _csv(os.path.join(out, "nightly", f"ohlcv_{k:04d}.csv"), OHLCV_HEADER,
             _ohlcv_rows(rng, days[i - 1:i + 1], revised))
        _csv(os.path.join(out, "nightly", f"barchart_{k:04d}.csv"), BARCHART_HEADER,
             _barchart_rows(rng, days[i - 1:i + 1], revised))

    # weekly COT: Tuesdays, moved to Monday in holiday weeks
    cot, d = [], dt.date(2012, 1, 3)
    while d <= dt.date(2020, 12, 8):
        report = d - dt.timedelta(days=1) if rng.random() < 0.08 else d
        cot.append([report.isoformat()] +
                   [int(v) for v in rng.integers(1_000, 200_000, 8)])
        d += dt.timedelta(days=7)
    _csv(os.path.join(out, "cot.csv"), COT_HEADER, cot)

    # messy USDA sheet: junk first row, space-fused "Country Beginning",
    # typo'd and duplicate-suffixed headers, an Unnamed index, an all-null
    # ghost column, thousands separators, and sparse junk rows
    header = ["Unnamed: 0", "Country Beginning", "Productio", "Imports",
              "Total", "Domestic", "Loss", "Exports", "Ending", "Total.1",
              "Ghost"]
    rows = [[""] * 3 + ["Thousand 60 KG Bags"] + [""] * 7]
    countries = 0
    for i in range(60):
        if i % 9 == 4:
            rows.append([str(i), "", "", "", "", "", "", "", "", "1", ""])
            continue
        vals = [f"{int(v):,}" for v in rng.integers(0, 60_000, 9)]
        rows.append([str(i), f"Country{i} {vals[0]}"] + vals[1:] + [""])
        countries += 1
    _csv(os.path.join(out, "usda.csv"), header, rows)
    return {"history_days": int(n_hist), "usda_rows": countries}
