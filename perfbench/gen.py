"""Seeded input generators for the benchmark.

The query tables follow the harness testdata's shape (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`): the same columns,
physical types, value domains and row ratios, scaled by `sf`. The MAEF
warehouse follows FIXTURES.md: 13 channels, 1-37 sessions per journey
with a mean near 1.9, and every dirty-row class of its section 5 that
lives in the warehouse tables. The same seed always gives the same files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query small row slow stream filter sort hash batch big group "
         "order column part table join window fast agg line spark merge scan key "
         "value customer vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = "small red blue hot cold old new big".split()
NOUN = "ring widget bolt gear anvil plate rod pipe".split()
CHANNELS = ["Affiliate & Partnerships", "Direct Traffic", "FB & IG Ads", "Microsoft Ads",
            "Newsletter & Email", "Organic Traffic", "Paid Search Brand",
            "Paid Search Non Brand", "Performance Max", "Referral", "Social Organic",
            "TikTok Ads", "Untracked Conversions"]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _ts(start, end, n, rng, day_only):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    if day_only:
        day = 86_400_000_000
        v = rng.integers(lo // day, hi // day + 1, n) * day
    else:
        v = rng.integers(lo, hi, n)
    return pa.array(v, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(out, seed, sf):
    """The ten query tables at scale factor `sf`; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)
    rows = {}

    def put(name, cols):
        _write(f"{out}/{name}.parquet", cols)
        rows[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng, True),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_line, rng, True)})
    ts = np.sort(rng.integers(np.datetime64("2024-01-01", "us").astype(np.int64),
                              np.datetime64("2024-01-31", "us").astype(np.int64), n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(np.minimum(rng.lognormal(3.5, 1.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 110, n_doc)]
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    v = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows


def _hex_ids(rng, n):
    raw = rng.integers(0, 256, (n, 32), dtype=np.uint8)
    return [r.tobytes().hex() for r in raw]


def maef_tables(out, seed, n_users, year=2023):
    """conversions / session_sources / session_costs; returns {table: rows}."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    users = _hex_ids(rng, n_users)
    n_conv_per_user = np.where(rng.random(n_users) < 0.15, 2, 1)
    conv_user = np.repeat(np.arange(n_users), n_conv_per_user)
    n_conv = len(conv_user)
    y0 = np.datetime64(f"{year}-01-01T00:00:00", "s").astype(np.int64)
    y1 = np.datetime64(f"{year + 1}-01-01T00:00:00", "s").astype(np.int64)
    conv_ts = rng.integers(y0, y1, n_conv)
    # sessions per journey: 1 + geometric tail (mean ~1.9), a few long
    # journeys up to 37
    k = np.minimum(rng.geometric(0.53, n_conv), 37)
    long_j = rng.random(n_conv) < 0.004
    k[long_j] = rng.integers(10, 38, long_j.sum())
    s_user = np.repeat(conv_user, k)
    s_ts = np.repeat(conv_ts, k) - rng.integers(60, 30 * 86_400, k.sum())
    # sessions after the last conversion of a user (excluded by the
    # strict `<` join) and sessions of users who never convert
    n_after = n_conv // 10
    a_idx = rng.integers(0, n_conv, n_after)
    s_user = np.concatenate([s_user, conv_user[a_idx], rng.integers(0, n_users, n_after // 2)])
    s_ts = np.concatenate([s_ts, conv_ts[a_idx] + rng.integers(60, 10 * 86_400, n_after),
                           rng.integers(y0, y1, n_after // 2)])
    n_sess = len(s_user)

    def day_time(t):
        d = t.astype("datetime64[s]")
        return (np.datetime_as_string(d, unit="D"),
                np.array([s[11:19] for s in np.datetime_as_string(d, unit="s")]))

    c_date, c_time = day_time(conv_ts)
    _write(f"{out}/conversions.parquet", {
        "conv_id": _hex_ids(rng, n_conv),
        "user_id": [users[u] for u in conv_user],
        "conv_date": c_date, "conv_time": c_time,
        "revenue": np.round(rng.lognormal(4.0, 1.0, n_conv), 2)})

    e_date, e_time = day_time(s_ts)
    e_date = e_date.astype(object)
    channel = rng.choice(CHANNELS, n_sess).astype(object)
    dirty = rng.random(n_sess)
    channel[dirty < 0.01] = ""
    channel[(dirty >= 0.01) & (dirty < 0.02)] = None
    e_date[(dirty >= 0.02) & (dirty < 0.03)] = ""
    session_ids = _hex_ids(rng, n_sess)
    _write(f"{out}/session_sources.parquet", {
        "session_id": session_ids,
        "user_id": [users[u] for u in s_user],
        "event_date": pa.array(list(e_date), pa.string()),
        "event_time": e_time,
        "channel_name": pa.array(list(channel), pa.string()),
        "holder_engagement": pa.array(rng.integers(0, 2, n_sess), pa.int32()),
        "closer_engagement": pa.array(rng.integers(0, 2, n_sess), pa.int32()),
        "impression_interaction": pa.array(rng.integers(0, 2, n_sess), pa.int32())})

    has_cost = rng.random(n_sess) >= 0.2  # sessions with no cost row
    cost = np.round(rng.uniform(0.05, 20.0, has_cost.sum()), 2).astype(object)
    cost[rng.random(len(cost)) < 0.05] = None
    _write(f"{out}/session_costs.parquet", {
        "session_id": [s for s, h in zip(session_ids, has_cost) if h],
        "cost": pa.array(list(cost), pa.float64())})
    return {"conversions": n_conv, "session_sources": n_sess,
            "session_costs": int(has_cost.sum())}


def windows(seed, count, length_days, year=2023):
    """A seeded sequence of overlapping [start, end] date windows."""
    rng = np.random.default_rng([seed, 3])
    step = length_days // 2
    first = dt.date(year, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365 - length_days - step * (count - 1))))
    out = []
    for i in range(count):
        s = first + dt.timedelta(days=i * step)
        out.append((s.isoformat(), (s + dt.timedelta(days=length_days - 1)).isoformat()))
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
