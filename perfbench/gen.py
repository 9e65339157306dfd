"""Seeded input generators for the benchmark.

Every generator takes a seed and writes plain files; the program under test
only ever sees those files. The same seed gives byte-identical files.

* ``gen_tx``: nested bronze ``raw_transactions`` JSON (FIXTURES.md section 1)
  plus hourly ``raw_pnl`` snapshots and the ``markets``,
  ``zetagroup_mapping`` and ``pubkey_label`` dimensions. Authorities are
  Zipf-skewed. Hours after the history are queued one file each under
  ``ticks/`` for a run to land. ``ledger.tsv`` holds the expected
  ``agg_ix_trade_1h``, computed here independently of the program.
* ``gen_corpus``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` (one parquet each) that the query catalog reads.

``perfbench/run.py`` calls these with each workload's sizes.
"""

import bisect
import datetime as dt
import itertools
import json
import os
import random
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
ASSETS = ["SOL", "ETH", "BTC", "JTO", "JUP", "PYTH", "TIA", "BONK"]
WRITE_OPTS = dict(compression="snappy", write_statistics=True)


def hour_name(h):
    return (EPOCH + dt.timedelta(hours=int(h))).strftime("%Y-%m-%dT%H")


def iso(ts_seconds):
    return (EPOCH + dt.timedelta(seconds=int(ts_seconds))).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def dec6(x):
    """Spark's double -> decimal(28,6) cast: shortest repr, half-up."""
    return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


# --------------------------------------------------------------- tx bronze

class Draw:
    """Seeded draws; Python's Mersenne Twister is stable across versions."""

    def __init__(self, *seed):
        self.r = random.Random("/".join(map(str, seed)))

    def int(self, lo, hi):  # inclusive bounds
        return self.r.randint(lo, hi)

    def unit(self):
        return self.r.random()

    def pick(self, cum):  # index drawn from a cumulative weight table
        return bisect.bisect_right(cum, self.r.random() * cum[-1])


def zipf_cum(n, s):
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def gen_tx(out, seed, hours, tx_per_hour, authorities, pnl_accounts,
           file_hours, tick_hours):
    """`hours` hours of landed bronze grouped `file_hours` hours per file,
    then `tick_hours` more hours, one file each, queued under ``ticks/``."""
    d = Draw("tx", seed)
    auth = [f"auth{seed % 997:03d}x{i:05d}" for i in range(authorities)]
    auth_cum = zipf_cum(authorities, 1.1)
    asset_cum = zipf_cum(len(ASSETS), 1.0)
    markets = {f"mkt_{a.lower()}": a for a in ASSETS}
    mkt_keys = list(markets) + ["mkt_unlisted"]  # coalesce fallback path
    zetagroups = {f"zg_{a.lower()}": a for a in ASSETS[:4]}
    zg_keys = list(zetagroups) + ["zg_unmapped"]
    base_px = {a: d.int(5, 3000) for a in ASSETS}

    for sub in ("raw_transactions", "raw_pnl", "dims",
                "ticks/raw_transactions", "ticks/raw_pnl"):
        os.makedirs(f"{out}/{sub}", exist_ok=True)
    with open(f"{out}/dims/markets.json", "w") as f:
        for k, a in markets.items():
            f.write(dumps({"market_pub_key": k, "asset": a}) + "\n")
    with open(f"{out}/dims/zetagroup_mapping.json", "w") as f:
        for k, a in zetagroups.items():
            f.write(dumps({"zetagroup_pub_key": k, "asset": a}) + "\n")
    with open(f"{out}/dims/pubkey_label.json", "w") as f:
        for i in (1, 4, 9):  # a few heavy accounts are labelled market makers
            f.write(dumps({"pub_key": auth[i], "label": f"mm{i}"}) + "\n")

    kinds = ["place", "crank", "deposit", "withdraw", "cancel",
             "funding", "liquidate", "trigger"]
    kind_cum = list(itertools.accumulate([34, 18, 9, 5, 12, 12, 3, 7]))
    ledger = {}
    balance = {a: 1000.0 + 37.0 * i for i, a in enumerate(auth[:pnl_accounts])}
    sig = 0

    def instruction(user, ok, h, j):
        kind = kinds[d.pick(kind_cum)]
        asset = ASSETS[d.pick(asset_cum)]
        mkt = mkt_keys[d.int(0, len(mkt_keys) - 1)]
        px = base_px[asset] * 1_000_000 + d.int(-500, 500) * 10_000
        sz = d.int(1, 199) * 1_000
        acc = {"authority": user}
        events, args, name = [], {}, kind
        if kind in ("place", "trigger"):
            name = (["place_perp_order_v3", "place_order", "place_order_v2"][d.int(0, 2)]
                    if kind == "place" else "execute_trigger_order")
            acc["market"] = mkt
            args = {"asset": asset.lower(), "price": str(px), "size": str(sz),
                    "side": ["bid", "ask"][j % 2]}
            events.append({"name": "place_order_event", "event": {
                "user": user, "asset": asset, "price": str(px), "size": str(sz),
                "order_id": f"o{sig}"}})
            if d.unit() < 0.6:  # filled: a taker trade
                fill_px = px + d.int(-20, 20) * 10_000
                fill_sz = d.int(1, sz // 1000) * 1_000
                events.append({"name": ["trade_event", "trade_event_v2",
                                        "trade_event_v3"][j % 3],
                               "event": {"user": user, "asset": asset,
                                         "price": str(fill_px),
                                         "size": str(fill_sz)}})
                if ok:
                    vol = dec6((fill_px / 1e6) * (fill_sz / 1e3))
                    c, v = ledger.get(h, (0, Decimal(0)))
                    ledger[h] = (c + 1, v + vol)
            if d.unit() < 0.3:
                events.append({"name": "order_complete_event", "event": {
                    "user": user, "asset": asset, "order_complete_type": "fill",
                    "unfilled_size": "0"}})
        elif kind == "crank":
            name = "crank_event_queue"
            acc["market"] = mkt
            for _ in range(d.int(1, 3)):
                events.append({"name": "trade_event", "event": {
                    "user": auth[d.pick(auth_cum)], "asset": asset,
                    "price": str(px), "size": str(sz)}})
        elif kind in ("deposit", "withdraw"):
            acc["zeta_group"] = zg_keys[d.int(0, len(zg_keys) - 1)]
            args = {"amount": str(d.int(1, 49_999) * 1_000_000)}
        elif kind == "cancel":
            name = "cancel_order"
            events.append({"name": "order_complete_event", "event": {
                "user": user, "asset": asset, "order_complete_type": "cancel",
                "unfilled_size": str(sz)}})
        elif kind == "funding":
            name = "apply_funding"
            events.append({"name": "apply_funding_event", "event": {
                "user": user, "asset": asset,
                "balance_change": str(d.int(-500_000, 500_000))}})
        else:
            name = "liquidate"
            events.append({"name": "liquidation_event", "event": {
                "liquidator": user, "liquidatee": auth[d.int(0, authorities - 1)],
                "asset": asset, "size": str(sz),
                "reward": str(d.int(1, 999) * 1_000)}})
        return {"name": name, "args": args,
                "accounts": {"named": acc, "remaining": []},
                "program_id": "zeta", "events": events}

    files = {}  # (feed, file name) -> lines
    for h in range(hours + tick_hours):
        if h < hours:
            first = h - h % file_hours
            fname = hour_name(first) if file_hours == 1 else hour_name(first)[:10]
            prefix = ""
        else:
            fname, prefix = hour_name(h), "ticks/"
        n = tx_per_hour
        secs = sorted(d.int(0, 3599) for _ in range(n))
        tx_lines = files.setdefault((f"{prefix}raw_transactions", fname), [])
        for j in range(n):
            sig += 1
            user = auth[d.pick(auth_cum)]
            ok = d.unit() >= 0.03
            ixs = [instruction(user, ok, h, j) for _ in range(d.int(1, 3))]
            tx_lines.append(dumps({
                "signature": f"s{seed}x{sig:09d}", "instructions": ixs,
                "is_successful": ok, "slot": 1_000_000 + sig,
                "block_time": iso(h * 3600 + secs[j]), "fee": 5000}))
        # hourly margin-account snapshots of the heaviest accounts; every
        # tenth row keys by owner only (authority fallback) and every
        # twentieth is a v1 row (non-null underlying) the pipeline drops
        pnl_lines = files.setdefault((f"{prefix}raw_pnl", fname), [])
        for i, a in enumerate(auth[:pnl_accounts]):
            balance[a] += d.int(-2000, 2000) / 100.0
            pnl_lines.append(dumps({
                "timestamp": iso(h * 3600 + 60 + i),
                "underlying": ASSETS[i % len(ASSETS)] if i % 20 == 7 else None,
                "owner_pub_key": a, "authority": None if i % 10 == 3 else a,
                "balance": round(balance[a], 2),
                "unrealized_pnl": d.int(-50000, 50000) / 100.0}))
    for (feed, fname), lines in files.items():
        with open(f"{out}/{feed}/{fname}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(f"{out}/ledger.tsv", "w") as f:
        for h, (c, v) in sorted(ledger.items()):
            f.write(f"{hour_name(h)}\t{c}\t{v}\n")


# ------------------------------------------------------------ query corpus

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def write_table(path, cols):
    pq.write_table(pa.table(cols), path, **WRITE_OPTS)


def gen_corpus(out, seed, sf):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), max(10, int(15_000 * sf))

    def money(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    write_table(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write_table(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write_table(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write_table(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "large", "hot", "cold", "small", "new", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"])
    pk = np.arange(n_part)
    retail = 900.0 + (pk % 1000) / 10.0
    write_table(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write_table(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(float)
    l_part = rng.integers(0, n_part, n_li)
    write_table(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * 2 + rng.integers(0, 100, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_li))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    write_table(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.002:  # exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
            continue
        toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        if rng.random() < 0.05:  # near-duplicate marker token
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(" ".join(toks))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    write_table(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.14, 0.15, 0.15, 0.15])],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write_table(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
