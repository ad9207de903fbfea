"""Seeded input generators for the benchmark.

Two generators, both a pure function of the seed (same seed -> byte-identical
parquet files):

* ``chain``: a Helium-shaped chain (blocks, transactions with payment_v1 /
  payment_v2 / poc_receipts_v1 JSON payloads, gateway inventory / status /
  locations with Zipf-skewed city sizes, account inventory) for the
  ``follower`` workload.
* ``tables``: the TPC-H-ish star schema plus events / documents / embeddings
  that the registered queries read, for the ``query_mix`` workload.

Both write one ``<name>.parquet`` file per table into a directory, the layout
``graft.sources.Tables`` reads.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- chain shape
# Sourced: the reference's cadence (BASELINE.md, from its .env.template) is a
# 130k-block backfill in 5k-block chunks, re-syncs after at least 100 new
# blocks, and a 5-day witness window; the three payload shapes are those the
# reference parses (PAPER.md). The benchmark chain keeps those proportions at
# 1/5 of the length: chunks are 1/26 of the chain and the window is ~5.5% of
# it.
#
# Assumed: everything about the traffic itself -- transactions per block, the
# type mix, witnesses per receipt, the number of accounts, gateways and
# cities, and the Zipf skew of city sizes -- is a guess, not a measured chain
# statistic; the repository holds none. Graph-layer cost depends directly on
# city sizes and witness edges, so the graph layer's share of an epoch is
# only as representative as these guesses.
CHAIN = dict(
    blocks=26_000,
    block_seconds=300,           # 26k blocks x 300 s = 90 days
    genesis=1_650_000_000,
    txns_per_block=2.3,
    type_mix={"payment_v1": 0.2, "payment_v2": 0.2,
              "poc_receipts_v1": 0.5, "add_gateway_v1": 0.1},
    accounts=3_000,
    gateways=2_000,
    cities=40,
    city_zipf=1.1,               # city size ~ 1 / rank^1.1
    gateways_without_location=0.05,
    gateways_without_status=0.03,
    witnesses_mean=3.0,          # 1 + Poisson(mean) witnesses per receipt
    witnesses_max=12,
    witness_same_city=0.85,
    witness_valid=0.85,
    window_days=5,
)

_WRITE = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write(table, path):
    pq.write_table(table, path, **_WRITE)


def _hex(rng, n, width):
    """n distinct-looking lowercase hex strings of `width` characters."""
    words = rng.integers(0, 2**63, size=(n, (width + 15) // 16), dtype=np.int64)
    return ["".join(f"{int(w):016x}" for w in row)[:width] for row in words]


def _zipf_sizes(rng, total, k, s):
    """Split `total` items into `k` groups with Zipf(s) expected sizes."""
    weights = 1.0 / np.arange(1, k + 1) ** s
    return rng.multinomial(total, weights / weights.sum())


def chain(seed, out_dir):
    """Write the chain tables to `out_dir`; return the stated input size."""
    c = CHAIN
    rng = np.random.default_rng([seed, 1])
    n_blocks = c["blocks"]

    # blocks
    heights = np.arange(n_blocks, dtype=np.int64)
    times = c["genesis"] + heights * c["block_seconds"]
    _write(pa.table({
        "height": heights, "time": times,
        "timestamp": pa.array(times * 1_000_000, pa.timestamp("us", tz="UTC")),
    }), f"{out_dir}/blocks.parquet")

    # accounts
    accounts = ["1a" + h for h in _hex(rng, c["accounts"], 30)]
    first = rng.integers(0, n_blocks, size=len(accounts))
    _write(pa.table({
        "address": accounts,
        "balance": rng.integers(0, 10**12, size=len(accounts)),
        "nonce": rng.integers(0, 500, size=len(accounts)),
        "dc_balance": rng.integers(0, 10**9, size=len(accounts)),
        "dc_nonce": rng.integers(0, 50, size=len(accounts)),
        "security_balance": rng.integers(0, 10**8, size=len(accounts)),
        "security_nonce": rng.integers(0, 5, size=len(accounts)),
        "first_block": first,
        "last_block": np.minimum(first + rng.integers(0, n_blocks, size=len(accounts)),
                                 n_blocks - 1),
        "staked_balance": rng.integers(0, 10**10, size=len(accounts)),
    }), f"{out_dir}/account_inventory.parquet")

    # gateways, cities, locations
    n_gw = c["gateways"]
    gateways = ["11" + h for h in _hex(rng, n_gw, 30)]
    city_sizes = _zipf_sizes(rng, n_gw, c["cities"], c["city_zipf"])
    city_of = np.repeat(np.arange(c["cities"]), city_sizes)
    rng.shuffle(city_of)
    located = rng.random(n_gw) >= c["gateways_without_location"]
    cells = ["8c" + h for h in _hex(rng, n_gw, 13)]
    city_ids = [f"city-{k:03d}-{seed % 997:03d}" for k in range(c["cities"])]
    loc_rows = [i for i in range(n_gw) if located[i]]
    _write(pa.table({
        "location": [cells[i] for i in loc_rows],
        "long_street": [f"{i} Main Street" for i in loc_rows],
        "short_street": [f"{i} Main St" for i in loc_rows],
        "long_city": [f"City {city_of[i]}" for i in loc_rows],
        "short_city": [f"C{city_of[i]}" for i in loc_rows],
        "long_state": [f"State {city_of[i] % 7}" for i in loc_rows],
        "short_state": [f"S{city_of[i] % 7}" for i in loc_rows],
        "long_country": ["Country"] * len(loc_rows),
        "short_country": ["CO"] * len(loc_rows),
        "city_id": [city_ids[city_of[i]] for i in loc_rows],
    }), f"{out_dir}/locations.parquet")
    gw_first = rng.integers(0, n_blocks // 2, size=n_gw)
    _write(pa.table({
        "address": gateways,
        "owner": [accounts[i] for i in rng.integers(0, len(accounts), size=n_gw)],
        "location": [cells[i] if located[i] else None for i in range(n_gw)],
        "last_poc_challenge": rng.integers(0, n_blocks, size=n_gw),
        "last_poc_onion_key_hash": _hex(rng, n_gw, 24),
        "first_block": gw_first,
        "last_block": np.full(n_gw, n_blocks - 1, dtype=np.int64),
        "nonce": rng.integers(0, 10, size=n_gw),
        "name": [f"hotspot-{i:05d}" for i in range(n_gw)],
        "first_timestamp": pa.array(
            (c["genesis"] + gw_first * c["block_seconds"]) * 1_000_000,
            pa.timestamp("us", tz="UTC")),
        "reward_scale": np.round(rng.random(n_gw), 4),
        "elevation": rng.integers(0, 60, size=n_gw, dtype=np.int32),
        "gain": rng.integers(10, 90, size=n_gw, dtype=np.int32),
        "location_hex": [cells[i] if located[i] else None for i in range(n_gw)],
        "mode": rng.choice(["full", "light", "dataonly"], size=n_gw, p=[0.8, 0.15, 0.05]),
        "payer": [accounts[i] for i in rng.integers(0, len(accounts), size=n_gw)],
    }), f"{out_dir}/gateway_inventory.parquet")
    has_status = rng.random(n_gw) >= c["gateways_without_status"]
    _write(pa.table({
        "address": [g for g, h in zip(gateways, has_status) if h],
        "online": [("online" if rng.random() < 0.9 else "offline")
                   for h in has_status if h],
    }), f"{out_dir}/gateway_status.parquet")

    # transactions
    # a fixed count per block (2 or 3, mean txns_per_block): every follower
    # epoch of the same block span sees the same number of source rows
    per_block = np.diff(np.floor(np.arange(n_blocks + 1) * c["txns_per_block"])).astype(np.int64)
    tx_block = np.repeat(heights, per_block)
    n_tx = len(tx_block)
    types = list(c["type_mix"])
    tx_type = rng.choice(len(types), size=n_tx, p=list(c["type_mix"].values()))
    # every random draw is vectorized per transaction type; only the JSON
    # rendering loops
    n_acc = len(accounts)
    fields = np.empty(n_tx, dtype=object)

    def draw_accounts(n):
        return [accounts[i] for i in rng.integers(0, n_acc, size=n)]

    v1 = np.flatnonzero(tx_type == types.index("payment_v1"))
    for i, a, b, amt in zip(v1, draw_accounts(len(v1)), draw_accounts(len(v1)),
                            rng.integers(1, 10**9, size=len(v1))):
        fields[i] = json.dumps({"payer": a, "payee": b, "amount": int(amt)})

    v2 = np.flatnonzero(tx_type == types.index("payment_v2"))
    k2 = rng.integers(1, 4, size=len(v2))
    payees, amounts = draw_accounts(int(k2.sum())), rng.integers(1, 10**9, size=int(k2.sum()))
    at = 0
    for i, a, k in zip(v2, draw_accounts(len(v2)), k2):
        fields[i] = json.dumps({"payer": a, "payments": [
            {"payee": payees[j], "amount": int(amounts[j])} for j in range(at, at + k)]})
        at += k

    rc = np.flatnonzero(tx_type == types.index("poc_receipts_v1"))
    challengee = rng.integers(0, n_gw, size=len(rc))
    kw = np.minimum(1 + rng.poisson(c["witnesses_mean"], size=len(rc)), c["witnesses_max"])
    n_witness_rows = int(kw.sum())
    home_city = np.repeat(city_of[challengee], kw)
    # a witness in the challengee's city: a uniform member of that city
    members = [np.flatnonzero(city_of == k) for k in range(c["cities"])]
    sizes = np.array([len(m) for m in members])
    pick = (rng.random(n_witness_rows) * sizes[home_city]).astype(np.int64)
    same = (rng.random(n_witness_rows) < c["witness_same_city"]) & (sizes[home_city] > 1)
    anywhere = rng.integers(0, n_gw, size=n_witness_rows)
    witness = np.where(same, [members[h][p] for h, p in zip(home_city, pick)], anywhere)
    signal = rng.integers(-130, -60, size=n_witness_rows)
    snr = np.round(rng.normal(5.0, 4.0, size=n_witness_rows), 1)
    valid = rng.random(n_witness_rows) < c["witness_valid"]
    at = 0
    for i, ch, k in zip(rc, challengee, kw):
        ws = [{"gateway": gateways[witness[j]], "signal": int(signal[j]), "snr": float(snr[j]),
               "is_valid": bool(valid[j]), "timestamp": 0} for j in range(at, at + k)]
        fields[i] = json.dumps({"path": [{"challengee": gateways[ch], "witnesses": ws}]})
        at += k

    other = np.flatnonzero(tx_type == types.index("add_gateway_v1"))
    for i, g, o in zip(other, rng.integers(0, n_gw, size=len(other)), draw_accounts(len(other))):
        fields[i] = json.dumps({"gateway": gateways[g], "owner": o})
    tx_hash = [f"{seed & 0xffffffff:08x}{i:08x}{h}" for i, h in enumerate(_hex(rng, n_tx, 16))]
    _write(pa.table({
        "block": tx_block,
        "hash": tx_hash,
        "type": [types[t] for t in tx_type],
        "fields": list(fields),
        "time": c["genesis"] + tx_block * c["block_seconds"],
    }), f"{out_dir}/transactions.parquet")

    counts = {k: int((tx_type == i).sum()) for i, k in enumerate(types)}
    return {
        "blocks": n_blocks,
        "transactions": n_tx,
        "transactions_by_type": counts,
        "witness_rows": n_witness_rows,
        "witnesses_per_receipt": round(n_witness_rows / max(1, counts["poc_receipts_v1"]), 3),
        "accounts": len(accounts),
        "gateways": n_gw,
        "cities": c["cities"],
        "city_sizes_top5": sorted((int(s) for s in city_sizes), reverse=True)[:5],
        "city_sizes_min": int(city_sizes.min()),
    }


# ---------------------------------------------------------------- query tables
# The TPC-H-ish shape of the registered queries' inputs at the queries'
# correctness scale (lineitem ~60k rows).
TABLES = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
              lineitem=60_000, events=10_000, documents=500, embeddings=500,
              users=150, embedding_dim=64)

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array((rng.integers(lo, hi + 1, size=n) * 86_400_000_000).astype(np.int64),
                    pa.timestamp("us"))


def tables(seed, out_dir):
    """Write the query tables to `out_dir`; return the stated input size."""
    t = TABLES
    rng = np.random.default_rng([seed, 2])
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    nc = t["customer"]
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, size=nc, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], size=nc),
    }), f"{out_dir}/customer.parquet")
    ns = t["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, size=ns, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=ns), 2),
    }), f"{out_dir}/supplier.parquet")
    npart = t["part"]
    adjectives = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
    nouns = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, size=npart), rng.integers(0, 8, size=npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=npart)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD",
                              "PROMO"], size=npart),
        "p_size": rng.integers(1, 51, size=npart, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")
    no = t["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, size=no),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], size=no),
    }), f"{out_dir}/orders.parquet")
    nl = t["lineitem"]
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, no, size=nl),
        "l_partkey": rng.integers(0, npart, size=nl),
        "l_suppkey": rng.integers(0, ns, size=nl),
        "l_linenumber": rng.integers(1, 8, size=nl, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=nl), 2),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=nl),
        "l_linestatus": rng.choice(["F", "O"], size=nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")
    ne = t["events"]
    start_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, size=ne))
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, t["users"], size=ne),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], size=ne),
        "value": np.round(rng.uniform(0.01, 490.0, size=ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=ne)],
    }), f"{out_dir}/events.parquet")
    nd = t["documents"]
    texts = []
    for _ in range(nd):
        words, n = [], 0
        target = int(rng.integers(48, 554))
        while n < target:
            w = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append(w)
            n += len(w) + 1
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], size=nd,
                           p=[0.44, 0.14, 0.14, 0.13, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, size=nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
    nv, dim = t["embeddings"], t["embedding_dim"]
    vecs = rng.normal(size=(nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=nv, dtype=np.int32),
    }), f"{out_dir}/embeddings.parquet")
    return {k: v for k, v in t.items() if k != "users"}
