"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Ground truth is computed from the generated address column with
numpy, never by splitting keys, so it is independent of the program's
`substring_index` path.
"""
import datetime as dt
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Inventory shape: objects per delivery, data files per delivery, address pool.
INV_OBJECTS = 1_000_000
INV_FILES = 16
INV_ADDRESSES = 150_000
NO_SLASH_SHARE = 0.01
CHURN_SHARE = 0.02  # B = A minus 2% deleted objects plus 2% new ones
ZIPF_S = 1.1
MISS_SHARE = 0.05
MISS_ADDRESSES = 5_000

# Day rotation of the fake clock: None is a day with no manifest, which
# forces the previous-day fallback.
DAY_DELIVERIES = ["A", "B", None, "A"]
BASE_DAY = dt.date(2026, 8, 10)
PREFIX = "inventory/source-bucket/daily"


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _addresses(rng, n):
    raw = rng.integers(0, 256, size=(n, 20), dtype=np.uint8)
    return np.array(["0x" + r.tobytes().hex() for r in raw], dtype=object)


def _inventory_table(rng, addr_names, addr_idx, obj_ids, no_slash):
    n = len(addr_idx)
    addr = pa.array(addr_names[addr_idx], type=pa.string())
    obj = pc.cast(pa.array(obj_ids), pa.string())
    folder = pc.cast(pa.array(obj_ids % 97), pa.string())
    with_slash = pc.binary_join_element_wise(addr, folder, obj, "/")
    without = pc.binary_join_element_wise(addr, obj, "-")
    key = pc.if_else(pa.array(no_slash), without, with_slash)
    size = np.maximum(1, rng.lognormal(10.0, 2.0, n)).astype(np.int64)
    ms = 1_780_000_000_000 + rng.integers(0, 86_400_000 * 30, n)
    small = lambda vals: pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(vals), n).astype(np.int32)), pa.array(vals))
    cols = {
        "bucket": pa.array(np.full(n, "source-bucket", dtype=object), type=pa.string()),
        "key": key,
        "version_id": pc.cast(pa.array(obj_ids * 7919 % 1_000_003), pa.string()),
        "is_latest": pa.array(np.ones(n, dtype=bool)),
        "is_delete_marker": pa.array(np.zeros(n, dtype=bool)),
        "size": pa.array(size),
        "last_modified_date": pa.array(ms, type=pa.timestamp("ms")),
        "e_tag": pc.cast(pa.array(obj_ids * 2654435761 % (1 << 32)), pa.string()),
        "storage_class": small(["STANDARD", "STANDARD_IA", "GLACIER", "INTELLIGENT_TIERING"]),
        "is_multipart_uploaded": pa.array(size > 8 << 20),
        "replication_status": small(["COMPLETED", "PENDING", ""]),
        "encryption_status": small(["SSE-S3", "NOT-SSE"]),
        "object_lock_retain_until_date": pa.nulls(n, type=pa.timestamp("ms")),
        "object_lock_mode": pa.nulls(n, type=pa.string()),
        "object_lock_legal_hold_status": small(["OFF"]),
        "intelligent_tiering_access_tier": small(["FREQUENT", "INFREQUENT", ""]),
        "bucket_key_status": small(["DISABLED", "ENABLED"]),
        "checksum_algorithm": small(["CRC32", "SHA256"]),
        "object_access_control_list": small(["private"]),
        "object_owner": small(["owner-a", "owner-b"]),
    }
    fields = [pa.field(k, v.type, nullable=k not in ("bucket", "key")) for k, v in cols.items()]
    return pa.Table.from_arrays(list(cols.values()), schema=pa.schema(fields))


def _truth(addr_idx, no_slash, sizes, n_addr):
    keep = ~no_slash
    total = np.bincount(addr_idx[keep], weights=sizes[keep].astype(np.float64), minlength=n_addr)
    # float weights are exact here: every per-address sum stays far below 2^53
    files = np.bincount(addr_idx[keep], minlength=n_addr)
    return total.astype(np.int64), files.astype(np.int64)


def _write_delivery(root, name, table):
    bounds = np.linspace(0, table.num_rows, INV_FILES + 1).astype(int)
    os.makedirs(os.path.join(root, "data", name), exist_ok=True)

    def write(i):
        key = f"data/{name}/part-{i:02d}.parquet"
        path = os.path.join(root, key)
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        return {"key": key, "size": os.path.getsize(path), "MD5checksum": f"{i:032x}"}

    with ThreadPoolExecutor(4) as pool:
        return list(pool.map(write, range(INV_FILES)))


def inventory(root, seed):
    """Write deliveries A and B (INV_FILES parquet files each), one dated
    manifest per day of DAY_DELIVERIES (a missing day included), the clock
    schedule, the ground truth and the lookup universe (addresses.txt).
    Returns the ground truth and the state `lookups` draws from."""
    rng = np.random.default_rng(seed)
    n_pool = INV_ADDRESSES
    names = _addresses(rng, n_pool + MISS_ADDRESSES)
    probs = _zipf_probs(n_pool, ZIPF_S)
    rank_to_addr = rng.permutation(n_pool)

    def draw(n):
        return rank_to_addr[rng.choice(n_pool, size=n, p=probs)]

    a_idx = draw(INV_OBJECTS)
    a_ids = np.arange(INV_OBJECTS, dtype=np.int64)
    a_noslash = rng.random(INV_OBJECTS) < NO_SLASH_SHARE
    a_tab = _inventory_table(rng, names, a_idx, a_ids, a_noslash)

    n_churn = int(INV_OBJECTS * CHURN_SHARE)
    keep = np.ones(INV_OBJECTS, dtype=bool)
    keep[rng.choice(INV_OBJECTS, size=n_churn, replace=False)] = False
    new_idx = draw(n_churn)
    new_ids = np.arange(INV_OBJECTS, INV_OBJECTS + n_churn, dtype=np.int64)
    new_noslash = rng.random(n_churn) < NO_SLASH_SHARE
    new_tab = _inventory_table(rng, names, new_idx, new_ids, new_noslash)
    b_tab = pa.concat_tables([a_tab.filter(pa.array(keep)), new_tab])

    sizes_a = a_tab.column("size").to_numpy()
    sizes_new = new_tab.column("size").to_numpy()
    truth = {
        "A": _truth(a_idx, a_noslash, sizes_a, n_pool),
        "B": _truth(np.concatenate([a_idx[keep], new_idx]),
                    np.concatenate([a_noslash[keep], new_noslash]),
                    np.concatenate([sizes_a[keep], sizes_new]), n_pool),
    }
    files = {d: _write_delivery(root, d, t) for d, t in (("A", a_tab), ("B", b_tab))}

    schedule = []
    for i, delivery in enumerate(DAY_DELIVERIES):
        day = BASE_DAY + dt.timedelta(days=i)
        served = delivery or DAY_DELIVERIES[i - 1]
        schedule.append({"clock": f"{day.isoformat()}T12:00:00Z", "delivery": served,
                         "fetches": 1 if delivery else 2})
        if delivery is None:
            continue
        mdir = os.path.join(root, PREFIX, f"{day.isoformat()}T01-00Z")
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, "manifest.json"), "w") as f:
            json.dump({
                "sourceBucket": "source-bucket",
                "destinationBucket": "arn:aws:s3:::inventory-bucket",
                "version": "2016-11-30",
                "creationTimestamp": str(int(dt.datetime(day.year, day.month, day.day, 1,
                                                         tzinfo=dt.timezone.utc).timestamp() * 1000)),
                "fileFormat": "Parquet",
                "fileSchema": "message s3.inventory { required binary bucket (UTF8); ... }",
                "files": files[delivery],
            }, f)

    for d, (total, count) in truth.items():
        with open(os.path.join(root, f"truth_{d}.tsv"), "w") as f:
            for i in np.nonzero(count)[0]:
                f.write(f"{names[i]}\t{total[i]}\t{count[i]}\n")
    with open(os.path.join(root, "addresses.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(root, "schedule.json"), "w") as f:
        json.dump(schedule, f)
    return {"truth": truth, "pool": n_pool, "probs": probs, "rank_to_addr": rank_to_addr,
            "rng": rng}


def lookups(root, inv, count):
    """Zipf-skewed lookup sequence over the address pool with MISS_SHARE of
    lookups aimed at addresses no delivery holds; int32 indices into
    addresses.txt."""
    rng = inv["rng"]
    idx = inv["rank_to_addr"][rng.choice(inv["pool"], size=count, p=inv["probs"])]
    miss = rng.random(count) < MISS_SHARE
    idx[miss] = inv["pool"] + rng.integers(0, MISS_ADDRESSES, int(miss.sum()))
    idx.astype("<i4").tofile(os.path.join(root, "lookups.bin"))
    return idx


WORDS = ("the a row data query stream fast spark line small customer group value hash "
         "batch sort big filter dup key agg scan slow table part merge window order "
         "column join vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]


def fixture(root, seed, docs=500, customers=150, suppliers=10, parts=200, orders=1500,
            events=1000, vectors=500):
    """TPC-H-style star schema plus events, documents and embeddings, with
    the column names and types of the registry's fixture tables."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(regions)})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", {
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
        "c_mktsegment": pa.array(pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                       "FURNITURE"], customers))})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, suppliers), 2))})
    adj = ["cold", "small", "blue", "hot", "old", "red", "new"]
    noun = ["widget", "bolt", "gear", "anvil", "ring", "rod", "plate"]
    write("part", {
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array(pick(adj, parts) + " " + pick(noun, parts)),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in rng.integers(1, 26, parts)], dtype=object)),
        "p_type": pa.array(pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], parts)),
        "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(parts) % 1000) * 0.1, 2))})
    day0 = np.datetime64("1995-01-01", "ms")
    write("orders", {
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders)),
        "o_orderstatus": pa.array(pick(["F", "O", "P"], orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, orders), 2)),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, orders).astype("timedelta64[D]"),
                                type=pa.timestamp("ms")),
        "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                          "5-LOW"], orders))})
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, parts, n)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(pick(["A", "N", "R"], n)),
        "l_linestatus": pa.array(pick(["F", "O"], n)),
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, n).astype("timedelta64[D]"),
                               type=pa.timestamp("ms"))})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, events))
    write("events", {
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts0 + ts.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, customers, events)),
        "event_type": pa.array(pick(["signup", "click", "error", "purchase", "view"], events)),
        "value": pa.array(np.round(rng.uniform(0.01, 500, events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)])})
    texts = []
    for i in range(docs):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            w = list(pick(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(w))
    write("documents", {
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(pick(LANGS, docs)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, vectors)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] * 0.15 + rng.normal(0, 1, (vectors, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
