"""Seeded input generator for the benchmark.

Writes the same ten tables, with the same column names and parquet types,
that the program's query packs read (see FIXTURES.md): a TPC-H-like star
schema, an `events` stream table, a `documents` text corpus and an
`embeddings` vector table. Sizes follow the scale factor `sf` the way the
reference data does (orders = 1.5M * sf, lineitem ~ 4 lines per order,
events = 1M * sf, at least 500 documents and embeddings).

Also writes the lakehouse CDC script: the upsert/delete batches and the op
sequence the lakehouse workload drives through `GraftTable`.

The same (sf, seed) always yields byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# The lakehouse checksum: one aggregate row over the orders schema whose
# every column is an exact integer in both Spark SQL and DuckDB, so a read
# forced through it can be compared value for value against a DuckDB replay.
CHECKSUM_SQL = [
    "count(*) AS n",
    "sum(o_orderkey) AS k",
    "sum(o_custkey) AS c",
    "sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS p",
    "sum((o_orderkey % 991) * (year(o_orderdate) * 10000 + month(o_orderdate) * 100"
    " + day(o_orderdate))) AS d",
    "sum((o_orderkey % 983) * (ascii(o_orderstatus) + 256 * ascii(o_orderpriority)"
    " + 65536 * length(o_orderpriority))) AS s",
    "sum(((o_orderkey % 977) * CAST(ROUND(o_totalprice * 100) AS BIGINT)) % 1000003) AS x",
]
CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
MV_KEYS = ["o_orderstatus"]
MV_AGGS = [["count", "*", "n"], ["sum", CENTS, "cents"], ["count", CENTS, "n_cents"]]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(values):
    return pa.array(list(values), pa.string())


def orders_table(rng, first_key, n, n_cust):
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": _strings(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": _strings(rng.choice(PRIORITIES, n)),
    })


def corpus(rng, n_doc):
    """Near-duplicate clusters: each cluster is a base text plus copies with
    at most one token substituted, shuffled over the doc ids. Every true
    near-dup edge to a cluster's base has Jaccard >= 0.93, far above the
    0.8 bar where LSH banding could miss it, so the clustering activities
    stay exactly comparable with their all-pairs DuckDB oracles; bases are
    drawn from a Zipf-weighted vocabulary and rarely overlap."""
    words = np.array(VOCAB + [f"w{i}" for i in range(800)])
    weights = 1.0 / np.arange(1, len(words) + 1) ** 0.8
    weights /= weights.sum()
    texts = []
    while len(texts) < n_doc:
        base = list(rng.choice(words, int(rng.integers(40, 100)), p=weights))
        texts.append(" ".join(base))
        for _ in range(int(rng.choice([0, 0, 0, 1, 2, 3, 5]))):
            copy = list(base)
            if rng.random() < 0.7:
                copy[int(rng.integers(0, len(copy)))] = str(rng.choice(words))
            texts.append(" ".join(copy))
    return [texts[i] for i in rng.permutation(len(texts))[:n_doc]]


def gen_tables(out, sf, seed):
    """The ten source tables at scale `sf` under directory `out`."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _strings(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": _strings(f"NATION_{i}" for i in range(25)),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _strings(f"Customer#{i:09d}" for i in range(n_cust)),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strings(rng.choice(SEGMENTS, n_cust)),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _strings(f"Supplier#{i:09d}" for i in range(n_supp)),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": _strings(f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))),
        "p_brand": _strings(f"Brand#{i}" for i in rng.integers(1, 26, n_part)),
        "p_type": _strings(rng.choice(PART_TYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out}/part.parquet")
    _write(orders_table(rng, 0, n_ord, n_cust), f"{out}/orders.parquet")

    lines_per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    linenos = (np.arange(len(okeys)) - starts + 1).astype(np.int32)
    order = rng.permutation(len(okeys))
    n_li = len(okeys)
    _write(pa.table({
        "l_orderkey": okeys[order],
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": linenos[order],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104999.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _strings(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": _strings(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US,
                               pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    # strictly increasing event times over ~30 days (no ts ties)
    gaps = rng.integers(1, 2 * 30 * DAY_US // n_ev, n_ev)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _strings(rng.choice(EVENT_TYPES, n_ev)),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": _strings(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)),
    }), f"{out}/events.parquet")

    texts = corpus(rng, n_doc)
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": _strings(texts),
        "lang": _strings(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": _strings(f"src{i % 20}" for i in range(n_doc)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    }), f"{out}/embeddings.parquet")
    return {"orders": n_ord, "lineitem": n_li, "events": n_ev, "documents": n_doc,
            "embeddings": n_emb, "customer": n_cust}


def gen_cdc(out, n_base, seed, small_keys=3000, large_keys=70000):
    """The lakehouse CDC script under `out`: base.parquet (the seed table),
    one parquet file per write batch, and ops.json (the op sequence).

    The sequence is fixed; the seed draws the keys, values and predicates.
    Upserts are mostly small (three per pass): each touches a contiguous
    window of existing keys inside one seed file plus fresh keys. The one
    large upsert has more distinct keys than the merge's 64k local-key cap,
    so both merge key modes run."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, n_base // 10)
    _write(orders_table(rng, 0, n_base, n_cust), f"{out}/base.parquet")
    next_key = n_base
    n_batches = 0

    def batch(keys, key_only=False):
        nonlocal n_batches
        path = f"batch_{n_batches:02d}.parquet"
        n_batches += 1
        t = orders_table(rng, 0, len(keys), n_cust)
        t = t.set_column(0, "o_orderkey", pa.array(np.asarray(keys, np.int64)))
        _write(t.select(["o_orderkey"]) if key_only else t, f"{out}/{path}")
        return path

    seed_files = 8
    span = n_base // seed_files

    def in_one_file(width):
        """Start of a key window inside one seed file's key range, clear of
        its (sampled, so approximate) boundaries: every seed then rewrites
        or reads the same number of files."""
        margin = span // 10
        return (int(rng.integers(0, seed_files)) * span + margin
                + int(rng.integers(0, span - 2 * margin - width)))

    def upsert(n):
        nonlocal next_key
        n_upd = min(n - n // 7, n_base // 2)
        if n > 65536:
            upd = rng.choice(n_base, n_upd, replace=False)
        else:
            lo = in_one_file(n_upd)
            upd = np.arange(lo, lo + n_upd)
        keys = np.concatenate([upd, np.arange(next_key, next_key + n - n_upd)])
        next_key += n - n_upd
        return {"op": "merge_large" if n > 65536 else "merge_small",
                "path": batch(rng.permutation(keys))}

    def delete_keys():
        window = span // 2
        lo = in_one_file(window)
        keys = rng.choice(np.arange(lo, lo + window), 500, replace=False)
        return {"op": "merge_delete", "path": batch(np.sort(keys), key_only=True)}

    def read_range():
        lo = in_one_file(5000)
        return {"op": "read_range", "lo": lo, "hi": lo + 4999}

    ops = [{"op": "seed", "path": "base.parquet", "files": seed_files},
           upsert(small_keys), {"op": "read_asof", "back": 1}, read_range(),
           {"op": "row_count"}, {"op": "changes"},
           delete_keys(), upsert(small_keys), read_range(),
           {"op": "delete_where", "predicate":
            f"o_orderkey % 4099 = {int(rng.integers(0, 97))} AND o_orderkey < {n_base // 2}"},
           {"op": "update_where", "predicate": f"o_orderkey % 4093 = {int(rng.integers(0, 97))}",
            "set": {"o_totalprice": "o_totalprice + 1.25", "o_orderstatus": "'U'"}},
           {"op": "read_asof", "back": 2},
           upsert(small_keys), {"op": "changes"},
           upsert(large_keys), read_range(), {"op": "snapshot"},
           {"op": "optimize", "target_files": 4}, {"op": "checkpoint"},
           {"op": "read_asof", "back": 1}, read_range(),
           {"op": "mv_refresh"}, {"op": "vacuum"}]
    script = {"ops": ops, "checksum_sql": CHECKSUM_SQL, "mv_keys": MV_KEYS,
              "mv_aggs": MV_AGGS}
    with open(f"{out}/ops.json", "w") as f:
        json.dump(script, f, indent=1)
    return script
