"""Seeded input generator for the benchmark.

Writes the star schema the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events) plus the corpus
tables (documents, embeddings) as one parquet file each.  Schemas,
key ranges and value distributions follow the engine's sf testdata, so
every registry query and its DuckDB oracle SQL run unchanged over the
generated directory.  Measures keep two decimals, which the registry's
exact-sum helpers rely on.

The same (scale, seed) always yields byte-identical tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "blue"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table value vector window").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EMB_DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# rows at scale factor 1; the testdata's sf0.1 is 0.1 x these
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _ids(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _star(seed: int, sf: float, tables: tuple[str, ...]) -> dict[str, pa.Table]:
    """The requested star-schema tables.  Each draws from its own
    stream, so asking for `orders` alone yields the same orders as the
    full schema."""
    n = {k: max(1, int(v * sf)) for k, v in BASE_ROWS.items()}
    # a handful of rows per dimension at least, so small scales still join
    n["supplier"] = max(10, n["supplier"])
    n["customer"] = max(150, n["customer"])
    n["part"] = max(200, n["part"])
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]

    def region(rng):
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS)}

    def nation(rng):
        return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}

    def customer(rng):
        return {"c_custkey": _ids(nc),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
                "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, nc)),
                "c_mktsegment": _pick(rng, SEGMENTS, nc)}

    def supplier(rng):
        return {"s_suppkey": _ids(ns),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
                "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, ns))}

    def part(rng):
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return {"p_partkey": _ids(npart),
                "p_name": _pick(rng, names, npart),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": rng.integers(1, 51, npart, dtype=np.int32),
                "p_retailprice": _cents(900.0 + (np.arange(npart) % 1000) * 0.1)}

    def orders(rng):
        return {"o_orderkey": _ids(no),
                "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, no)),
                "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, no) * DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, no)}

    def lineitem(rng):
        nl = n["lineitem"]
        qty = rng.integers(1, 51, nl).astype(np.float64)
        return {"l_orderkey": np.sort(rng.integers(0, no, nl, dtype=np.int64)),
                "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
                "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
                "l_quantity": qty,
                "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, nl)),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * DAY_US)}

    def events(rng):
        ne = n["events"]
        n_users = max(10, int(15_000 * sf))
        return {"event_id": _ids(ne),
                "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))),
                "user_id": rng.integers(0, n_users, ne, dtype=np.int64),
                "event_type": _pick(rng, EVENT_TYPES, ne),
                "value": _cents(rng.exponential(50.0, ne)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])}

    builders = (region, nation, customer, supplier, part, orders, lineitem, events)
    return {b.__name__: pa.table(b(np.random.default_rng([seed, int(sf * 1e6), i])))
            for i, b in enumerate(builders) if b.__name__ in tables}


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-vocabulary documents.  About 5% are near-copies of an
    earlier document with one `dup` marker token inserted, and 0.2% are
    exact copies, so exact dedup, MinHash-LSH and the leakage-safe split
    all find real duplicate groups."""
    lens = rng.integers(8, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kind[i] < 0.052:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return pa.table({
        "doc_id": _ids(n),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.fromiter((len(s) for s in texts), np.int64, n)})


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten label centroids; 3% are perturbed copies
    of an earlier vector (semantic duplicates)."""
    centroids = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = 0.35 * centroids[label] + rng.normal(size=(n, EMB_DIM))
    dup = np.flatnonzero(rng.random(n) < 0.03)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    v[dup] = v[src] + 0.02 * rng.normal(size=(len(dup), EMB_DIM))
    label[dup] = label[src]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": _ids(n), "embedding": emb, "label": label})


def generate(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> str:
    """Write `tables` at scale `sf` from `seed` into `out_dir` (cached:
    an existing complete directory is reused).  Returns `out_dir`."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    out = _star(seed, sf, tables)
    rng = np.random.default_rng([seed, int(sf * 1e6), len(STAR_TABLES)])
    if "documents" in tables:
        out["documents"] = _documents(rng, max(100, int(BASE_ROWS["documents"] * sf)))
    if "embeddings" in tables:
        out["embeddings"] = _embeddings(rng, max(100, int(BASE_ROWS["embeddings"] * sf)))
    for name in tables:
        pq.write_table(out[name], os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write(f"sf={sf} seed={seed}\n")
    return out_dir


def table_rows(data_dir: str, tables: tuple[str, ...]) -> int:
    return sum(pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
               for t in tables)
