"""Seeded input generator for the benchmark.

Writes the ten testdata tables (TESTDATA.md schemas, one parquet file
per table, like the testdata sf directories) with the shapes that
``tools/scalecheck_queries.stage`` writes: hashed ``w<k>`` token
streams with a planted near-duplicate every 50 documents, 64-dim float
embeddings in 10 label clusters, 30 days of events over a fixed user
count, and TPC-H-ish customer/orders. Row counts come from the caller
(``spec.ROWS``). The seed is folded into every hash, so one seed always
gives the same bytes and another seed gives other rows of the same shape.

The output directory holds a ``manifest.json`` with the seed, the
content fingerprint (sha256 over the table files) and the row count and
size of every table. ``stage`` regenerates when the manifest is missing,
names another seed, other row counts or another generator version, or no
longer matches the bytes on disk.

Usage: python perfbench/gen.py OUT_DIR SEED   (prints the manifest)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
TOKENS = 50
VOCAB = 30_000
EMB_DIM = 64
MANIFEST = "manifest.json"

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x + _GOLD
    x = (x ^ (x >> np.uint64(30))) * _M1
    x = (x ^ (x >> np.uint64(27))) * _M2
    return x ^ (x >> np.uint64(31))


class Hasher:
    """Deterministic per-(seed, salt) integer hash of row ids."""

    def __init__(self, seed: int):
        self.seed = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)

    def __call__(self, ids: np.ndarray, salt: int, mod: int) -> np.ndarray:
        key = _mix(np.asarray([self.seed ^ np.uint64(salt * 0x1000193)], np.uint64))[0]
        h = _mix(ids.astype(np.int64).view(np.uint64) ^ key)
        return (h % np.uint64(mod)).astype(np.int64)


def _pick(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _documents(h: Hasher, n: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    # every 50th document repeats its predecessor with token 7 replaced
    dup = ids % 50 == 0
    base = np.where(dup, ids - 1, ids)
    toks = np.empty((n, TOKENS), dtype=np.int64)
    for j in range(TOKENS):
        toks[:, j] = h(base * TOKENS + j, 100, VOCAB)
    toks[dup, 7] = h(ids[dup], 99, VOCAB)
    vocab = np.asarray([f"w{k}" for k in range(VOCAB)], dtype=object)
    text = [" ".join(row) for row in vocab[toks]]
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text, pa.string()),
        "lang": _pick(["en", "en", "en", "fr", "zh"], h(ids, 1, 5)),
        "source": pa.array([f"src{k}" for k in h(ids, 2, 20)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in text), np.int64, n)),
    })


def _embeddings(h: Hasher, n: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    lab = h(ids, 3, 10)
    dims = np.arange(EMB_DIM, dtype=np.float64)
    noise = np.stack([h(ids * EMB_DIM + i, 101, 2001) for i in range(EMB_DIM)], axis=1)
    emb = (np.sin(lab[:, None] * 1.7 + dims[None, :] * 0.31)
           + (noise - 1000) / 4000.0).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.ravel())),
        "label": pa.array(lab.astype(np.int32)),
    })


def _events(h: Hasher, n: int, n_users: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    ts_us = 1_704_067_200_000_000 + h(ids, 12, 2_592_000) * 1_000_000 + h(ids, 17, 1_000_000)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(h(ids, 13, n_users)),
        "event_type": _pick(["click", "view", "purchase", "signup", "error"], h(ids, 14, 5)),
        "value": pa.array(h(ids, 15, 49_000) / 100.0 + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in h(ids, 16, 100)], pa.string()),
    })


def _customer(h: Hasher, n: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(ids),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ids], pa.string()),
        "c_nationkey": pa.array(h(ids, 4, 25).astype(np.int32)),
        "c_acctbal": pa.array((h(ids, 5, 1_100_000) - 100_000) / 100.0),
        "c_mktsegment": _pick(["MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE"],
                              h(ids, 6, 5)),
    })


def _orders(h: Hasher, n: int, n_cust: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    day_us = 86_400_000_000
    return pa.table({
        "o_orderkey": pa.array(ids),
        "o_custkey": pa.array(h(ids, 7, n_cust)),
        "o_orderstatus": _pick(["O", "F", "P"], h(ids, 8, 3)),
        "o_totalprice": pa.array(h(ids, 9, 50_000_000) / 100.0),
        "o_orderdate": pa.array(820_454_400_000_000 + h(ids, 10, 2_190) * day_us,
                                pa.timestamp("us")),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                 h(ids, 11, 5)),
    })


def _dimensions(h: Hasher, n_supp: int, n_part: int, n_line: int, n_orders: int) -> dict:
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    nk = np.arange(25, dtype=np.int32)
    sk = np.arange(n_supp, dtype=np.int64)
    pk = np.arange(n_part, dtype=np.int64)
    lk = np.arange(n_line, dtype=np.int64)
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(regions, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(nk),
                            "n_name": pa.array([f"NATION_{k}" for k in nk], pa.string()),
                            "n_regionkey": pa.array(nk % 5)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], pa.string()),
            "s_nationkey": pa.array(h(sk, 20, 25).astype(np.int32)),
            "s_acctbal": pa.array((h(sk, 21, 1_100_000) - 100_000) / 100.0),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": _pick(["large ring", "hot bolt", "blue ring", "small nut", "red gear"],
                            h(pk, 22, 5)),
            "p_brand": pa.array([f"Brand#{k}" for k in h(pk, 23, 25) + 1], pa.string()),
            "p_type": _pick(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], h(pk, 24, 5)),
            "p_size": pa.array((h(pk, 25, 50) + 1).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(h(lk, 30, n_orders)),
            "l_partkey": pa.array(h(lk, 31, n_part)),
            "l_suppkey": pa.array(h(lk, 32, n_supp)),
            "l_linenumber": pa.array((h(lk, 33, 7) + 1).astype(np.int32)),
            "l_quantity": pa.array((h(lk, 34, 50) + 1).astype(np.float64)),
            "l_extendedprice": pa.array(h(lk, 35, 10_000_000) / 100.0),
            "l_discount": pa.array(h(lk, 36, 11) / 100.0),
            "l_tax": pa.array(h(lk, 37, 9) / 100.0),
            "l_returnflag": _pick(["A", "N", "R"], h(lk, 38, 3)),
            "l_linestatus": _pick(["O", "F"], h(lk, 39, 2)),
            "l_shipdate": pa.array(820_454_400_000_000 + h(lk, 40, 2_190) * 86_400_000_000,
                                   pa.timestamp("us")),
        }),
    }


def generate(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write every table for ``seed`` into out_dir; ``rows`` gives the row
    count per table (and ``users``, the distinct event users)."""
    h = Hasher(seed)
    tables = {
        "documents": _documents(h, rows["documents"]),
        "embeddings": _embeddings(h, rows["embeddings"]),
        "events": _events(h, rows["events"], rows["users"]),
        "customer": _customer(h, rows["customer"]),
        "orders": _orders(h, rows["orders"], rows["customer"]),
        **_dimensions(h, rows["supplier"], rows["part"], rows["lineitem"], rows["orders"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(data_dir: str) -> str:
    """sha256 over the table files' names and bytes, in table order."""
    dig = hashlib.sha256()
    for name in TABLES:
        dig.update(name.encode())
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as fh:
            dig.update(fh.read())
    return dig.hexdigest()


def _generator_version() -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def read_manifest(data_dir: str) -> dict | None:
    try:
        with open(os.path.join(data_dir, MANIFEST)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def is_fresh(data_dir: str, seed: int, rows: dict[str, int]) -> bool:
    """True when data_dir holds this generator's tables for (seed, rows)
    and the bytes on disk still match the recorded fingerprint."""
    man = read_manifest(data_dir)
    if not man or (man.get("seed"), man.get("rows"), man.get("generator")) != (
        seed, rows, _generator_version()
    ):
        return False
    try:
        return fingerprint(data_dir) == man["fingerprint"]
    except OSError:
        return False


def stage(data_dir: str, seed: int, rows: dict[str, int]) -> dict:
    """Make ``data_dir`` hold the tables for ``seed``; regenerate (into a
    temporary directory, then swap it in) only when they are stale.
    Returns the manifest."""
    if not is_fresh(data_dir, seed, rows):
        tmp = f"{data_dir}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, rows)
        man = {
            "seed": seed,
            "rows": rows,
            "generator": _generator_version(),
            "fingerprint": fingerprint(tmp),
            "tables": {
                t: {
                    "rows": pq.ParquetFile(os.path.join(tmp, f"{t}.parquet")).metadata.num_rows,
                    "bytes": os.path.getsize(os.path.join(tmp, f"{t}.parquet")),
                }
                for t in TABLES
            },
        }
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump(man, fh, indent=1, sort_keys=True)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    return read_manifest(data_dir)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit("usage: gen.py OUT_DIR SEED")
    from spec import ROWS  # sibling module: perfbench/ is sys.path[0]

    print(json.dumps(stage(sys.argv[1], int(sys.argv[2]), ROWS), indent=1, sort_keys=True))
