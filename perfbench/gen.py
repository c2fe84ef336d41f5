"""Seeded benchmark inputs: a hash-based row sample of graft's sf0.1 tables.

The population is `perfbench/data/sf0.1`, a copy of graft's sf0.1 fixture
set (TPC-H-like star schema plus `events`, `documents` and `embeddings`,
generated once with seed 42). Every benchmark seed samples that same
population at the fixed FRACTION. A row is kept when a 64-bit hash of
(seed, key domain, key) falls under FRACTION, and rows that join share a
key domain, so a kept row keeps its join partners:

  customer by c_custkey, orders by o_custkey, lineitem by its order's
  customer: a sampled customer keeps all its orders and their lines;
  events by user_id: a sampled user keeps the whole event stream;
  documents by doc_id and embeddings by vec_id, one domain, so the
  multimodal join doc_id = vec_id keeps its pairs.

`region`, `nation`, `part` and `supplier` are kept whole: they are the
dimensions that sampled rows reference, and a fraction of them would drop
most of the sampled lines' joins. Values are never changed, so each row's
relations (l_extendedprice to l_quantity and part price, an embedding to
its cluster label) are the fixture's own.

Usage: python3 perfbench/gen.py <out_dir> <seed>
Writes <out_dir>/<table>.parquet and <out_dir>/manifest.json (row count and
content hash per table). The same seed gives byte-identical files.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FRACTION = 0.25
POPULATION = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# table -> (key domain, key column); lineitem follows its orders
SAMPLED = {"customer": ("customer", "c_custkey"), "orders": ("customer", "o_custkey"),
           "events": ("user", "user_id"), "documents": ("doc", "doc_id"),
           "embeddings": ("doc", "vec_id")}


def keep_mask(seed, domain, keys):
    """splitmix64 of (seed, domain, key) below FRACTION of the range."""
    salt = int.from_bytes(hashlib.sha256(f"{seed}/{domain}".encode()).digest()[:8], "little")
    with np.errstate(over="ignore"):
        z = keys.astype(np.int64).view(np.uint64) + np.uint64(salt)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z < np.uint64(int(FRACTION * 2.0 ** 64))


def sample(seed):
    tables = {n: pq.read_table(os.path.join(POPULATION, f"{n}.parquet")) for n in TABLES}
    for name, (domain, col) in SAMPLED.items():
        keys = tables[name].column(col).to_numpy()
        tables[name] = tables[name].filter(pa.array(keep_mask(seed, domain, keys)))
    li = tables["lineitem"]
    tables["lineitem"] = li.filter(pc.is_in(li.column("l_orderkey"),
                                            value_set=tables["orders"].column("o_orderkey")))
    return tables


def generate(out_dir, seed):
    if not os.path.isdir(POPULATION):
        raise SystemExit(f"perfbench: no input population at {POPULATION}")
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "fraction": FRACTION, "population": "perfbench/data/sf0.1",
                "tables": {}}
    for name, tbl in sample(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        manifest["tables"][name] = {"rows": tbl.num_rows, "sha256_16": digest}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
