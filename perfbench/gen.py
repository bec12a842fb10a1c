"""Seeded input generator for the benchmark.

Every table is derived from the small base fixture in `fixture/` (the
sf0.001 TPC-H-ish star schema plus events, documents and embeddings):

* key remap: each key space (orders, customers, parts, ...) gets a seeded
  permutation of its key set, applied to the primary key and to every
  foreign key that references it, so joins keep their fan-outs while a new
  seed gives a different hash-derived graph and differently numbered
  near-duplicate clusters of the same shape;
* replication: replica `i` of `scale` adds `i * (max_key + 1)` to every key
  and every foreign key, so each replica is a disjoint copy of the base
  universe (region and nation are shared leaves). Documents of replica
  `i > 0` get a ` repl<i>` suffix, which makes them near-duplicates of
  their replica-0 original instead of byte copies.

Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

# key space -> (table, column) pairs holding its keys; the first pair is the
# primary key, the rest are foreign keys into it
KEY_SPACES = {
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "document": [("documents", "doc_id")],
    "vector": [("embeddings", "vec_id")],
}
SHARED = ("region", "nation")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _remap(values, keys, perm):
    """Map each value of `values` (all members of sorted `keys`) to the
    key at the permuted position."""
    return keys[perm[np.searchsorted(keys, values)]]


def generate(out_dir, seed, scale):
    """Writes every table to `<out_dir>/<table>.parquet`; returns per-table
    rows and bytes."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    base = {t: pq.read_table(os.path.join(FIXTURE, f"{t}.parquet")) for t in TABLES}
    rng = np.random.default_rng(seed)
    # table -> column -> (sorted key set, permutation, replica shift)
    plan = {}
    for space, refs in KEY_SPACES.items():
        pk_table, pk_col = refs[0]
        keys = np.unique(base[pk_table][pk_col].to_numpy())
        perm = rng.permutation(len(keys))
        shift = int(keys.max()) + 1
        for table, column in refs:
            plan.setdefault(table, {})[column] = (keys, perm, shift)

    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for t in TABLES:
        src = base[t]
        if t in SHARED:
            out = src
        else:
            replicas = []
            for i in range(scale):
                cols = {}
                for name in src.column_names:
                    col = src[name]
                    if name in plan.get(t, {}):
                        keys, perm, shift = plan[t][name]
                        v = _remap(col.to_numpy(), keys, perm) + i * shift
                        col = pa.array(v, type=col.type)
                    cols[name] = col
                if t == "documents" and i > 0:
                    text = pc.binary_join_element_wise(
                        cols["text"], pa.scalar(f" repl{i}"), "")
                    cols["text"] = text
                    cols["n_chars"] = pc.cast(pc.utf8_length(text), pa.int64())
                replicas.append(pa.table(cols, schema=src.schema))
            out = pa.concat_tables(replicas)
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(out, path)
        manifest[t] = {"rows": out.num_rows, "bytes": os.path.getsize(path)}
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))))
