"""Seeded inputs: a content-disjoint variant of the base tables per seed.

Seed 0 is the base data unchanged. Any other seed maps to a variant
j in 1..999 and, in the style of `graft.ScaleProbe.generate`:
- shifts every surrogate key by j * 100000 (orders, customers, parts,
  suppliers, documents, vectors, event ids and users), the same amount
  in every table that holds the key, so joins keep their matches; the
  shift is a multiple of 2^5 * 5^5, so small modulo buckets of a key
  keep their members;
- appends a fixed-width per-seed suffix to every word of every document
  (`n_chars` grows by the suffix length per word), so no shingle or
  token is shared with another seed;
- rotates every embedding by j positions.
Row counts, value distributions and the tables' parquet encodings stay
as in the base, so every seed asks the program for the same work.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SHIFT = 100000
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def variant(seed: int) -> int:
    return 0 if seed == 0 else 1 + (abs(seed) - 1) % 999


def suffix(j: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    return "q" + digits[j // 36] + digits[j % 36]


def _rotate(col: pa.ChunkedArray, j: int) -> pa.Array:
    arr = col.combine_chunks()
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False).copy()
    for a, b in zip(offsets[:-1], offsets[1:]):
        if b - a > 1:
            values[a:b] = np.roll(values[a:b], -(j % (b - a)))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(values, arr.type.value_type),
                                    mask=arr.is_null())


def _transform(name: str, t: pa.Table, j: int) -> pa.Table:
    for key in KEYS.get(name, []):
        i = t.schema.get_field_index(key)
        t = t.set_column(i, t.schema.field(i),
                         pc.add(t[key], pa.scalar(j * SHIFT, t.schema.field(i).type)))
    if name == "documents":
        sfx = suffix(j)
        words = pc.count_substring_regex(t["text"], "[^ ]+")
        text = pc.replace_substring_regex(t["text"], "([^ ]+)", "\\1" + sfx)
        n_chars = pc.add(t["n_chars"], pc.multiply(pc.cast(words, pa.int64()), len(sfx)))
        for col, val in (("text", text), ("n_chars", n_chars)):
            i = t.schema.get_field_index(col)
            t = t.set_column(i, t.schema.field(i), pc.cast(val, t.schema.field(i).type))
    if name == "embeddings":
        i = t.schema.get_field_index("embedding")
        t = t.set_column(i, t.schema.field(i), _rotate(t["embedding"], j))
    return t


def ensure(base: str, root: str, seed: int) -> str:
    """The seed's input directory under `root`, generated on first use."""
    j = variant(seed)
    out = os.path.join(root, f"v{j}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(tmp, f"{name}.parquet")
        if j == 0:
            shutil.copyfile(src, dst)
        else:
            pq.write_table(_transform(name, pq.read_table(src), j), dst)
    open(os.path.join(tmp, "done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
