"""Seeded benchmark inputs, generated from the base tables in ``data/``.

The base tables are the engine's sf0.01 test tables. A seed relabels
them while keeping their structure: the same row counts, keys, key
graphs, numeric values and dates, with different strings and hashes.

- Free text (customer, supplier and part names; document text) goes
  through a seeded letter permutation. It is a bijection on words, so
  string lengths, ``n_chars``, token equality and every shingle, gram
  and Jaccard structure are kept, while every md5/minhash/simhash value
  and every string sort order changes.
- Embeddings get a seeded per-dimension sign flip (a diagonal +-1
  matrix). It is an isometry, and negation is exact in floating point,
  so every dot product and cosine is bit-identical while the vectors
  themselves, and so every LSH hyperplane side, change.
- Categorical values that queries compare with literals (segments,
  priorities, flags, event types, languages) are left as they are.

Two input sets are built per seed, each a directory of parquet tables
that a registered query reads as its ``sf_dir``:

- ``full``: every table relabelled.
- ``nightly``: ``full`` with ``events`` cut to a seeded one-day delta,
  ``DELTA_EVENTS`` consecutive events (the base has about 333 a day).

Sets are cached per seed under ``.perfbench/inputs/`` in the checkout.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
TEXT_COLUMNS = {
    "customer": ("c_name",),
    "supplier": ("s_name",),
    "part": ("p_name",),
    "documents": ("text",),
}
DELTA_EVENTS = 333
SETS = ("full", "nightly")
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _cipher(rng: np.random.Generator) -> dict:
    perm = "".join(rng.permutation(list(_LOWER)))
    table = str.maketrans(_LOWER + _LOWER.upper(), perm + perm.upper())
    return table


def _relabel_text(t: pa.Table, cols: tuple[str, ...], table: dict) -> pa.Table:
    for c in cols:
        i = t.schema.get_field_index(c)
        vals = [None if v is None else v.translate(table) for v in t.column(c).to_pylist()]
        t = t.set_column(i, t.schema.field(i), pa.array(vals, type=t.schema.field(i).type))
    return t


def _flip_embeddings(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    col = t.column("embedding").combine_chunks()
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    dim = int(lengths[0])
    if not (lengths == dim).all() or col.null_count:
        raise ValueError("embeddings must be non-null and of one dimension")
    values = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=values.dtype), size=dim)
    flipped = (values * signs).reshape(-1)
    arr = pa.ListArray.from_arrays(col.offsets, pa.array(flipped, type=col.type.value_type))
    i = t.schema.get_field_index("embedding")
    return t.set_column(i, t.schema.field(i), arr.cast(t.schema.field(i).type))


def _day_delta(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    start = int(rng.integers(0, t.num_rows - DELTA_EVENTS + 1))
    return t.slice(start, DELTA_EVENTS)


def _write(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, compression="snappy")


def _build_full(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 0])
    table = _cipher(rng)
    flip_rng = np.random.default_rng([seed, 1])
    for name in TABLES:
        src = os.path.join(BASE, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if name in TEXT_COLUMNS:
            _write(_relabel_text(pq.read_table(src), TEXT_COLUMNS[name], table), dst)
        elif name == "embeddings":
            _write(_flip_embeddings(pq.read_table(src), flip_rng), dst)
        else:
            shutil.copyfile(src, dst)


def _build_nightly(seed: int, full: str, out: str) -> None:
    for name in TABLES:
        src = os.path.join(full, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if name == "events":
            _write(_day_delta(pq.read_table(src), np.random.default_rng([seed, 2])), dst)
        else:
            shutil.copyfile(src, dst)


def input_dir(cache: str, seed: int, name: str) -> str:
    return os.path.join(cache, "inputs", f"s{seed}", name)


def build(cache: str, seed: int, name: str) -> str:
    """Return the directory of input set ``name`` for ``seed``, building
    it (and the sets it derives from) if it is not cached yet."""
    if name not in SETS:
        raise ValueError(f"unknown input set {name!r}")
    out = input_dir(cache, seed, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if name == "nightly":
        full = build(cache, seed, "full")
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if name == "full":
        _build_full(seed, tmp)
    else:
        _build_nightly(seed, full, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def row_counts(path: str) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows for t in TABLES}
