"""sf1.0 scale-point generator (round 5, VERDICT r4 #4).

Every 100×-readiness claim so far extrapolated from sf0.1; one measured
decade turns the extrapolation into an interpolation. The driver's
testdata stops at sf0.1 and is read-only, so sf1 is DERIVED from it
deterministically: each fact table is replicated `copies`× with all
primary/foreign keys shifted by copy_index × (max_key + 1) — foreign
keys shift by their REFERENCED table's offset, so every copy is a
self-consistent universe and all join/agg selectivities scale exactly
linearly. The fixed dimension tables (region, nation) are NOT
replicated, matching how a real corpus grows (facts grow, dimensions
don't).

Two tables get more than a key shift, so data ops scale like a real
corpus rather than a corpus with 10 exact copies of every row:

* documents.text — every word in copy k>0 gets a `c{k}` suffix: vocab
  grows 10×, Zipf shape per copy is preserved, and cross-copy word
  Jaccard is 0, so dedup/LSH ops see a 10× corpus, not 10× duplicate
  groups (which would distort their candidate-pair counts superlinearly
  and make the sf0.1→sf1 comparison meaningless).
* embeddings.embedding — copy k>0 adds seeded N(0, 0.02) noise: cluster
  structure survives, exact duplication doesn't, for the same reason.

Output is cached under conf.cache_root() (conf.cached_dir, like every
generated fixture); generation is pure pyarrow/numpy — no
Spark session needed.
"""

from __future__ import annotations

import os

import numpy as np

_SF1_VERSION = "v1"
_BASE = "/root/testdata/sf0.1"

# table -> columns to shift, expressed as (column, offset_table, offset_key)
# where offset_table/offset_key name the PRIMARY key whose (max+1) is the
# per-copy stride. Dimension keys (nationkey/regionkey) never shift.
_SHIFTS: dict[str, list[tuple[str, str, str]]] = {
    "customer": [("c_custkey", "customer", "c_custkey")],
    "supplier": [("s_suppkey", "supplier", "s_suppkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "orders": [
        ("o_orderkey", "orders", "o_orderkey"),
        ("o_custkey", "customer", "c_custkey"),
    ],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "events": [
        ("event_id", "events", "event_id"),
        ("user_id", "events", "user_id"),
    ],
    "documents": [("doc_id", "documents", "doc_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
}
_DIMENSIONS = ("region", "nation")


def _offsets(base: str) -> dict[tuple[str, str], int]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    need = {(ot, ok) for cols in _SHIFTS.values() for (_c, ot, ok) in cols}
    out = {}
    for tbl, key in need:
        col = pq.read_table(os.path.join(base, f"{tbl}.parquet"), columns=[key])
        out[(tbl, key)] = int(pc.max(col.column(key)).as_py()) + 1
    return out


def _suffix_words(texts, k: int):
    """Append c{k} to every space-separated word, vectorized."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tag = f"c{k}"
    # "w1 w2" -> replace ' ' with 'c{k} ' -> "w1c{k} w2", then append tag
    out = pc.replace_substring(texts, pattern=" ", replacement=f"{tag} ")
    return pc.binary_join_element_wise(out, pa.array([tag] * len(texts)), "")


def _perturb_embeddings(col, k: int):
    import pyarrow as pa

    arrs = col.to_pylist()
    rng = np.random.Generator(np.random.PCG64(1000 + k))
    out = []
    for v in arrs:
        a = np.asarray(v, dtype=np.float32)
        a = a + rng.normal(0.0, 0.02, a.shape).astype(np.float32)
        out.append(a.tolist())
    return pa.array(out, type=pa.list_(pa.float32()))


def sf1_dir(base: str = _BASE, copies: int = 10) -> str:
    """Build (once, cached) and return the sf1 directory."""
    from .conf import cached_dir

    base_tag = os.path.basename(base.rstrip("/"))
    return cached_dir(
        f"testdata_sf1_{_SF1_VERSION}_{base_tag}_{copies}x",
        lambda tmp: _build_sf1(base, copies, tmp),
    )


def _build_sf1(base: str, copies: int, tmp: str) -> None:
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    offs = _offsets(base)
    for tbl in _DIMENSIONS:
        shutil.copy(
            os.path.join(base, f"{tbl}.parquet"), os.path.join(tmp, f"{tbl}.parquet")
        )
    for tbl, shifts in _SHIFTS.items():
        src = pq.read_table(os.path.join(base, f"{tbl}.parquet"))
        src = src.replace_schema_metadata(None)
        pieces = []
        for k in range(copies):
            t = src
            for colname, ot, ok in shifts:
                i = t.schema.get_field_index(colname)
                col = t.column(colname)
                shifted = pa.compute.add(col, k * offs[(ot, ok)]).cast(
                    t.schema.field(colname).type
                )
                t = t.set_column(i, t.schema.field(colname), shifted)
            if k > 0 and tbl == "documents":
                i = t.schema.get_field_index("text")
                t = t.set_column(
                    i, t.schema.field("text"),
                    _suffix_words(t.column("text").combine_chunks(), k),
                )
            if k > 0 and tbl == "embeddings":
                i = t.schema.get_field_index("embedding")
                t = t.set_column(
                    i,
                    pa.field("embedding", pa.list_(pa.float32())),
                    _perturb_embeddings(t.column("embedding"), k),
                )
            pieces.append(t)
        pq.write_table(
            pa.concat_tables(pieces), os.path.join(tmp, f"{tbl}.parquet"),
            row_group_size=1 << 20,
        )
