"""Seeded, cached inputs for the benchmark workloads.

Nothing here is timed. Every input is a pure function of its arguments,
so the same seed always yields byte-identical parquet.

Extraction corpus: documents come from ``corpus.gen_doc`` over a
doc-index window chosen by the seed, media from ``corpus.gen_media`` with
the default profile, and goldens from ``reference_impl.extract_doc``.
Documents are generated in fixed chunks that every window shares, so a
new seed costs one parquet concat, not a fresh generation.

Curation tables: the six tables the curation queries read, with the same
schemas, row-group layout and value distributions as the relational test
data.

Every cache directory name carries ``source_tag()``, a hash of the code
that defines the inputs and goldens, so a change to that code never
meets inputs or goldens the old code made.
"""

from __future__ import annotations

import functools
import hashlib
import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np

CHUNK_DOCS = 500
POOL_CHUNKS = 12  # windows start in [0, POOL_CHUNKS - window chunks]
KEEP_ASSEMBLED = 4  # assembled per-seed input dirs kept on disk


def seed_rng(seed: int, *parts: object) -> np.random.Generator:
    from text_extraction_spark.corpus import stable_hash

    return np.random.Generator(np.random.PCG64(stable_hash("perfbench", seed, *parts)))


@functools.lru_cache(maxsize=None)
def source_tag() -> str:
    """Hash of the generator, the corpus module and the reference
    implementation with the engine it calls."""
    here = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(os.path.dirname(here), "text_extraction_spark")
    files = [os.path.join(here, "inputs.py"), os.path.join(pkg, "corpus.py"),
             os.path.join(pkg, "reference_impl.py")]
    eng = os.path.join(pkg, "engine")
    files += sorted(os.path.join(eng, f) for f in os.listdir(eng) if f.endswith(".py"))
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, here).encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def _complete(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_COMPLETE"))


def _publish(tmp: str, d: str) -> None:
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("ok")
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)


def _prune(root: str, prefix: str, keep: int) -> None:
    dirs = [
        os.path.join(root, n) for n in os.listdir(root) if n.startswith(prefix)
    ]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ extraction


def media_kind(m) -> str:
    """The generator's own kind draw for one media item (the same rng
    streams ``corpus.gen_media`` consumes, in the same order)."""
    from text_extraction_spark import corpus

    if m.fmt == "pdf":
        return "pdf"
    if corpus._rng("embed", m.media_ref).random() < corpus.EMBED_FRACTION:
        return "embedded"
    return "skewed" if corpus.is_skewed_media(m.media_ref) else "plain"


def _gen_chunk(args: tuple[int, str]) -> None:
    """Generate doc chunk k (doc indices [k*CHUNK_DOCS, (k+1)*CHUNK_DOCS))
    with its media, goldens and media kind labels."""
    k, d = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_extraction_spark import corpus
    from text_extraction_spark.reference_impl import extract_doc

    docs = [corpus.gen_doc(i) for i in range(k * CHUNK_DOCS, (k + 1) * CHUNK_DOCS)]
    media = [
        corpus.gen_media(s["media_ref"]) for doc in docs for s in doc.spans
        if s["kind"] == "media"
    ]
    lookup = {m.media_ref: m for m in media}
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    out_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("order", pa.int32())])
    ids = pa.array([doc.doc_id for doc in docs], pa.string())
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.table({"doc_id": ids, "spans": pa.array([doc.spans for doc in docs], pa.list_(span_t))}),
        os.path.join(tmp, "documents.parquet"),
    )
    pq.write_table(
        pa.table({
            "media_ref": pa.array([m.media_ref for m in media], pa.string()),
            "width": pa.array([m.width for m in media], pa.int32()),
            "height": pa.array([m.height for m in media], pa.int32()),
            "fmt": pa.array([m.fmt for m in media], pa.string()),
            "data": pa.array([m.data for m in media], pa.binary()),
            "kind": pa.array([media_kind(m) for m in media], pa.string()),
        }),
        os.path.join(tmp, "media.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": ids, "spans": pa.array(
            [extract_doc(doc.spans, lookup) for doc in docs], pa.list_(out_t))}),
        os.path.join(tmp, "golden.parquet"),
    )
    _publish(tmp, d)


def _ensure_chunks(root: str, chunk_ids: list[int]) -> list[str]:
    pool = os.path.join(root, f"chunks-{source_tag()}")
    dirs = [os.path.join(pool, f"c{k:04d}") for k in chunk_ids]
    todo = [(k, d) for k, d in zip(chunk_ids, dirs) if not _complete(d)]
    if todo:
        os.makedirs(pool, exist_ok=True)
        os.utime(pool)  # newest, so the prune keeps it
        _prune(root, "chunks-", 1)
        workers = min(4, len(todo), os.cpu_count() or 1)
        if workers <= 1:
            for a in todo:
                _gen_chunk(a)
        else:
            ctx = multiprocessing.get_context("spawn")
            with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as ex:
                list(ex.map(_gen_chunk, todo))
    return dirs


def extract_corpus_dir(root: str, seed: int, n_docs: int) -> str:
    """documents/media/golden parquet for ``n_docs`` documents starting at
    a seed-chosen chunk, written with ``corpus.write_corpus_parquet``'s
    schema and row-group sizes. ``media.parquet`` holds exactly the media
    the documents reference; its ``kind`` labels go to ``kinds.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_chunks = -(-n_docs // CHUNK_DOCS)
    if n_chunks > POOL_CHUNKS:
        raise ValueError(f"{n_docs} docs exceed the {POOL_CHUNKS}-chunk pool")
    start = int(seed_rng(seed, "window").integers(0, POOL_CHUNKS - n_chunks + 1))
    d = os.path.join(root, f"extract-mixed-n{n_docs}-s{seed}-{source_tag()}")
    if _complete(d):
        os.utime(d)
        return d
    chunks = _ensure_chunks(root, list(range(start, start + n_chunks)))

    def cat(name: str) -> pa.Table:
        t = pa.concat_tables(pq.read_table(os.path.join(c, name)) for c in chunks)
        return t.slice(0, n_docs) if name != "media.parquet" else t

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = cat("documents.parquet")
    media = cat("media.parquet")
    if n_docs % CHUNK_DOCS:
        refs = {s["media_ref"] for spans in docs.column("spans").to_pylist()
                for s in spans if s["kind"] == "media"}
        media = media.filter(pa.array([r in refs for r in media.column("media_ref").to_pylist()]))
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"), row_group_size=2000)
    pq.write_table(media.drop(["kind"]), os.path.join(tmp, "media.parquet"), row_group_size=256)
    pq.write_table(media.select(["media_ref", "kind"]), os.path.join(tmp, "kinds.parquet"))
    pq.write_table(cat("golden.parquet"), os.path.join(tmp, "golden.parquet"))
    with open(os.path.join(tmp, "input.json"), "w") as f:
        json.dump({"seed": seed, "n_docs": docs.num_rows, "n_media": media.num_rows,
                   "first_doc": start * CHUNK_DOCS}, f)
    _publish(tmp, d)
    _prune(root, "extract-mixed-", KEEP_ASSEMBLED)
    return d


# -------------------------------------------------------------- curation

# Curation tables follow the relational test data at sf0.1 (seed 42,
# measured from its parquet): every column is drawn uniformly unless
# noted, and the row counts below are its sf0.1 counts.
#   documents  5000 rows; text = 10..100 words drawn uniformly from
#              WORDS; 5 % of the rows are replaced by another row's
#              text + " dup" (near-duplicates at 3-shingle Jaccard
#              0.9..1.0); lang 40 % en, 15 % each zh fr es de;
#              source = src{i % 20}
#   embeddings 2000 rows of isotropic unit vectors in 64 dimensions
#              (noise-like: nearest-neighbour cosine ~0.41), label 0..9
#              independent of the vector
#   events     100000 rows over 30 days, ts sorted, 1500 users, value
#              exponential with mean 50
#   customer / orders / lineitem: 15000 / 150000 / 600000 rows, keys
#              uniform over their referenced table, dates uniform over
#              1995-01-01 + 2405 days (orders) and 1995-01-02 + 2498
#              days (lineitem)
WORDS = (
    "spark table vector stream window merge column value data small join "
    "filter big group hash sort scan query order row key part batch line "
    "agg slow fast customer a the"
).split()
DUP_FRAC = 0.05
EMB_DIM = 64
CURATE_DATA_SEED = 0


def _ts_us(base: str, n: int, span_s: float, rng: np.random.Generator) -> np.ndarray:
    t0 = np.datetime64(base, "us").astype(np.int64)
    return t0 + (rng.random(n) * span_s * 1e6).astype(np.int64)


def _days_us(base: str, n_days: int, n: int, rng: np.random.Generator) -> np.ndarray:
    day_us = 86400 * 10**6
    return np.datetime64(base, "us").astype(np.int64) + rng.integers(0, n_days, n) * day_us


def _uniform_cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def curate_dir(root: str, scale: float) -> str:
    """documents, embeddings, events, customer, orders and lineitem
    parquet for the curation queries, distributed like the relational
    test data (see the table above); ``scale`` 1.0 = its sf0.1 row
    counts. The curate workload keeps one data set for every run seed
    (the run seed orders the queries): several queries train on the
    data (IVF, PQ, LSH buckets), so their work would otherwise vary with
    the seed by more than the host noise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seed = CURATE_DATA_SEED
    d = os.path.join(root, f"curate-x{scale:g}-s{seed}-{source_tag()}")
    if _complete(d):
        os.utime(d)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def n(base: int) -> int:
        return max(1, int(base * scale))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    def pick(values: list[str], k: int, rng: np.random.Generator, p=None) -> pa.Array:
        return pa.array(np.array(values)[rng.choice(len(values), k, p=p)].tolist(), pa.string())

    rng = seed_rng(seed, "documents")
    nd = n(5000)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(k)))
             for k in rng.integers(10, 101, nd)]
    for i in rng.choice(nd, int(nd * DUP_FRAC), replace=False):
        j = int(rng.integers(0, nd - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pick(["en", "zh", "fr", "es", "de"], nd, rng, [0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    rng = seed_rng(seed, "embeddings")
    ne = n(2000)
    emb = rng.normal(0.0, 1.0, (ne, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
    })

    rng = seed_rng(seed, "events")
    nv = n(100000)
    write("events", {
        "event_id": pa.array(np.arange(nv, dtype=np.int64)),
        "ts": pa.array(np.sort(_ts_us("2024-01-01", nv, 30 * 86400, rng)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n(1500), nv).astype(np.int64)),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], nv, rng),
        "value": pa.array(np.round(rng.exponential(50.0, nv), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, nv)], pa.string()),
    })

    rng = seed_rng(seed, "customer")
    nc = n(15000)
    write("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_uniform_cents(-999.99, 9999.99, nc, rng)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc, rng),
    })

    rng = seed_rng(seed, "orders")
    no = n(150000)
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pick(["O", "F", "P"], no, rng),
        "o_totalprice": pa.array(_uniform_cents(1000.0, 500000.0, no, rng)),
        "o_orderdate": pa.array(_days_us("1995-01-01", 2405, no, rng), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no, rng),
    })

    rng = seed_rng(seed, "lineitem")
    nl = n(600000)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n(20000), nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n(1000), nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_uniform_cents(900.0, 105000.0, nl, rng)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], nl, rng),
        "l_linestatus": pick(["O", "F"], nl, rng),
        "l_shipdate": pa.array(_days_us("1995-01-02", 2498, nl, rng), pa.timestamp("us")),
    })
    _publish(tmp, d)
    _prune(root, "curate-", KEEP_ASSEMBLED)
    return d
