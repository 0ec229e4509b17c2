"""curate: one pass = the twelve curation queries in a seed-chosen order,
each written to the noop sink. Six queries have a DuckDB oracle; the six
approximate ones are checked against exact answers computed here on the
same inputs, at the floors the repository's tests pin on the relational
test data."""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

QUERIES = (
    "d06_ann_lsh_bucketed",
    "d02_dedup_minhash_lsh",
    "d15_ann_ivf",
    "d72_ann_sq8",
    "d46_ann_pq",
    "d45_decontaminate_bloom",
    "d44_substring_dedup",
    "d69_inverted_index",
    "d39_boilerplate_removal",
    "q04_shuffle_join_3way",
    "q14_window_rank",
    "q30_session_window",
)
SCALE = 0.5  # table rows relative to the relational test data at sf0.1
# ANN queries: recall@3 against exact cosine top-3 over the queries
# vec_id < RECALL_QUERIES (d14's evaluation set)
RECALL_QUERIES = 50
RECALL_FLOORS = {
    "d06_ann_lsh_bucketed": 0.75,
    "d15_ann_ivf": 0.70,
    "d46_ann_pq": 0.70,
    "d72_ann_sq8": 0.90,
}
# d02: share of the exact 3-shingle Jaccard >= DEDUP_JACCARD pairs that
# must be candidates
DEDUP_JACCARD = 0.6
DEDUP_RECALL = 0.95
# d45: Bloom flags must cover d23's exact flags; extra hits at most this
# share of the probed 8-grams
BLOOM_MAX_FP = 0.01


def registry() -> tuple[dict, dict]:
    from text_extraction_spark import dataops, relational

    return {**dataops.QUERIES, **relational.QUERIES}, {**dataops.ORACLES, **relational.ORACLES}


def pass_order(seed: int) -> list[str]:
    from inputs import seed_rng

    return [QUERIES[i] for i in seed_rng(seed, "order").permutation(len(QUERIES))]


def run_pass(spark, tracer, data_dir: str, order: list[str]) -> tuple[float, int]:
    """One timed pass → (pass wall, queries that raised). Per-query walls
    are the ``query`` spans."""
    import traceback

    fns, _ = registry()
    raised = 0
    with tracer.span("pass"):
        t_pass = time.monotonic()
        for name in order:
            with tracer.span("query", query=name):
                try:
                    fns[name](spark, data_dir).write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 — counted as a failed operation
                    traceback.print_exc()
                    raised += 1
        wall = time.monotonic() - t_pass
    return wall, raised


def exact_top3(data_dir: str) -> set[tuple[int, int]]:
    """(q_id, vec_id) of the exact cosine top-3 of every query vector
    vec_id < RECALL_QUERIES, ties broken by vec_id."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist())
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    out = set()
    for qi in np.flatnonzero(ids < RECALL_QUERIES):
        cos = X @ X[qi]
        cos[qi] = -np.inf
        top = np.lexsort((ids, -cos))[:3]
        out.update((int(ids[qi]), int(ids[j])) for j in top)
    return out


def neardup_pairs(data_dir: str, threshold: float) -> set[tuple[int, int]]:
    """(doc_a, doc_b), doc_a < doc_b, of every document pair whose word
    3-shingle sets have Jaccard >= ``threshold``, exactly."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    sh = {}
    for d, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        w = text.split(" ")
        sh[d] = {" ".join(w[k:k + 3]) for k in range(max(len(w) - 3, 0) + 1)}
    postings: dict[str, list[int]] = {}
    for d, grams in sh.items():
        for g in grams:
            postings.setdefault(g, []).append(d)
    shared: Counter = Counter()
    for ds in postings.values():
        ds.sort()
        shared.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1:])
    return {
        p for p, c in shared.items()
        if c / (len(sh[p[0]]) + len(sh[p[1]]) - c) >= threshold
    }


def _recall(got: set, truth: set) -> float:
    return len(got & truth) / len(truth) if truth else 0.0


def check_queries(spark, tracer, data_dir: str, order: list[str]) -> dict[str, str]:
    """Output check of every query → {query: problem} (empty = correct).
    Oracle queries must match DuckDB (rows, schema, values). The ANN
    queries must reach their recall floor against exact top-3; d02's
    candidates must cover the exact near-duplicate pairs; d45's Bloom
    flags must cover d23's exact flags (DuckDB oracle) with few extras."""
    from text_extraction_spark.oracle_check import compare, duckdb_con

    fns, oracles = registry()
    con = duckdb_con(data_dir)
    top3 = exact_top3(data_dir)
    problems: dict[str, str] = {}
    for name in order:
        with tracer.span("check", query=name):
            try:
                df = fns[name](spark, data_dir)
                if name in oracles:
                    r = compare(df, con, oracles[name])
                    if not (r["schema_match"] and r["count_match"] and r["values_match"]):
                        problems[name] = f"oracle mismatch: {r}"
                    continue
                rows = df.collect()
                if name in RECALL_FLOORS:
                    got = {(r["q_id"], r["vec_id"]) for r in rows}
                    rec = _recall(got, top3)
                    if rec < RECALL_FLOORS[name]:
                        problems[name] = f"recall@3 {rec:.3f} < {RECALL_FLOORS[name]}"
                elif name == "d02_dedup_minhash_lsh":
                    truth = neardup_pairs(data_dir, DEDUP_JACCARD)
                    got = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])) for r in rows}
                    rec = _recall(got, truth)
                    if rec < DEDUP_RECALL:
                        problems[name] = (f"candidate recall {rec:.3f} < {DEDUP_RECALL} "
                                          f"of {len(truth)} exact pairs")
                elif name == "d45_decontaminate_bloom":
                    problems.update(_check_bloom(rows, con, oracles["d23_decontaminate"]))
            except Exception as e:  # noqa: BLE001 — reported as a failed check
                problems[name] = f"raised {type(e).__name__}: {e}"
    con.close()
    return problems


def _check_bloom(rows, con, d23_sql: str) -> dict[str, str]:
    exact = dict(con.execute(d23_sql).fetchall())
    bloom = {r["doc_id"]: r["n_hits"] for r in rows}
    missed = [d for d, n in exact.items() if bloom.get(d, 0) < n]
    (probed,) = con.execute(
        "SELECT sum(greatest(len(string_split(text, ' ')) - 7, 0)) FROM documents "
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'"
    ).fetchone()
    extra = sum(bloom.values()) - sum(exact.values())
    name = "d45_decontaminate_bloom"
    if not exact:
        return {name: "d23 flags no document, nothing to cover"}
    if missed:
        return {name: f"{len(missed)} exact d23 flags missed"}
    if extra > BLOOM_MAX_FP * probed:
        return {name: f"{extra} extra hits > {BLOOM_MAX_FP} of {probed} probed 8-grams"}
    return {}


def query_layer(log, tracer, passes: list[int]) -> dict:
    """Per-query walls (median over the traced passes) and event-log totals
    of the jobs each query submitted; plus the share of each pass wall no
    SQL execution covers."""
    from tracing import union_s

    per: dict[str, dict[str, list[float]]] = {}
    unattributed = []
    for pid in passes:
        p = tracer.spans[pid]
        for sp in tracer.spans:
            if sp["parent"] != pid:
                continue
            st = log.stage_stats(log.stages_in_window(sp["start"], sp["end"]))
            d = per.setdefault(sp["query"], {})
            for k, v in (("s", sp["end"] - sp["start"]), ("shuffle_write_mb", st["shuffle_write_mb"]),
                         ("executor_run_s", st["executor_run_s"]),
                         ("task_max_over_p50", st["task_max_over_p50"])):
                d.setdefault(k, []).append(v)
        covered = union_s([(x["start"], x["end"]) for x in log.execs_in_window(p["start"], p["end"])])
        unattributed.append(1.0 - covered / (p["end"] - p["start"]))
    out = {f"query.{q}.{k}": statistics.median(v) for q, d in per.items() for k, v in d.items()}
    out["trace.unattributed_frac"] = statistics.median(unattributed)
    return out
