"""conf.cached_dir — the one publishing protocol for generated cache
directories — plus the pins that keep every fixture builder on it:
each planted store's cached parquet equals a fresh build of its table,
and no other module of the package or tools/ writes the marker, makes a
build dir under the cache root, or renames one into place."""

import ast
import glob
import os
import threading

import pyarrow.parquet as pq
import pytest

from text_extraction_spark import conf, dataops

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(conf, "cache_root", lambda: str(tmp_path))
    return tmp_path


def _write(tmp, payload="x"):
    with open(os.path.join(tmp, "data.txt"), "w") as fh:
        fh.write(payload)


def _leftover_builds(root, name):
    return glob.glob(os.path.join(str(root), f".{name}_build_*"))


def test_second_call_does_not_build(root):
    calls = []

    def build(tmp):
        calls.append(tmp)
        _write(tmp)

    d = conf.cached_dir("s_v1", build)
    assert d == os.path.join(str(root), "s_v1")
    assert os.path.exists(os.path.join(d, "_COMPLETE"))
    assert open(os.path.join(d, "data.txt")).read() == "x"
    assert conf.cached_dir("s_v1", build) == d
    assert len(calls) == 1
    assert not _leftover_builds(root, "s_v1")


def test_failed_build_leaves_nothing(root):
    def build(tmp):
        _write(tmp)
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        conf.cached_dir("f_v1", build)
    assert not os.path.exists(os.path.join(str(root), "f_v1"))
    assert not _leftover_builds(root, "f_v1")


def test_stale_markerless_dir_is_replaced(root):
    stale = os.path.join(str(root), "st_v1")
    os.makedirs(stale)
    _write(stale, "half-written")
    d = conf.cached_dir("st_v1", lambda tmp: _write(tmp, "fresh"))
    assert d == stale
    assert open(os.path.join(d, "data.txt")).read() == "fresh"
    assert os.path.exists(os.path.join(d, "_COMPLETE"))
    assert not _leftover_builds(root, "st_v1")


def test_racing_builders_share_one_complete_dir(root):
    barrier = threading.Barrier(2, timeout=30)
    results, errors = [], []

    def build(tmp):
        _write(tmp, os.path.basename(tmp))
        barrier.wait()  # both builds are in flight before either renames

    def run():
        try:
            results.append(conf.cached_dir("race_v1", build))
        except Exception as e:  # pragma: no cover — reported below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
    assert not errors, errors
    d = os.path.join(str(root), "race_v1")
    assert results == [d, d]
    assert sorted(os.listdir(d)) == ["_COMPLETE", "data.txt"]
    assert not _leftover_builds(root, "race_v1")


_STORES = [
    ("av_store_dir", "_av_table", "av.parquet"),
    ("neardup_store_dir", "_neardup_table", "embeddings.parquet"),
    ("bigcluster_store_dir", "_bigcluster_table", "embeddings.parquet"),
    ("ivf_store_dir", "_ivf_table", "embeddings.parquet"),
    ("dedup_corpus_store_dir", "_dedup_corpus_table", "documents.parquet"),
    ("simhash_store_dir", "_simhash_table", "documents.parquet"),
    ("pq_store_dir", "_pq_table", "embeddings.parquet"),
    ("sq8_store_dir", "_sq8_table", "embeddings.parquet"),
]


@pytest.mark.parametrize("store_dir,table,fname", _STORES, ids=[s[0] for s in _STORES])
def test_planted_store_rebuild_is_deterministic(store_dir, table, fname):
    """The cached store (whichever process built it) equals a fresh
    in-process build of its table, value for value."""
    cached = pq.read_table(os.path.join(getattr(dataops, store_dir)(), fname))
    fresh = getattr(dataops, table)()
    assert cached.equals(fresh)


def _sources():
    for pat in ("text_extraction_spark/**/*.py", "tools/*.py"):
        yield from glob.glob(os.path.join(_ROOT, pat), recursive=True)


def test_cache_publishing_lives_only_in_conf():
    """Only conf.py knows the marker, makes build dirs inside a given
    directory, or renames a directory into place; scratch mkdtemp calls
    without `dir=` (streaming replay / output dirs) are not publishing."""
    offenders = []
    for path in _sources():
        rel = os.path.relpath(path, _ROOT)
        if rel == os.path.join("text_extraction_spark", "conf.py"):
            continue
        src = open(path).read()
        if "_COMPLETE" in src:
            offenders.append(f"{rel}: _COMPLETE")
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            attr = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if attr == "mkdtemp" and any(kw.arg == "dir" for kw in node.keywords):
                offenders.append(f"{rel}:{node.lineno}: mkdtemp(dir=...)")
            if attr == "rename" and isinstance(fn, ast.Attribute) and (
                getattr(fn.value, "id", "") == "os"
            ):
                offenders.append(f"{rel}:{node.lineno}: os.rename")
    assert not offenders, offenders
