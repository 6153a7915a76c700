"""fsio: driver-side bookkeeping I/O over pyarrow.fs (ADVICE r4 "low"
item, upgraded from documented-limitation to supported). A ``file://``
index root exercises the URI branch of every fsio primitive end-to-end
— the same code path an ``hdfs://`` / ``s3a://`` root takes, with the
local filesystem standing in for the remote one — while plain paths
stay on the ``os`` fast path (byte-identical pre-fsio behavior,
enforced by the rest of the suite)."""

import json
import os
import shutil
import tempfile

import pyarrow as pa
import pytest

from nyu_search_engine_spark.plans import build_index as bi
from nyu_search_engine_spark.sources import fsio, index_io


# --- primitives over the URI branch --------------------------------------


def test_is_uri():
    assert fsio.is_uri("file:///tmp/x")
    assert fsio.is_uri("hdfs://nn:8020/idx")
    assert fsio.is_uri("s3a://bucket/idx")
    assert not fsio.is_uri("/tmp/x")
    assert not fsio.is_uri("relative/path")


def test_primitives_roundtrip_file_uri():
    root = tempfile.mkdtemp(prefix="fsio_")
    try:
        uroot = "file://" + root
        sub = uroot + "/a/b"
        fsio.makedirs(sub)
        assert fsio.isdir(sub) and fsio.exists(sub)
        assert os.path.isdir(os.path.join(root, "a", "b"))

        fsio.write_text(sub + "/conf.json", json.dumps({"k": 1}))
        assert json.loads(fsio.read_text(sub + "/conf.json")) == {"k": 1}

        tbl = pa.table({"x": pa.array([1, 2], pa.int64())})
        fsio.write_parquet(tbl, sub + "/t.parquet")
        assert fsio.read_parquet(sub + "/t.parquet").equals(tbl)

        assert sorted(fsio.listdir(sub)) == ["conf.json", "t.parquet"]
        fsio.remove_file(sub + "/conf.json")
        assert not fsio.exists(sub + "/conf.json")
        with pytest.raises(IsADirectoryError):
            fsio.remove_file(uroot + "/a")

        fsio.rmtree(uroot + "/a")
        assert not fsio.exists(uroot + "/a")
        fsio.rmtree(uroot + "/a")  # missing-ok, like shutil ignore_errors
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- the index build's bookkeeping over a file:// root --------------------


def _fingerprint(spark, root):
    df = index_io.read_postings(spark, root)
    return sorted(
        (
            r["shard"], r["term"], r["df"], r["cf"],
            bytes(r["doc_ids_vb"]).hex(), bytes(r["tfs_vb"]).hex(),
            bytes(r["doclens_vb"]).hex(),
        )
        for r in df.collect()
    )


def test_build_and_search_over_file_uri_root(spark, corpus, index_root):
    """Full build with a URI index root: conf/manifest/stats bookkeeping
    all route through the pyarrow.fs branch; the result is byte-identical
    to the plain-path session index built with the same parameters."""
    local = tempfile.mkdtemp(prefix="fsio_idx_")
    try:
        uroot = "file://" + local
        m = bi.build_index(spark, corpus, uroot, shard_size=80, n_groups=2)
        assert m["n_docs"] == corpus.count()
        # bookkeeping artifacts landed under the URI root
        assert os.path.exists(os.path.join(local, "build_conf.json"))
        assert os.path.exists(os.path.join(local, "index_meta.json"))
        assert _fingerprint(spark, uroot) == _fingerprint(spark, index_root)

        # rank identity through the searcher on the URI root
        from nyu_search_engine_spark.plans.search import Query
        from nyu_search_engine_spark.plans.search_index import IndexSearcher

        s_uri = IndexSearcher(spark, uroot)
        s_loc = IndexSearcher(spark, index_root)
        q = Query(("hotterm0", "rareterm07"), "OR")
        got = [(r["rank"], r["doc_id"], r["score"])
               for r in s_uri.search(q, "pruned", decorate=False).collect()]
        want = [(r["rank"], r["doc_id"], r["score"])
                for r in s_loc.search(q, "pruned", decorate=False).collect()]
        assert got == want and got
        # the decorated answer reads the docs table through pyarrow.fs
        dec = [tuple(r) for r in s_uri.search(q, "pruned").collect()]
        assert dec == [tuple(r) for r in s_loc.search(q, "pruned").collect()]
        assert [r[:3] for r in dec] == got and all(r[3] for r in dec)
    finally:
        shutil.rmtree(local, ignore_errors=True)


def test_resume_over_file_uri_root(spark, corpus, monkeypatch):
    """Crash-resume bookkeeping (conf read, manifest read/append,
    completed-group skip) works through the URI branch."""
    local = tempfile.mkdtemp(prefix="fsio_resume_")
    try:
        uroot = "file://" + local
        real = bi.assemble_postings
        calls = {"n": 0}

        def crashing(avgdl, *args, **kw):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash")
            return real(avgdl, *args, **kw)

        monkeypatch.setattr(bi, "assemble_postings", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            bi.build_index(spark, corpus, uroot, shard_size=80, n_groups=2,
                           parallel_groups=False)
        monkeypatch.setattr(bi, "assemble_postings", real)

        m = bi.build_index(spark, corpus, uroot, shard_size=80, n_groups=2,
                           parallel_groups=False)
        assert m["n_postings"] > 0
        man = bi._read_manifest_driver(os.path.join(local, "manifest"))
        assert set(man.loc[man.status == "ok", "group"]) == {0, 1}

        # rebuild-in-place with resume=False clears stale rows via fsio
        bi.build_index(spark, corpus, uroot, shard_size=80, n_groups=2,
                       resume=False)
        man2 = bi._read_manifest_driver(os.path.join(local, "manifest"))
        # stale rows cleared through the URI branch: exactly one fresh
        # attempt row per group remains (attempt numbering starts at 1)
        assert sorted(man2.group) == [0, 1]
        assert len(man2) == 2 and (man2.attempt == 1).all()
    finally:
        shutil.rmtree(local, ignore_errors=True)
