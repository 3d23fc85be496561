"""URI-aware stage/checkpoint filesystem handling (pipeline/fsutil.py).

The Iceberg route stages runs on SHARED storage (s3://, hdfs://) where
plain os.* calls silently no-op; these tests force the same code paths
through `file:`-scheme URIs — which fsutil deliberately routes via the
Hadoop FileSystem API exactly like any remote scheme — so the
cluster-only failure modes (quarantine never relocated, has-parquet
probe blind, empty input identity, checkpoint pin lost) are pinned
runnable in this sandbox.
"""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from curator_spark.pipeline import fsutil
from curator_spark.pipeline.run import QualityPipeline
from curator_spark.pipeline.snapshot import SnapshotTable


# ---------------------------------------------------------------------------
# helper-level: file: URIs exercise the Hadoop branch in local mode
# ---------------------------------------------------------------------------

def test_helpers_file_scheme_roundtrip(spark, tmp_path):
    d = tmp_path / "a" / "b"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_text("x")
    (d / "_SUCCESS").write_text("")
    root = "file:" + str(tmp_path)

    assert not fsutil.is_local_path(root)
    assert fsutil.is_local_path(str(tmp_path))

    assert fsutil.exists(spark, root + "/a/b")
    assert not fsutil.exists(spark, root + "/nope")
    assert fsutil.has_file_with_suffix(spark, root, ".parquet")
    assert not fsutil.has_file_with_suffix(spark, root, ".orc")

    fsutil.rename(spark, root + "/a/b", root + "/a/c")
    assert not (d.exists())
    assert (tmp_path / "a" / "c" / "part-0.parquet").exists()

    fsutil.delete(spark, root + "/a")
    assert not (tmp_path / "a").exists()
    fsutil.delete(spark, root + "/a")  # ignore-missing, like rmtree


def test_text_roundtrip_file_scheme(spark, tmp_path):
    p = "file:" + str(tmp_path / "pin.json")
    assert fsutil.read_text(spark, p) is None
    fsutil.write_text_atomic(spark, p, '{"k": 1}')
    assert fsutil.read_text(spark, p) == '{"k": 1}'
    # overwrite (HDFS rename refuses to clobber; helper must handle)
    fsutil.write_text_atomic(spark, p, '{"k": 2}')
    assert fsutil.read_text(spark, p) == '{"k": 2}'
    assert (tmp_path / "pin.json").read_text() == '{"k": 2}'


def test_listing_parity_local_vs_hadoop(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "f1.parquet").write_bytes(b"abc")
    (tmp_path / "f2.parquet").write_bytes(b"defg")
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".hidden").write_text("")

    local = fsutil.listing(None, str(tmp_path))
    remote = fsutil.listing(spark, "file:" + str(tmp_path))
    # same files and sizes; mtime resolution differs (ns vs ms), which
    # the two branches never compare against each other
    strip = lambda es: sorted(":".join(e.split(":")[:2]) for e in es)
    assert strip(local) == strip(remote) == [
        "f2.parquet:4", "sub/f1.parquet:3",
    ]


def test_input_identity_remote_not_empty(spark, tmp_path):
    """The bug this pins: os.walk over a schemed URI yields nothing, so
    every remote input hashed to the SAME empty identity and a config's
    second input resumed as 'cached' with the first input's output."""
    from curator_spark.pipeline.fingerprint import input_identity

    d1, d2 = tmp_path / "in1", tmp_path / "in2"
    d1.mkdir(), d2.mkdir()
    (d1 / "x.parquet").write_bytes(b"12345")
    (d2 / "y.parquet").write_bytes(b"12345")

    i1 = input_identity("file:" + str(d1), spark=spark)
    i2 = input_identity("file:" + str(d2), spark=spark)
    assert i1 and i2 and i1 != i2
    assert i1 == input_identity("file:" + str(d1), spark=spark)


# ---------------------------------------------------------------------------
# pipeline-level: run() against a table whose stage dirs are file: URIs
# ---------------------------------------------------------------------------

class _FileSchemeTable:
    """Local manifest store whose stage dirs are file:-scheme URIs —
    run()'s stage handling takes the Hadoop route the Iceberg adapter
    takes on shared storage, while commits land in the ordinary local
    store for assertion."""

    def __init__(self, root: str):
        self._inner = SnapshotTable(root)
        self.staged: list[str] = []

    def stage_dir(self) -> str:
        p = "file:" + self._inner.stage_dir()
        self.staged.append(p)
        return p

    def commit(self, data_path, meta, **kw):
        return self._inner.commit(data_path.removeprefix("file:"), meta, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _broken_pages(spark, tmp_path, n=40, break_pred=None):
    from curator_spark.engine.synth import generate_pages

    pages = generate_pages(spark, n)
    if break_pred is None:
        break_pred = F.col("url").endswith("/p/3")
    broken = pages.withColumn(
        "html",
        F.when(break_pred, F.lit(b"<html>no body</html>")).otherwise(
            F.col("html")
        ),
    )
    path = str(tmp_path / "pages_broken")
    broken.write.parquet(path)
    return path


def test_remote_stage_quarantine_and_commit(spark, cfg, tmp_path):
    """On a schemed stage dir the old os.* probes saw nothing: failed
    rows would be COMMITTED into the table with failed_rows == 0, and
    os.walk-based has_parquet routed every run into the zero-data
    branch (whole runs swallowed)."""
    path = _broken_pages(spark, tmp_path)
    table = _FileSchemeTable(str(tmp_path / "out"))
    pipe = QualityPipeline(
        str(tmp_path / "out"),
        replace(cfg, require_all_rows=False),
        table=table,
    )
    res = pipe.run(spark, path)

    assert res.failed_rows == 1
    assert res.docs_seen == 39
    out = pipe.read_output(spark, res.fingerprint)
    assert out is not None and out.count() == 39  # data DID commit
    assert out.filter(F.col("url").endswith("/p/3")).count() == 0

    # quarantine relocated next to the (stripped) stage dir
    assert len(table.staged) == 1
    failed_dir = table.staged[0].removeprefix("file:") + "_failed"
    assert os.path.isdir(failed_dir)
    q = spark.read.parquet(failed_dir).collect()
    assert len(q) == 1 and q[0]["drop_reason"] == "extract_failed"


def test_remote_stage_all_failed_cleans_up(spark, cfg, tmp_path):
    path = _broken_pages(spark, tmp_path, n=5, break_pred=F.lit(True))
    table = _FileSchemeTable(str(tmp_path / "out"))
    pipe = QualityPipeline(
        str(tmp_path / "out"),
        replace(cfg, require_all_rows=False),
        table=table,
    )
    res = pipe.run(spark, path)

    assert res.failed_rows == 5 and res.docs_seen == 0
    # zero-data bookkeeping branch: buckets committed, stage dir gone
    assert pipe.committed_buckets(res.fingerprint) == set(
        range(cfg.n_buckets)
    )
    stage_local = table.staged[0].removeprefix("file:")
    assert not os.path.exists(stage_local)
    # resume: a re-run is a pure cache hit (no new stage dir)
    res2 = pipe.run(spark, path)
    assert res2.cached and len(table.staged) == 1


def test_checkpoint_lineage_file_scheme(spark, tmp_path, monkeypatch):
    """Remote checkpoints must resolve the persisted query id (plain
    open() could not read them, demoting every remote lineage to a
    path fallback), and the no-metadata fallback must be the URI
    verbatim — os.path.abspath over a schemed path prepends the
    driver's CWD, so a restart from another directory minted a new
    lineage and replayed batches re-appended."""
    from curator_spark.streaming.quality_stream import checkpoint_lineage

    ck = tmp_path / "ckpt"
    ck.mkdir()
    uri = "file:" + str(ck)
    # no metadata yet: verbatim URI, independent of CWD
    assert checkpoint_lineage(uri) == uri
    (ck / "metadata").write_text('{"id": "q-123"}')
    assert checkpoint_lineage(uri) == "q-123"
    assert checkpoint_lineage(str(ck)) == "q-123"  # local branch parity
    # valid JSON that is not an object: path fallback, not a crash
    (ck / "metadata").write_text("[1]")
    assert checkpoint_lineage(uri) == uri
    assert checkpoint_lineage(str(ck)) == str(ck)

    # only unreadable-metadata errors fall back; a bug propagates
    def broken(spark, path):
        raise AttributeError("bug")

    monkeypatch.setattr(fsutil, "read_text", broken)
    with pytest.raises(AttributeError, match="bug"):
        checkpoint_lineage(uri)


def test_stream_pin_file_scheme(spark, tmp_path):
    from curator_spark.streaming.dedup_stream import _pin_stream_config

    ck = "file:" + str(tmp_path / "ckpt")
    cfg = {"mode": "bounded", "n_state_buckets": 8, "bloom_bits": 1 << 12}
    _pin_stream_config(ck, cfg)
    assert (tmp_path / "ckpt" / "curator_stream_config.json").exists()
    _pin_stream_config(ck, cfg)  # same geometry: fine
    with pytest.raises(ValueError, match="conflicts"):
        _pin_stream_config(ck, {**cfg, "bloom_bits": 1 << 10})
