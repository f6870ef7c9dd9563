"""The build-once rule for scratch artifacts (`sources.build_once`):
an artifact is built once per process, nothing an earlier process left
under `.scratch/<sf>/` is trusted, and a build that raises is retried.

The entry tests run on a copy of the test tables under a fresh
basename, so they own a scratch key no other test or run has touched,
and plant the kind of bad artifact each old reuse rule trusted."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import build_once, load_table, scratch_dir


@pytest.fixture
def fresh_sf(tmp_path, sf_dir):
    """An sf dir of symlinks to the test tables under a basename no
    earlier process has used; its `.scratch/<basename>` is removed at
    teardown."""
    sf = tmp_path / f"sf_scratch_{uuid.uuid4().hex[:12]}"
    sf.mkdir()
    for name in os.listdir(sf_dir):
        (sf / name).symlink_to(os.path.join(sf_dir, name))
    yield str(sf)
    shutil.rmtree(os.path.dirname(scratch_dir(str(sf), "x")), ignore_errors=True)


def _rows(spark, name: str, sf_dir: str) -> list:
    return sorted(load_all()[name].fn(spark, sf_dir).collect())


def test_scratch_dir_layout(fresh_sf):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert scratch_dir(fresh_sf + "/", "a") == os.path.join(
        repo, ".scratch", os.path.basename(fresh_sf), "a"
    )


def test_build_once_builds_once_per_process(fresh_sf):
    calls = []

    def write(path):
        calls.append(path)
        os.makedirs(path)

    stale = scratch_dir(fresh_sf, "probe")
    os.makedirs(stale)
    open(os.path.join(stale, "left_by_an_earlier_process"), "w").close()
    path = build_once(fresh_sf, "probe", write)
    assert path == stale and calls == [path]
    assert os.listdir(path) == []  # the dir was emptied before the build
    assert build_once(fresh_sf, "probe", write) == path
    assert calls == [path]  # the second call did not build


def test_build_once_retries_a_failed_build(fresh_sf):
    def fail(path):
        os.makedirs(path)
        raise RuntimeError("crash mid-build")

    with pytest.raises(RuntimeError):
        build_once(fresh_sf, "flaky", fail)
    calls = []
    build_once(fresh_sf, "flaky", calls.append)
    assert len(calls) == 1


def test_empty_source_dir_is_rebuilt(spark, sf_dir, fresh_sf):
    """A crashed, half-written (here: empty) stream source dir was
    trusted by a bare `isdir` probe forever."""
    os.makedirs(scratch_dir(fresh_sf, "docs_cms_src"))
    assert _rows(spark, "stream_countmin_merge", fresh_sf) == _rows(
        spark, "stream_countmin_merge", sf_dir
    )


def test_success_marked_index_from_other_data_is_rebuilt(spark, sf_dir, fresh_sf):
    """A `_SUCCESS`-marked band index with the wrong rows (built from
    the delta docs instead of the existing corpus) was trusted by the
    marker probe."""
    from sparkml_som_spark.operators.dedup import _INCR_SPLIT, minhash_band_buckets

    docs = load_table(spark, sf_dir, "documents")
    bad = scratch_dir(fresh_sf, "minhash_band_index")
    minhash_band_buckets(docs.where(F.col("doc_id") >= _INCR_SPLIT)).write.parquet(bad)
    assert os.path.exists(os.path.join(bad, "_SUCCESS"))
    want = _rows(spark, "dedup_incremental_minhash", sf_dir)
    assert any(r["a_id"] < _INCR_SPLIT for r in want)  # the index matters
    assert _rows(spark, "dedup_incremental_minhash", fresh_sf) == want
