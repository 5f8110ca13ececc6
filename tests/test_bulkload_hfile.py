"""End-to-end bulkload pipeline + HFile-layout invariants (SURVEY.md §5
test strategy items 3 & 4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.operators import tsdb
from hbase_bulkload_service_spark.sources import hfile
from hbase_bulkload_service_spark.sources.tables import load_events


@pytest.fixture(scope="module")
def kv(spark, sf_dir):
    cells = tsdb.derive_tsdb_cells(load_events(spark, sf_dir))
    return tsdb.bulkload_kv(cells).cache()


def test_kv_is_deduped(kv):
    dup = kv.groupBy("key", "qualifier").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_salt_prefix_matches_bucket(kv):
    from hbase_bulkload_service_spark.functions.codec import key_bucket

    bad = kv.filter(key_bucket(F.col("key")) != F.col("bucket")).count()
    assert bad == 0
    assert kv.select("bucket").distinct().filter(
        (F.col("bucket") < 0) | (F.col("bucket") >= 512)
    ).count() == 0


def test_parquet_hfile_layout(spark, kv, tmp_path):
    path = str(tmp_path / "hfiles")
    manifest = hfile.write_hfiles(kv, path, num_partitions=8)
    assert os.path.exists(os.path.join(path, "_manifest.json"))
    assert manifest["regions"]
    hfile.validate_layout(spark, path)  # sorted, non-overlapping, capped


def test_rollup_region_step(spark, kv, tmp_path):
    path = str(tmp_path / "hfiles_rollup")
    hfile.write_hfiles(kv, path, rollup=True, num_partitions=8)
    df = spark.read.parquet(path)
    bad = df.filter(F.expr("bucket div 8") != F.col("region")).count()
    assert bad == 0
    hfile.validate_layout(spark, path, rollup=True)
    # the same files read as the raw layout hold rows of 8 buckets per
    # region dir: the one-pass validation must count them as misplaced
    with pytest.raises(AssertionError, match="landed in the wrong region"):
        hfile.validate_layout(spark, path, rollup=False)


def _assert_files_key_sorted(root: str) -> int:
    """Every parquet file under ``root`` holds its rows in (key,
    qualifier) order — read back file by file with pyarrow, so no Spark
    re-ordering can hide a writer that lost its sort."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    for fname in files:
        t = pq.read_table(fname, columns=["key", "qualifier"])
        rows = list(zip(t.column("key").to_pylist(), t.column("qualifier").to_pylist()))
        assert rows == sorted(rows), f"{fname}: rows not sorted by (key, qualifier)"
    return len(files)


def test_service_bulkload_files_are_key_sorted(spark, sf_dir, tmp_path):
    """BulkloadService's parquet files are sorted inside themselves (the
    parquet writer's own Sort [region] must not displace the key sort)."""
    from hbase_bulkload_service_spark.api import BulkloadRequest, BulkloadService

    svc = BulkloadService(
        spark,
        lambda _table: tsdb.derive_tsdb_cells(load_events(spark, sf_dir)),
        str(tmp_path),
    )
    start, end = 1704067200000, 1706745600000
    for rollup in (False, True):
        svc.bulkload(BulkloadRequest("tsdb", f"t{int(rollup)}", start, end, rollup=rollup))
    svc.run_pending()
    assert not svc.queue.failures
    assert _assert_files_key_sorted(str(tmp_path)) > 1


def test_streaming_bulkload_files_are_key_sorted(spark, sf_dir, tmp_path):
    """Each micro-batch's adoption unit is sorted inside every file."""
    from hbase_bulkload_service_spark.streaming import ops as st

    write = st.streaming_bulkload(str(tmp_path), rollup=True, num_partitions=4)
    write(tsdb.derive_tsdb_cells(load_events(spark, sf_dir)), 0)
    assert _assert_files_key_sorted(str(tmp_path / "batch=0")) > 1


def test_v3_wrong_region_mapping_is_caught(spark, kv, tmp_path):
    """A regression that maps rows to wrong-but-monotone regions (e.g.
    region = bucket div 8 while claiming rollup=False) must fail the
    bucket-prefix check — manifest spans alone stay non-overlapping."""
    from hbase_bulkload_service_spark.sources import hfilev3

    path = str(tmp_path / "v3_badregion")
    hfilev3.write_hfilev3_files(kv, path, num_partitions=8)
    mpath = os.path.join(path, "_manifest.json")
    manifest = json.load(open(mpath))
    assert any(m["region"] >= 8 for m in manifest)
    hfile.validate_manifest_layout(path, rollup=False)  # clean before the edit
    for m in manifest:
        m["region"] = m["region"] // 8  # monotone but wrong under rollup=False
    json.dump(manifest, open(mpath, "w"))
    with pytest.raises(AssertionError, match="not in region"):
        hfile.validate_manifest_layout(path, rollup=False)
    with pytest.raises(AssertionError, match="not in region"):
        hfile.validate_layout(spark, path, rollup=False, deep=False)
